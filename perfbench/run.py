"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 5 --trace 0

Runs one workload on local[k] (k = min(4, nproc)) from the checkout
that holds this directory, from any working directory.  Set-up writes
the seeded inputs under ``.perfbench/`` and warms the session; the run
then measures for ``--seconds``, checks the outputs, and prints a short
summary followed by one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The full
detail (samples, environment, per-layer values, problems) goes to
``.perfbench/results/<workload>-seed<n>-trace<t>.json``.  All scratch
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> (unit, better); BENCHMARK.json lists the same metrics
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "ok_frac": ("frac", "higher"),
    "peak_rss_mb": ("MiB", "lower"),
}


def per_layer() -> dict[str, tuple[str, str]]:
    from perfbench.workloads import CORE_STAGES, OPERATOR_QUERIES

    m = {"sources.scan_s": ("s", "lower")}
    for k in ("arrow_roundtrip_s", "norender_s", "render_s", "py_run_s",
              "py_task_med_s", "py_task_max_s", "py_init_s"):
        m[f"plans.extract.{k}"] = ("s", "lower")
    m["plans.extract.bytes_to_py"] = ("bytes", "lower")
    m["plans.extract.bytes_from_py"] = ("bytes", "lower")
    m["plans.extract.rows_out"] = ("count", "higher")
    for k in ("extract_turn",) + CORE_STAGES + ("render",):
        m[f"core.{k}.ms_per_turn"] = ("ms", "lower")
    m["core.regions_per_turn"] = ("count", "higher")
    m["core.refs_per_turn"] = ("count", "higher")
    for k in ("extract_noop_s", "write_overhead_s", "resume_noop_s",
              "completed_buckets_s"):
        m[f"sinks.{k}"] = ("s", "lower")
    for k in ("jobs", "stages", "tasks"):
        m[f"sinks.{k}"] = ("count", "lower")
    m["sinks.bytes_written"] = ("bytes", "lower")
    m["sinks.lineage_rows"] = ("count", "higher")
    for q in OPERATOR_QUERIES:
        m[f"operators.{q}.build_s"] = ("s", "lower")
        m[f"operators.{q}.action_s"] = ("s", "lower")
        m[f"operators.{q}.jobs"] = ("count", "lower")
        m[f"operators.{q}.stages"] = ("count", "lower")
        m[f"operators.{q}.shuffle_bytes"] = ("bytes", "lower")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = ("count", "lower")
    m["trace.overhead_s"] = ("s", "lower")
    return m


def environment(seed: int, cores: int, digest: str) -> dict:
    import pyarrow
    import pyspark

    commit = "unknown"
    git_dir = os.path.join(ROOT, ".git")
    if os.path.isdir(git_dir):  # a checkout without git history stays "unknown"
        try:
            commit = subprocess.run(
                ["git", "--git-dir", git_dir, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": os.cpu_count(),
        "k": cores,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "commit": commit,
        "seed": seed,
        "input_digest": digest,
    }


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the package whatever the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # one string-hash seed for the Python workers of every run, so dict
    # and set layouts inside the kernel do not differ from run to run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def run(args, work: str) -> dict:
    t0 = time.perf_counter()
    from perfbench.harness import median, start_session, stop_session
    from perfbench.workloads import WORKLOADS, Run, describe

    cores = min(4, os.cpu_count() or 1)
    spark = start_session(work, cores)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        r = Run(spark, work, args.seed, args.seconds)
        w = WORKLOADS[args.workload](r)
        gen_s = r.write_inputs(w)
        t = time.perf_counter()
        try:
            w.warm_up()
        except Exception as e:  # counted; the timed repetitions show the rest
            r.record(1, [describe("warm-up", e)])
        warm_s = time.perf_counter() - t
        setup = {"session_s": session_s, "inputs_s": gen_s, "warm_up_s": warm_s}
        if args.trace:
            try:
                metrics = w.trace()
            except Exception as e:
                r.record(1, [describe("trace", e)])
                metrics = {}
        else:
            m = w.measure()
        if r.attempted == 0:
            r.record(1, ["no operation was checked"])
        if args.trace:
            layer = per_layer()
            values = {k: metrics.get(k, 0.0) for k in layer}
            out_metrics = {k: {"value": values[k], "unit": layer[k][0]} for k in layer}
            samples = None
        else:
            samples = m["samples"]
            wall = median(samples)
            values = {
                "setup_s": session_s + gen_s + warm_s,
                "wall_s": wall,
                "items_per_s": m["items"] / wall if wall else 0.0,
                "ok_frac": r.ok_frac,
                "peak_rss_mb": m["peak_rss_mb"],
            }
            out_metrics = {
                k: {"value": values[k], "unit": END_TO_END[k][0]} for k in END_TO_END
            }
    finally:
        stop_session(spark)
    return {
        "result": {
            "correct": r.failed == 0 and not r.problems,
            "attempted": r.attempted,
            "failed": r.failed,
            "metrics": out_metrics,
        },
        "detail": {
            "workload": args.workload,
            "trace": args.trace,
            "seconds": args.seconds,
            "environment": environment(args.seed, cores, r.digest),
            "setup": setup,
            "samples_s": samples,
            "problems": r.problems,
            **r.detail,
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_docs", "extract_job", "operator_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdfextract_spark", "__init__.py")):
        print(f"perfbench: no pdfextract_spark package under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    prepare_env(work)
    from perfbench.harness import remove

    try:
        out = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        remove(work)

    res, detail = out["result"], out["detail"]
    detail["result"] = res
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    side = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(side, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    env = detail["environment"]
    print(
        f"{args.workload} seed={args.seed} digest={env['input_digest']} "
        f"k={env['k']} nproc={env['nproc']} spark={env['spark']} "
        f"pyarrow={env['pyarrow']} python={env['python']} commit={env['commit'][:12]}"
    )
    if args.trace:
        print(f"per-layer metrics ({len(res['metrics'])}) in {os.path.relpath(side, ROOT)}")
    else:
        n = len(detail["samples_s"])
        for k, v in res["metrics"].items():
            extra = f" (median of {n})" if k in ("wall_s", "items_per_s") else ""
            print(f"  {k:12s} {v['value']:.6g} {v['unit']}{extra}")
    for p in detail["problems"][:5]:
        print(f"  problem: {p}")
    print(json.dumps(res, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
