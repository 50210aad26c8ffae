"""The three benchmark workloads.

Each workload has the same shape: set-up writes the seeded inputs and
``warm_up`` warms the session, ``measure`` runs the end-to-end
operation in a closed loop for the run's seconds and checks every
repetition's outputs untimed (``settle``), and ``trace`` times the
calls into each layer's public functions (a separate run, so
end-to-end numbers never carry tracing cost).
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq

from . import checks, gen
from .harness import (
    SparkCounters,
    jvm_pid,
    median,
    node_metrics,
    noop,
    peak_rss_mb,
    remove,
    sql_executions,
)

# the timed suite; near_dup_dedup (37 jobs, ~5 s warm and ~7 s cold on
# 4 cores) runs in the traced run only, to keep a suite run short
# enough for many repetitions
SUITE_QUERIES = (
    "sketch_count_min",
    "dedup_substring_stats",
    "dedup_minhash_bands",
    "j1_interval_join",
    "a12_kmeans_centers",
)
TRACE_ONLY_QUERIES = ("near_dup_dedup",)
OPERATOR_QUERIES = TRACE_ONLY_QUERIES + SUITE_QUERIES
CORE_STAGES = ("typeset", "regions", "furniture", "sections", "titles", "references")
JOB_BUCKETS = 16
JOB_BUCKETS_PER_BATCH = 4
SAMPLE_TURNS = 40
INPUT_FILES = 16  # parquet files a transcript table is written as
CORE_SAMPLE_TURNS = 200


def describe(what: str, e: BaseException) -> str:
    first = (str(e).strip().splitlines() or [""])[0][:200]
    return f"{what}: {type(e).__name__}: {first}"


def guard(what: str, fn, *args) -> list[str]:
    """``fn(*args)`` returns a list of problems; an exception becomes
    one problem instead of ending the run."""
    try:
        return fn(*args)
    except Exception as e:
        return [describe(what, e)]


def round_medians(rounds: list[dict]) -> dict:
    """Per-key medians over traced rounds (a key missing from a round,
    say of a query that raised, is left out of that key's median)."""
    keys = sorted(set().union(*rounds))
    return {k: median([r[k] for r in rounds if k in r]) for k in keys}


class Run:
    """State shared by one benchmark run: session, inputs, and the
    attempted/failed tallies behind ``ok_frac``.  Only checked
    operations are counted: an extraction repetition (with its sampled
    rows, and for the job its reconciliation and resume pass) or one
    operator query against its oracle."""

    def __init__(self, spark, work: str, seed: int, seconds: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.inputs = os.path.join(work, "inputs")
        self.tables: dict = {}
        self.digest = ""
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.counters = SparkCounters(spark)
        self.detail: dict = {}

    def record(self, n_ops: int, problems: list[str]) -> None:
        """Count ``n_ops`` operations, one failed per problem."""
        self.attempted += n_ops
        self.failed += min(n_ops, len(problems))
        self.problems.extend(problems)

    @property
    def ok_frac(self) -> float:
        return 1.0 - self.failed / max(self.attempted, 1)

    def write_inputs(self, workload: "Workload") -> float:
        """Generate and write the inputs; returns the seconds it took."""
        t = time.perf_counter()
        self.tables = gen.generate(self.seed, workload.name, workload.sizes, SUITE_QUERIES)
        remove(self.inputs)
        os.makedirs(self.inputs)
        for name, table in self.tables.items():
            if name == "transcripts":
                path = os.path.join(self.inputs, name)
                os.makedirs(path)
                step = -(-table.num_rows // INPUT_FILES)
                for i in range(0, table.num_rows, step):
                    pq.write_table(
                        table.slice(i, step), f"{path}/part-{i // step:03d}.parquet"
                    )
            else:
                pq.write_table(table, os.path.join(self.inputs, f"{name}.parquet"))
        self.digest = gen.digest(self.tables)
        return time.perf_counter() - t


class Workload:
    name = ""
    sizes: dict[str, int] = {}

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark

    def warm_up(self) -> None:
        raise NotImplementedError

    def measure(self) -> dict:
        raise NotImplementedError

    def trace(self) -> dict:
        raise NotImplementedError

    def settle(self, i: int, error: str | None) -> None:
        """Check repetition ``i`` (untimed), record its operations,
        and drop what it left behind; ``error`` says why ``op`` raised."""
        raise NotImplementedError

    min_reps = 2

    def loop(self, op) -> tuple[list[float], float]:
        """Closed-loop timing of ``op``: one repetition at a time, until
        the run's seconds have passed and ``min_reps`` ran; ``settle(i,
        error)`` runs untimed after each.  Returns (samples, peak RSS in
        MiB of the JVM and its Python workers)."""
        samples: list[float] = []
        deadline = time.perf_counter() + self.run.seconds
        while len(samples) < self.min_reps or time.perf_counter() < deadline:
            i = len(samples)
            error = None
            t = time.perf_counter()
            try:
                op(i)
            except Exception as e:
                error = describe(f"{self.name} repetition {i}", e)
            samples.append(time.perf_counter() - t)
            self.settle(i, error)
        return samples, peak_rss_mb(jvm_pid(self.spark))


# ---------------------------------------------------------------- extraction


def _identity(batches):
    yield from batches


class Extraction(Workload):
    """Shared by both extraction workloads: the input is a transcript
    table, the per-turn kernel is checked against the in-process one,
    and the traced run times scan, Arrow round trip, kernel, render."""

    def src(self):
        from pdfextract_spark.sources.tables import read_transcripts

        return read_transcripts(self.spark, os.path.join(self.run.inputs, "transcripts"))

    def extract_noop(self, rendered: bool = True, src=None) -> None:
        from pdfextract_spark.plans import extract

        noop(extract(self.src() if src is None else src, rendered=rendered))

    @property
    def n_turns(self) -> int:
        return self.run.tables["transcripts"].num_rows

    def _texts(self) -> list[str]:
        return self.run.tables["transcripts"].column("text").to_pylist()

    def sample_rows(self, idx: list[int], written: str | None = None) -> dict:
        """Output rows by turn_idx for the turns ``idx``: of extract()
        over the input, or of a job's ``written`` output."""
        from pyspark.sql import functions as F

        from pdfextract_spark.plans import extract

        if written is None:
            df = extract(self.src().where(F.col("turn_idx").isin(idx)))
        else:
            df = self.spark.read.parquet(written).where(F.col("turn_idx").isin(idx))
        return {r["turn_idx"]: r.asDict(recursive=True) for r in df.collect()}

    def sample_problems(self, i: int, written: str | None = None) -> list[str]:
        """Repetition ``i``'s seeded sample of output rows against the
        in-process kernel (each repetition samples other turns)."""
        from pdfextract_spark.core import extract_turn, render_turn

        texts = self._texts()
        rng = random.Random(f"sample:{self.run.seed}:{i}")
        idx = sorted(rng.sample(range(len(texts)), min(SAMPLE_TURNS, len(texts))))
        rows = self.sample_rows(idx, written)
        expected = {j: render_turn(extract_turn(texts[j])) for j in idx}
        return checks.check_rows(rows, expected)

    def cleanup(self, i: int) -> None:
        """Drop whatever repetition ``i`` of ``op`` left behind."""

    # ---- traced layers

    def trace_extraction(self) -> dict:
        """One traced round over the extraction layers.  The workload's
        end-to-end operation runs once plain and once inside a job
        group, so its Spark counts and Python-boundary metrics are
        attributed to it and the difference is the tracing overhead."""
        out: dict = {}
        t = time.perf_counter()
        noop(self.src())
        out["sources.scan_s"] = time.perf_counter() - t

        def roundtrip():
            df = self.src().select("conv_id", "turn_idx", "role", "text")
            noop(df.mapInArrow(_identity, schema=df.schema))

        t = time.perf_counter()
        roundtrip()
        out["plans.extract.arrow_roundtrip_s"] = time.perf_counter() - t
        # render cost is a difference of two similar times: alternate
        # the two variants and difference their medians
        norender, full = [], []
        for _ in range(3):
            for rendered, times in ((False, norender), (True, full)):
                t = time.perf_counter()
                self.extract_noop(rendered=rendered)
                times.append(time.perf_counter() - t)
        out["plans.extract.norender_s"] = median(norender)
        out["plans.extract.render_s"] = median(full) - median(norender)
        out["trace.extract_noop_s"] = median(full)

        t = time.perf_counter()
        self.op(-1)
        out["trace.untraced_s"] = time.perf_counter() - t
        self.cleanup(-1)
        since = sql_executions(self.spark)
        t = time.perf_counter()
        with self.run.counters.group(self.name) as counts:
            self.op(-2)
        traced = time.perf_counter() - t
        py = node_metrics(self.spark, since, "MapInArrow")
        out["trace.traced_s"] = traced
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] = counts[k]
        run_t = py.get("time to run Python workers", {})
        out["plans.extract.py_run_s"] = run_t.get("total", 0.0)
        out["plans.extract.py_task_med_s"] = run_t.get("med", 0.0)
        out["plans.extract.py_task_max_s"] = run_t.get("max", 0.0)
        out["plans.extract.py_init_s"] = py.get(
            "time to initialize Python workers", {}
        ).get("total", 0.0)
        out["plans.extract.bytes_to_py"] = py.get("data sent to Python workers", {}).get(
            "total", 0.0
        )
        out["plans.extract.bytes_from_py"] = py.get(
            "data returned from Python workers", {}
        ).get("total", 0.0)
        out["plans.extract.rows_out"] = py.get("number of output rows", {}).get(
            "total", 0.0
        )
        return out

    def trace_core(self) -> dict:
        """In-process kernel timings on a seeded sample of this
        workload's turns, with each stage function wrapped where
        ``core.pipeline`` calls it."""
        from pdfextract_spark.core import extract_turn, pipeline, render_turn

        texts = self._texts()
        rng = random.Random(f"core:{self.run.seed}")
        sample = [texts[i] for i in rng.sample(range(len(texts)), CORE_SAMPLE_TURNS)]
        n = len(sample)

        t = time.perf_counter()
        results = [extract_turn(x) for x in sample]
        kernel = time.perf_counter() - t
        t = time.perf_counter()
        for r in results:
            render_turn(r)
        render = time.perf_counter() - t

        spent = dict.fromkeys(CORE_STAGES, 0.0)

        def wrap(stage, fn):
            def timed(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    spent[stage] += time.perf_counter() - t0

            return timed

        fur = pipeline.furniture
        patches = [
            (pipeline, "typeset_lines", "typeset"),
            (pipeline, "regions_for_page", "regions"),
            (fur, "margins_for_page", "furniture"),
            (fur, "zones_for_page", "furniture"),
            (fur, "columns_for_page", "furniture"),
            (pipeline, "sections_for_doc", "sections"),
            (pipeline, "title_for_doc", "titles"),
            (pipeline, "references_for_doc", "references"),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        try:
            for mod, attr, stage in patches:
                setattr(mod, attr, wrap(stage, getattr(mod, attr)))
            for x in sample:
                extract_turn(x)
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

        out = {
            "core.extract_turn.ms_per_turn": 1e3 * kernel / n,
            "core.render.ms_per_turn": 1e3 * render / n,
            "core.regions_per_turn": sum(r["metrics"]["regions_found"] for r in results) / n,
            "core.refs_per_turn": sum(r["metrics"]["refs_matched"] for r in results) / n,
        }
        for stage in CORE_STAGES:
            out[f"core.{stage}.ms_per_turn"] = 1e3 * spent[stage] / n
        return out

    def trace(self) -> dict:
        rounds: list[dict] = []
        deadline = time.perf_counter() + self.run.seconds
        while not rounds or time.perf_counter() < deadline:
            r = self.trace_extraction()
            r.update(self.trace_outputs())
            self.cleanup(-2)
            rounds.append(r)
        out = round_medians(rounds)
        out.update(self.trace_core())
        untraced = out.pop("trace.untraced_s")
        out["trace.overhead_s"] = out.pop("trace.traced_s") - untraced
        noop_s = out.pop("trace.extract_noop_s")
        out.update(self.sink_metrics(out, untraced, noop_s))
        self.run.detail["trace_rounds"] = len(rounds)
        return out

    def trace_outputs(self) -> dict:
        """Per-layer readings taken from the traced operation's output."""
        return {}

    def sink_metrics(self, out: dict, op_s: float, noop_s: float) -> dict:
        """Sink-layer metrics from the round medians (none without a sink)."""
        return {}


class ExtractDocs(Extraction):
    """6k document-like turns; extract() with the default arguments
    (default artifacts, rendered) to the noop sink."""

    name = "extract_docs"
    # the kernel saturates every core, so this workload moves most with
    # host load: a median over more repetitions spans more of it
    min_reps = 6
    sizes = {"turns": 6000}

    def op(self, _i: int) -> None:
        self.extract_noop()

    def settle(self, i: int, error: str | None) -> None:
        self.run.record(1, [error] if error else guard("sample", self.sample_problems, i))

    def warm_up(self) -> None:
        # the whole input, not a part: each Python worker's word caches
        # fill on its own share of the turns, so after a partial pass
        # the first timed repetitions still run slow
        self.extract_noop()

    def measure(self) -> dict:
        samples, peak = self.loop(self.op)
        return {"samples": samples, "items": self.n_turns, "peak_rss_mb": peak}

    def trace(self) -> dict:
        out = super().trace()
        self.settle(-2, None)
        return out


class ExtractJob(Extraction):
    """The resumable bucketed job over a chat-like mix, each repetition
    into a fresh output directory, followed by one resume pass."""

    name = "extract_job"
    sizes = {"turns": 2000}

    def __init__(self, run: Run):
        super().__init__(run)
        self.resumes: list[float] = []

    def out_dir(self, i: int) -> str:
        return os.path.join(self.run.work, "job", f"rep{i}")

    def run_job(self, out: str):
        from pdfextract_spark.sinks import run_extraction_job

        return run_extraction_job(
            self.spark,
            self.src(),
            out,
            n_buckets=JOB_BUCKETS,
            buckets_per_batch=JOB_BUCKETS_PER_BATCH,
        )

    def op(self, i: int) -> None:
        out = self.out_dir(i)
        if os.path.exists(out):
            raise RuntimeError(f"{out} is not fresh")
        self.run_job(out)

    def cleanup(self, i: int) -> None:
        remove(self.out_dir(i))

    def resume_and_check(self, i: int) -> list[str]:
        """Resume pass over repetition ``i``'s finished job, then
        reconcile its output and lineage with the input and sample its
        rows against the kernel; the resume seconds go to ``resumes``."""
        from pdfextract_spark.sinks import LINEAGE_SUBDIR

        out = self.out_dir(i)
        lin_path = os.path.join(out, LINEAGE_SUBDIR)
        lineage = [r.asDict() for r in self.spark.read.parquet(lin_path).collect()]
        by_bucket = {
            r["bucket"]: r["count"]
            for r in self.spark.read.parquet(out).groupBy("bucket").count().collect()
        }
        t = time.perf_counter()
        self.run_job(out)
        self.resumes.append(time.perf_counter() - t)
        after = self.spark.read.parquet(lin_path).count()
        return checks.check_job(
            self.n_turns, self.chars_in, JOB_BUCKETS, lineage, by_bucket, after
        ) + self.sample_problems(i, written=out)

    def settle(self, i: int, error: str | None) -> None:
        """One operation per repetition: the job, its reconciliation,
        its resume pass and its sampled rows must all pass."""
        self.run.record(
            1, [error] if error else guard("check", self.resume_and_check, i)
        )
        self.cleanup(i)

    @property
    def chars_in(self) -> int:
        return sum(len(x or "") for x in self._texts())

    def warm_up(self) -> None:
        # a whole job, as timed: after a smaller one the first timed
        # repetition still ran 10-25% slower than the second
        self.op(-1)
        self.cleanup(-1)

    def measure(self) -> dict:
        samples, peak = self.loop(self.op)
        self.run.detail["resume_s"] = self.resumes
        return {"samples": samples, "items": self.n_turns, "peak_rss_mb": peak}

    def trace_outputs(self) -> dict:
        from pdfextract_spark.sinks import LINEAGE_SUBDIR, completed_buckets

        out = self.out_dir(-2)
        t = time.perf_counter()
        completed_buckets(self.spark, out, JOB_BUCKETS)
        done_s = time.perf_counter() - t
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(out)
            for f in fs
            if not f.startswith((".", "_"))
        )
        lineage_rows = self.spark.read.parquet(os.path.join(out, LINEAGE_SUBDIR)).count()
        resumed = len(self.resumes)
        self.run.record(1, guard("check", self.resume_and_check, -2))
        return {
            "sinks.resume_noop_s": self.resumes[-1] if len(self.resumes) > resumed else 0.0,
            "sinks.completed_buckets_s": done_s,
            "sinks.bytes_written": written,
            "sinks.lineage_rows": lineage_rows,
        }

    def sink_metrics(self, out: dict, op_s: float, noop_s: float) -> dict:
        """The job against extract() to noop over the same input; its
        Spark counts are the traced job's."""
        return {
            "sinks.extract_noop_s": noop_s,
            "sinks.write_overhead_s": op_s - noop_s,
            **{f"sinks.{k}": out[f"spark.{k}"] for k in ("jobs", "stages", "tasks")},
        }


# ---------------------------------------------------------------- operators


class OperatorSuite(Workload):
    """Five operator queries on fixed tables, in a seeded order, each
    result checked against its DuckDB oracle."""

    name = "operator_suite"
    sizes = {"docs": 250}

    def __init__(self, run: Run):
        super().__init__(run)
        self.results: list[dict] = []
        self._oracle: dict | None = None

    @property
    def order(self) -> list[str]:
        return self.run.tables["query_order"].column("query").to_pylist()

    def query(self, name: str, trace: dict | None = None):
        """Build and collect one query inside its own fence scope;
        with ``trace``, record build/action seconds and Spark counts."""
        from pdfextract_spark.operators.fence import fence_scope
        from pdfextract_spark.plans.driver_queries import QUERIES

        with fence_scope():
            if trace is None:
                df = QUERIES[name](self.spark, self.run.inputs)
                return [tuple(r) for r in df.collect()], df.columns
            with self.run.counters.group(name) as counts:
                t = time.perf_counter()
                df = QUERIES[name](self.spark, self.run.inputs)
                t1 = time.perf_counter()
                rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
        p = f"operators.{name}."
        trace[p + "build_s"] = t1 - t
        trace[p + "action_s"] = t2 - t1
        for k in ("jobs", "stages", "shuffle_bytes"):
            trace[p + k] = counts[k]
        for k in ("jobs", "stages", "tasks"):
            trace[f"spark.{k}"] = trace.get(f"spark.{k}", 0) + counts[k]
        return rows, df.columns

    def op(self, _i: int, trace: dict | None = None) -> None:
        """Every query in the seeded order; one that raises is kept as
        its error, so the rest of the suite still runs."""
        for name in self.order:
            try:
                rows, cols = self.query(name, trace)
            except Exception as e:
                self.results.append({"name": name, "error": describe(name, e)})
            else:
                self.results.append({"name": name, "rows": rows, "cols": cols})

    def oracle(self) -> dict:
        if self._oracle is None:
            import duckdb

            from pdfextract_spark.plans.driver_queries import ORACLES

            con = duckdb.connect()
            for t in ("documents", "orders", "lineitem", "events"):
                path = os.path.join(self.run.inputs, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self._oracle = {}
            for name in OPERATOR_QUERIES:
                rel = con.sql(ORACLES[name])
                self._oracle[name] = (rel.fetchall(), rel.columns)
            con.close()
        return self._oracle

    def check_results(self) -> None:
        """One operation per query run: it fails if it raised or does
        not match its oracle."""
        for r in self.results:
            if "error" in r:
                self.run.record(1, [r["error"]])
                continue
            problems = guard("oracle", self.check_query, r)
            self.run.record(1, problems)
        self.results = []

    def check_query(self, r: dict) -> list[str]:
        want_rows, want_cols = self.oracle()[r["name"]]
        return checks.check_query(r["name"], r["rows"], r["cols"], want_rows, want_cols)

    def settle(self, i: int, error: str | None) -> None:
        if error:
            self.run.record(1, [error])
        self.check_results()

    def warm_up(self) -> None:
        self.op(-1)
        self.results = []

    def measure(self) -> dict:
        samples, peak = self.loop(self.op)
        return {"samples": samples, "items": len(self.order), "peak_rss_mb": peak}

    def trace(self) -> dict:
        rounds: list[dict] = []
        deadline = time.perf_counter() + self.run.seconds
        while not rounds or time.perf_counter() < deadline:
            t = time.perf_counter()
            self.op(-1)
            untraced = time.perf_counter() - t
            r: dict = {}
            t = time.perf_counter()
            self.op(-2, trace=r)
            r["trace.overhead_s"] = time.perf_counter() - t - untraced
            rounds.append(r)
        out = round_medians(rounds)
        for name in TRACE_ONLY_QUERIES:
            r = {}
            try:
                self.query(name)  # its first run pays one-time costs
                rows, cols = self.query(name, trace=r)
            except Exception as e:
                self.results.append({"name": name, "error": describe(name, e)})
                continue
            out.update({k: v for k, v in r.items() if k.startswith("operators.")})
            self.results.append({"name": name, "rows": rows, "cols": cols})
        self.check_results()
        self.run.detail["trace_rounds"] = len(rounds)
        return out


WORKLOADS = {w.name: w for w in (ExtractDocs, ExtractJob, OperatorSuite)}
