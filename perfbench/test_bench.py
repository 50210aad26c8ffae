"""Tests for the benchmark's own generator and checks (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
import os
import types

import pytest

from perfbench import checks, gen
from perfbench.harness import parse_metric
from perfbench.run import END_TO_END, ROOT, per_layer
from perfbench import workloads
from perfbench.workloads import SUITE_QUERIES, WORKLOADS, ExtractDocs, OperatorSuite, Run

TINY = {"docs": 30, "turns": 60}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_generator_is_deterministic_per_seed(workload):
    def digest(seed):
        return gen.digest(gen.generate(seed, workload, TINY, SUITE_QUERIES))

    assert digest(7) == digest(7)
    assert digest(7) != digest(8)


def test_operator_suite_seed_sets_only_the_query_order():
    a = gen.generate(7, "operator_suite", TINY, SUITE_QUERIES)
    b = gen.generate(8, "operator_suite", TINY, SUITE_QUERIES)
    assert a["query_order"] != b["query_order"]
    assert sorted(a["query_order"].column("query").to_pylist()) == sorted(SUITE_QUERIES)
    for name in ("documents", "orders", "lineitem", "events"):
        assert a[name].equals(b[name])


def test_chat_mix_is_mostly_short():
    t = gen.generate(3, "extract_job", {"turns": 2000})["transcripts"]
    long = sum(len(x) > 400 for x in t.column("text").to_pylist())
    assert 0.05 * t.num_rows < long < 0.15 * t.num_rows


def _tally():
    return Run(types.SimpleNamespace(sparkContext=None), "", 0, 1.0)


TEXTS = [
    gen._decorate(gen.doc_words()[seq], seq, scenario)
    for seq, scenario in ((1, 2), (2, 5), (3, 8))
]


def _output_rows(texts: dict[int, str]) -> tuple[dict, dict]:
    """(rows shaped like collected output rows, kernel results)."""
    from pdfextract_spark.core import extract_turn, render_turn

    expected = {i: render_turn(extract_turn(t)) for i, t in texts.items()}
    rows = copy.deepcopy(expected)
    for r in rows.values():  # the output row's shape for zones
        for z in r["zones"]:
            z["zone"] = z.pop("group")
    return rows, expected


def _kernel_rows():
    return _output_rows(dict(enumerate(TEXTS)))


def test_check_rows_accepts_matching_output():
    rows, expected = _kernel_rows()
    assert checks.check_rows(rows, expected) == []


def test_check_rows_rejects_one_altered_row_and_counts_it():
    rows, expected = _kernel_rows()
    line = rows[1]["regions"][0]["lines"][0]
    line["content"] = line["content"] + "x"
    problems = checks.check_rows(rows, expected)
    assert problems == ["turn 1: output differs from the kernel"]
    run = _tally()
    run.record(len(expected), problems)
    assert (run.attempted, run.failed) == (3, 1)


def test_check_rows_rejects_missing_and_sentinel_rows():
    rows, expected = _kernel_rows()
    del rows[0]
    rows[2]["page_count"] = -1
    problems = checks.check_rows(rows, expected)
    assert "turn 0: missing from output" in problems
    assert "turn 2: error sentinel row" in problems


def _job(n_buckets=4):
    lineage = [
        {"bucket": b, "rows_out": 5, "chars_in": 50, "turns_errored": 0}
        for b in range(n_buckets)
    ]
    written = {b: 5 for b in range(n_buckets)}
    return lineage, written


def test_check_job_accepts_reconciled_job():
    lineage, written = _job()
    assert checks.check_job(20, 200, 4, lineage, written, 4) == []


def test_check_job_rejects_missing_lineage_row():
    lineage, written = _job()
    problems = checks.check_job(20, 200, 4, lineage[:-1], written, 3)
    assert any("lineage buckets" in p for p in problems)
    assert any("rows_out 15 != input turns 20" in p for p in problems)


def test_check_job_rejects_row_count_mismatch():
    lineage, written = _job()
    written[2] = 4
    problems = checks.check_job(20, 200, 4, lineage, written, 4)
    assert "output rows 19 != input turns 20" in problems
    assert "bucket 2: output rows 4 != lineage 5" in problems


def test_check_job_rejects_non_empty_resume():
    lineage, written = _job()
    problems = checks.check_job(20, 200, 4, lineage, written, 6)
    assert problems == ["resume committed 2 lineage rows, want 0"]
    run = _tally()
    run.record(1, problems)
    assert (run.attempted, run.failed) == (1, 1)


def test_check_query_uses_the_oracle_value_hash():
    rows = [(1, "a", 0.5), (2, "b", 1.0)]
    assert checks.check_query("q", rows, ["k", "s", "v"], rows[::-1], ["k", "s", "v"]) == []
    # column order does not matter, values do; 1.0 and 1 hash alike
    assert checks.check_query(
        "q", rows, ["k", "s", "v"], [("a", 1, 0.5), ("b", 2, 1)], ["s", "k", "v"]
    ) == []
    bad = [(1, "a", 0.5), (2, "b", 1.5)]
    problems = checks.check_query("q", rows, ["k", "s", "v"], bad, ["k", "s", "v"])
    assert len(problems) == 1 and "value hash" in problems[0]
    assert checks.table_hash(rows, ["k", "s", "v"]) == checks._oracle_module().table_hash(
        rows, ["k", "s", "v"]
    )


def test_check_query_rejects_row_count_and_columns():
    rows = [(1,), (2,)]
    assert "rows 2 != oracle 1" in checks.check_query("q", rows, ["k"], rows[:1], ["k"])[0]
    assert "columns" in checks.check_query("q", rows, ["k"], rows, ["j"])[0]


def test_parse_metric():
    m = parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "8.8 s (287 ms, 1.8 s, 1.9 s (stage 2.0: task 6))"
    )
    assert m == pytest.approx({"total": 8.8, "min": 0.287, "med": 1.8, "max": 1.9})
    assert parse_metric("100,000")["total"] == 100000
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "1653.3 KiB (206.6 KiB, 206.7 KiB, 206.7 KiB (stage 2.0: task 9))"
    )["total"] == pytest.approx(1653.3 * 1024)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # extract_docs runs by name only: its wall time follows the host's
    # CPU load too closely to hold a 0.25 bound between runs
    assert [w["name"] for w in spec["workloads"]] == ["extract_job", "operator_suite"]
    assert set(WORKLOADS) >= {w["name"] for w in spec["workloads"]}
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == per_layer()


def _bound(metric: str) -> float:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == metric)


class OfflineDocs(ExtractDocs):
    """extract_docs with the Spark calls replaced: the timed operation
    does nothing and the sampled output rows come from the kernel,
    altered on the repetitions in ``corrupt`` or raising on those in
    ``broken``."""

    corrupt: tuple[int, ...] = ()
    broken: tuple[int, ...] = ()

    def op(self, i):
        if i in self.broken:
            raise RuntimeError("executor lost")

    def sample_rows(self, idx, written=None):
        texts = self._texts()
        rows, _ = _output_rows({j: texts[j] for j in idx})
        if self.reps_checked in self.corrupt:
            first = rows[idx[0]]
            first["page_count"] = (first["page_count"] or 0) + 1
        self.reps_checked += 1
        return rows


def _offline_docs(monkeypatch, seconds=0.5, **kw):
    monkeypatch.setattr(workloads, "jvm_pid", lambda _spark: os.getpid())
    monkeypatch.setattr(workloads, "SAMPLE_TURNS", 4)
    run = _tally()
    run.seconds = seconds
    run.tables = gen.generate(1, "extract_docs", {"turns": 40})
    w = OfflineDocs(run)
    w.reps_checked = 0
    for k, v in kw.items():
        setattr(w, k, v)
    return run, w


def test_corrupted_sample_on_a_long_run_fails_ok_frac(monkeypatch):
    run, w = _offline_docs(monkeypatch, corrupt=(2,))
    samples = w.measure()["samples"]
    assert len(samples) >= w.min_reps
    assert run.attempted == len(samples) and run.failed == 1
    assert run.ok_frac < 1 - _bound("ok_frac")


def test_every_repetition_corrupted_gives_ok_frac_zero(monkeypatch):
    run, w = _offline_docs(monkeypatch, corrupt=tuple(range(1000)))
    w.measure()
    assert run.ok_frac == 0.0


def test_a_raising_repetition_is_counted_not_fatal(monkeypatch):
    run, w = _offline_docs(monkeypatch, seconds=0.0, broken=(1,))
    samples = w.measure()["samples"]
    assert len(samples) == w.min_reps
    assert (run.attempted, run.failed) == (w.min_reps, 1)
    assert "extract_docs repetition 1: RuntimeError: executor lost" in run.problems
    assert run.ok_frac < 1 - _bound("ok_frac")


def test_a_raising_query_is_counted_and_the_suite_goes_on(monkeypatch):
    run = _tally()
    run.tables = gen.generate(1, "operator_suite", {"docs": 5}, SUITE_QUERIES)
    suite = OperatorSuite(run)
    order = suite.order

    def query(name, trace=None):
        if name == order[1]:
            raise ValueError("bad plan")
        return [(1,)], ["k"]

    suite.query = query
    suite.oracle = lambda: {n: ([(1,)], ["k"]) for n in order}
    suite.op(0)
    suite.settle(0, None)
    assert (run.attempted, run.failed) == (len(order), 1)
    assert run.problems == [f"{order[1]}: ValueError: bad plan"]


def test_a_wrong_query_result_is_one_failed_operation():
    run = _tally()
    run.tables = gen.generate(1, "operator_suite", {"docs": 5}, SUITE_QUERIES)
    suite = OperatorSuite(run)
    suite.query = lambda name, trace=None: ([(2,)], ["k"])
    suite.oracle = lambda: {n: ([(1,)] if n == suite.order[0] else [(2,)], ["k"])
                            for n in suite.order}
    suite.op(0)
    suite.settle(0, None)
    assert (run.attempted, run.failed) == (len(suite.order), 1)
