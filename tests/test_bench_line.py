"""bench.py's one stdout line must fit the round driver's tail
capture (the last 2,000 characters of stdout), or the artifact does
not parse."""

import json

import bench


def test_headline_line_fits_the_tail_capture():
    # three windows of worst-case-width timings for every benched query
    sec = {n: [999.999] * 3 for n in bench.BENCH_QUERIES}
    queries = {"extract_pipeline": 999.999, "extract_refs_only": 999.999}
    out, bands = bench.summarize(
        queries, sec, dict(sec), "/data/sf100", 128, 10**9, 123456.7
    )
    line = bench.headline_line(out)
    assert len(line) < 2000, len(line)
    parsed = json.loads(line)
    assert set(parsed["queries"]) == {
        "extract_pipeline", "extract_refs_only", *bench.BENCH_QUERIES
    }
    assert parsed["duckdb_sec"].keys() == set(bench.BENCH_QUERIES)
    assert "bands" not in parsed
    assert set(bands) == set(bench.BENCH_QUERIES)
