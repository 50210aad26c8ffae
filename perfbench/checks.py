"""Correctness checks for benchmark results.

Each check takes plain Python data (collected rows, lineage rows,
oracle rows) and returns a list of problems; an empty list passes.  A
check never raises on a wrong result: the caller counts every problem
as a failed operation, so a corrupted result shows in ``ok_frac``
instead of crashing the run.
"""

from __future__ import annotations

import functools
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_BOX = ("x", "y", "width", "height")
_LINE = ("content", "x_offset", "y_offset", "spacing")


def _get(d, key, default=None):
    v = d.get(key, default) if d is not None else default
    return default if v is None else v


def canon_turn(r: dict) -> tuple:
    """Comparable form of one extraction result, accepting either a
    collected output row (``Row.asDict(recursive=True)``) or a rendered
    kernel result (``render_turn(extract_turn(text))``): the two differ
    only in the zone label's key (``zone`` vs ``group``) and in sections
    carrying their text as a separate ``content`` field."""

    def lines(o):
        return tuple(tuple(l.get(k) for k in _LINE) for l in _get(o, "lines", []))

    title = r.get("title")
    return (
        r.get("page_count"),
        tuple(sorted((_get(r, "metrics", {})).items())),
        None
        if title is None
        else (title.get("content"), title.get("line_height"), title.get("font")),
        tuple(
            tuple(g.get(k) for k in _BOX + ("line_height", "font", "page"))
            + (lines(g),)
            for g in _get(r, "regions", [])
        ),
        tuple(
            (z.get("zone", z.get("group")),) + tuple(z.get(k) for k in _BOX + ("page",))
            for z in _get(r, "zones", [])
        ),
        tuple(tuple(c.get(k) for k in _BOX + ("page",)) for c in _get(r, "columns", [])),
        tuple(
            tuple(
                s.get(k)
                for k in (
                    "letter_ratio", "year_ratio", "cap_ratio", "name_ratio",
                    "word_count", "lateness", "reference_score",
                )
            )
            + (lines(s),)
            for s in _get(r, "sections", [])
        ),
        tuple((x.get("content"), x.get("order")) for x in _get(r, "references", [])),
    )


def check_rows(rows: dict[int, dict], expected: dict[int, dict]) -> list[str]:
    """Extraction output rows (by turn_idx) against the in-process
    kernel's rendered results for the same turns."""
    problems = []
    for idx in sorted(expected):
        if idx not in rows:
            problems.append(f"turn {idx}: missing from output")
        elif canon_turn(rows[idx]) != canon_turn(expected[idx]):
            problems.append(f"turn {idx}: output differs from the kernel")
    for idx in sorted(set(rows) - set(expected)):
        problems.append(f"turn {idx}: not in the sampled input")
    for idx, r in sorted(rows.items()):
        if (r.get("page_count") or 0) < 0:
            problems.append(f"turn {idx}: error sentinel row")
    return problems


def check_job(
    n_turns: int,
    chars_in: int,
    n_buckets: int,
    lineage: list[dict],
    out_bucket_rows: dict[int, int],
    lineage_after_resume: int,
) -> list[str]:
    """A finished extraction job against its input: one lineage row per
    bucket, lineage sums equal to the input and to the written output,
    no errored turns, and a resume pass that committed nothing."""
    problems = []
    buckets = sorted(r["bucket"] for r in lineage)
    if buckets != list(range(n_buckets)):
        problems.append(
            f"lineage buckets {len(buckets)} rows, want one per bucket "
            f"0..{n_buckets - 1}"
        )
    rows_out = sum(r["rows_out"] for r in lineage)
    if rows_out != n_turns:
        problems.append(f"lineage rows_out {rows_out} != input turns {n_turns}")
    written = sum(out_bucket_rows.values())
    if written != n_turns:
        problems.append(f"output rows {written} != input turns {n_turns}")
    for r in lineage:
        got = out_bucket_rows.get(r["bucket"], 0)
        if got != r["rows_out"]:
            problems.append(
                f"bucket {r['bucket']}: output rows {got} != lineage {r['rows_out']}"
            )
    lin_chars = sum(r["chars_in"] for r in lineage)
    if lin_chars != chars_in:
        problems.append(f"lineage chars_in {lin_chars} != input chars {chars_in}")
    errored = sum(r["turns_errored"] for r in lineage)
    if errored:
        problems.append(f"{errored} errored turns")
    if lineage_after_resume != len(lineage):
        problems.append(
            f"resume committed {lineage_after_resume - len(lineage)} lineage "
            "rows, want 0"
        )
    return problems


@functools.cache
def _oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def table_hash(rows, cols) -> str:
    """The driver's order-insensitive value hash (tools/check_oracle.py)."""
    return _oracle_module().table_hash(rows, cols)


def check_query(name: str, rows, cols, oracle_rows, oracle_cols) -> list[str]:
    """One operator query's result against its DuckDB oracle: row
    count, column names, and value hash."""
    if len(rows) != len(oracle_rows):
        return [f"{name}: rows {len(rows)} != oracle {len(oracle_rows)}"]
    if sorted(cols) != sorted(oracle_cols):
        return [f"{name}: columns {sorted(cols)} != oracle {sorted(oracle_cols)}"]
    got, want = table_hash(rows, cols), table_hash(oracle_rows, oracle_cols)
    if got != want:
        return [f"{name}: value hash {got} != oracle {want}"]
    return []
