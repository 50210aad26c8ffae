"""Driver-query registry guards, checked without a Spark session."""

import glob
import os

from pdfextract_spark.plans import driver_queries as dq

PLANS = os.path.dirname(dq.__file__)


def test_every_registered_query_has_an_oracle():
    assert len(dq.QUERIES) == 86
    assert set(dq.ORACLES) == set(dq.QUERIES)


def test_grade_window_is_50_registered_names():
    window = dq._GRADE_PRIORITY
    assert len(window) == 50
    assert len(set(window)) == 50
    assert set(window) <= set(dq.QUERIES)
    assert list(dq.grade_ordered(dq.QUERIES))[:50] == window


def test_no_plans_module_exceeds_1000_lines():
    sizes = {}
    for path in glob.glob(os.path.join(PLANS, "**", "*.py"), recursive=True):
        with open(path) as f:
            sizes[os.path.relpath(path, PLANS)] = sum(1 for _ in f)
    assert "driver_queries.py" in sizes and "queries/dedup.py" in sizes
    assert {p: n for p, n in sizes.items() if n > 1000} == {}
