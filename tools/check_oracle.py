"""Replicates the driver's correctness gate locally: runs every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same parquet, comparing row count, schema (sorted column names)
and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

ROOT = __file__.rsplit("/", 2)[0]
sys.path.insert(0, ROOT)


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    # robustness-sweep knobs: CHECK_TZ / CHECK_ANSI / CHECK_AQE /
    # CHECK_CORES let the gate re-run under non-default session
    # configs (results must be config-independent)
    import os

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('CHECK_CORES', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "8")
        .config(
            "spark.sql.session.timeZone",
            os.environ.get("CHECK_TZ", "UTC"),
        )
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.ansi.enabled", os.environ.get("CHECK_ANSI", "true")
        )
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("CHECK_AQE", "true"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    from pdfextract_spark.operators.fence import fence_scope

    n_pass = n_fail = n_rows_only = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # fenced operators release their checkpoint storage per
            # query — an 86-query battery must not accumulate blocks
            with fence_scope():
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "ROWS-ONLY"
            print(
                f"{status:9s} {name}: {len(srows)} rows, cols={scols}"
                f" ({time.time()-t0:.1f}s)"
            )
            n_rows_only += 1
            continue
        try:
            # golden-parquet oracles are pinned to the driver's sf0.01;
            # retarget them when sweeping another scale factor
            sfname = sf_dir.rstrip("/").rsplit("/", 1)[-1]
            sql = oracles[name].replace(
                "/goldens/pipeline/sf0.01/", f"/goldens/pipeline/{sfname}/"
            )
            rel = con.sql(sql)
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh = table_hash(srows, scols)
            oh = table_hash(orows, ocols)
            if sh != oh:
                problems.append(f"value hash {sh} != {oh}")
                # show a few differing lines for debugging
                so = sorted(
                    "\x01".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                )
                oo = sorted(
                    "\x01".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for r in orows
                )
                diffs = [
                    (a, b) for a, b in zip(so, oo) if a != b
                ][:3]
                for a, b in diffs:
                    print(f"    spark: {a[:140]}")
                    print(f"    duck : {b[:140]}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            n_fail += 1
        else:
            # the hash lets two checkouts' runs be diffed line by line
            # (strip the trailing seconds first)
            print(
                f"PASS {name}: {len(srows)} rows, hash {sh}"
                f" ({time.time()-t0:.1f}s)"
            )
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
