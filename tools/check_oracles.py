"""Local replica of the driver's correctness gate: run each
__spark_entry__ query on Spark and its oracle on DuckDB at a given SF,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_val(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "strftime") and not isinstance(v, str):
        return str(v)
    if isinstance(v, list):
        return tuple(norm_val(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_val(r[i]) for i in order) for r in rows)


def pandas_surface_failures(spark_pdf, duck_pdf):
    """Replicate the two failure modes of the driver's pandas-level
    canonicalizer that fetchall()-based value compare cannot see
    (CORRECTNESS_r01 regressions):

    * list/ndarray cells -> 'unhashable type: list' in its sort;
    * int-vs-float dtype drift (DuckDB HUGEINT sums widen to float64
      in fetchdf) -> hash mismatch even when values are equal.
    """
    issues = []
    for pdf, side in ((spark_pdf, "spark"), (duck_pdf, "duckdb")):
        for c in pdf.columns:
            col = pdf[c]
            if col.dtype == object and col.map(
                lambda v: isinstance(v, (list, tuple)) or hasattr(v, "__array__")
            ).any():
                issues.append(
                    f"{side}.{c} has array-typed cells (driver canonicalizer crash)"
                )
    for c in sorted(set(spark_pdf.columns) & set(duck_pdf.columns)):
        ks, kd = spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind
        ints, floats = {"i", "u"}, {"f"}
        if (ks in ints and kd in floats) or (ks in floats and kd in ints):
            issues.append(
                f"col {c}: dtype drift spark={spark_pdf[c].dtype} "
                f"duckdb={duck_pdf[c].dtype} (driver hash mismatch)"
            )
    return issues


def duckdb_views(sf_dir):
    """A DuckDB connection with one view per test-data table at sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_query(spark, con, fn, sf_dir, oracle):
    """Run one contract query on Spark and its oracle SQL (None for a
    rows-only query) on DuckDB: (Spark row count, failure or None)."""
    try:
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [[r[c] for c in s_cols] for r in sdf.collect()]
    except Exception as e:
        return None, f"SPARK ERROR: {e}"
    if oracle is None:
        return len(s_rows), None
    try:
        res = con.execute(oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    except Exception as e:
        return len(s_rows), f"DUCKDB ERROR: {e}"
    if sorted(s_cols) != sorted(d_cols):
        return len(s_rows), f"cols {sorted(s_cols)} vs {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return len(s_rows), f"rowcount {len(s_rows)} vs {len(d_rows)}"
    ms = rows_to_multiset(s_cols, s_rows)
    md = rows_to_multiset(d_cols, d_rows)
    if ms != md:
        diff_s = list((ms - md).items())[:3]
        diff_d = list((md - ms).items())[:3]
        return len(s_rows), f"values spark-only={diff_s} duck-only={diff_d}"
    found = pandas_surface_failures(sdf.toPandas(), con.execute(oracle).fetchdf())
    return len(s_rows), "; ".join(found) or None


def main():
    import __spark_entry__ as entry_mod
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle_check")
    con = duckdb_views(sf_dir)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n, failure = check_query(spark, con, fn, sf_dir, oracles.get(name))
        if failure:
            failures.append((name, failure))
            print(f"[FAIL] {name}: {failure[:200]}")
        elif name not in oracles:
            print(f"[rows-only] {name}: {n} rows")
        else:
            print(f"[OK  ] {name}: {n} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, msg in failures:
            print(f"  {n}: {msg[:500]}")
        sys.exit(1)
    print("all oracled queries match")


if __name__ == "__main__":
    main()
