"""Local stand-in for the driver's t2 correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over
the same sf dir, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by
their stringified tuple).  Not the driver's exact hash, but any
mismatch here would mismatch there.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# The only queries allowed a one-step float miss (tolerant_rows_match):
# each has a result documented to sit exactly on a %.6f half boundary.
# Every other query compares strictly.
FLOAT_BOUNDARY_OK = {
    # margin = 0.1 - 6210093/38e6 = -0.0634235 exactly at sf0.001
    "quality_model_score",
}


def normalize(df):
    """pandas DataFrame -> (row_count, sorted column names, canonical rows)."""
    import math

    cols = sorted(df.columns)
    df = df[cols]

    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NULL"
            return f"{v:.6f}"
        try:
            import pandas as pd

            if v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
                return "NULL"
            if pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):
            pass
        return str(v)

    rows = sorted(tuple(canon(v) for v in row) for row in df.itertuples(index=False))
    return len(rows), cols, rows


def tolerant_rows_match(sdf, ddf) -> bool:
    """Fallback when the strict canonical rows differ: multiset row
    match with a one-grid-step float tolerance at the ``%.6f``
    quantization boundary.  When a query rounds a double to 6 decimals
    and the TRUE value sits exactly on a half boundary (observed:
    quality_model_score at sf0.001 -- margin = 0.1 - 6210093/38e6 =
    -0.0634235 exactly), the two engines' correct roundings
    legitimately differ by one full 1e-6 step (-0.063424 vs
    -0.063423).  Non-float cells must still match exactly; floats must
    agree within 1.01e-6 -- consistent with the strict path, whose
    %.6f canonicalization already equates values up to 1e-6 apart
    whenever they round to the same string.  O(n^2) worst case --
    used only after the strict compare fails, on the small result
    frames these queries emit.  Applied only to FLOAT_BOUNDARY_OK."""
    import math

    cols = sorted(sdf.columns)
    s_rows = [tuple(r) for r in sdf[cols].itertuples(index=False)]
    d_rows = [tuple(r) for r in ddf[cols].itertuples(index=False)]
    if len(s_rows) != len(d_rows):
        return False

    def cell_eq(a, b) -> bool:
        a_f = isinstance(a, float)
        b_f = isinstance(b, float)
        if a_f and math.isnan(a):
            a = None
            a_f = False
        if b_f and math.isnan(b):
            b = None
            b_f = False
        if a_f or b_f:
            try:
                return (
                    a is not None
                    and b is not None
                    and abs(float(a) - float(b)) <= 1.01e-6
                )
            except (TypeError, ValueError):
                return False
        return str(a) == str(b)

    unused = list(d_rows)
    for sr in s_rows:
        for i, dr in enumerate(unused):
            if all(cell_eq(a, b) for a, b in zip(sr, dr)):
                del unused[i]
                break
        else:
            return False
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from nearscan_kafka_streams_spark.queries import ORACLES, QUERIES
    from nearscan_kafka_streams_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in ORACLES:
            print(f"ROWS-ONLY {name}: {len(spark_pdf)} rows")
            continue
        try:
            duck_pdf = con.sql(ORACLES[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            failures.append(name)
            continue
        sn, sc, sr = normalize(spark_pdf)
        dn, dc, dr = normalize(duck_pdf)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            failures.append(name)
        elif sn != dn:
            print(f"FAIL {name}: rows {sn} vs {dn}")
            failures.append(name)
        elif sr != dr:
            # a 1-ulp cross-engine double difference straddling a
            # 6th-digit rounding boundary is not a value mismatch, on
            # the allowlisted queries only
            if name in FLOAT_BOUNDARY_OK and tolerant_rows_match(
                spark_pdf, duck_pdf
            ):
                print(f"OK~  {name}: {sn} rows (float-boundary tolerance)")
            else:
                diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
                print(f"FAIL {name}: values differ, first diffs: {diff}")
                failures.append(name)
        else:
            print(f"OK   {name}: {sn} rows")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
