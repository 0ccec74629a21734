#!/usr/bin/env python3
"""Driver-style local verification: run every queries() entry on Spark
at sf0.01 and compare against its oracle_sql() entry via DuckDB — row
count, column names, order-insensitive value multiset. A query without
an oracle fails. Spark runs on local[local_cores()]. Usage:

    python scripts/verify_oracles.py [sf_dir]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    """Sorted-column, sorted-row list of stringified tuples."""
    cols = sorted(df.columns)
    rows = []
    for rec in df[cols].itertuples(index=False):
        vals = []
        for v in rec:
            if isinstance(v, float):
                vals.append(f"{v:.6g}")
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return sorted(rows)


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from metal_history_knowledge_graph_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if name not in oracles:
            failures.append((name, "NO ORACLE"))
            print(f"FAIL {name}: no oracle_sql() entry")
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:200]}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error {str(e)[:200]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            s_rows, o_rows = normalize(sdf), normalize(odf)
            if s_rows != o_rows:
                diff = [x for x in s_rows if x not in set(o_rows)][:3]
                diff2 = [x for x in o_rows if x not in set(s_rows)][:3]
                problems.append(f"values differ; spark-only={diff} oracle-only={diff2}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)[:400]}")
        else:
            print(f"ok   {name}: {len(sdf)} rows match oracle")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries ok")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
