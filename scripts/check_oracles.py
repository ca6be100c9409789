"""Local replica of the driver's correctness harness: run every
queries() entry and its oracle_sql() on the same parquet, compare
row-count + column names + per-column Arrow types + order-insensitive
values. The type check catches an oracle whose DuckDB type crosses
Arrow differently from Spark's (e.g. sum() over INT is HUGEINT, which
arrives as decimal128 where Spark returns int64) before it fails a
value hash downstream.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

import duckdb

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def arrow_type(t):
    """Arrow type with the large/regular offset variants folded (they
    carry identical values)."""
    import pyarrow as pa

    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return pa.list_(arrow_type(t.value_type))
    return t


def arrow_type_mismatches(spark_schema, duck_schema) -> list[str]:
    """'col: spark=<type> duck=<type>' for every shared column whose
    Arrow types differ."""
    duck = {f.name: arrow_type(f.type) for f in duck_schema}
    out = []
    for f in spark_schema:
        st = arrow_type(f.type)
        if f.name in duck and duck[f.name] != st:
            out.append(f"{f.name}: spark={st} duck={duck[f.name]}")
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql.pandas.types import to_arrow_schema

    import __spark_entry__ as entrymod
    from graph_rag_agent_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        rows = df.collect()
        cols = df.columns
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(rows)} rows")
            continue
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        status = []
        if sorted(cols) != sorted(ocols):
            status.append(f"COLS spark={sorted(cols)} duck={sorted(ocols)}")
        if len(rows) != len(orows):
            status.append(f"COUNT spark={len(rows)} duck={len(orows)}")
        types = arrow_type_mismatches(
            to_arrow_schema(df.schema),
            con.execute(oracles[name]).fetch_arrow_table().schema,
        )
        if types:
            status.append(f"TYPES {'; '.join(types)}")
        if not status:
            a = norm_rows(cols, [[r[c] for c in cols] for r in rows])
            b = norm_rows(ocols, orows)
            if a != b:
                diff = [x for x in a[:2000] if x not in set(b[:2000])][:3]
                status.append(f"VALUES mismatch, e.g. spark-only={diff}")
        if status:
            failures.append(name)
            print(f"{name:24s} FAIL  {'; '.join(status)}")
        else:
            print(f"{name:24s} OK    {len(rows)} rows")

    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
