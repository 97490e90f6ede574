"""Local mimic of the driver's t2 correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB at sf0.01 and
compare with the driver-mechanism-mirrored canonicalizer
(leftshove_spark/gatecheck.py: pandas oracle fetch + pandas sort_values
canon + order-insensitive normalized values).

Usage: python scripts/check_oracle.py [sf_dir] [name_filter...]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from leftshove_spark import gatecheck  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
FILTERS = sys.argv[2:]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    import os

    import __spark_entry__ as entrymod
    from leftshove_spark.session import get_spark

    if os.environ.get("SPARK_GRAFT_BARE") == "1":
        # driver-mimic: a session with NONE of our confs (the real
        # driver builds its own) — any conf-dependent query passes the
        # default net but dies on the driver (r1's nanosAsLong class)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("bare-gate-mimic")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    fails, passes, skips = [], [], []
    for name, fn in queries.items():
        if FILTERS and not any(f in name for f in FILTERS):
            continue
        if name not in oracles:
            n = fn(spark, SF).count()
            skips.append(name)
            print(f"SKIP (no oracle, rows={n}): {name}")
            continue
        try:
            # Type lint first: HUGEINT/DECIMAL oracle outputs coerce to
            # float64/decimal128 under the driver's pandas fetch and
            # hash-mismatch Spark even when values agree (r6's q12).
            drifting = [
                (c, t)
                for c, t, *_ in con.execute("DESCRIBE " + oracles[name]).fetchall()
                if t in ("HUGEINT", "UHUGEINT", "DATE") or t.startswith("DECIMAL")
            ]
            if drifting:
                fails.append(name)
                print(f"FAIL {name}: oracle types drift under pandas fetch: {drifting}")
                continue
            sdf = fn(spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            # r8: driver-mechanism-mirrored compare (pandas oracle
            # fetch + pandas sort_values canon) — leftshove_spark/gatecheck.py
            ok, detail = gatecheck.compare(scols, srows, con, oracles[name])
            if not ok:
                fails.append(name)
                print(f"FAIL {name}: {detail}")
                continue
            passes.append(name)
            print(f"PASS {name} ({detail})")
        except Exception as e:
            fails.append(name)
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:500]}")
    print(f"\n{len(passes)} pass, {len(fails)} fail, {len(skips)} no-oracle")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
