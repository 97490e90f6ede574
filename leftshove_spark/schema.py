"""Source→engine schema translation (SURVEY.md §1.3, operator D9).

The reference infers each source table's schema from the Postgres catalog
(postgres.go:158-184), caches it as JSON (nmsdb.go:59-60), and mechanically
folds the Postgres ``udt_name`` space into 7 BigQuery types
(bigquery.go:252-364). This module is the same fold targeting Spark types,
with the reference's two quirks *fixed, not copied*:

- Q1 (bigquery.go:290-291, 326-327): the reference assigns numeric_scale to
  the precision field, losing scale — we map ``numeric(p,s)`` →
  ``DecimalType(p, s)`` as intended.
- Q2 (bigquery.go:262): nullability is read but ignored — we mirror the
  observable behavior (everything nullable).

Also provides the inference/caching surface: ``infer_schema`` (the
information_schema pull analog), ``schema_to_json``/``schema_from_json``
(the SQLite text-cache analog, nmsdb.go:59), and ``schemas_equal``/
``diff_schemas`` (compareBQSchemas, bigquery.go:115-121).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# snapshot_tm is appended to every captured table (bigquery.go:355-358)
SNAPSHOT_COL = "snapshot_tm"


def pg_udt_to_spark(
    udt_name: str,
    numeric_precision: int | None = None,
    numeric_scale: int | None = None,
) -> T.DataType:
    """Fold a Postgres ``udt_name`` into the engine's Spark type.

    Mirrors pgSchemaToBqSchema's dispatch (bigquery.go:273-352) with the
    Spark-native choices from SURVEY.md §1.3: arrays stay arrays (the
    reference stringifies them only because its transport is NDJSON),
    floats are DoubleType (not NUMERIC — Q1 semantic fix), jsonb/interval
    ride as strings.
    """
    u = udt_name.lower()
    if u.startswith("_") or u.endswith("vector"):
        # element type from the inner udt; default string like the reference's
        # catch-all. intvector/oidvector are int-element vectors.
        inner = u[1:] if u.startswith("_") else "int8"
        return T.ArrayType(pg_udt_to_spark(inner, numeric_precision, numeric_scale))
    if u.startswith("float"):  # bigquery.go:285-292
        return T.DoubleType()
    if u.startswith("int") and u != "interval":  # bigquery.go:295-296
        return T.LongType()
    if u == "abstime":  # bigquery.go:299-300
        return T.TimestampType()
    if u == "bool":  # bigquery.go:301-302
        return T.BooleanType()
    if u == "bytea":  # bigquery.go:303-304
        return T.BinaryType()
    if u == "numeric":  # bigquery.go:321-328, Q1 fixed
        p = numeric_precision if numeric_precision and 0 < numeric_precision <= 38 else 38
        s = numeric_scale if numeric_scale is not None and 0 <= numeric_scale <= p else min(18, p)
        return T.DecimalType(p, s)
    if u == "date":  # bigquery.go:307-308
        return T.DateType()
    if u in ("timestamp", "timestamptz"):  # bigquery.go:339-342
        return T.TimestampType()
    if u in ("oid", "oidvector", "xid"):  # bigquery.go:329-332, 345-346
        return T.LongType()
    # char/inet/ltree/name/point/regproc/text/varchar/interval/json/jsonb
    # and the catch-all default (bigquery.go:305-348)
    return T.StringType()


def sink_schema(src: T.StructType) -> T.StructType:
    """Source schema + the appended snapshot_tm TIMESTAMP column — the
    ``<table>_cdc`` shape (bigquery.go:355-358)."""
    return T.StructType(
        list(src.fields) + [T.StructField(SNAPSHOT_COL, T.TimestampType(), True)]
    )


def infer_schema(df: DataFrame) -> T.StructType:
    """Schema inference analog of the catalog pull (postgres.go:158-184):
    for DataFrame sources Spark already carries the StructType."""
    return df.schema


def schema_to_json(schema: T.StructType) -> str:
    """Cache form — the reference stores schema JSON in SQLite TEXT
    (nmsdb.go:59-60); we store ``StructType.json()``."""
    return schema.json()


def schema_from_json(s: str) -> T.StructType:
    return T.StructType.fromJson(__import__("json").loads(s))


def schemas_equal(a: T.StructType, b: T.StructType) -> bool:
    """Deep schema compare — compareBQSchemas (bigquery.go:115-121)."""
    return a == b


def apply_schema_diff(
    spark,
    sink_path: str,
    expected: T.StructType,
    live: T.StructType | None = None,
    allow_widening: bool = False,
) -> dict[str, list[str]]:
    """D7 APPLY path — evolve a parquet sink to ``expected`` (the
    reference ships a worked ADD-COLUMN sample, bigquery.go:366-389,
    alongside its log-only default).

    Spark-idiomatic evolution: adding a nullable column to a parquet
    sink needs NO data rewrite — parquet files are self-describing, so
    appending one zero-row file that carries the full new schema makes
    every mergeSchema read surface the added columns (old files yield
    NULL). That is the exact analog of BigQuery's metadata-only ADD
    COLUMN: O(1) regardless of sink size — at 100 TB a rewrite would be
    a full-corpus job; this is one footer. Removed columns raise, and
    retyped columns raise UNLESS every retype is a lossless
    :func:`is_widening` and ``allow_widening`` is set — a widened sink
    also needs no rewrite (Spark 4's reader up-casts old narrow files
    when handed the widened schema explicitly; ``mergeSchema`` refuses
    the mix, so post-widening reads go through
    :func:`widened_live_schema` — engine._cdc_df does this
    automatically). Destructive changes need an explicit migration.
    Pass ``live`` when the caller already holds the merged sink
    schema — the merge is a distributed O(files) footer job, not worth
    running twice."""
    if live is None:
        try:
            live = spark.read.option("mergeSchema", "true").parquet(sink_path).schema
        except Exception as e:
            # a previously-WIDENED sink mixes narrow and wide files —
            # Spark's merge refuses the mix its reader handles fine, so
            # fold the footers ourselves (same fallback as the engine's
            # read path; without this, evolving a widened sink again
            # would crash before any diffing)
            if "CANNOT_MERGE_SCHEMAS" not in str(e):
                raise
            live = widened_live_schema(sink_path)
    d = diff_schemas(live, expected)
    af = {f.name: f.dataType for f in live.fields}
    bf = {f.name: f.dataType for f in expected.fields}
    narrowed = [n for n in d["retyped"] if not is_widening(af[n], bf[n])]
    if d["removed"] or narrowed or (d["retyped"] and not allow_widening):
        raise ValueError(
            f"only additive{'/widening' if allow_widening else ''} evolution "
            f"is supported, diff={d}"
        )
    if d["added"] or d["retyped"]:
        # zero-row file carrying the full new (widened) schema: makes
        # the widened types discoverable from footers alone
        spark.createDataFrame([], expected).write.mode("append").parquet(sink_path)
    return d


def diff_schemas(a: T.StructType, b: T.StructType) -> dict[str, list[str]]:
    """Field-level diff for drift logging/evolution (bigquery.go:92-100;
    the reference only logs, with an unused ADD COLUMN sample at
    bigquery.go:366-389 — we report added/removed/retyped)."""
    af = {f.name: f.dataType for f in a.fields}
    bf = {f.name: f.dataType for f in b.fields}
    return {
        "added": sorted(set(bf) - set(af)),
        "removed": sorted(set(af) - set(bf)),
        "retyped": sorted(n for n in set(af) & set(bf) if af[n] != bf[n]),
    }


def type_contains_map(dt: T.DataType) -> bool:
    """True when ``dt`` has a MapType anywhere in it — top-level or
    nested inside arrays/structs. Spark rejects map-bearing columns in
    ordering (``orderBy``) and set-style operations
    (``dropDuplicates``/``except``), and the restriction applies to
    NESTED maps too, so callers deciding orderability must recurse
    (ADVICE r8: the top-level-only check let ``array<map<...>>``
    payloads reach an AnalysisException)."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return type_contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(type_contains_map(f.dataType) for f in dt.fields)
    return False


# Widenings Spark 4's vectorized parquet reader performs at SCAN time
# when handed an explicit target schema (probed: byte/short→int/long,
# int→long, int→double, float→double, date→timestamp_ntz; long→double
# is NOT supported). This is what makes metadata-only type evolution
# possible: old narrow files and new wide files coexist in one sink and
# an explicit-schema read up-casts per file — no rewrite.
_NUMERIC_LADDER = (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())


def is_widening(src: T.DataType, dst: T.DataType) -> bool:
    """True when a parquet sink written with ``src`` can be READ as
    ``dst`` by handing the reader an explicit schema — the lossless,
    rewrite-free subset of type changes."""
    if src == dst:
        return True
    if src in _NUMERIC_LADDER:
        i = _NUMERIC_LADDER.index(src)
        if dst in _NUMERIC_LADDER[i + 1 :]:
            return True
        # int32-and-under widen to double losslessly AND the reader
        # supports it; long→double would lose precision and is refused
        # by the reader anyway
        if isinstance(dst, T.DoubleType) and not isinstance(src, T.LongType):
            return True
        return False
    if isinstance(src, T.FloatType) and isinstance(dst, T.DoubleType):
        return True
    if isinstance(src, T.DateType) and isinstance(dst, T.TimestampNTZType):
        return True
    return False


def widen_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """The wider of two types under :func:`is_widening`; raises when
    neither direction is a supported widening (a genuine retype)."""
    if is_widening(a, b):
        return b
    if is_widening(b, a):
        return a
    raise ValueError(f"no lossless widening between {a} and {b}")


def widened_live_schema(sink_path: str) -> T.StructType:
    """The widest schema over every parquet footer in a sink — the
    fallback when ``mergeSchema`` refuses a sink whose files mix
    pre- and post-widening types (Spark's merge rejects int/long
    mixes even though its reader up-casts them happily). Pure pyarrow
    footer reads, no Spark jobs; column order follows first
    appearance."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    merged: dict[str, T.DataType] = {}
    order: list[str] = []
    for root, dirs, files in os.walk(sink_path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in sorted(files):
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            sch = from_arrow_schema(
                pq.read_schema(os.path.join(root, f))
            )
            for fld in sch.fields:
                if fld.name not in merged:
                    merged[fld.name] = fld.dataType
                    order.append(fld.name)
                else:
                    merged[fld.name] = widen_types(merged[fld.name], fld.dataType)
    return T.StructType([T.StructField(n, merged[n], True) for n in order])
