"""Schema-translation unit tests — the §1.3 type fold (D9,
bigquery.go:252-364) including the Q1 scale fix. No Spark session."""

import pytest
from pyspark.sql import types as T

from leftshove_spark import schema as sch

# (udt_name, precision, scale, expected) — SURVEY.md §1.3 table
CASES = [
    ("text", None, None, T.StringType()),
    ("varchar", None, None, T.StringType()),
    ("char", None, None, T.StringType()),
    ("inet", None, None, T.StringType()),
    ("ltree", None, None, T.StringType()),
    ("name", None, None, T.StringType()),
    ("point", None, None, T.StringType()),
    ("regproc", None, None, T.StringType()),
    ("interval", None, None, T.StringType()),  # lossy, reference parity (bigquery.go:311-312)
    ("json", None, None, T.StringType()),
    ("jsonb", None, None, T.StringType()),  # Spark has no JSON type; from_json on demand
    ("int2", None, None, T.LongType()),
    ("int4", None, None, T.LongType()),
    ("int8", None, None, T.LongType()),
    ("oid", None, None, T.LongType()),
    ("xid", None, None, T.LongType()),
    ("float4", None, None, T.DoubleType()),
    ("float8", None, None, T.DoubleType()),
    ("bool", None, None, T.BooleanType()),
    ("bytea", None, None, T.BinaryType()),
    ("abstime", None, None, T.TimestampType()),
    ("date", None, None, T.DateType()),
    ("timestamp", None, None, T.TimestampType()),
    ("timestamptz", None, None, T.TimestampType()),
    ("numeric", 12, 3, T.DecimalType(12, 3)),  # Q1 FIX: scale lands in scale
    ("numeric", None, None, T.DecimalType(38, 18)),  # no catalog precision
    ("_text", None, None, T.ArrayType(T.StringType())),
    ("_int4", None, None, T.ArrayType(T.LongType())),
    ("intvector", None, None, T.ArrayType(T.LongType())),
    ("some_custom_enum", None, None, T.StringType()),  # catch-all (bigquery.go:347-348)
]


@pytest.mark.parametrize("udt,p,s,expected", CASES)
def test_pg_udt_to_spark(udt, p, s, expected):
    assert sch.pg_udt_to_spark(udt, p, s) == expected


def test_q1_scale_fix_regression():
    """The reference assigns numeric_scale to Precision (bigquery.go:290-291,
    326-327), losing scale entirely. Our numeric(10,2) must carry scale 2."""
    dt = sch.pg_udt_to_spark("numeric", 10, 2)
    assert isinstance(dt, T.DecimalType)
    assert dt.precision == 10 and dt.scale == 2


def test_sink_schema_appends_snapshot_tm():
    src = T.StructType([T.StructField("id", T.LongType(), True)])
    sk = sch.sink_schema(src)
    assert sk.fields[-1].name == sch.SNAPSHOT_COL
    assert sk.fields[-1].dataType == T.TimestampType()


def test_schema_json_roundtrip_and_diff():
    src = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("v", T.DecimalType(10, 2), True),
        ]
    )
    assert sch.schema_from_json(sch.schema_to_json(src)) == src
    other = T.StructType(
        [
            T.StructField("id", T.StringType(), True),
            T.StructField("w", T.LongType(), True),
        ]
    )
    d = sch.diff_schemas(src, other)
    assert d == {"added": ["w"], "removed": ["v"], "retyped": ["id"]}
    assert not sch.schemas_equal(src, other)
    assert sch.schemas_equal(src, sch.schema_from_json(sch.schema_to_json(src)))


def test_apply_schema_diff_add_column_end_to_end(spark, tmp_path):
    """D7 apply path: additive drift lands as a zero-row schema append —
    no data rewrite — and mergeSchema reads surface the union (old rows
    NULL in the new column). Destructive diffs raise."""
    path = str(tmp_path / "sink")
    v1 = T.StructType(
        [T.StructField("id", T.LongType(), True), T.StructField("a", T.StringType(), True)]
    )
    v2 = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("a", T.StringType(), True),
            T.StructField("b", T.DoubleType(), True),
        ]
    )
    spark.createDataFrame([(1, "x"), (2, "y")], v1).write.parquet(path)
    applied = sch.apply_schema_diff(spark, path, v2)
    assert applied == {"added": ["b"], "removed": [], "retyped": []}
    spark.createDataFrame([(3, "z", 1.5)], v2).write.mode("append").parquet(path)
    out = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(out.columns) == {"id", "a", "b"}
    rows = {r["id"]: r["b"] for r in out.collect()}
    assert rows == {1: None, 2: None, 3: 1.5}
    # second apply is a no-op
    assert sch.apply_schema_diff(spark, path, v2) == {
        "added": [], "removed": [], "retyped": []
    }
    import pytest as _pytest

    v3 = T.StructType([T.StructField("id", T.StringType(), True)])
    with _pytest.raises(ValueError):
        sch.apply_schema_diff(spark, path, v3)


# ---------------------------------------------------------------- property
from hypothesis import given, settings
from hypothesis import strategies as st

_ATOMS = [
    T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType(),
    T.BooleanType(), T.TimestampType(), T.DateType(), T.BinaryType(),
]
_types = st.recursive(
    st.sampled_from(_ATOMS),
    lambda children: st.one_of(
        children.map(lambda t: T.ArrayType(t)),
        children.map(lambda t: T.MapType(T.StringType(), t)),
    ),
    max_leaves=4,
)
_names = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=12
)
_schemas = st.dictionaries(_names, _types, min_size=0, max_size=8).map(
    lambda d: T.StructType(
        [T.StructField(n, t, True) for n, t in sorted(d.items())]
    )
)


@settings(max_examples=200, deadline=None)
@given(a=_schemas, b=_schemas)
def test_schema_json_roundtrip_and_diff_laws(a, b):
    """For ANY pair of schemas (nested arrays/maps included): the JSON
    codec round-trips exactly; diff(a, a) is empty; diff is
    anti-symmetric in added/removed; equality ⇔ empty diff + same
    field order."""
    assert sch.schema_from_json(sch.schema_to_json(a)) == a
    d_self = sch.diff_schemas(a, a)
    assert d_self == {"added": [], "removed": [], "retyped": []}
    d_ab, d_ba = sch.diff_schemas(a, b), sch.diff_schemas(b, a)
    assert d_ab["added"] == d_ba["removed"]
    assert d_ab["removed"] == d_ba["added"]
    assert d_ab["retyped"] == d_ba["retyped"]
    if sch.schemas_equal(a, b):
        assert d_ab == {"added": [], "removed": [], "retyped": []}


def test_is_widening_matrix(spark):
    """The widening predicate mirrors exactly what Spark 4's vectorized
    parquet reader accepts with an explicit schema (probed): the
    numeric ladder, small-int/float -> double, date -> timestamp_ntz —
    and refuses long -> double (lossy) and every narrowing."""
    from pyspark.sql import types as T

    from leftshove_spark.schema import is_widening, widen_types

    assert is_widening(T.IntegerType(), T.LongType())
    assert is_widening(T.ShortType(), T.LongType())
    assert is_widening(T.IntegerType(), T.DoubleType())
    assert is_widening(T.FloatType(), T.DoubleType())
    assert is_widening(T.DateType(), T.TimestampNTZType())
    assert not is_widening(T.LongType(), T.DoubleType())
    assert not is_widening(T.LongType(), T.IntegerType())
    assert not is_widening(T.StringType(), T.LongType())
    assert widen_types(T.IntegerType(), T.LongType()) == T.LongType()
    assert widen_types(T.LongType(), T.IntegerType()) == T.LongType()
    import pytest

    with pytest.raises(ValueError, match="widening"):
        widen_types(T.LongType(), T.DoubleType())


def test_schema_widening_end_to_end(spark, tmp_path):
    """D7b: int sink widens to long with NO rewrite — apply_schema_diff
    records the widening and appends a zero-row wide file; subsequent
    reads go through the widened footer schema and see every row with
    the wide type. A genuine retype (long -> string) still raises."""
    import pytest
    from pyspark.sql import types as T

    from leftshove_spark.schema import apply_schema_diff, widened_live_schema

    sink = str(tmp_path / "sink")
    spark.createDataFrame([(1, 10), (2, 20)], "k int, v int").write.parquet(sink)
    wide = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    with pytest.raises(ValueError, match="evolution"):
        apply_schema_diff(spark, sink, wide)  # widening off by default
    d = apply_schema_diff(spark, sink, wide, allow_widening=True)
    assert d["retyped"] == ["k", "v"]

    # post-widening appends write longs; mergeSchema would now refuse
    spark.createDataFrame(
        [(3_000_000_000, 30)], "k long, v long"
    ).write.mode("append").parquet(sink)
    live = widened_live_schema(sink)
    assert [f.dataType for f in live.fields] == [T.LongType(), T.LongType()]
    rows = sorted(
        r["k"] for r in spark.read.schema(live).parquet(sink).collect()
    )
    assert rows == [1, 2, 3_000_000_000]

    with pytest.raises(ValueError, match="evolution"):
        apply_schema_diff(
            spark,
            sink,
            T.StructType([T.StructField("k", T.StringType())]),
            live=live,
            allow_widening=True,
        )


def test_engine_reads_through_widened_sink(spark, tmp_path):
    """The engine's history/state path survives a widened capture sink:
    mergeSchema fails on the int/long mix and _cdc_df falls back to the
    footer-derived widened schema."""
    from datetime import datetime

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig

    work = str(tmp_path)
    eng = Engine(
        spark,
        EngineConfig(replication_buffer_secs=0, evolve_schema=True),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(1, 5, datetime(2030, 1, 1))], "pk int, v int, ts timestamp"
    ).write.parquet(src)
    eng.seed([{"name": "t", "path": src, "nms_column": "ts", "pkey_column": "pk"}])
    eng.create_sinks()
    eng.run_cycle(now=datetime(2030, 1, 2), snapshot_at=datetime(2030, 1, 2))
    # widened upstream: append a LONG version of the same table
    sink = eng.sink_path(next(s for s in eng.state.all() if s.name == "t"))
    spark.createDataFrame(
        [(2_999_999_999, 7, datetime(2030, 2, 1), datetime(2030, 2, 1))],
        "pk long, v long, ts timestamp, snapshot_tm timestamp",
    ).write.mode("append").parquet(sink)
    hist = eng.history("t")
    assert hist.schema["pk"].dataType.typeName() == "long"
    assert sorted(r["pk"] for r in hist.collect()) == [1, 2_999_999_999]


def test_apply_schema_diff_default_live_on_widened_sink(spark, tmp_path):
    """r9 review: apply_schema_diff's live=None path must survive a
    previously-widened (mixed int/long) sink — mergeSchema refuses the
    mix, so the footer-fold fallback kicks in; adding a column on top
    of the widening then works."""
    from pyspark.sql import types as T

    from leftshove_spark.schema import apply_schema_diff

    sink = str(tmp_path / "sink")
    spark.createDataFrame([(1, 10)], "k int, v int").write.parquet(sink)
    spark.createDataFrame(
        [(3_000_000_000, 30)], "k long, v long"
    ).write.mode("append").parquet(sink)
    wider_plus = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("note", T.StringType()),
        ]
    )
    d = apply_schema_diff(spark, sink, wider_plus, allow_widening=True)
    assert d["added"] == ["note"]
