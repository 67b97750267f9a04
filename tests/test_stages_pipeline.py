"""End-to-end pipeline tests: DelimitedExtract → TypingTransform →
MaskDataTransform → SQLTransform, mirroring the reference's e2e flow
(MaskDataTransformSuite.scala:59-114) with value-level assertions the
reference never had.
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest

from arc_maskdata_pipeline_plugin_spark.functions.datetime_patterns import (
    java_to_spark_pattern,
    java_to_strptime,
)
from arc_maskdata_pipeline_plugin_spark.functions.masking import register_udfs
from arc_maskdata_pipeline_plugin_spark.operators import PipelineContext, StageError
from arc_maskdata_pipeline_plugin_spark.operators.mask import compile_mask_expressions
from arc_maskdata_pipeline_plugin_spark.plans.pipeline import Pipeline, _snake

CSV = """username,birth_date,create_date,balance,city
  alice  ,12/05/1996,Wed Aug 17 1983 21:57:14 GMT+1000 (Australian Eastern Standard Time),1234.56,Sydney
bob,03/11/1984,Thu Dec 25 2014 08:30:00 GMT+1100 (Australian Eastern Daylight Time),-15.20,Perth
null,,,,Melbourne
"""

SCHEMA = [
    {
        "name": "username",
        "type": "string",
        "trim": True,
        "nullable": True,
        "nullableValues": ["", "null"],
        "metadata": {
            "pii": True,
            "mask": {"treatments": ["mask_string(16, true, ${value})"]},
        },
    },
    {
        "name": "birth_date",
        "type": "date",
        "nullable": True,
        "formatters": ["dd/MM/uuuu"],
        "metadata": {
            "pii": True,
            "mask": {"treatments": ["date_trunc('MONTH', ${value})"]},
        },
    },
    {
        "name": "create_date",
        "type": "timestamp",
        "nullable": True,
        "timezoneId": "UTC",
        "formatters": [
            "EEE MMM dd uuuu HH:mm:ss 'GMT'Z '(Australian Eastern Standard Time)'",
            "EEE MMM dd uuuu HH:mm:ss 'GMT'Z '(Australian Eastern Daylight Time)'",
        ],
        "metadata": {
            "mask": {
                "treatments": [
                    "date_trunc('HOUR', ${value})",
                    "mask_timestamp(14, true, ${value})",
                ]
            }
        },
    },
    {
        "name": "balance",
        "type": "decimal",
        "precision": 10,
        "scale": 2,
        "nullable": True,
        "metadata": {"mask": {"treatments": ["mask_decimal(CAST(5.0 AS DECIMAL(3,1)), true, ${value})"]}},
    },
    {"name": "city", "type": "string", "nullable": False, "metadata": {"pii": False}},
]


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    register_udfs(spark)
    csv_path = tmp_path_factory.mktemp("userdata") / "userdata.csv"
    csv_path.write_text(CSV)
    config = {
        "stages": [
            {
                "type": "DelimitedExtract",
                "name": "extract userdata",
                "inputURI": str(csv_path),
                "outputView": "userdata_raw",
                "header": True,
            },
            {
                "type": "TypingTransform",
                "name": "type userdata",
                "inputView": "userdata_raw",
                "outputView": "userdata_typed",
                "schema": SCHEMA,
            },
            {
                "type": "MaskDataTransform",
                "name": "mask userdata",
                "inputView": "userdata_typed",
                "outputView": "userdata_masked",
                "persist": True,
            },
        ]
    }
    pipeline = Pipeline.from_config(json.dumps(config))
    ctx = PipelineContext(spark=spark, environment="test")
    df = pipeline.run(ctx)
    typed = spark.table("userdata_typed")
    return ctx, typed, df


def test_typing(pipeline_result, spark):
    _, typed, _ = pipeline_result
    rows = {r.city: r for r in typed.collect()}
    alice = rows["Sydney"]
    assert alice.username == "alice"  # trimmed
    assert alice.birth_date == dt.date(1996, 5, 12)  # dd/MM/uuuu
    # GMT+1000 → UTC: 21:57:14 +10:00 == 11:57:14 UTC
    assert alice.create_date == dt.datetime(1983, 8, 17, 11, 57, 14)
    assert alice.balance == Decimal("1234.56")
    bob = rows["Perth"]
    assert bob.create_date == dt.datetime(2014, 12, 24, 21, 30, 0)  # +11:00 offset
    nul = rows["Melbourne"]
    assert nul.username is None  # 'null' ∈ nullableValues
    assert nul.birth_date is None and nul.create_date is None and nul.balance is None


def test_typed_metadata_attached(pipeline_result):
    _, typed, _ = pipeline_result
    md = {f.name: f.metadata for f in typed.schema.fields}
    assert md["username"]["pii"] is True
    assert md["username"]["mask"]["treatments"] == ["mask_string(16, true, ${value})"]
    assert md["city"]["pii"] is False


def test_mask_stage_sql_compilation(pipeline_result, spark):
    ctx, typed, _ = pipeline_result
    stmt = compile_mask_expressions(typed.schema, "userdata_typed")
    # chained treatments nest: later treatment wraps the earlier SQL string
    assert "mask_timestamp(14, true, date_trunc('HOUR', create_date))" in stmt
    # decimal + date cast-back
    assert "AS DECIMAL(10, 2)) AS balance" in stmt
    assert "CAST(date_trunc('MONTH', birth_date) AS DATE) AS birth_date" in stmt
    # pass-through untouched
    assert stmt.endswith("city FROM userdata_typed")


def test_masked_values(pipeline_result):
    _, typed, masked = pipeline_result
    rows = {r.city: r for r in masked.collect()}
    alice = rows["Sydney"]
    assert len(alice.username) == 16 and alice.username != "alice"
    assert alice.birth_date == dt.date(1996, 5, 1)  # date_trunc MONTH
    assert alice.create_date.minute == 0 and alice.create_date.second == 0
    assert abs(alice.create_date - dt.datetime(1983, 8, 17, 11, 0, 0)).days <= 14
    assert abs(alice.balance - Decimal("1234.56")) <= Decimal("5.0")
    assert isinstance(alice.balance, Decimal)
    # NULLs propagate
    nul = rows["Melbourne"]
    assert nul.username is None and nul.birth_date is None
    # unmasked column passes through
    assert rows["Perth"].city == "Perth"


def test_masked_metadata_reattached(pipeline_result):
    _, _, masked = pipeline_result
    md = {f.name: f.metadata for f in masked.schema.fields}
    assert md["username"]["pii"] is True  # survived spark.sql round-trip


def test_mask_determinism_across_runs(pipeline_result, spark):
    _, _, masked = pipeline_result
    ctx = PipelineContext(spark=spark, environment="test")
    from arc_maskdata_pipeline_plugin_spark.operators.mask import MaskDataTransform

    again = MaskDataTransform(
        "mask again", input_view="userdata_typed", output_view="userdata_masked_2"
    ).execute(ctx)
    a = {r.city: r.username for r in masked.collect()}
    b = {r.city: r.username for r in again.collect()}
    assert a == b


def test_persist_instrumentation(pipeline_result):
    ctx, _, _ = pipeline_result
    mask_detail = next(d for d in ctx.details if d["type"] == "MaskDataTransform")
    assert mask_detail["records"] == 3
    assert "sql" in mask_detail and "rate" in mask_detail


def test_stage_error_accumulation():
    with pytest.raises(StageError, match="unknown stage type") as exc:
        Pipeline.from_config({"stages": [{"type": "NopeExtract", "name": "x"}]})
    assert str(exc.value) == "stage 0 'x': unknown stage type 'NopeExtract'"
    with pytest.raises(StageError) as exc:
        Pipeline.from_config(
            {"stages": [{"type": "NopeExtract", "name": "x"}, {"name": "y"}]}
        )
    assert str(exc.value) == (
        "stage 0 'x': unknown stage type 'NopeExtract'; stage 1 'y': missing 'type'"
    )
    with pytest.raises(StageError):
        Pipeline.from_config(
            {"stages": [{"type": "SQLTransform", "name": "no sql", "outputView": "v"}]}
        )


@pytest.mark.parametrize(
    "key, expected",
    [
        ("inputURI", "input_uri"),
        ("outputURI", "output_uri"),
        ("jdbcURL", "jdbc_url"),
        ("pathGlobFilter", "path_glob_filter"),
        ("numPartitions", "num_partitions"),
        ("sqlParams", "sql_params"),
    ],
)
def test_config_key_snake_case(key, expected):
    assert _snake(key) == expected


def test_mask_error_paths(spark):
    from pyspark.sql import types as Tp

    bad_missing = Tp.StructType(
        [Tp.StructField("c", Tp.StringType(), True, metadata={"mask": {"nope": 1}})]
    )
    with pytest.raises(ValueError, match="missing treatments key"):
        compile_mask_expressions(bad_missing, "v")
    bad_type = Tp.StructType(
        [Tp.StructField("c", Tp.StringType(), True, metadata={"mask": "stringy"})]
    )
    with pytest.raises(ValueError, match="invalid type"):
        compile_mask_expressions(bad_type, "v")


def test_pattern_translation():
    assert java_to_spark_pattern("dd/MM/uuuu") == "dd/MM/yyyy"
    assert java_to_spark_pattern("uuuu-MM-dd HH:mm:ss") == "yyyy-MM-dd HH:mm:ss"
    assert java_to_spark_pattern("EEE MMM dd uuuu") is None  # day-of-week → tier 2
    assert java_to_strptime("dd/MM/uuuu") == "%d/%m/%Y"
    assert (
        java_to_strptime("EEE MMM dd uuuu HH:mm:ss 'GMT'Z '(X)'")
        == "%a %b %d %Y %H:%M:%S GMT%z (X)"
    )


def test_inject_parameters_missing_param_errors():
    """Reference parity: SQLUtils.injectParameters with allowMissing=false
    fails on an unreplaced ${param}."""
    import pytest
    from arc_maskdata_pipeline_plugin_spark.operators.sql import inject_parameters

    with pytest.raises(Exception):
        inject_parameters("f(${value}, ${other})", {"value": "c"})


def test_typing_time_column_validation(spark):
    """Arc's string-typed 'time' columns (TestUtils.scala:294-305): parsed
    against the formatter, canonicalized, invalid -> NULL."""
    from arc_maskdata_pipeline_plugin_spark.operators.typing import (
        FieldSpec,
        typed_column,
    )

    df = spark.createDataFrame(
        [("12:34:56",), ("23:45:16",), ("9:05:01",), ("not a time",), (None,)],
        ["timeDatum"],
    )
    spec = FieldSpec(name="timeDatum", type="time", formatters=["HH:mm:ss"])
    got = [r.timeDatum for r in df.select(typed_column(spec)).collect()]
    assert got[0] == "12:34:56" and got[1] == "23:45:16"
    # H-vs-HH leniency follows Spark's parser; the invalid string must be NULL
    assert got[3] is None and got[4] is None
