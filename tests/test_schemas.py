"""Schema system unit tests (SURVEY.md §1.2-1.3, §2.5).

Covers the reference's contracts: name normalization charset
(data_extractor.py:387-390), dtype map with TEXT fallback
(data_extractor.py:340-353), normalization-aware diff ignoring
metadata columns (data_extractor.py:296-312). Pure Python — no SparkSession needed.
"""

from __future__ import annotations

from pyspark.sql import types as T

from etl_gcp_spark.schemas import (
    METADATA_COLUMNS,
    SchemaDiff,
    normalize_name,
    schema_diff,
    spark_type_for_pandas,
)


def test_normalize_name_charset():
    # exact charset: space, dash, dot -> underscore; lowercase
    assert normalize_name("Year Start") == "year_start"
    assert normalize_name("Location-Abbr") == "location_abbr"
    assert normalize_name("Data.Value") == "data_value"
    # other punctuation is NOT touched (reference parity)
    assert normalize_name("a(b)") == "a(b)"


def test_dtype_map_and_fallback():
    assert spark_type_for_pandas("int64") == T.LongType()
    assert spark_type_for_pandas("Int64") == T.LongType()
    assert spark_type_for_pandas("float64") == T.DoubleType()
    assert spark_type_for_pandas("bool") == T.BooleanType()
    assert spark_type_for_pandas("datetime64[ns]") == T.TimestampType()
    assert spark_type_for_pandas("category") == T.StringType()
    # TEXT fallback for anything unknown
    assert spark_type_for_pandas("complex128") == T.StringType()


def _st(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


def test_schema_diff_compatible_ignores_metadata_and_case():
    existing = _st(
        ("year_start", T.LongType()),
        ("topic", T.StringType()),
        ("loaded_at", T.TimestampType()),
        ("load_date", T.DateType()),
    )
    incoming = _st(("Year Start", T.LongType()), ("Topic", T.StringType()))
    d = schema_diff(existing, incoming)
    assert d.compatible
    assert isinstance(d, SchemaDiff)


def test_schema_diff_reports_all_three_classes():
    existing = _st(("a", T.LongType()), ("b", T.StringType()))
    incoming = _st(("b", T.LongType()), ("c", T.DoubleType()))
    d = schema_diff(existing, incoming)
    assert d.missing_in_existing == ["c"]
    assert d.missing_in_incoming == ["a"]
    assert d.type_mismatches == [("b", "string", "bigint")]
    assert not d.compatible


def test_metadata_columns_contract():
    assert METADATA_COLUMNS == ("loaded_at", "load_date")
