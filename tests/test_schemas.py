"""Schema system unit tests (SURVEY.md §1.2-1.3, §2.5).

Covers the reference's contracts: name normalization charset
(data_extractor.py:387-390), dtype map with TEXT fallback
(data_extractor.py:340-353), and the metadata-column contract. Pure
Python — no SparkSession needed.
"""

from __future__ import annotations

from pyspark.sql import types as T

from etl_gcp_spark.schemas import (
    METADATA_COLUMNS,
    normalize_name,
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


def test_metadata_columns_contract():
    assert METADATA_COLUMNS == ("loaded_at", "load_date")
