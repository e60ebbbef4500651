"""Schema system: type mapping, name normalization, contracts.

The reference infers schemas from pandas dtypes and maintains explicit
dtype→DDL maps (reference ``data_extractor.py:340-353``,
``data_loader.py:121-138``) and normalizes column names
(``data_extractor.py:387-390``). Here those become pure functions —
deterministic and unit-testable, no catalog round-trip needed.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Reference dtype map (data_extractor.py:340-346 + data_loader.py:121-130),
# re-expressed as pandas-dtype-string → Spark type. StringType is the
# fallback, mirroring the reference's TEXT fallback (data_extractor.py:353).
PANDAS_TO_SPARK: dict[str, T.DataType] = {
    "object": T.StringType(),
    "string": T.StringType(),
    "category": T.StringType(),
    "int64": T.LongType(),
    "Int64": T.LongType(),
    "int32": T.IntegerType(),
    "float64": T.DoubleType(),
    "float32": T.FloatType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "datetime64[ns]": T.TimestampType(),
    "datetime64[us]": T.TimestampType(),
    "date": T.DateType(),
}

FALLBACK_TYPE: T.DataType = T.StringType()

# Audit/metadata columns stamped at every persisted layer
# (data_extractor.py:357-358, data_loader.py:226-229, :426-427).
METADATA_COLUMNS = ("loaded_at", "load_date")


def spark_type_for_pandas(dtype: str) -> T.DataType:
    """Map a pandas dtype string to a Spark type, TEXT-style fallback."""
    return PANDAS_TO_SPARK.get(str(dtype), FALLBACK_TYPE)


def normalize_name(name: str) -> str:
    """Lowercase and map ``' '``, ``'-'``, ``'.'`` to ``'_'``.

    Exact charset of the reference's column cleaner
    (data_extractor.py:387-390; schema compare copy at :304-305).
    """
    return name.lower().replace(" ", "_").replace("-", "_").replace(".", "_")
