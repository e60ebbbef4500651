"""Schema system: type mapping, normalization-aware diffing, contracts.

The reference infers schemas from pandas dtypes and maintains explicit
dtype→DDL maps (reference ``data_extractor.py:340-353``,
``data_loader.py:121-138``), compares live table schemas against the
inferred one with name normalization (``data_extractor.py:296-312``,
``data_loader.py:140-177``). Here those become pure functions over
``StructType`` — deterministic and unit-testable, no catalog round-trip
needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

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


@dataclass
class SchemaDiff:
    """Result of comparing an existing schema against an incoming one."""

    missing_in_existing: list[str] = field(default_factory=list)
    missing_in_incoming: list[str] = field(default_factory=list)
    type_mismatches: list[tuple[str, str, str]] = field(default_factory=list)

    @property
    def compatible(self) -> bool:
        return not (
            self.missing_in_existing
            or self.missing_in_incoming
            or self.type_mismatches
        )


def schema_diff(
    existing: T.StructType,
    incoming: T.StructType,
    ignore: tuple[str, ...] = METADATA_COLUMNS,
) -> SchemaDiff:
    """Normalization-aware schema comparison.

    Mirrors the reference's compatibility check
    (data_loader.py:140-177): names compared after
    ``normalize_name``, metadata columns ignored, per-column type
    mismatches reported. In the reference, schema match drove the
    TRUNCATE-vs-DROP/CREATE choice (data_extractor.py:314-377).
    """
    ex = {
        normalize_name(f.name): f.dataType
        for f in existing.fields
        if normalize_name(f.name) not in ignore
    }
    inc = {
        normalize_name(f.name): f.dataType
        for f in incoming.fields
        if normalize_name(f.name) not in ignore
    }
    diff = SchemaDiff(
        missing_in_existing=sorted(set(inc) - set(ex)),
        missing_in_incoming=sorted(set(ex) - set(inc)),
    )
    for name in sorted(set(ex) & set(inc)):
        if ex[name] != inc[name]:
            diff.type_mismatches.append(
                (name, ex[name].simpleString(), inc[name].simpleString())
            )
    return diff
