"""F1 — sparse schema derivation (README.md:8-9, 15-18, 26-48).

"The schema for a Parquet table SHALL be derived from a single base FHIR
resource definition" and may contain only the fields the data set
populates. Derivation = Spark's distributed JSON schema inference ∩ the
R4 element registry (r4_elements.py, path-aware — the definition side
the spec mandates) ∩ FHIR typing rules (types.py, name-based fallback
for paths the registry doesn't cover): fields whose FHIR type must stay
textual (dates, decimals) are forced to StringType even when JSON
inference saw numbers, preserving losslessness (README.md:11-13);
integer-kinded fields take their spec-mandated width.

``r4_elements.definition_schema`` additionally derives a schema from the
resource definition ALONE (no data sample), for registered types.

The inference pass is itself a Spark job (executor-parallel), so
derivation scales with the input like any other read.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from parquet_on_fhir_spark.fhir.r4_elements import registry_type_at
from parquet_on_fhir_spark.fhir.types import (
    DATE_TYPES,
    DECIMAL_TYPES,
    fhir_type_of,
    is_quantity_shaped,
    spark_type_for,
)


def _apply_fhir_rules(
    dtype: T.DataType,
    name: str | None = None,
    path: tuple[str, ...] = (),
    rtype: str | None = None,
) -> T.DataType:
    if isinstance(dtype, T.StructType):
        # Quantity/Money-shaped structs: their `value` child is the FHIR
        # decimal (README.md:343+) even though the name alone is ambiguous
        # (Identifier.value is a string) — force lossless STRING storage.
        qshape = is_quantity_shaped(dtype)
        fields = []
        for f in dtype.fields:
            child = _apply_fhir_rules(f.dataType, f.name, path + (f.name,), rtype)
            if (
                qshape
                and f.name == "value"
                and not isinstance(child, (T.StructType, T.ArrayType))
            ):
                child = T.StringType()
            fields.append(T.StructField(f.name, child, True))
        return T.StructType(fields)
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_apply_fhir_rules(dtype.elementType, name, path, rtype), True)
    # definition-registry typing at the exact element path wins; name
    # heuristics (registry of well-known names + choice suffix) fall back
    ft = registry_type_at(rtype, path) if (rtype and path) else None
    if ft is None:
        ft = fhir_type_of(name) if name else None
    if ft is None:
        return dtype
    target = spark_type_for(ft)
    if target is None:  # complex type name (Quantity etc.) — keep inferred struct
        return dtype
    # Textual FHIR kinds always win (lossless rule); numeric kinds only
    # narrow numeric inferences (never clobber a struct, e.g. an element
    # named like a primitive but holding an object).
    if ft in DATE_TYPES or ft in DECIMAL_TYPES or isinstance(target, T.StringType):
        if isinstance(dtype, (T.StructType, T.ArrayType)):
            return dtype
        return T.StringType()
    if isinstance(dtype, (T.LongType, T.IntegerType, T.DoubleType)) and isinstance(
        target, (T.IntegerType, T.LongType)
    ):
        return target
    return dtype


def _truncate_extensions(dtype: T.DataType, depth_left: int) -> T.DataType:
    """Spill ``extension`` subtrees deeper than the budget to raw-JSON
    StringType columns (SURVEY.md §7 hard-parts: Spark types are
    non-recursive, so unbounded Extension recursion must be bounded; the
    JSON reader preserves the subtree text verbatim into a string field,
    which stays queryable via get_json_object / from_json)."""
    if isinstance(dtype, T.StructType):
        fields = []
        for f in dtype.fields:
            if f.name == "extension":
                if depth_left <= 0:
                    fields.append(T.StructField("extension", T.StringType(), True))
                    continue
                fields.append(
                    T.StructField(
                        "extension", _truncate_extensions(f.dataType, depth_left - 1), True
                    )
                )
            else:
                fields.append(
                    T.StructField(f.name, _truncate_extensions(f.dataType, depth_left), True)
                )
        return T.StructType(fields)
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_truncate_extensions(dtype.elementType, depth_left), True)
    return dtype


def derive_schema(
    spark: SparkSession,
    ndjson_path: str,
    max_extension_depth: int | None = None,
    resource_type: str | None = None,
) -> T.StructType:
    """Derive the sparse Parquet schema for an NDJSON resource file.

    ``max_extension_depth``: keep at most this many nested ``extension``
    levels as structured columns; deeper subtrees spill to raw JSON
    strings (default None = whatever depth the data exhibits, matching
    the examples' depth-2 usage). Spilled subtrees don't decode back to
    structured JSON via to_fhir_json — they round-trip as JSON text and
    are queried with get_json_object/from_json.
    """
    inferred = spark.read.json(ndjson_path).schema
    # inference adds _corrupt_record when it meets malformed lines;
    # that's reader bookkeeping, not a FHIR element
    inferred = T.StructType(
        [f for f in inferred.fields if f.name != "_corrupt_record"]
    )
    out = _apply_fhir_rules(inferred, rtype=resource_type)
    assert isinstance(out, T.StructType)
    if max_extension_depth is not None:
        out = _truncate_extensions(out, max_extension_depth)
        assert isinstance(out, T.StructType)
    if "resourceType" not in out.fieldNames():
        # required discriminator (README.md:29-41)
        out = T.StructType(list(out.fields) + [T.StructField("resourceType", T.StringType(), True)])
    return out
