"""F3 + F5-F9 — encode: FHIR NDJSON → annotated Parquet-on-FHIR table.

The heavy lifting (repeating elements → LIST, complex/backbone elements
→ groups, choice-type sibling fields, recursive extensions, primitive
``_field`` extensions) is all carried by the derived nested schema: the
spec's shapes (README.md:108-297) are exactly Spark's
StructType/ArrayType composition, so the distributed Jackson parse
materializes them directly — there is no per-construct code path, which
is the point of building on a nested-columnar engine.

Extension recursion (README.md:202-248) is bounded by whatever depth the
derived schema observed (Spark types are non-recursive; SURVEY.md §7) —
matching the examples' depth-2 usage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_on_fhir_spark.fhir.annotations import annotate
from parquet_on_fhir_spark.fhir.schema import derive_schema
from parquet_on_fhir_spark.fhir.validate import check_or_raise


def encode_ndjson(
    spark: SparkSession,
    ndjson_path: str,
    schema: T.StructType | None = None,
    resource_type: str | None = None,
    annotations: bool = True,
    validate: bool = True,
) -> DataFrame:
    """Parse FHIR NDJSON into a (optionally annotated, validated)
    DataFrame with a sparse derived schema.

    Parsing runs distributed on executors (one pass); annotation is a
    fused projection; validation is one aggregate over the invariant
    columns.
    """
    if schema is None:
        schema = derive_schema(spark, ndjson_path, resource_type=resource_type)
    df = spark.read.schema(schema).json(ndjson_path)
    if validate:
        check_or_raise(df, resource_type)
    if annotations:
        df = annotate(df)
    return df


def encode_mixed_ndjson(
    spark: SparkSession,
    ndjson_path: str,
    out_root: str,
    annotations: bool = True,
) -> dict[str, int]:
    """Split a mixed-resource NDJSON stream into one Parquet-on-FHIR
    table per resourceType (the spec's fundamental layout: one table per
    resource definition, README.md:26-35).

    Two passes, both distributed: (1) tag each line with its
    resourceType (cheap get_json_object — no full parse) and write the
    raw lines partitioned by type; (2) per type, derive that type's
    sparse schema and encode its partition. Returns {resourceType: rows}.

    Object-store-safe: the per-type partition list comes from ONE
    distributed ``distinct(resourceType)`` aggregate (bounded by the
    ~150 FHIR resource types), never from local-filesystem globbing —
    the same code path works on file:/, s3a:/ or hdfs:/ roots. Row
    counts are taken from that same aggregate, not per-type count jobs.
    """
    from pyspark.sql import functions as F

    raw = spark.read.text(ndjson_path)
    tagged = raw.select(
        F.get_json_object("value", "$.resourceType").alias("resourceType"), "value"
    ).filter(F.col("resourceType").isNotNull())
    staging = f"{out_root}/_staging"
    tagged.write.mode("overwrite").partitionBy("resourceType").text(staging)

    counts: dict[str, int] = {
        r["resourceType"]: r["n"]
        for r in tagged.groupBy("resourceType").agg(F.count("*").alias("n")).collect()
    }
    for rtype in sorted(counts):
        df = encode_ndjson(
            spark,
            f"{staging}/resourceType={rtype}",
            resource_type=rtype,
            annotations=annotations,
        )
        write_table(df, f"{out_root}/{rtype}")
    return counts


def encode_ndjson_tolerant(
    spark: SparkSession,
    ndjson_path: str,
    schema: T.StructType | None = None,
    resource_type: str | None = None,
    annotations: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Encode with corrupt-line quarantine: returns (good, bad) where
    ``bad`` holds unparseable lines verbatim (PERMISSIVE mode +
    columnNameOfCorruptRecord). At 100 TB a single malformed line must
    not kill the job — it must land in a quarantine table for replay."""
    if schema is None:
        schema = derive_schema(spark, ndjson_path, resource_type=resource_type)
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    # required: the corrupt-record column can't be queried off a bare
    # scan; a lazy checkpoint parses the file once for both outputs
    df = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(ndjson_path)
    ).localCheckpoint(eager=False)
    bad = df.filter(df["_corrupt_record"].isNotNull()).select("_corrupt_record")
    good = df.filter(df["_corrupt_record"].isNull()).drop("_corrupt_record")
    if annotations:
        good = annotate(good)
    return good, bad


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    int96_timestamps: bool = False,
) -> None:
    """Write a Parquet-on-FHIR table: SNAPPY + dictionary encoding +
    min/max statistics, matching the reference examples' footer config
    (SURVEY.md §0 provenance: the spec's own files were written by Spark).

    ``int96_timestamps``: the spec types date-range annotations as int96
    TIMESTAMP(MILLIS) (README.md:329-330); Spark writes TIMESTAMP_MICROS
    by default. Flip on for byte-level spec fidelity.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    if int96_timestamps:
        spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        writer = df.write.mode("overwrite").option("compression", "snappy")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
    finally:
        if int96_timestamps:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)


def _entry_resource_spans(line: str) -> list[str]:
    """Byte-exact ``entry[].resource`` subtrees of one Bundle JSON line.

    A single forward scan tracks string/escape state and bracket depth
    (``{`` and ``[`` both count): an entry's resource value opens at
    depth 4 (bundle → entry array → entry object → value), so a
    ``"resource"`` key seen at depth 3 marks a span whose matching
    close brace is found by the same depth counter. Nested bundles'
    inner ``resource`` keys sit at depth ≥ 7 and are ignored. The
    returned substrings are the ORIGINAL bytes — no parse/re-serialize
    cycle, so lexical number tokens (``72.50``) survive untouched.
    """
    spans: list[str] = []
    i, n = 0, len(line)
    depth = 0
    while i < n:
        c = line[i]
        if c == '"':
            j = i + 1
            while j < n:
                if line[j] == "\\":
                    j += 2
                    continue
                if line[j] == '"':
                    break
                j += 1
            if depth == 3 and line[i : j + 1] == '"resource"':
                k = j + 1
                while k < n and line[k] in " \t:":
                    k += 1
                if k < n and line[k] == "{":
                    d = 0
                    m = k
                    while m < n:
                        ch = line[m]
                        if ch == '"':
                            m += 1
                            while m < n:
                                if line[m] == "\\":
                                    m += 2
                                    continue
                                if line[m] == '"':
                                    break
                                m += 1
                        elif ch in "{[":
                            d += 1
                        elif ch in "}]":
                            d -= 1
                            if d == 0:
                                spans.append(line[k : m + 1])
                                break
                        m += 1
                    i = m + 1
                    continue
            i = j + 1
            continue
        if c in "{[":
            depth += 1
        elif c in "}]":
            depth -= 1
        i += 1
    return spans


def unbundle_ndjson(
    spark: SparkSession,
    bundle_path: str,
    out_root: str,
    annotations: bool = True,
    lexical: bool = True,
) -> dict[str, int]:
    """Split Bundle NDJSON (one Bundle JSON per line — the Synthea /
    transaction-export shape, hl7.org/fhir/R4/bundle.html) into one
    Parquet-on-FHIR table per entry resourceType.

    ``lexical=True`` (default): entry resources are cut out of the
    line as BYTE-EXACT SPANS (:func:`_entry_resource_spans`, a
    mapPartitions string scan) — the bytes that reach the per-type
    encoder are the bytes the bundle carried, so lexical decimal
    fidelity (README.md:343-351) survives unbundling. This is the one
    deliberate Python pass in the ingestion path: it exists because
    every JVM JSON route (``from_json`` with a string-typed subtree,
    ``get_json_object``) re-serializes numbers (72.50 → 72.5),
    which would silently break the format's lossless contract.

    ``lexical=False``: ``from_json`` subtree extraction — all-JVM and
    faster, value-preserving but token-normalizing; use when inputs
    are known to carry already-normalized numbers.

    Either way the exploded resources stage as plain NDJSON and flow
    through the standard mixed-split path (:func:`encode_mixed_ndjson`:
    per-type sparse schema, annotations, validation).
    Returns {resourceType: rows}.
    """
    raw = spark.read.text(bundle_path)
    if lexical:
        def split_lines(lines):
            for line in lines:
                for span in _entry_resource_spans(line.value):
                    yield (span,)

        bundles = raw.filter(
            F.get_json_object("value", "$.resourceType") == "Bundle"
        )
        entries = bundles.rdd.mapPartitions(split_lines).toDF(["value"])
    else:
        entries = (
            raw.select(
                F.from_json(
                    "value",
                    "resourceType string, entry array<struct<resource:string>>",
                ).alias("b")
            )
            .filter(F.col("b.resourceType") == "Bundle")
            .select(F.explode("b.entry").alias("e"))
            .select(F.col("e.resource").alias("value"))
            .filter(F.col("value").isNotNull())
        )
    staged = f"{out_root}/_unbundled"
    entries.write.mode("overwrite").text(staged)
    return encode_mixed_ndjson(spark, staged, out_root, annotations=annotations)
