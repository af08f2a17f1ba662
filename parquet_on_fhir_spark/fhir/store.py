"""Multi-resource search: chained parameters, ``_include`` /
``_revinclude`` (hl7.org/fhir/R4/search.html#chaining, #include).

A :class:`FhirStore` is a set of resource tables (one Parquet-on-FHIR
table per resourceType — the format's fundamental layout). On top of the
single-table :class:`~parquet_on_fhir_spark.fhir.table.FhirTable`
predicates it adds the search features that need a SECOND table:

- chained parameter ``subject:Patient.name=benne`` — filter the target
  type with the tail parameter, then LEFT SEMI join the source on the
  reference key. The filtered target is usually tiny, so Spark's AQE
  broadcasts it — the 100 TB source table is never shuffled; with an
  explicit ``broadcast_chain=True`` the hint is forced.
- ``_include=Source:refElement[:TargetType]`` — resources referenced BY
  the matches (keys from the match set: a broadcast-size semi join).
- ``_revinclude=Other:refElement`` — resources REFERENCING the matches
  (semi join of the other table against match keys).
- ``_has:Other:refElement:param=value`` — reverse chaining: keep primary
  rows referenced by an Other row matching the tail parameter (filter
  the referencing table, then LEFT SEMI the primary on its own id).

Reference keys are the relative ``Type/id`` form (the format the
examples and Bulk Export produce); local ``#id`` references resolve
within-row via fhir/contained.py instead — they never reach a join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_on_fhir_spark.fhir.table import FhirTable


def _ref_id(col: Column, target_type: str) -> Column:
    """'<target_type>/<id>' → id (NULL for other shapes)."""
    parts = F.split(col, "/")
    return F.when(
        (F.size(parts) == 2) & (parts.getItem(0) == target_type),
        parts.getItem(1),
    )


def _ref_ids(df: DataFrame, element: str, target_type: str) -> DataFrame:
    """DISTINCT referenced ids for ``element`` (scalar Reference or
    array-of-Reference), as a 1-column frame named ``__ref_id``."""
    dtype = df.schema[element].dataType
    if isinstance(dtype, T.ArrayType):
        ref = F.explode(F.col(f"{element}.reference")).alias("__r")
        base = df.select(ref)
        ids = base.select(_ref_id(F.col("__r"), target_type).alias("__ref_id"))
    else:
        ids = df.select(
            _ref_id(F.col(f"{element}.reference"), target_type).alias("__ref_id")
        )
    return ids.filter(F.col("__ref_id").isNotNull()).distinct()


#: Patient-compartment membership elements per resource type — the
#: subset of hl7.org/fhir/R4/compartmentdefinition-patient.html covering
#: the resource types this repo's fixtures and the reference's examples
#: (`/root/reference/examples/`) exercise. Elements are tried in order;
#: only those present in the table's schema participate.
PATIENT_COMPARTMENT: dict[str, list[str]] = {
    "Observation": ["subject", "performer"],
    "Condition": ["subject", "asserter"],
    "Encounter": ["subject"],
    "Procedure": ["subject", "performer"],
    "MedicationRequest": ["subject", "performer"],
    "Immunization": ["patient"],
    "AllergyIntolerance": ["patient", "recorder", "asserter"],
    "DiagnosticReport": ["subject"],
    "CarePlan": ["subject"],
    "Claim": ["patient"],
    "ExplanationOfBenefit": ["patient"],
}


class FhirStore:
    """resourceType → FhirTable registry with multi-table search."""

    def __init__(self, tables: dict[str, FhirTable]):
        self.tables = dict(tables)

    @classmethod
    def read(cls, spark: SparkSession, root: str, types: list[str]) -> "FhirStore":
        """Open ``<root>/<Type>`` for each type (the layout
        ``encode_mixed_ndjson`` writes)."""
        return cls(
            {t: FhirTable.read(spark, f"{root}/{t}") for t in types}
        )

    def __getitem__(self, rtype: str) -> FhirTable:
        return self.tables[rtype]

    # -- chained parameters ------------------------------------------------
    def where_chained(
        self,
        rtype: str,
        ref_element: str,
        target_type: str,
        target_params: str,
        broadcast_chain: bool = False,
    ) -> FhirTable:
        """``<ref_element>:<target_type>.<tail>=...`` — keep ``rtype``
        rows whose reference points at a target matching
        ``target_params`` (any single-table search string).

        Plan: target filtered scan → (optionally broadcast) LEFT SEMI
        join on the parsed reference key. The source table is filtered
        in place — no row of it is duplicated or shuffled beyond the
        semi join itself.
        """
        src = self.tables[rtype].df
        matched = self.tables[target_type].search(target_params).df.select(
            F.col("id").alias("__target_id")
        )
        if broadcast_chain:
            matched = F.broadcast(matched)
        dtype = src.schema[ref_element].dataType
        if isinstance(dtype, T.ArrayType):
            key = F.explode(F.col(f"{ref_element}.reference"))
            exploded = src.withColumn("__r", key).withColumn(
                "__ref_id", _ref_id(F.col("__r"), target_type)
            )
            hit_ids = (
                exploded.join(
                    matched,
                    exploded["__ref_id"] == matched["__target_id"],
                    "left_semi",
                )
                .select("id")
                .distinct()
            )
            out = src.join(F.broadcast(hit_ids), "id", "left_semi")
        else:
            keyed = src.withColumn(
                "__ref_id", _ref_id(F.col(f"{ref_element}.reference"), target_type)
            )
            out = keyed.join(
                matched, keyed["__ref_id"] == matched["__target_id"], "left_semi"
            ).drop("__ref_id")
        return FhirTable(out)

    # -- _include / _revinclude -------------------------------------------
    def search(
        self, rtype: str, params: str
    ) -> dict[str, DataFrame]:
        """Full search: single-table parameters and chained parameters
        filter the primary type; ``_include`` / ``_revinclude`` add
        secondary result frames.

        Returns ``{"<rtype>": matches, "<IncludedType>": frame, ...}`` —
        multiple result frames is the natural Spark shape for a FHIR
        search bundle (one DataFrame per resourceType).

        An ``_include`` without a target type returns a frame for EVERY
        other table in the store: the resources of that type the matches
        reference, an empty frame when they reference none. Every frame
        is lazy, so ``search`` itself starts no Spark job.
        """
        plain: list[str] = []
        chained: list[tuple[str, str, str]] = []
        has_clauses: list[tuple[str, str, str]] = []
        includes: list[tuple[str, str, str | None]] = []
        revincludes: list[tuple[str, str]] = []
        for clause in params.split("&"):
            if not clause.strip():
                continue
            key, _, raw = clause.partition("=")
            key = key.strip()
            if key.startswith("_has:"):
                # reverse chaining (hl7.org/fhir/R4/search.html#has):
                # _has:Other:refElement:param=value keeps primary rows
                # that some Other row matching param=value points at.
                parts = key.split(":", 3)
                if len(parts) != 4:
                    raise ValueError(f"malformed _has key {key!r}")
                _, other, el, tail = parts
                has_clauses.append((other, el, f"{tail}={raw}"))
            elif key == "_include":
                src, _, rest = raw.partition(":")
                el, _, tgt = rest.partition(":")
                if src != rtype:
                    raise ValueError(f"_include source {src!r} != searched type")
                includes.append((src, el, tgt or None))
            elif key == "_revinclude":
                other, _, el = raw.partition(":")
                revincludes.append((other, el))
            elif ":" in key and "." in key.partition(":")[2]:
                el, _, rest = key.partition(":")
                tgt, _, tail = rest.partition(".")
                chained.append((el, tgt, f"{tail}={raw}"))
            else:
                plain.append(clause)

        table = self.tables[rtype]
        if plain:
            table = table.search("&".join(plain))
        result = FhirStore({**self.tables, rtype: table})
        for el, tgt, tail in chained:
            result.tables[rtype] = result.where_chained(rtype, el, tgt, tail)
        for other, el, tail in has_clauses:
            # filter the referencing table first (usually tiny after its
            # parameter), parse its reference keys, LEFT SEMI the primary
            # on id — the primary table is never duplicated or exploded.
            matched_other = self.tables[other].search(tail).df
            ids = _ref_ids(matched_other, el, rtype)
            result.tables[rtype] = FhirTable(
                result.tables[rtype].df.join(
                    F.broadcast(ids),
                    F.col("id") == F.col("__ref_id"),
                    "left_semi",
                )
            )
        primary = result.tables[rtype].df
        out: dict[str, DataFrame] = {rtype: primary}

        for _, el, tgt in includes:
            dtype = primary.schema[el].dataType
            inner = dtype.elementType if isinstance(dtype, T.ArrayType) else dtype
            if not isinstance(inner, T.StructType) or "reference" not in inner.fieldNames():
                raise ValueError(f"_include element {el!r} is not a Reference")
            targets = [tgt] if tgt else list(self.tables)
            for t in targets:
                if t not in self.tables or t == rtype:
                    continue
                ids = _ref_ids(primary, el, t)
                out[t] = self.tables[t].df.join(
                    F.broadcast(ids),
                    F.col("id") == F.col("__ref_id"),
                    "left_semi",
                )

        for other, el in revincludes:
            ids = primary.select(F.col("id").alias("__m_id")).distinct()
            odf = self.tables[other].df
            dtype = odf.schema[el].dataType
            ref = (
                F.explode(F.col(f"{el}.reference"))
                if isinstance(dtype, T.ArrayType)
                else F.col(f"{el}.reference")
            )
            keyed = odf.withColumn("__ref_id", _ref_id(ref, rtype))
            out[other] = keyed.join(
                F.broadcast(ids),
                keyed["__ref_id"] == ids["__m_id"],
                "left_semi",
            ).drop("__ref_id")
        return out

    # -- patient compartment ($everything) ---------------------------------
    def everything(
        self,
        patient_ids: list[str] | None = None,
        patient_type: str = "Patient",
        compartment: dict[str, list[str]] | None = None,
    ) -> dict[str, DataFrame]:
        """Patient compartment extraction — the Patient ``$everything``
        operation (hl7.org/fhir/R4/operation-patient-everything.html):
        every resource in the store that belongs to the selected
        patients' compartments, keyed by the membership elements in
        :data:`PATIENT_COMPARTMENT`.

        Returns ``{type: DataFrame}``; every member frame carries an
        added ``patient_id`` column (the owning patient) so callers can
        re-group per patient — the natural Spark shape for a bulk
        $everything over millions of patients at once, which is the
        100 TB use (cohort extraction), not the single-patient REST
        call. The patient frame itself gets ``patient_id = id``.

        Plan shape: the patient id set is one narrow DISTINCT
        (broadcast when filtered, which is the common cohort case);
        each member table is scanned once, keyed map-side by parsing
        its first schema-present membership element, and inner-joined
        against the broadcast id set — no member table is ever
        shuffled. Scalar Reference elements only: the compartment
        definition's list elements (e.g. CareTeam.participant) would
        add an explode before the join; none of the transcribed
        fixture types need it.
        """
        comp = compartment if compartment is not None else PATIENT_COMPARTMENT
        pat = self.tables[patient_type].df
        if patient_ids is not None:
            pat = pat.filter(F.col("id").isin(list(patient_ids)))
        ids = pat.select(F.col("id").alias("__pid")).distinct()
        out: dict[str, DataFrame] = {
            patient_type: pat.withColumn("patient_id", F.col("id"))
        }
        for rtype, elements in comp.items():
            if rtype == patient_type or rtype not in self.tables:
                continue
            df = self.tables[rtype].df
            keys = []
            for el in elements:
                if el not in df.columns:
                    continue
                dtype = df.schema[el].dataType
                if not isinstance(dtype, T.StructType):
                    continue  # list elements: out of fixture scope
                if "reference" not in dtype.fieldNames():
                    continue
                keys.append(_ref_id(F.col(f"{el}.reference"), patient_type))
            if not keys:
                continue
            keyed = df.withColumn("patient_id", F.coalesce(*keys))
            # Broadcast only the filtered-cohort case; an unfiltered
            # call carries the FULL patient registry — millions of ids
            # at bulk scale — so let AQE pick the join strategy there.
            id_side = F.broadcast(ids) if patient_ids is not None else ids
            out[rtype] = keyed.join(
                id_side,
                keyed["patient_id"] == ids["__pid"],
                "inner",
            ).drop("__pid")
        return out


def match_patients(
    patients: DataFrame,
    candidates: DataFrame,
    block_cols: list[str] | None = None,
    family_col: str = "family",
    max_distance: int = 3,
) -> DataFrame:
    """Probabilistic patient linkage (the $match operation's batch
    form): block on exact demographics, score within blocks by
    case-folded Levenshtein on the family name, keep each candidate's
    best match (distance, then id — deterministic under ties).

    ``candidates`` carries (cand_id, *block_cols, <family_col>);
    ``patients`` is a registry frame with (id, *block_cols,
    <family_col>). Blocking is the scale story: the quadratic
    name-comparison only runs INSIDE (gender, birthDate) blocks —
    national-registry-sized inputs stay tractable because block sizes
    are bounded; the blocking join itself is a plain equi-shuffle.
    For fuzzier blocking (typos in the block key itself) compose with
    operators/joins.py::fuzzy_join on a phonetic key instead.

    Output: (cand_id, matched_id, distance) — one row per candidate
    with at least one block-mate within ``max_distance``.
    """
    from pyspark.sql import Window

    blocks = block_cols or ["gender", "birthDate"]
    reg = patients.select(
        F.col("id").alias("matched_id"),
        *[F.col(c).alias(f"__b_{c}") for c in blocks],
        F.lower(F.col(family_col)).alias("__reg_name"),
    )
    cand = candidates.select(
        "cand_id",
        *[F.col(c).alias(f"__b_{c}") for c in blocks],
        F.lower(F.col(family_col)).alias("__cand_name"),
    )
    scored = (
        cand.join(reg, [f"__b_{c}" for c in blocks])
        .withColumn(
            "distance", F.levenshtein(F.col("__cand_name"), F.col("__reg_name"))
        )
        .filter(F.col("distance") <= max_distance)
    )
    w = Window.partitionBy("cand_id").orderBy("distance", "matched_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("cand_id", "matched_id", "distance")
    )
