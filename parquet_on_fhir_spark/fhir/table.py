"""Typed query API over Parquet-on-FHIR tables (SURVEY.md §3 Path B):
helpers that compile to Column expressions — never bypassing Catalyst.

    pt = FhirTable.read(spark, "/data/Patient")          # or .from_df(df)
    pt.where_date("birthDate", "ge", "1960")             # annotation rewrite
      .flatten("name")                                    # explode nested list
      .df.select("id", "name.family")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_on_fhir_spark.api import footer_schema
from parquet_on_fhir_spark.fhir.annotations import annotate
from parquet_on_fhir_spark.plans.rewrite import (
    date_predicate,
    decimal_predicate,
    quantity_predicate,
)


class FhirTable:
    """A resource table plus the spec's query affordances."""

    def __init__(self, df: DataFrame):
        self.df = df

    # --- construction -------------------------------------------------
    @classmethod
    def read(cls, spark: SparkSession, path: str, merge_schema: bool = True) -> "FhirTable":
        """Open a table with the schema its part files' footers carry
        (no Spark job). Part files written with different schemas, say
        by appends across a schema change, go through Spark's
        ``mergeSchema`` inference instead."""
        found = footer_schema(path)
        if found is not None:
            return cls(spark.read.schema(found[0]).parquet(path))
        reader = spark.read.option("mergeSchema", str(merge_schema).lower())
        return cls(reader.parquet(path))

    @classmethod
    def from_df(cls, df: DataFrame) -> "FhirTable":
        return cls(df)

    def ensure_annotations(self) -> "FhirTable":
        return FhirTable(annotate(self.df))

    # --- annotation-aware predicates (SURVEY.md §4.1) ------------------
    def where_date(self, element: str, op: str, value: str) -> "FhirTable":
        t = self if f"__{element}_start" in self.df.columns else self.ensure_annotations()
        return FhirTable(t.df.filter(date_predicate(element, op, value)))

    def where_decimal(self, element: str, op: str, value) -> "FhirTable":
        t = self if f"__{element}_numeric" in self.df.columns else self.ensure_annotations()
        return FhirTable(t.df.filter(decimal_predicate(element, op, value)))

    def where_quantity(self, element: str, op: str, value: float, unit: str) -> "FhirTable":
        t = (
            self
            if f"__{element}_canonical" in self.df.columns
            else self.ensure_annotations()
        )
        return FhirTable(t.df.filter(quantity_predicate(element, op, value, unit)))

    # --- FHIR search-parameter predicates (hl7.org/fhir/R4/search.html) ----
    def _dtype(self, element: str):
        try:
            return self.df.schema[element].dataType
        except KeyError:
            return None

    def where_token(self, element: str, system: str | None, code: str) -> "FhirTable":
        """Token search over Identifier[] / CodeableConcept / Coding /
        code-leaf shapes: ``identifier=<system>|<value>``,
        ``maritalStatus=<system>|<code>``. ``system`` None/'' matches any
        system. Compiles to ``exists()`` HOFs over the nested arrays —
        one scan, no Python."""
        from pyspark.sql import types as T

        def coding_match(c):
            m = c.getField("code") == code
            if system:
                m = m & (c.getField("system") == system)
            return m

        def identifier_match(i):
            m = i.getField("value") == code
            if system:
                m = m & (i.getField("system") == system)
            return m

        dtype = self._dtype(element)
        col = F.col(element)
        if isinstance(dtype, T.ArrayType):
            elem = dtype.elementType
            names = set(elem.fieldNames()) if isinstance(elem, T.StructType) else set()
            if "coding" in names:  # CodeableConcept[]
                pred = F.exists(
                    col, lambda cc: F.exists(cc.getField("coding"), coding_match)
                )
            elif "value" in names:  # Identifier[]
                pred = F.exists(col, identifier_match)
            else:  # Coding[]
                pred = F.exists(col, coding_match)
        elif isinstance(dtype, T.StructType):
            names = set(dtype.fieldNames())
            if "coding" in names:  # CodeableConcept
                pred = F.exists(col.getField("coding"), coding_match)
            elif "value" in names and "code" not in names:  # Identifier
                pred = identifier_match(col)
            else:  # Coding / Quantity-ish
                pred = coding_match(col)
        else:  # bare code leaf
            pred = col == code
            if system:  # no system to compare on a leaf — no match
                pred = F.lit(False)
        return FhirTable(self.df.filter(pred))

    def where_reference(self, element: str, target: str) -> "FhirTable":
        """Reference search: ``subject=Patient/123`` (absolute form) or a
        bare id (matches any type). Matches ``<element>.reference``; for
        array-of-Reference elements (``basedOn``, ``performer``) matches
        any entry via ``exists()``."""
        from pyspark.sql import types as T

        def match(ref):
            if "/" in target:
                return ref == target
            return (ref == target) | ref.endswith(f"/{target}")

        dtype = self._dtype(element)
        if isinstance(dtype, T.ArrayType):
            pred = F.exists(
                F.col(element), lambda r: match(r.getField("reference"))
            )
        else:
            pred = match(F.col(f"{element}.reference"))
        return FhirTable(self.df.filter(pred))

    def where_string(self, element: str, value: str, exact: bool = False) -> "FhirTable":
        """FHIR string search: case-insensitive starts-with (the spec's
        default), ``exact=True`` for byte equality. For HumanName[] /
        Address[] shapes, searches the spec's standard parts."""
        from pyspark.sql import types as T

        def starts(c):
            return F.lower(c).startswith(value.lower())

        def match_leaf(c):
            return c == value if exact else starts(c)

        dtype = self._dtype(element)
        col = F.col(element)
        if isinstance(dtype, T.ArrayType) and isinstance(
            dtype.elementType, T.StructType
        ):
            names = set(dtype.elementType.fieldNames())
            parts = [
                n for n in ("family", "given", "prefix", "suffix", "text",
                            "line", "city", "state", "postalCode", "country")
                if n in names
            ]

            if not parts:
                # No searchable string parts (e.g. Identifier[]): the spec's
                # string search matches nothing rather than erroring.
                return FhirTable(self.df.filter(F.lit(False)))

            def any_part(s):
                preds = []
                for p in parts:
                    child = s.getField(p)
                    if isinstance(
                        dtype.elementType[p].dataType, T.ArrayType
                    ):
                        preds.append(F.exists(child, match_leaf))
                    else:
                        preds.append(
                            F.coalesce(match_leaf(child), F.lit(False))
                        )
                out = preds[0]
                for p in preds[1:]:
                    out = out | p
                return out

            pred = F.exists(col, any_part)
        else:
            pred = match_leaf(col)
        return FhirTable(self.df.filter(pred))

    def missing(self, element: str, is_missing: bool = True) -> "FhirTable":
        col = F.col(element)
        return FhirTable(
            self.df.filter(col.isNull() if is_missing else col.isNotNull())
        )

    # --- FHIR-search-style string front-end ------------------------------
    def search(self, params: str) -> "FhirTable":
        """Filter with FHIR-search-flavored syntax, e.g.
        ``"birthDate=ge1960&gender=male&valueQuantity=gt37.5|Cel"``,
        ``"identifier=http://sys|0042&name=benne&_sort=birthDate&_count=5"``.

        Per parameter: ``<element>[:modifier]=[prefix]<value>[|unit]``
        with FHIR prefixes (eq/ne/gt/lt/ge/le; bare value = eq) and
        modifiers ``:exact`` (string equality) / ``:missing``.
        Comma-separated values OR together (FHIR multi-value). Routing:
        ``a|b`` with non-numeric value → token search (any element shape);
        with numeric value → quantity; date-shaped value on a date-kinded
        element → date predicate; numeric value on a decimal-kinded
        element → decimal; numeric value on a numeric leaf → comparison;
        bare value on a token-shaped element (Identifier[]/CodeableConcept/
        Coding) → token; string-search shapes (HumanName/Address arrays) →
        starts-with; otherwise equality. ``_sort=[-]el1,el2`` and
        ``_count=N`` apply ordering/limit. Compiles entirely to Column
        expressions / HOFs — Catalyst sees one filtered scan.
        """
        import re

        from pyspark.sql import types as T

        from parquet_on_fhir_spark.fhir.types import (
            DATE_TYPES,
            DECIMAL_TYPES,
            fhir_type_of,
        )

        _NUM_RE = re.compile(r"^-?\d+(\.\d+)?$")
        _TOKEN_FIELDS = {"coding", "code", "value"}

        out = self
        sort_spec: str | None = None
        count_n: int | None = None
        for clause in params.split("&"):
            if not clause.strip():
                continue
            key, _, raw = clause.partition("=")
            key = key.strip()
            if key == "_sort":
                sort_spec = raw
                continue
            if key == "_count":
                count_n = int(raw)
                continue
            element, _, modifier = key.partition(":")
            if modifier == "missing":
                out = out.missing(element, raw.strip().lower() == "true")
                continue

            alts: list["FhirTable"] = []
            frames = []
            for value_raw in raw.split(","):
                m = re.match(r"^(eq|ne|gt|lt|ge|le)", value_raw)
                op = m.group(1) if m else "eq"
                value = value_raw[len(op):] if m else value_raw
                value, has_pipe, unit = value.partition("|")
                dtype = out._dtype(element)
                # Element-kind gates: the value's *shape* alone must never
                # pick an annotation-backed route (identifier=0042 is a
                # token, not a date or decimal).
                date_kinded = (
                    fhir_type_of(element) in DATE_TYPES
                    or f"__{element}_start" in out.df.columns
                )
                decimal_kinded = (
                    fhir_type_of(element) in DECIMAL_TYPES
                    or f"__{element}_numeric" in out.df.columns
                )
                struct_names: set[str] = set()
                if isinstance(dtype, T.ArrayType) and isinstance(
                    dtype.elementType, T.StructType
                ):
                    struct_names = set(dtype.elementType.fieldNames())
                elif isinstance(dtype, T.StructType):
                    struct_names = set(dtype.fieldNames())
                token_shaped = bool(struct_names & _TOKEN_FIELDS)
                if has_pipe and not _NUM_RE.match(value):
                    # system|code token syntax — works on struct shapes AND
                    # bare code leaves (gender=http://...|male).
                    frames.append(
                        out.where_token(element, value or None, unit).df
                    )
                elif has_pipe:
                    frames.append(
                        out.where_quantity(element, op, float(value), unit).df
                    )
                elif re.match(r"^[A-Z][A-Za-z]+/\S+$", value):
                    frames.append(out.where_reference(element, value).df)
                elif date_kinded and re.match(
                    r"^\d{4}(-\d{2}(-\d{2})?)?([T ].*)?$", value
                ):
                    frames.append(out.where_date(element, op, value).df)
                elif decimal_kinded and _NUM_RE.match(value):
                    frames.append(out.where_decimal(element, op, value).df)
                elif _NUM_RE.match(value) and isinstance(dtype, T.NumericType):
                    col = F.col(element)
                    cmp = {
                        "eq": col == float(value), "ne": col != float(value),
                        "gt": col > float(value), "lt": col < float(value),
                        "ge": col >= float(value), "le": col <= float(value),
                    }[op]
                    frames.append(out.df.filter(cmp))
                elif token_shaped:
                    # Identifier[]/CodeableConcept/Coding with a bare value
                    # (identifier=0042): token search, any system.
                    frames.append(out.where_token(element, None, value).df)
                elif isinstance(dtype, T.ArrayType) or modifier == "exact":
                    frames.append(
                        out.where_string(element, value, exact=modifier == "exact").df
                    )
                else:
                    col = F.col(element)
                    frames.append(
                        out.df.filter(col != value if op == "ne" else col == value)
                    )
            merged = frames[0]
            for fdf in frames[1:]:
                merged = merged.unionByName(fdf).dropDuplicates(
                    ["id"] if "id" in merged.columns else None
                )
            out = FhirTable(merged)
        if sort_spec:
            cols = []
            for s in sort_spec.split(","):
                s = s.strip()
                cols.append(F.col(s[1:]).desc() if s.startswith("-") else F.col(s).asc())
            out = FhirTable(out.df.orderBy(*cols))
        if count_n is not None:
            out = FhirTable(out.df.limit(count_n))
        return out

    # --- nested navigation ---------------------------------------------
    def flatten(self, path: str, keep: str = "inner") -> "FhirTable":
        """Explode a repeating element; the exploded struct keeps the
        element's name so nested field references read naturally
        (``flatten('name') → col('name.family')``)."""
        explode = F.explode_outer if keep == "outer" else F.explode
        other = [c for c in self.df.columns if c != path]
        return FhirTable(self.df.select(*other, explode(path).alias(path)))

    def count(self) -> int:
        return self.df.count()
