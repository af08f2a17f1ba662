"""Terminology operations over Parquet-on-FHIR ValueSet / CodeSystem /
ConceptMap tables — the joins clinical analytics runs constantly
("all codes in this value set", "translate local codes to standard").

Everything is DataFrame composition: ValueSets and CodeSystems are
ordinary encoded resource tables (fhir/encode.py), expansion is
explode + union + anti-join, translation is explode + equi-join.
At scale the terminology side is small and broadcasts; the clinical
fact table is never shuffled by these helpers.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_on_fhir_spark.operators.graph import fixpoint
from parquet_on_fhir_spark.session import local_rows_df


@contextmanager
def _metadata_execution(spark):
    """Run terminology-METADATA materializations with AQE off: adaptive
    execution turns every shuffle stage of every tiny collect/count/
    checkpoint into its own re-optimized job (measured: one
    single-ValueSet ECL expansion = 23 jobs ≈ 5 s of pure per-job
    overhead on local[32]), which is the right trade for fact-scale
    queries and the wrong one for K-row terminology plans. Scoped +
    restored in ``finally``; fact-side operations (validate_codes
    joins, $expand consumers) run OUTSIDE this guard and keep AQE."""
    wanted = {
        "spark.sql.adaptive.enabled": "false",
        # K-row shuffles (distinct/union-distinct over concept sets)
        # need one reducer, not spark.sql.shuffle.partitions micro-tasks
        "spark.sql.shuffle.partitions": "1",
        # whole-stage codegen compiles+JITs a class per stage — a cost
        # that amortizes over millions of rows and never over dozens;
        # interpreted execution is strictly faster here (measured ~5 s
        # of qf41's wall)
        "spark.sql.codegen.wholeStage": "false",
    }
    old: dict[str, str | None] = {}
    for key, val in wanted.items():
        try:
            old[key] = spark.conf.get(key)
        except Exception:  # pragma: no cover - conf not readable
            old[key] = None
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, val in old.items():
            if val is not None:
                spark.conf.set(key, val)


def _localize(df: DataFrame) -> DataFrame:
    """Materialize a TERMINOLOGY-SIZED frame to the driver and rebuild
    it as a local relation: one job now, zero jobs per downstream
    reuse — vs ``localCheckpoint(eager=True)``, which costs a
    full-task-count job up front AND leaves a scan that re-reads block
    manager partitions in every consumer plan. Local rows also fold
    straight into broadcast joins (no exchange). ONLY for metadata
    frames (ValueSet expansions, concept sets, closures of fixture
    systems) — never fact rows; callers own that invariant (the same
    contract as the ValueSet-metadata collects the plan police
    allows). JVM-side single-partition checkpoint: reuses are one
    block-manager read per consumer job — NOT a driver collect +
    re-parallelize, whose Python-RDD backing would drag a Python
    worker round-trip into every downstream job (measured 20-30%
    SLOWER on qf41 than this). LAZY since r15: materialization
    piggybacks on the first consumer job (for expansion inputs that is
    the compose-metadata collect that immediately follows) instead of
    paying a standalone job + py4j sync per localize — reuses still
    read the cached single partition."""
    return df.coalesce(1).localCheckpoint(eager=False)


def _element_fields(df: DataFrame, *path: str) -> set[str]:
    """Field names of the struct at a dotted path (arrays unwrapped);
    empty set when the path itself is absent — Parquet-on-FHIR schemas
    are SPARSE (README.md:15-18), so every optional element may simply
    not exist as a column."""
    dt: T.DataType = df.schema
    for name in path:
        if not isinstance(dt, T.StructType) or name not in dt.fieldNames():
            return set()
        dt = dt[name].dataType
        while isinstance(dt, T.ArrayType):
            dt = dt.elementType
    return set(dt.fieldNames()) if isinstance(dt, T.StructType) else set()


def _plan_memo(df: DataFrame, key: str, build):
    """Per-INPUT-object plan memo (r15 optimization): derived metadata
    plans (_all_concepts, _concept_properties) are rebuilt 3-4 times
    per ValueSet expansion over the SAME localized CodeSystem frame —
    each rebuild is a statically-unrolled select/union chain whose
    py4j construction cost dominates at metadata scale. The memo hangs
    off the input DataFrame object, so it is plan-graph reuse within
    one operator invocation and dies with the object — NOT a result
    cache: every invocation re-derives from its own inputs."""
    cache = getattr(df, "_pofs_plan_memo", None)
    if not isinstance(cache, dict):
        # r15 ADVICE: DataFrame.__getattr__ resolves unknown attributes
        # as COLUMNS, so a frame carrying a column literally named
        # _pofs_plan_memo would hand back a Column here — degrade to a
        # cache miss (rebuild per call), never a crash.
        cache = {}
        try:
            object.__setattr__(df, "_pofs_plan_memo", cache)
        except Exception:  # pragma: no cover - exotic DataFrame proxies
            return build()
    if key not in cache:
        cache[key] = build()
    return cache[key]


def _all_concepts(codesystems: DataFrame) -> DataFrame:
    """(system, code, display) at EVERY ``concept`` nesting depth of the
    encoded CodeSystem table — R4 represents is-a hierarchy as nested
    ``concept[].concept[]`` (hl7.org/fhir/R4/codesystem.html), so a
    whole-system include must collect the nested levels too. The walk
    is unrolled statically over the encoded schema's finite depth
    (sparse schemas nest exactly as deep as the data does). The built
    plan is memoized per input frame (:func:`_plan_memo`)."""
    return _plan_memo(codesystems, "all_concepts", lambda: _all_concepts_build(codesystems))


def _all_concepts_build(codesystems: DataFrame) -> DataFrame:
    def pick(cur):
        # sparse schemas are PER-LEVEL (r11): a fixture whose nested
        # concepts carry no display encodes the field only at the
        # depths that populate it, so the presence check must follow
        # the walk instead of reading depth 1 once
        dt = cur.schema["c"].dataType
        if isinstance(dt, T.StructType) and "display" in dt.fieldNames():
            return F.col("c.display")
        return F.lit(None).cast("string")

    cur = codesystems.select(
        F.col("url").alias("system"), F.explode("concept").alias("c")
    )
    out = cur.select(
        "system", F.col("c.code").alias("code"), pick(cur).alias("display")
    )
    while isinstance(
        cur.schema["c"].dataType, T.StructType
    ) and "concept" in cur.schema["c"].dataType.fieldNames():
        cur = cur.select(
            "system",
            F.explode(F.coalesce(F.col("c.concept"), F.array())).alias("c"),
        )
        out = out.unionByName(
            cur.select(
                "system",
                F.col("c.code").alias("code"),
                pick(cur).alias("display"),
            )
        )
    return out


def concept_designations(codesystems: DataFrame) -> DataFrame:
    """(system, code, language, value) from ``concept.designation`` at
    EVERY nesting depth (hl7.org/fhir/R4/codesystem.html — designation
    carries per-language display terms). Same statically-unrolled walk
    as :func:`_all_concepts`; per-level sparse-schema presence checks
    because a fixture whose nested concepts carry no designations
    encodes the field only at populated depths. Map-side explodes
    only, no shuffle; empty frame when no depth has designations."""

    def level(cur):
        dt = cur.schema["c"].dataType
        if not (
            isinstance(dt, T.StructType)
            and "designation" in dt.fieldNames()
        ):
            return None
        d = cur.select(
            "system",
            F.col("c.code").alias("code"),
            F.explode(
                F.coalesce(F.col("c.designation"), F.array())
            ).alias("d"),
        )
        ddt = d.schema["d"].dataType
        lang = (
            F.col("d.language")
            if isinstance(ddt, T.StructType)
            and "language" in ddt.fieldNames()
            else F.lit(None).cast("string")
        )
        val = (
            F.col("d.value")
            if isinstance(ddt, T.StructType) and "value" in ddt.fieldNames()
            else F.lit(None).cast("string")
        )
        return d.select(
            "system", "code", lang.alias("language"), val.alias("value")
        )

    cur = codesystems.select(
        F.col("url").alias("system"), F.explode("concept").alias("c")
    )
    out = level(cur)
    while isinstance(
        cur.schema["c"].dataType, T.StructType
    ) and "concept" in cur.schema["c"].dataType.fieldNames():
        cur = cur.select(
            "system",
            F.explode(F.coalesce(F.col("c.concept"), F.array())).alias("c"),
        )
        lvl = level(cur)
        if lvl is not None:
            out = lvl if out is None else out.unionByName(lvl)
    if out is None:
        return local_rows_df(
            codesystems.sparkSession,
            [],
            "system string, code string, language string, value string",
        )
    return out


def concept_edges(codesystems: DataFrame) -> DataFrame:
    """(system, parent, child) direct is-a edges from CodeSystem
    ``concept`` nesting, statically unrolled over the schema depth —
    map-side explodes only, no shuffle."""
    cur = codesystems.select(
        F.col("url").alias("system"), F.explode("concept").alias("c")
    )
    edges = None
    while isinstance(
        cur.schema["c"].dataType, T.StructType
    ) and "concept" in cur.schema["c"].dataType.fieldNames():
        nxt = cur.select(
            "system",
            F.col("c.code").alias("parent"),
            F.explode(F.coalesce(F.col("c.concept"), F.array())).alias("c"),
        )
        lvl = nxt.select("system", "parent", F.col("c.code").alias("child"))
        edges = lvl if edges is None else edges.unionByName(lvl)
        cur = nxt.select("system", "c")
    if edges is None:
        return local_rows_df(
            codesystems.sparkSession, [], "system string, parent string, child string"
        )
    return edges


def concept_closure(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Transitive closure (system, ancestor, descendant) of is-a edges
    by path doubling (:func:`_path_double`): a depth-d hierarchy closes
    in ceil(log2 d) + 1 rounds (SNOMED-class hierarchies are ~15 deep).
    Non-reflexive (a code is not its own descendant here; ``is-a``
    filters add the anchor code back explicitly). Raises on
    non-convergence rather than silently under-closing.
    """
    return _path_double(
        edges.select(
            "system",
            F.col("parent").alias("ancestor"),
            F.col("child").alias("descendant"),
        ).distinct(),
        max_rounds,
        "concept_closure",
    )


def _path_double(seed: DataFrame, max_rounds: int, name: str) -> DataFrame:
    """Close (system, ancestor, descendant) pairs under composition by
    PATH DOUBLING: each round joins the pairs with themselves and keeps
    the distinct union, so round r covers paths of up to 2^r seed
    pairs. One job per round through operators/graph.py::fixpoint (row
    count as witness), under :func:`_metadata_execution`.

    The result is a checkpoint: every ECL/filter consumer embeds the
    closure, and a lazy doubling plan would be re-analyzed inside every
    consumer job (measured 2-3× qf23/qf41 wall). Consumers pay one map
    task per frozen partition; with one shuffle partition and AQE off,
    each round's distinct yields exactly one (asserted below).
    """
    def double(clo: DataFrame, _rnd: int) -> DataFrame:
        hop = clo.select(
            F.col("system").alias("h_system"),
            F.col("ancestor").alias("h_anc"),
            F.col("descendant").alias("h_desc"),
        )
        return (
            clo.join(
                hop,
                (F.col("system") == F.col("h_system"))
                & (F.col("descendant") == F.col("h_anc")),
            )
            .select("system", "ancestor", F.col("h_desc").alias("descendant"))
            .unionByName(clo)
            .distinct()
        )

    with _metadata_execution(seed.sparkSession):
        # the first round reads the seed three times (both join sides
        # and the union): a lazy checkpoint computes it once inside that
        # round's job — a Python-backed input measured ~3× slower there
        clo, _ = fixpoint(
            seed.localCheckpoint(eager=False), double, [], max_rounds, name
        )
        assert clo.rdd.getNumPartitions() == 1
    return clo


def closure_delta(
    old_closure: DataFrame,
    new_edges: DataFrame,
    max_rounds: int = 20,
) -> DataFrame:
    """Incremental transitive-closure maintenance — the ConceptMap
    ``$closure`` operation pattern (hl7.org/fhir/R4/conceptmap-
    operation-closure.html: a terminology server keeps a registered
    closure table and each new-concept registration returns ONLY the
    new subsumption pairs). Given a transitively-closed
    ``old_closure`` (system, ancestor, descendant) and a batch of NEW
    direct edges (system, parent, child), return the DELTA pairs —
    reachabilities that exist in closure(old ∪ new) but not in
    ``old_closure`` — without re-closing the old graph.

    Algorithm: every new reachability decomposes into old-closed
    segments alternating with new edges, so (1) bridge each new edge
    through the old closure on both sides — S₀ = (C∪I)∘E_new∘(C∪I),
    three broadcast-sized joins when the edge batch is small — then
    (2) path-double S against itself with :func:`_path_double`
    (S-pairs absorb old segments at both ends, so composing S∘S covers
    paths through 2, 4, 8… new edges), the :func:`concept_closure`
    fixpoint with the SAME convergence contract; (3) drop self-pairs
    (the closure is non-reflexive) and pairs already in
    ``old_closure``. Work is bounded by pairs touching new edges, never
    by |old_closure| — the property that makes nightly SNOMED
    increments cheap at scale.

    Output: (system, ancestor, descendant) delta rows;
    ``old_closure.unionByName(delta)`` is the new registered closure.
    """
    e = new_edges.select(
        "system",
        F.col("parent").alias("ancestor"),
        F.col("child").alias("descendant"),
    ).distinct()
    up = old_closure.select(
        F.col("system").alias("u_system"),
        F.col("ancestor").alias("u_anc"),
        F.col("descendant").alias("u_desc"),
    )
    down = old_closure.select(
        F.col("system").alias("d_system"),
        F.col("ancestor").alias("d_anc"),
        F.col("descendant").alias("d_desc"),
    )
    # (C ∪ I) ∘ E_new: extend each new edge upward through old ancestors
    seeded = e.join(
        up,
        (F.col("system") == F.col("u_system"))
        & (F.col("ancestor") == F.col("u_desc")),
        "left",
    ).select(
        "system",
        F.coalesce(F.col("u_anc"), F.col("ancestor")).alias("ancestor"),
        "descendant",
    ).unionByName(e).distinct()
    # ... ∘ (C ∪ I): and downward through old descendants
    seeded = seeded.join(
        down,
        (F.col("system") == F.col("d_system"))
        & (F.col("descendant") == F.col("d_anc")),
        "left",
    ).select(
        "system",
        "ancestor",
        F.coalesce(F.col("d_desc"), F.col("descendant")).alias(
            "descendant"
        ),
    ).unionByName(seeded).distinct()
    return (
        _path_double(seeded, max_rounds, "closure_delta")
        .filter(F.col("ancestor") != F.col("descendant"))
        .join(old_closure, ["system", "ancestor", "descendant"], "left_anti")
    )


def _compose_ref_edges(valuesets: DataFrame) -> dict[str, set[str]]:
    """Driver-side (url → direct canonical references) from
    ``compose.include[].valueSet`` and ``compose.exclude[].valueSet``.
    The ValueSet table is terminology metadata (K rows), so collecting
    the edge LIST is cheap; the expansions themselves stay
    distributed."""
    parts = []
    for elem in ("include", "exclude"):
        if "valueSet" in _element_fields(valuesets, "compose", elem):
            parts.append(
                F.flatten(
                    F.transform(
                        F.coalesce(F.col(f"compose.{elem}"), F.array()),
                        lambda e: F.coalesce(e["valueSet"], F.array()),
                    )
                )
            )
    if not parts:
        return {}
    allrefs = parts[0] if len(parts) == 1 else F.concat(*parts)
    rows = (
        valuesets.select("url", F.explode(allrefs).alias("__ref"))
        .distinct()
        .collect()
    )
    edges: dict[str, set[str]] = {}
    for r in rows:
        edges.setdefault(r["url"], set()).add(r["__ref"])
    return edges


_ECL_MEMBER_REF = re.compile(r"\^\s*([^\s(){}<>:=,^!|]+)")


def _ecl_member_tokens(valuesets: DataFrame) -> dict[str, set[str]]:
    """Driver-side (url → ``^ refset`` tokens) parsed from the ECL
    'constraint' filter strings of ``compose.include/exclude`` (r12):
    feeds the strata scheduler so ^-referenced ValueSets expand FIRST
    and seed the member-of memo. The regex mirrors the ECL lexer's
    token class after |term| stripping; over-matching is harmless
    (an unresolvable token simply adds no edge) and under-matching
    only costs a nested re-expansion. Filter rows are terminology
    metadata — one small collect, same contract as
    :func:`_compose_ref_edges`."""
    parts = []
    for elem in ("include", "exclude"):
        if "filter" in _element_fields(valuesets, "compose", elem):
            parts.append(
                F.flatten(
                    F.transform(
                        F.coalesce(F.col(f"compose.{elem}"), F.array()),
                        lambda e: F.coalesce(e["filter"], F.array()),
                    )
                )
            )
    if not parts:
        return {}
    allf = parts[0] if len(parts) == 1 else F.concat(*parts)
    f = valuesets.select("url", F.explode(allf).alias("f"))
    ffields = {fl.name for fl in f.schema["f"].dataType.fields}
    if "property" not in ffields or "value" not in ffields:
        return {}
    rows = (
        f.filter(F.col("f.property") == "constraint")
        .select("url", F.col("f.value").alias("v"))
        .collect()
    )
    out: dict[str, set[str]] = {}
    for r in rows:
        if not r["v"]:
            continue
        toks = {
            m.group(1)
            for m in _ECL_MEMBER_REF.finditer(_ECL_TERM.sub(" ", r["v"]))
            if m.group(1)[0].isalnum()
        }
        if toks:
            out.setdefault(r["url"], set()).update(toks)
    return out


def _check_ref_cycles(edges: dict[str, set[str]]) -> None:
    """Raise ValueError on any circular ``compose...valueSet`` reference
    chain (iterative DFS; FHIR forbids a value set from including or
    excluding itself transitively — an unguarded cycle would otherwise
    deadlock depth-N resolution)."""
    state: dict[str, int] = {}  # 1 = on stack, 2 = done
    for start in sorted(edges):
        if state.get(start) == 2:
            continue
        state[start] = 1
        path = [start]
        stack = [iter(sorted(edges[start]))]
        while stack:
            nxt = next(stack[-1], None)
            if nxt is None:
                state[path.pop()] = 2
                stack.pop()
                continue
            st = state.get(nxt)
            if st == 1:
                cyc = path[path.index(nxt):] + [nxt]
                raise ValueError(
                    "circular ValueSet reference: " + " -> ".join(cyc)
                )
            if st is None:
                if nxt in edges:
                    state[nxt] = 1
                    path.append(nxt)
                    stack.append(iter(sorted(edges[nxt])))
                else:
                    state[nxt] = 2


def expand_valueset(
    valuesets: DataFrame,
    codesystems: DataFrame | None = None,
    closure: DataFrame | None = None,
    _ecl_stack: frozenset = frozenset(),
    _context: DataFrame | None = None,
    _vs_cache: dict | None = None,
) -> DataFrame:
    """Expand ValueSet.compose into concrete (url, system, code, display)
    membership rows.

    Supported compose features:
    - ``include[].concept[]`` — explicitly listed codes;
    - ``include[].system`` WITHOUT concepts — all codes of that system
      (every nesting depth), resolved against the ``codesystems`` table;
    - ``include[].filter[]`` — hierarchical ops (``is-a`` /
      ``descendent-of`` / ``is-not-a`` / ``generalizes``) against
      ``closure`` (build it with :func:`concept_closure` over
      :func:`concept_edges`), code predicates (``regex`` / ``in`` /
      ``not-in``) against the system's concept universe, and
      concept-property predicates (``=`` / ``regex`` / ``exists``
      true|false) against ``concept.property[]``; filters in one
      include AND together; ``exists`` ON THE CODE itself raises;
    - ``include[].valueSet[]`` — ValueSet-by-reference composition
      (hl7.org/fhir/R4/valueset-definitions.html): an include holding
      ONLY canonical references contributes the INTERSECTION of the
      referenced expansions (k refs → codes in all k), unioned with the
      other includes. References resolve against the SAME ``valuesets``
      table to ANY depth (r11): the reference graph is collected
      driver-side (metadata scale), cycles raise ValueError (FHIR
      forbids them), and the acyclic chains resolve in topological
      strata — each stratum is one table-level expansion whose lineage
      is cut so depth-k chains stay O(k) plans, not O(k²). An include
      mixing ``valueSet`` with system/concept/filter applies the
      spec's conjunction (r11): the system-side selection ∩ every
      referenced expansion. A reference to a url absent from the table
      contributes an empty expansion (so its intersections are empty);
    - ``exclude[].concept[]`` — anti-joined out of the result — and
      ``exclude[].valueSet[]``: referenced expansions anti-joined on
      (system, code), same depth-N resolution.

    ECL ``^ refset`` filters resolve against this same table to ANY
    depth (r11): a referenced refset's own ``^`` filters resolve
    recursively, with ``_ecl_stack`` (the id/url set of every refset
    currently being expanded through a ``^``) as the cycle guard —
    a circular member-of chain raises ValueError instead of recursing
    forever. That guard is what bounds the Python recursion; the
    compose-reference depth-N machinery below is independent of it.
    ``_context`` (internal) is the FULL ValueSet table a member-of
    refset expansion resolves its own ``^`` and compose references
    against, while ``valuesets`` holds just the rows whose expansion
    is requested — only the requested urls (plus their transitive
    compose references) are expanded and only the requested urls are
    returned.

    Sparse schemas are honored: absent optional elements (no ValueSet
    populates ``filter``/``exclude``/``display``…) read as empty.

    The TOP-LEVEL call (``_vs_cache is None``) runs the whole
    expansion under :func:`_metadata_execution` (AQE off — every
    intermediate materialization is a single job instead of a
    per-shuffle-stage job cascade) and returns the result LOCALIZED
    (single-partition checkpoint): expansions are terminology-sized
    metadata, so the caller's action is one trivial job and repeated
    consumption never re-runs the expansion plan (r12).
    """
    if _vs_cache is None:
        # per-top-level-call memo: ``alias`` maps a ^ refset token to
        # its resolved id/url alias set, ``exp`` maps an alias set to
        # its (localized) expansion — a refset referenced k times
        # along a ^ chain/DAG expands ONCE, not k times (r12)
        _vs_cache = {"alias": {}, "exp": {}}
        with _metadata_execution(valuesets.sparkSession):
            # localize the terminology INPUTS once (they are metadata
            # by the module contract): every compose batch, filter
            # parse, and ECL node then plans against single-partition
            # checkpoint scans instead of re-analyzing the wide
            # nested-schema source scans — plan analysis is the
            # dominant cost at this scale, not task work
            vs_l = _localize(valuesets)
            ctx_l = None if _context is None else _localize(_context)
            cs_l = None if codesystems is None else _localize(codesystems)
            return _localize(
                expand_valueset(
                    vs_l,
                    cs_l,
                    closure,
                    _ecl_stack,
                    ctx_l,
                    _vs_cache,
                )
            )
    ctx = valuesets if _context is None else _context
    refsets = ctx
    comp_edges = _compose_ref_edges(ctx)
    ecl_tokens = _ecl_member_tokens(ctx)
    if not comp_edges and not ecl_tokens:
        return _expand_compose(
            valuesets, codesystems, closure, None, refsets, _ecl_stack,
            _vs_cache,
        )
    idc = (
        F.col("id") if "id" in ctx.columns else F.lit(None).cast("string")
    )
    pairs = ctx.select(F.col("url"), idc.alias("id")).distinct().collect()
    ctx_urls = {r["url"] for r in pairs}
    # token → url resolution + per-url alias sets ({url, id}) — the
    # matching rule of ecl_expand's ^ branch, computed once
    tok2url: dict[str, str] = {}
    url_aliases: dict[str, set] = {}
    for r in pairs:
        al = url_aliases.setdefault(r["url"], {r["url"]})
        tok2url.setdefault(r["url"], r["url"])
        if r["id"] is not None:
            al.add(r["id"])
            tok2url.setdefault(r["id"], r["url"])
    # ^-refset references join the scheduling graph (r12): a referenced
    # refset is expanded in an EARLIER stratum and seeded into the
    # member-of memo, so each ^ node is a zero-job cache hit instead of
    # a full nested re-expansion. Unresolvable tokens get no edge (the
    # nested path still yields their empty expansion).
    ecl_edges: dict[str, set[str]] = {}
    for u, toks in ecl_tokens.items():
        refs = {tok2url[t] for t in toks if t in tok2url}
        if refs:
            ecl_edges[u] = refs
    edges = {
        u: comp_edges.get(u, set()) | ecl_edges.get(u, set())
        for u in set(comp_edges) | set(ecl_edges)
    }
    want_urls = (
        ctx_urls
        if _context is None
        else {r[0] for r in valuesets.select("url").distinct().collect()}
    )
    # restrict the work to the requested urls + their transitive
    # compose/^ references (the whole table when _context is None)
    needed = set(want_urls)
    frontier = list(want_urls)
    while frontier:
        for r in edges.get(frontier.pop(), ()):
            if r in ctx_urls and r not in needed:
                needed.add(r)
                frontier.append(r)
    sub_edges = {
        u: {r for r in edges[u] if r in ctx_urls}
        for u in needed
        if u in edges
    }
    comp_sub = {
        u: {r for r in comp_edges[u] if r in ctx_urls}
        for u in needed
        if u in comp_edges
    }
    # compose cycles are hard errors (FHIR forbids them); ^ cycles are
    # NOT checked here — the member-of stack raises its own
    # "circular ECL member-of chain" when the batch evaluates
    _check_ref_cycles(comp_sub)
    referenced = {r for refs in sub_edges.values() for r in refs}
    ecl_referenced = {
        r for refs in ecl_edges.values() for r in refs if r in needed
    }
    resolved: dict[str, DataFrame] = {}
    out_parts: list[DataFrame] = []
    pending = set(needed)
    while pending:
        ready = {
            u
            for u in pending
            if all(r in resolved for r in sub_edges.get(u, ()))
        }
        if not ready:
            # a ^-reference cycle stalls the combined graph: fall back
            # to compose-only readiness and let the member-of stack
            # raise the proper circular-chain error during evaluation
            ready = {
                u
                for u in pending
                if all(r in resolved for r in comp_sub.get(u, ()))
            }
        assert ready, "unresolvable ValueSet references (cycle guard hole)"
        # only COMPOSE references feed ref_exp (the valueSet-reference
        # intersection machinery); ^ references are consumed through
        # the member-of memo instead
        batch_refs = sorted(
            {r for u in ready for r in comp_sub.get(u, ())}
        )
        ref_exp = None
        for r in batch_refs:
            tagged = resolved[r].select(
                F.lit(r).alias("__ref"), "system", "code", "display"
            )
            ref_exp = tagged if ref_exp is None else ref_exp.unionByName(tagged)
        exp = _expand_compose(
            ctx.filter(F.col("url").isin(sorted(ready))),
            codesystems,
            closure,
            ref_exp,
            refsets,
            _ecl_stack,
            _vs_cache,
        )
        pending -= ready
        if pending:
            # later strata re-read this stratum's rows (possibly through
            # several levels) — localize so a depth-k chain costs k
            # plans, not a k²-deep nested one, and each re-read is a
            # single-partition checkpoint scan (expansions are
            # terminology-sized metadata)
            exp = _localize(exp)
            # seed the member-of memo with this stratum's ^-referenced
            # expansions: later strata's ^ nodes become zero-job cache
            # hits (same value the nested path would compute — the
            # stratum resolves its references against the full ctx)
            for u in ready & ecl_referenced:
                al = frozenset(url_aliases[u])
                for t in al:
                    _vs_cache["alias"].setdefault(t, al)
                _vs_cache["exp"].setdefault(
                    al, exp.filter(F.col("url") == u)
                )
        out_parts.append(exp)
        for u in ready & referenced:
            resolved[u] = exp.filter(F.col("url") == u)
    if not out_parts:
        # requested urls absent from the context (e.g. an unknown
        # ^ refset token against a reference-bearing table): empty
        # membership, not an error — the member-of contract
        return local_rows_df(
            valuesets.sparkSession,
            [],
            "url string, system string, code string, display string",
        )
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    if needed != want_urls:
        out = out.filter(F.col("url").isin(sorted(want_urls)))
    return out


def expand_operation(
    valuesets: DataFrame,
    codesystems: DataFrame | None = None,
    closure: DataFrame | None = None,
    *,
    url: str | None = None,
    count: int | None = None,
    offset: int = 0,
    text_filter: str | None = None,
    display_language: str | None = None,
    include_designations: bool = False,
    active_only: bool = False,
) -> DataFrame:
    """ValueSet ``$expand`` with the R4 operation's paging parameters
    (hl7.org/fhir/R4/valueset-operation-expand.html — ``count``,
    ``offset``, ``filter``; r12, the r11 verdict's task 6) on top of
    :func:`expand_valueset`'s membership rows.

    The expansion gets a deterministic total order by (system, code)
    per ValueSet — the stable-paging contract the operation implies —
    and each row carries the R4 ``expansion.total`` / ``.offset``
    response fields flattened per row, plus its global rank ``rn``:

    * ``text_filter`` — case-insensitive substring match on code OR
      display (the operation's ``filter`` parameter, applied BEFORE
      ordering/total, per spec: total counts the filtered expansion);
    * ``offset``/``count`` — the page window over ``rn``
      (``count=0`` is the spec's "just give me total" probe: zero
      concept rows; callers read total from an unpaged/other call or
      a ``count≥1`` page);
    * ``display_language`` — the operation's ``displayLanguage``
      (r12 wave 2): when a concept carries a ``designation`` in that
      language (:func:`concept_designations`), its value REPLACES the
      CodeSystem display (min value per language for determinism when
      a concept repeats a language); concepts without one keep their
      default display. Applied BEFORE the text filter, which matches
      what the caller will actually see;
    * ``include_designations`` — the operation's
      ``includeDesignations``: every designation of a page row comes
      back as (d_language, d_value) columns, rows multiplying per
      designation (the qf37 $lookup convention) AFTER paging, so
      rn/total keep counting CONCEPTS, not designation rows;
    * ``active_only`` — the operation's ``activeOnly`` (r12 wave 3):
      drops concepts asserted inactive by their CodeSystem — the R4
      concept-level conventions are the ``inactive`` boolean property
      and ``status`` = retired/deprecated
      (hl7.org/fhir/R4/codesystem-concept-properties.html) — via a
      broadcast anti-join on the property frame, applied BEFORE
      ordering/total so pages and ``expansion.total`` count the
      active expansion (the default keeps inactive concepts, per the
      operation's default of including them in expansions).

    Ordering uses a per-url window — a single-reducer sort, which is
    correct here because an expansion is terminology-sized metadata
    (bounded by the code system, never by fact data); fact-scale
    paging belongs in the query layer, not ``$expand``.

    Output: (url, system, code, display, rn, total, offset
    [, d_language, d_value]). Designation joins are terminology-sized
    metadata joins (never fact-scale).
    """
    if offset < 0 or (count is not None and count < 0):
        raise ValueError(
            f"$expand paging parameters must be non-negative "
            f"(offset={offset}, count={count})"
        )
    from pyspark.sql import Window

    if active_only and codesystems is None:
        raise ValueError("active_only needs codesystems")
    exp = expand_valueset(valuesets, codesystems, closure=closure)
    if url is not None:
        exp = exp.filter(F.col("url") == url)
    if active_only:
        props = _concept_properties(codesystems)
        inactive = props.filter(
            (
                (F.col("prop") == "inactive")
                & (F.lower(F.col("pval")) == "true")
            )
            | (
                (F.col("prop") == "status")
                & F.col("pval").isin("retired", "deprecated")
            )
        ).select("system", "code")
        exp = exp.join(
            F.broadcast(inactive.distinct()), ["system", "code"], "left_anti"
        )
    desig = None
    if display_language is not None or include_designations:
        if codesystems is None:
            raise ValueError(
                "display_language/include_designations need codesystems"
            )
        desig = concept_designations(codesystems)
    if display_language is not None:
        pick = (
            desig.filter(F.col("language") == display_language)
            .groupBy("system", "code")
            .agg(F.min("value").alias("__dl_value"))
        )
        exp = (
            exp.join(pick, ["system", "code"], "left")
            .withColumn(
                "display", F.coalesce("__dl_value", "display")
            )
            .drop("__dl_value")
        )
    if text_filter is not None:
        t = text_filter.lower()
        exp = exp.filter(
            F.lower(F.col("code")).contains(t)
            | F.lower(F.coalesce(F.col("display"), F.lit(""))).contains(t)
        )
    w = Window.partitionBy("url").orderBy("system", "code")
    exp = (
        exp.withColumn("rn", F.row_number().over(w) - 1)
        .withColumn(
            "total", F.count("*").over(Window.partitionBy("url"))
        )
        .withColumn("offset", F.lit(offset))
    )
    exp = exp.filter(F.col("rn") >= offset)
    if count is not None:
        exp = exp.filter(F.col("rn") < offset + count)
    out_cols = ["url", "system", "code", "display", "rn", "total", "offset"]
    if include_designations:
        exp = exp.join(
            desig.select(
                "system",
                "code",
                F.col("language").alias("d_language"),
                F.col("value").alias("d_value"),
            ),
            ["system", "code"],
            "left",
        )
        out_cols += ["d_language", "d_value"]
    return exp.select(*out_cols)


def expand_versioned(
    valuesets: DataFrame,
    codesystems: DataFrame | None = None,
) -> DataFrame:
    """ValueSet expansion under R4 canonical VERSIONING
    (hl7.org/fhir/R4/references.html#canonical — ``url|version``
    pinned canonical references; ValueSet.compose.include.``version``
    for code systems): the url-keyed expansion machinery is reused by
    REWRITING the two tables before resolution, so the core stays
    untouched.

    Rules implemented:

    * a table carrying several versions of one url resolves UNPINNED
      uses to the LATEST version — descending numeric-aware dotted
      order (each dot-component left-padded, so 10.0 > 9.0), with the
      resource id as the deterministic tiebreak;
    * a compose.include/exclude ``valueSet`` reference of the form
      ``url|v`` resolves to exactly that version — implemented by
      aliasing the (url, v) row under the synthetic url ``url|v``,
      which the reference string then matches by plain equality; a
      version absent from the table resolves EMPTY (the r12
      unresolvable-reference contract, never a silent fallback);
    * ``include.version`` (same for exclude) pins the CODE SYSTEM
      version: the include's ``system`` is rewritten to ``system|v``
      (``withField`` inside a ``transform`` — the nested struct stays
      intact) and the matching CodeSystem row is aliased likewise; a
      missing pinned version again expands empty.

    The transitive closure is recomputed from the REWRITTEN
    CodeSystem table (a caller-supplied closure would be keyed by
    unaliased urls). Driver-side collection touches only distinct
    reference strings and (system, version) pairs — terminology-sized
    metadata, the qf38 strata pattern. Output: the standard
    (url, system, code, display) membership rows for the REQUESTED
    valuesets only (version aliases are internal resolution targets);
    the ``system`` column reports the alias (``system|v``) for pinned
    includes, which is exactly the canonical form consumers render.
    """
    from pyspark.sql import Window

    def latest_per_url(df):
        if "version" not in df.columns:
            return df
        # numeric-aware ordering: each dot-component left-padded to 9
        # chars, so "10.0" outranks "9.0" (plain string order would
        # not); non-numeric components stay deterministic under the
        # same padding
        vkey = F.concat_ws(
            ".",
            F.transform(
                F.split(F.col("version"), r"\."),
                lambda x: F.lpad(x, 9, "0"),
            ),
        )
        w = Window.partitionBy("url").orderBy(
            F.when(F.col("version").isNull(), F.lit(None))
            .otherwise(vkey)
            .desc_nulls_last(),
            F.col("id"),
        )
        return (
            df.withColumn("__vrn", F.row_number().over(w))
            .filter(F.col("__vrn") == 1)
            .drop("__vrn")
        )

    inc_fields = _element_fields(valuesets, "compose", "include")
    exc_fields = _element_fields(valuesets, "compose", "exclude")

    # -- pinned url|v valueSet references (include + exclude sides)
    pinned_refs: set[str] = set()
    for side, fields in (("include", inc_fields), ("exclude", exc_fields)):
        if "valueSet" not in fields:
            continue
        col = F.flatten(
            F.filter(
                F.transform(
                    F.coalesce(F.col(f"compose.{side}"), F.array()),
                    lambda i: F.coalesce(i["valueSet"], F.array()),
                ),
                lambda a: F.size(a) > 0,
            )
        )
        for r in valuesets.select(F.explode(col).alias("r")).distinct().collect():
            if r["r"] and "|" in r["r"]:
                pinned_refs.add(r["r"])

    # -- pinned (system, version) include/exclude pairs
    pinned_sys: set[tuple[str, str]] = set()
    for side, fields in (("include", inc_fields), ("exclude", exc_fields)):
        if "version" not in fields or "system" not in fields:
            continue
        rows = (
            valuesets.select(
                F.explode(
                    F.coalesce(F.col(f"compose.{side}"), F.array())
                ).alias("i")
            )
            .select(F.col("i.system").alias("s"), F.col("i.version").alias("v"))
            .filter(F.col("s").isNotNull() & F.col("v").isNotNull())
            .distinct()
            .collect()
        )
        pinned_sys.update((r["s"], r["v"]) for r in rows)

    requested = [
        r["url"]
        for r in valuesets.select("url").distinct().collect()
        if r["url"] is not None
    ]

    # -- rewrite the ValueSet table: latest per url + pinned aliases
    vs2 = latest_per_url(valuesets)
    for ref in sorted(pinned_refs):
        url, _, ver = ref.rpartition("|")
        if "version" in valuesets.columns:
            alias = valuesets.filter(
                (F.col("url") == url) & (F.col("version") == ver)
            ).withColumn("url", F.lit(ref))
            vs2 = vs2.unionByName(alias)
        # no version column -> nothing can match; ref resolves empty

    # -- rewrite include/exclude system+version to the alias form
    def rewrite_side(df, side, fields):
        if "version" not in fields or "system" not in fields:
            return df
        rewritten = F.transform(
            F.col(f"compose.{side}"),
            lambda i: i.withField(
                "system",
                F.when(
                    i["system"].isNotNull() & i["version"].isNotNull(),
                    F.concat_ws("|", i["system"], i["version"]),
                ).otherwise(i["system"]),
            ),
        )
        return df.withColumn(
            "compose", F.col("compose").withField(side, rewritten)
        )

    vs2 = rewrite_side(vs2, "include", inc_fields)
    vs2 = rewrite_side(vs2, "exclude", exc_fields)

    # -- rewrite the CodeSystem table: latest per url + pinned aliases
    cs2 = None
    if codesystems is not None:
        cs2 = latest_per_url(codesystems)
        for sysu, ver in sorted(pinned_sys):
            if "version" in codesystems.columns:
                alias = codesystems.filter(
                    (F.col("url") == sysu) & (F.col("version") == ver)
                ).withColumn("url", F.lit(f"{sysu}|{ver}"))
                cs2 = cs2.unionByName(alias)

    closure = (
        concept_closure(concept_edges(cs2)) if cs2 is not None else None
    )
    out = expand_valueset(vs2, cs2, closure=closure)
    return out.filter(F.col("url").isin(requested))


def _expand_compose(
    valuesets: DataFrame,
    codesystems: DataFrame | None,
    closure: DataFrame | None,
    ref_exp: DataFrame | None,
    refsets: DataFrame | None,
    _ecl_stack: frozenset = frozenset(),
    _vs_cache: dict | None = None,
) -> DataFrame:
    """One table-level compose expansion, assuming every RESOLVABLE
    direct ``valueSet`` reference of this batch is already expanded in
    ``ref_exp`` (``__ref``, system, code, display) — the per-stratum
    worker of :func:`expand_valueset`. ``ref_exp=None`` means no
    reference of this batch resolved to a url present in the table;
    reference-bearing includes then intersect with EMPTY expansions
    (r12 fix), they never fall back to reference-free routing."""
    inc_fields = _element_fields(valuesets, "compose", "include")
    inc = valuesets.select(
        F.col("url"), F.posexplode("compose.include").alias("inc_idx", "i")
    )
    key2 = ["url", "inc_idx"]
    n_refs = (
        F.size(F.coalesce(F.col("i.valueSet"), F.array()))
        if "valueSet" in inc_fields
        else F.lit(0)
    )
    n_filters = (
        F.size(F.coalesce(F.col("i.filter"), F.array()))
        if "filter" in inc_fields
        else F.lit(0)
    )
    n_concepts = (
        F.size(F.coalesce(F.col("i.concept"), F.array()))
        if "concept" in inc_fields
        else F.lit(0)
    )

    # sparse schemas: a batch can carry EXCLUDE-side references only,
    # in which case the include struct has no valueSet field at all.
    # withref_keys must be built from the include rows alone (NOT gated
    # on ref_exp): a stratum whose references all point at urls absent
    # from the table arrives with ref_exp=None, and its
    # reference-bearing includes still must be excluded from the
    # whole-system/concept/filter routing — their conjunction
    # intersects with an EMPTY expansion, not with "everything".
    has_inc_refs = "valueSet" in inc_fields
    withref_keys = (
        inc.filter(n_refs > 0).select(*key2).distinct()
        if has_inc_refs
        else None
    )

    def split(side):
        """Route per-include rows: reference-free includes contribute
        directly; includes that also hold valueSet references become
        the system-side of the spec's system∩valueSets conjunction
        (intersected with the reference expansions below)."""
        if withref_keys is None:
            return side, None
        return (
            side.join(F.broadcast(withref_keys), key2, "left_anti"),
            side.join(F.broadcast(withref_keys), key2, "left_semi"),
        )

    parts: list[DataFrame] = []  # (url, system, code, display)
    mixed_sides: list[DataFrame] = []  # per-include, awaiting refs ∩

    concept_fields = _element_fields(
        valuesets, "compose", "include", "concept"
    )
    display = (
        F.col("c.display")
        if "display" in concept_fields
        else F.lit(None).cast("string")
    )
    if "concept" in inc_fields:
        listed = (
            inc.filter(n_concepts > 0)
            .select(
                "url",
                "inc_idx",
                F.col("i.system").alias("system"),
                F.explode("i.concept").alias("c"),
            )
            .select(
                "url",
                "inc_idx",
                "system",
                F.col("c.code").alias("code"),
                display.alias("display"),
            )
        )
        d, m = split(listed)
        parts.append(d.drop("inc_idx"))
        if m is not None:
            mixed_sides.append(m)

    whole = inc.filter(
        (n_concepts == 0) & (n_filters == 0) & F.col("i.system").isNotNull()
    )
    if codesystems is not None:
        whole_rows = (
            whole.select(
                "url", "inc_idx", F.col("i.system").alias("system")
            )
            .join(F.broadcast(_all_concepts(codesystems)), "system")
            .select("url", "inc_idx", "system", "code", "display")
        )
        d, m = split(whole_rows)
        parts.append(d.drop("inc_idx"))
        if m is not None:
            mixed_sides.append(m)

    if "filter" in inc_fields:
        # _expand_filters itself raises when a hierarchical op is
        # present without a closure (code/property filters need none)
        # and returns None when no include carries filter entries — it
        # collects the K-row filter metadata up front anyway, so the
        # emptiness probe is free (r12: was a separate limit(1) job)
        fpi = _expand_filters(
            valuesets, codesystems, closure, refsets=refsets,
            per_include=True, _ecl_stack=_ecl_stack,
            _vs_cache=_vs_cache,
        )
        if fpi is not None:
            d, m = split(fpi)
            # cross-include dedup (pre-r11 output contract: filter
            # members are distinct per url)
            parts.append(d.drop("inc_idx").distinct())
            if m is not None:
                mixed_sides.append(m)

    if has_inc_refs:
        withref = inc.filter(n_refs > 0)
        refs = withref.select(
            "url",
            "inc_idx",
            F.size("i.valueSet").alias("__need"),
            F.explode("i.valueSet").alias("__ref"),
        )
        if ref_exp is None:
            # every reference in this stratum resolves to a url absent
            # from the table: each referenced expansion is empty, so the
            # cross-reference intersection is empty — mixed includes
            # intersect to nothing and pure-ref includes contribute
            # nothing (the documented member-of contract).
            ref_exp = local_rows_df(
                valuesets.sparkSession,
                [],
                "__ref string, system string, code string, display string",
            )
        # intersection across an include's references: a code counts
        # only when EVERY referenced expansion contains it
        refs_int = (
            refs.join(F.broadcast(ref_exp), "__ref")
            .groupBy("url", "inc_idx", "system", "code")
            .agg(
                F.max("display").alias("display"),
                F.countDistinct("__ref").alias("__hit"),
                F.max("__need").alias("__need"),
            )
            .filter(F.col("__hit") == F.col("__need"))
            .select("url", "inc_idx", "system", "code", "display")
        )
        sys_keys = (
            withref.filter(
                (n_concepts > 0)
                | (n_filters > 0)
                | F.col("i.system").isNotNull()
            )
            .select(*key2)
            .distinct()
        )
        parts.append(
            refs_int.join(F.broadcast(sys_keys), key2, "left_anti").drop(
                "inc_idx"
            )
        )
        for m in mixed_sides:
            # mixed include (r11): system-side selection ∩ all refs
            parts.append(
                m.join(
                    refs_int.select(*key2, "system", "code"),
                    key2 + ["system", "code"],
                    "left_semi",
                ).drop("inc_idx")
            )
    else:
        # no valueSet field in the include schema at all
        assert withref_keys is None and not mixed_sides, (
            "mixed include routed without a valueSet include field"
        )

    listed = None
    for p in parts:
        listed = p if listed is None else listed.unionByName(p)
    if listed is None:
        raise ValueError(
            "ValueSet has whole-system includes but no codesystems table "
            "was supplied to resolve them"
        )

    exc_fields = _element_fields(valuesets, "compose", "exclude")
    if exc_fields:
        exploded_exc = valuesets.select(
            F.col("url"),
            F.explode(F.coalesce(F.col("compose.exclude"), F.array())).alias("e"),
        )
        if "concept" in exc_fields:
            exc = exploded_exc.select(
                "url",
                F.col("e.system").alias("system"),
                F.explode(F.coalesce(F.col("e.concept"), F.array())).alias("c"),
            ).select("url", "system", F.col("c.code").alias("code"))
            listed = listed.join(
                F.broadcast(exc), ["url", "system", "code"], "left_anti"
            )
        if "valueSet" in exc_fields and ref_exp is not None:
            xrefs = exploded_exc.select(
                "url",
                F.explode(F.coalesce(F.col("e.valueSet"), F.array())).alias("__ref"),
            )
            drop = xrefs.join(
                F.broadcast(ref_exp.select("__ref", "system", "code")),
                "__ref",
            ).select("url", "system", "code")
            listed = listed.join(
                F.broadcast(drop.distinct()),
                ["url", "system", "code"],
                "left_anti",
            )
    return listed


_ECL_TOKEN = re.compile(
    r"<<|<!|<=|>>|>!|>=|!=|<|>|\(|\)|\{|\}|\*|:|=|,|\^|!|"
    r"\[[0-9]+\.\.(?:[0-9]+|\*)\]|"  # cardinality [m..n] — one token
    r"(?<!\S)\.(?!\S)|"  # dotted attribute '.' (whitespace-delimited)
    r"AND\b|OR\b|MINUS\b|R\b|[^\s(){}<>:=,^!]+"
)
_ECL_CARD = re.compile(r"\[([0-9]+)\.\.([0-9]+|\*)\]\Z")
_ECL_TERM = re.compile(r"\|[^|]*\|")  # |display term| annotations
_ECL_UNSUPPORTED = re.compile(r"\|")
_ECL_NUM = re.compile(r"#(-?[0-9]+(?:\.[0-9]+)?)\Z")  # concrete numeric
_ECL_CMP = ("=", "!=", "<", "<=", ">", ">=")


def _ecl_parse(ecl: str):
    """Parse the supported ECL subset into a tiny AST (driver-side — an
    expression constraint is metadata, never data):

        expr := refined (OP refined)*   OP := AND | OR | MINUS (no
                                        mixing — ECL requires parens)
        refined := dotted (':' refset)?
        refset := refterm ((',' | AND | OR) refterm)*   (',' ≡ AND;
                                        no AND/OR mixing — parens)
        refterm := '(' refset ')' | '{' refinement (',' refinement)* '}'
                 | refinement
        dotted := term ('.' (ATTR | '*'))*
        refinement := CARD? 'R'? (ATTR | '*' | term) CMP value
        CMP := '=' | '!=' | '<' | '<=' | '>' | '>='
        value := term | '#' NUMBER   (non-equality CMP needs a number)
        CARD := '[' INT '..' (INT | '*') ']'
        term := '(' expr ')' | PREFIX? ('*' | CODE)
        PREFIX := '<<' (desc-or-self) | '<' (desc) | '<!' (children)
                  | '>>' (anc-or-self) | '>' (anc) | '>!' (parents)

    Attribute refinements follow the SNOMED syntax ``focus : attr =
    value`` with comma = conjunction and, since r12, ``AND``/``OR``
    between refinement items (the SNOMED eclRefinement
    conjunction/disjunction grammar) with parentheses for grouping —
    per the ECL spec a set operator after a refined constraint binds
    to the REFINEMENT (combining whole refined constraints requires
    parenthesizing them). A parenthesized group that is followed by a
    comparator is an expression-valued attribute NAME, not a
    refinement group (one-token lookahead past the matching paren).
    The attribute matches CodeSystem
    ``concept.property[]`` assertions ('*' = any property), and the
    value is either a bare token (matched against the property value
    as a string — which for concept-valued properties is exactly
    single-code membership) or a prefixed/parenthesized expression
    (membership of the property value in that concept set, via the
    closure). ``R attr`` (reverse flag, r9) swaps the roles: the focus
    member must appear as the VALUE of an ``attr`` assertion whose
    source concept satisfies the value condition. ``[m..n] attr``
    (cardinality, r9) counts the matching assertions per focus concept
    and keeps m ≤ count ≤ n (n = '*' → unbounded; ``[0..0]`` =
    must-not-have). Dotted notation ``focus . attr`` (r9) walks to the
    attribute VALUES of the focus set — the '.' must be
    whitespace-delimited, so dotted tokens (urls, OID-style codes)
    still lex as single tokens. Attribute groups ``{ attr = value ,
    ... }`` (r10) require all member refinements to be satisfied by
    assertions in the SAME relationship group; FHIR R4
    ``concept.property[]`` carries no group ids, so each assertion is
    self-grouped per the SNOMED ECL rule for ungrouped relationship
    data ("each ungrouped attribute is treated as if in a group of its
    own") — a multi-refinement group then matches only when ONE
    assertion satisfies every member (reachable via '*' attributes or
    repeated attribute names). Reverse flags and cardinalities are
    also accepted INSIDE groups (r11), including combined on the same
    member (r12): a reverse member binds the focus to the assertion's
    VALUE side, and a within-group cardinality counts matching
    assertions per group (0 or 1 under self-grouping, so ``[0..0]``
    keeps non-matching groups — for a reverse member the group
    universe is every assertion in the system); prefixed wildcards
    (``< *`` …) evaluate the hierarchy with an unconstrained anchor.
    Comparison operators (r12, SNOMED ECL concrete values): ``!=``
    accepts a concept/expression value (assertions whose value —
    source, under R — is NOT the/in the set); ``< <= > >=`` and
    ``=``/``!=`` also accept ``#``-prefixed numeric literals
    (``strength >= #250``), compared against the property value as a
    number (non-numeric values never match). Numeric comparison with
    the reverse flag is refused (reverse attributes are concept-valued
    by construction).
    Attribute NAMES may themselves be expressions (r11 —
    ``(<< attrConcept) = value``, the SNOMED attribute-hierarchy
    form): the attribute set evaluates like any concept set and
    matches assertions whose property CODE lies in it.
    Anything else raises NotImplementedError with the offending token.
    """
    # |display term| annotations are documentation, not constraint
    # (SNOMED ECL composite grammar, r10) — stripped before lexing; a
    # leftover unpaired '|' then trips the unsupported check below
    ecl_src = ecl
    ecl = _ECL_TERM.sub(" ", ecl)
    if _ECL_UNSUPPORTED.search(ecl):
        raise NotImplementedError(
            f"unsupported ECL feature in {ecl_src!r}: only "
            "<|<<|<!|>|>>|>! prefixes, '*', codes, '|term|' "
            "annotations, parentheses, AND/OR/MINUS, '^ refset', "
            "'. attr' dotted walks, '[m..n]? R? attr CMP value' "
            "refinements (CMP: = != < <= > >=; non-equality needs a "
            "'#'-numeric value) and '{ attr = value , ... }' "
            "attribute groups are supported"
        )
    toks = _ECL_TOKEN.findall(ecl)
    for tk in toks:
        if ("[" in tk or "]" in tk) and not _ECL_CARD.match(tk):
            raise NotImplementedError(
                f"malformed cardinality {tk!r} in {ecl!r} — expected "
                "'[m..n]' with integer m and integer-or-'*' n"
            )
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = peek()
        pos += 1
        return t

    def term():
        t = take()
        if t == "(":
            node = expr()
            if take() != ")":
                raise NotImplementedError(f"unbalanced parens in {ecl!r}")
            return node
        if t == "^":
            target = take()
            if target is None or not target[0].isalnum():
                raise NotImplementedError(
                    f"member-of needs a refset id/url token in {ecl!r} "
                    "(colon-free — use the ValueSet resource id)"
                )
            return ("member", target)
        prefix = None
        if t in ("<", "<<", "<!", ">", ">>", ">!"):
            prefix, t = t, take()
        if (
            t is None
            or t in (")", "{", "}", "AND", "OR", "MINUS", ":", "=", ",",
                     "^", ".", "!", "!=", "<=", ">=")
            or t.startswith("[")
        ):
            raise NotImplementedError(f"malformed ECL {ecl!r}")
        if t.startswith("#"):
            raise NotImplementedError(
                f"numeric literal {t!r} in {ecl!r} is only valid as a "
                "refinement comparison value"
            )
        if t == "*":
            # prefixed wildcard (r11): '< *' = concepts with any
            # ancestor (non-roots), '> *' = concepts with any
            # descendant (non-leaves), '<!'/'>!' the direct-edge
            # variants, '<< *'/'>> *' = everything
            return ("anyprefixed", prefix) if prefix is not None else ("any",)
        return ("focus", prefix, t)

    _BAD_ATTR = ("(", ")", "{", "}", ":", "=", ",", ".", "!", "<",
                 "<<", "<!", "<=", ">", ">>", ">!", ">=", "!=",
                 "AND", "OR", "MINUS", "R")

    def refined():
        node = term()
        while peek() == ".":  # dotted attribute walk (r9)
            take()
            attr = take()
            if attr is None or (
                attr != "*" and (attr in _BAD_ATTR or attr.startswith("["))
            ):
                raise NotImplementedError(
                    f"dotted walk needs '. attr' in {ecl!r}"
                )
            node = ("dot", node, attr)
        if peek() != ":":
            return node
        take()

        def one_ref():
            card = None
            nxt = peek()
            if nxt is not None and nxt.startswith("["):
                m = _ECL_CARD.match(take())
                card = (
                    int(m.group(1)),
                    None if m.group(2) == "*" else int(m.group(2)),
                )
                if card[1] is not None and card[1] < card[0]:
                    raise NotImplementedError(
                        f"empty cardinality range {nxt!r} in {ecl!r}"
                    )
            rev = peek() == "R"
            if rev:
                take()
            if peek() in ("(", "<", "<<", "<!", ">", ">>", ">!", "^"):
                # expression-valued attribute NAME (r11): the SNOMED
                # attribute-hierarchy form '(<< attrConcept) = value' —
                # the attribute set is any sub-expression; matches
                # assertions whose property code lies in that set
                attr = term()
            else:
                attr = take()
                if attr is None or (
                    attr != "*"
                    and (attr in _BAD_ATTR or attr.startswith("["))
                ):
                    raise NotImplementedError(
                        f"malformed refinement attribute in {ecl!r}"
                    )
            op = take()
            if op not in _ECL_CMP:
                raise NotImplementedError(
                    f"refinement needs 'attr (=|!=|<|<=|>|>=) value' "
                    f"in {ecl!r}"
                )
            nxt = peek()
            if nxt is not None and nxt.startswith("#"):
                m = _ECL_NUM.match(take())
                if m is None:
                    raise NotImplementedError(
                        f"malformed numeric literal {nxt!r} in {ecl!r} "
                        "— expected '#' followed by a decimal number"
                    )
                return (card, rev, attr, op, ("num", float(m.group(1))))
            if op not in ("=", "!="):
                raise NotImplementedError(
                    f"{op!r} comparison in {ecl!r} needs a "
                    "'#'-prefixed numeric value (concept values "
                    "support = and != only)"
                )
            return (card, rev, attr, op, term())

        def refterm():
            nxt = peek()
            if nxt == "{":  # attribute group (r10)
                take()
                grp = [one_ref()]
                while peek() == ",":
                    take()
                    grp.append(one_ref())
                if take() != "}":
                    raise NotImplementedError(
                        f"unbalanced attribute group braces in {ecl!r}"
                    )
                return ("grp", grp)
            if nxt == "(":
                # '( ... ) CMP value' is an expression-valued attribute
                # NAME (one_ref's job); any other '(' opens a
                # parenthesized refinement-set (r12) — disambiguated by
                # one token of lookahead past the matching paren
                depth, j = 0, pos
                while j < len(toks):
                    if toks[j] == "(":
                        depth += 1
                    elif toks[j] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                after = toks[j + 1] if j + 1 < len(toks) else None
                if after not in _ECL_CMP:
                    take()
                    sub = refset()
                    if take() != ")":
                        raise NotImplementedError(
                            f"unbalanced refinement parens in {ecl!r}"
                        )
                    return sub
            return one_ref()

        def refset():
            # refinement conjunction/disjunction (r12): ',' ≡ AND;
            # AND/OR mixing requires parentheses, mirroring expr()
            items = [refterm()]
            op = None
            while peek() in (",", "AND", "OR"):
                cls = "rOR" if take() == "OR" else "rAND"
                if op is None:
                    op = cls
                elif cls != op:
                    raise NotImplementedError(
                        f"mixed AND/OR refinements without parentheses "
                        f"in {ecl!r} — ECL requires explicit grouping"
                    )
                items.append(refterm())
            return items[0] if len(items) == 1 else (op, items)

        return ("refine", node, refset())

    def expr():
        node = refined()
        op = None
        while peek() in ("AND", "OR", "MINUS"):
            nxt = take()
            if op is None:
                op = nxt
            elif nxt != op:
                raise NotImplementedError(
                    f"mixed {op}/{nxt} without parentheses in {ecl!r} — "
                    "ECL requires explicit grouping"
                )
            node = (op, node, refined())
        return node

    root = expr()
    if pos != len(toks):
        raise NotImplementedError(f"trailing tokens in ECL {ecl!r}")
    return root


def ecl_expand(
    ecl: str,
    codesystems: DataFrame,
    closure: DataFrame,
    system: str,
    valuesets: DataFrame | None = None,
    _ecl_stack: frozenset = frozenset(),
    _vs_cache: dict | None = None,
) -> DataFrame:
    """Evaluate an ECL (SNOMED Expression Constraint Language) subset
    against a CodeSystem + its transitive closure, returning the
    matching concepts as a DataFrame of (code).

    Every set operation is a DataFrame op over the closure/universe —
    hierarchy lookups are broadcast joins against the closure (the same
    frame :func:`_expand_filters` uses), AND is an inner join, OR a
    union-distinct, MINUS a left-anti join — so an expression over a
    million-concept system never leaves the executors; only the
    expression STRING is parsed on the driver.

    Supported: ``*``, bare codes, ``<``/``<<``/``>``/``>>`` prefixes,
    parentheses, non-mixed ``AND``/``OR``/``MINUS`` chains, and
    attribute refinements ``focus : attr = value`` (comma =
    conjunction): the attribute names a CodeSystem
    ``concept.property[]`` assertion (``*`` = any property) and the
    value is a literal token (string equality on the property value —
    for concept-valued properties this is single-code membership) or a
    prefixed/parenthesized expression (property value ∈ that concept
    set). A refinement is a semi-join of the focus set against the
    matching property assertions — the property table is
    terminology-sized and broadcasts, like the closure.
    ``R attr`` (reverse, r9) swaps the assertion roles: focus members
    that appear as the VALUE of an ``attr`` assertion whose source
    satisfies the value condition. ``[m..n] attr`` (cardinality, r9)
    left-joins the focus set against the per-concept count of matching
    assertions (zero included) and keeps m ≤ count ≤ n ('*' = no upper
    bound; ``[0..0]`` = must-not-have). Dotted walks ``focus . attr``
    (r9, '.' whitespace-delimited) project the attribute values of the
    focus set back into the system's concept universe.
    Attribute groups ``{ attr = value , ... }`` (r10) require all
    member refinements to hit assertions in the same relationship
    group — evaluated as (code, grp) inner joins across the members'
    matched-assertion frames, then a semi-join against the focus set.
    R4 ``concept.property[]`` carries no group ids, so assertions are
    self-grouped (``grp`` = array position): a multi-member group
    matches only when one assertion satisfies every member, per the
    SNOMED ECL rule for ungrouped relationship data.
    ``^ <refset>`` (member-of) treats a ValueSet as the reference set:
    the token is matched against ValueSet ``id`` OR ``url`` in
    ``valuesets`` (colon-free tokens only — use the resource id for
    http urls), that ValueSet is expanded once, and its codes under
    ``system`` become the set. Nested ``^`` inside the referenced
    ValueSet's own ECL resolves recursively to any depth (r11);
    ``_ecl_stack`` carries the id/url of every refset on the
    ^-expansion path as the cycle guard — a circular member-of chain
    (even one mixing id- and url-form references) raises ValueError.
    Also reachable through :func:`expand_valueset` via the standard
    SNOMED ValueSet idiom ``filter: [{property: 'constraint', op: '=',
    value: '<ecl>'}]`` (which forwards the full ValueSet table, so
    member-of works there too).
    """
    if _vs_cache is None:
        # top-level call: metadata execution mode + localized result,
        # same contract as expand_valueset (one trivial caller job,
        # repeated consumption never re-runs the ECL plan)
        _vs_cache = {"alias": {}, "exp": {}}
        with _metadata_execution(codesystems.sparkSession):
            return _localize(
                ecl_expand(
                    ecl, codesystems, closure, system,
                    valuesets=valuesets, _ecl_stack=_ecl_stack,
                    _vs_cache=_vs_cache,
                )
            )
    # the per-system derived frames (universe, closure slice, direct
    # edges, property assertions) are terminology-sized and consumed by
    # DOZENS of ev() nodes — and, via _vs_cache, by every nested
    # ^-refset expansion in the same top-level call. Localize each once
    # (one checkpoint job) so every consumer's plan carries a
    # checkpoint scan instead of re-analyzing the encode/explode
    # subplan over the wide nested CodeSystem schema — plan analysis,
    # not task work, is the overhead unit at metadata scale.
    _derived = _vs_cache.setdefault("derived", {})
    key = (id(codesystems), id(closure), system)

    def derived(name, build):
        got = _derived.get((name, key))
        if got is None:
            got = _localize(build())
            _derived[(name, key)] = got
        return got

    uni = derived(
        "uni",
        lambda: _all_concepts(codesystems)
        .filter(F.col("system") == system)
        .select("code"),
    )
    clo = derived(
        "clo",
        lambda: closure.filter(F.col("system") == system).select(
            "ancestor", "descendant"
        ),
    )

    def direct_edges() -> DataFrame:
        # <! children / >! parents (r10) need DIRECT is-a edges, which
        # the transitive closure cannot recover — derived lazily from
        # the same CodeSystem table (map-side explodes, no shuffle).
        # Deduped ONCE here so the focus branch can skip its per-node
        # distinct (a doc listing the same child twice must not
        # duplicate <! results).
        return derived(
            "edges",
            lambda: concept_edges(codesystems)
            .filter(F.col("system") == system)
            .select("parent", "child")
            .distinct(),
        )

    def props() -> DataFrame:
        return derived(
            "props",
            lambda: _concept_properties(codesystems)
            .filter(F.col("system") == system)
            .select("code", "prop", "pval", "grp"),
        )

    def attr_filtered(attr) -> DataFrame:
        """Property assertions whose attribute matches ``attr``: '*'
        keeps all, a token matches the property code literally, and an
        AST tuple (r11 attribute-hierarchy form) semi-joins the
        assertion table against the evaluated attribute-concept set —
        terminology-sized, broadcast like every other ECL frame."""
        p = props()
        if attr == "*":
            return p
        if isinstance(attr, tuple):
            names = ev(attr).select(F.col("code").alias("prop"))
            return p.join(F.broadcast(names), "prop", "left_semi")
        return p.filter(F.col("prop") == attr)

    def ev(node) -> DataFrame:
        kind = node[0]
        if kind == "any":
            return uni
        if kind == "anyprefixed":
            # prefixed wildcard (r11): the hierarchy read with an
            # unconstrained anchor — '<< *'/'>> *' are the universe,
            # '< *' is every concept with an ancestor (non-roots),
            # '> *' every concept with a descendant (non-leaves), and
            # the '!' forms are the direct-edge variants (identical
            # sets here, but evaluated off the edge frame per ECL
            # semantics). All terminology-sized projections.
            prefix = node[1]
            if prefix in ("<<", ">>"):
                return uni
            if prefix == "<!":
                return (
                    direct_edges()
                    .select(F.col("child").alias("code"))
                    .distinct()
                )
            if prefix == ">!":
                return (
                    direct_edges()
                    .select(F.col("parent").alias("code"))
                    .distinct()
                )
            if prefix == "<":
                return clo.select(
                    F.col("descendant").alias("code")
                ).distinct()
            return clo.select(F.col("ancestor").alias("code")).distinct()
        if kind == "focus":
            _, prefix, code = node
            anchor = uni.filter(F.col("code") == code)
            if prefix is None:
                return anchor
            if prefix == "<!":  # immediate children (r10)
                rel = direct_edges().filter(
                    F.col("parent") == code
                ).select(F.col("child").alias("code"))
            elif prefix == ">!":  # immediate parents (r10)
                rel = direct_edges().filter(
                    F.col("child") == code
                ).select(F.col("parent").alias("code"))
            elif prefix in ("<", "<<"):
                rel = clo.filter(F.col("ancestor") == code).select(
                    F.col("descendant").alias("code")
                )
            else:
                rel = clo.filter(F.col("descendant") == code).select(
                    F.col("ancestor").alias("code")
                )
            if prefix in ("<<", ">>"):
                rel = rel.unionByName(anchor)
            # no .distinct(): closure rows are unique per (ancestor,
            # descendant) by construction (concept_closure ends in
            # distinct), a fixed-anchor filter preserves that, the
            # direct-edge frame is a distinct explode, and the
            # -or-self union cannot duplicate because the closure is
            # NON-reflexive — removing the exchange here drops one
            # shuffle stage per prefix node (r10 qf23 stage audit)
            return rel
        if kind == "member":
            if valuesets is None:
                raise NotImplementedError(
                    "ECL member-of (^) needs the ValueSet table (pass "
                    "valuesets=; the refset token matches ValueSet "
                    "id/url)"
                )
            target = node[1]
            if target in _ecl_stack:
                raise ValueError(
                    "circular ECL member-of chain: refset "
                    f"{target!r} is already being expanded "
                    f"(stack: {sorted(_ecl_stack)})"
                )
            vs = valuesets.filter(
                (F.col("url") == target)
                | (
                    F.col("id") == target
                    if "id" in valuesets.columns
                    else F.lit(False)
                )
            )
            # the stack carries BOTH the id and the url of every refset
            # on the ^-expansion path, so an A-by-id → B → A-by-url
            # cycle is still caught (the match-rows are metadata —
            # one tiny collect per ^ node, memoized per token)
            memo = _vs_cache
            aliases = memo["alias"].get(target)
            if aliases is None:
                idcols = ["url"] + (["id"] if "id" in vs.columns else [])
                aliases = frozenset(
                    {
                        target,
                        *(
                            v
                            for row in vs.select(*idcols).distinct().collect()
                            for v in row
                            if v is not None
                        ),
                    }
                )
                memo["alias"][target] = aliases
            # memoize by the resolved alias set: a refset referenced k
            # times along a ^ chain/DAG (by id AND by url) expands once
            # per top-level expand call, LOCALIZED so every reuse is a
            # zero-job fold-able local relation instead of re-running
            # the expansion plan (r12; a completed expansion is acyclic
            # by construction, so reuse under a different stack is
            # sound — genuine cycles raise above before the cache is
            # consulted)
            exp = memo["exp"].get(aliases)
            if exp is None:
                exp = _localize(
                    expand_valueset(
                        vs,
                        codesystems,
                        closure=closure,
                        _ecl_stack=_ecl_stack | aliases,
                        # the refset's own ^ and compose references
                        # resolve against the FULL table, not just the
                        # target slice
                        _context=valuesets,
                        _vs_cache=memo,
                    )
                )
                memo["exp"][aliases] = exp
            return (
                exp.filter(F.col("system") == system)
                .select("code")
                .distinct()
            )
        if kind == "dot":
            # focus . attr → the attribute VALUES of the focus set that
            # are themselves concepts of the system (r9)
            base = ev(node[1])
            p = props()
            if node[2] != "*":
                p = p.filter(F.col("prop") == node[2])
            vals = (
                p.join(F.broadcast(base.select("code")), "code", "left_semi")
                .select(F.col("pval").alias("code"))
                .distinct()
            )
            return uni.join(F.broadcast(vals), "code", "left_semi")
        if kind == "refine":
            base = ev(node[1])

            def match_frame(rev, attr, op, vnode) -> DataFrame:
                """Property assertions satisfying one refinement's
                (attr, op, value) condition. Forward conditions test
                the assertion VALUE, reverse conditions its SOURCE
                concept — uniformly, INCLUDING numeric literals
                (r13, the last refinement refusal lifted): ``R attr
                op #n`` compares the SOURCE code cast to double, the
                exact symmetric extension of the forward semantics,
                and the focus still binds to the assertion's value.
                Numeric values ('#' literals, r12) compare the tested
                side cast to double (non-numeric → NULL → never
                matches, including under !=); concept values support
                = (equality / semi-join) and != (inequality /
                anti-join; NULL-valued assertions never match)."""
                p = attr_filtered(attr)
                if vnode[0] == "num":
                    # try_cast: ANSI mode would throw on non-numeric
                    # property values; NULL (= never matches) is the
                    # documented semantics
                    v = F.col("code" if rev else "pval").try_cast("double")
                    n = F.lit(vnode[1])
                    return p.filter(
                        {
                            "=": v == n, "!=": v != n,
                            "<": v < n, "<=": v <= n,
                            ">": v > n, ">=": v >= n,
                        }[op]
                    )
                side = "code" if rev else "pval"
                if vnode[0] == "focus" and vnode[1] is None:
                    # bare token: literal match (== membership in the
                    # one-code set when the property is a concept)
                    c = F.col(side)
                    return p.filter(
                        c == vnode[2]
                        if op == "="
                        else c.isNotNull() & (c != vnode[2])
                    )
                vals = ev(vnode).select(F.col("code").alias(side))
                if op == "=":
                    return p.join(F.broadcast(vals), side, "left_semi")
                return p.filter(F.col(side).isNotNull()).join(
                    F.broadcast(vals), side, "left_anti"
                )

            def grp_set(members) -> DataFrame:
                # attribute group (r10/r11): every member refinement
                # must be satisfied by an assertion in the SAME
                # relationship group. R4 properties are self-grouped
                # (grp = assertion index), so the group key IS the
                # assertion identity (a_src, a_grp); multi-member
                # groups then require ONE assertion to satisfy all
                # members (spec rule for ungrouped data). Members
                # join on (fcode, a_src, a_grp): forward members
                # have a_src == fcode (the pre-r11 (code, grp) join),
                # reverse members (r11) have fcode = the assertion's
                # VALUE, and within-group cardinality (r11) counts
                # matches per group — 0 or 1 under self-grouping, so
                # [0..0] keeps non-matching groups, [m..] with m ≥ 2
                # is unsatisfiable by construction. Reverse+card on
                # the same member (r12): a reverse member's group
                # universe is EVERY assertion in the system crossed
                # with every focus, so [0..0] becomes an
                # anti-constraint on the positive joint (or, with no
                # positive member at all, a per-focus excluded-group
                # count compared to the total group count — never a
                # materialized cross product), and [0..n≥1] is
                # vacuous under self-grouping (count ∈ {0, 1}).
                # Returns the matching FOCUS-CODE SET over the
                # universe (r12 — so groups compose under
                # refinement-level AND/OR).
                gkey = ["fcode", "a_src", "a_grp"]
                pos: list[DataFrame] = []
                anti: list[DataFrame] = []
                vacuous = 0
                for card, rev, attr, op, vnode in members:
                    m = match_frame(rev, attr, op, vnode)
                    member = m.select(
                        F.col("pval" if rev else "code").alias("fcode"),
                        F.col("code").alias("a_src"),
                        F.col("grp").alias("a_grp"),
                    ).distinct()
                    if card is None:
                        pos.append(member)
                        continue
                    lo, hi = card
                    if not rev:
                        # forward member: the group universe is the
                        # focus concept's own self-grouped assertions
                        pieces = []
                        if lo <= 1 and (hi is None or hi >= 1):
                            pieces.append(member)
                        if lo == 0:
                            all_groups = props().select(
                                F.col("code").alias("fcode"),
                                F.col("code").alias("a_src"),
                                F.col("grp").alias("a_grp"),
                            )
                            pieces.append(
                                all_groups.join(
                                    F.broadcast(member), gkey, "left_anti"
                                )
                            )
                        if not pieces:
                            member = member.limit(0)
                        else:
                            member = pieces[0]
                            for pc in pieces[1:]:
                                member = member.unionByName(pc)
                        pos.append(member)
                    elif lo >= 2:  # self-grouped count is 0 or 1
                        pos.append(member.limit(0))
                    elif lo == 1:  # ≡ no cardinality (hi ≥ lo ≥ 1)
                        pos.append(member)
                    elif hi == 0:
                        anti.append(member)
                    else:  # [0..*] / [0..n≥1]: count ≤ 1 always
                        vacuous += 1
                if pos:
                    joint = pos[0]
                    for mm in pos[1:]:
                        joint = joint.join(mm, gkey)
                    for am in anti:
                        joint = joint.join(
                            F.broadcast(am), gkey, "left_anti"
                        )
                    return joint.select(
                        F.col("fcode").alias("code")
                    ).distinct()
                if anti:
                    # only [0..0]-reverse members: a focus matches
                    # iff SOME group matches none of them — its
                    # excluded-group count stays below the total
                    # group count (terminology-sized aggregates)
                    bad = anti[0]
                    for am in anti[1:]:
                        bad = bad.unionByName(am)
                    badcnt = (
                        bad.distinct()
                        .groupBy(F.col("fcode").alias("code"))
                        .agg(F.count("*").alias("__bad"))
                    )
                    total = (
                        props().select("code", "grp").distinct().count()
                    )
                    return (
                        uni.join(F.broadcast(badcnt), "code", "left")
                        .filter(
                            F.coalesce(F.col("__bad"), F.lit(0))
                            < F.lit(total)
                        )
                        .select("code")
                    )
                if vacuous and props().limit(1).count() == 0:
                    # all members vacuous, but the existential still
                    # needs at least one group to exist
                    return uni.limit(0)
                return uni

            def leaf_set(card, rev, attr, op, vnode) -> DataFrame:
                m = match_frame(rev, attr, op, vnode)
                # R attr (r9): the focus member is the VALUE of an
                # assertion whose SOURCE satisfies the condition
                matched = (
                    m.select(F.col("pval").alias("code"))
                    if rev
                    else m.select("code")
                )
                if card is None:
                    return matched.distinct()
                # cardinality (r9): count matching ASSERTIONS per
                # focus concept, zero included — a left join against
                # the K-row count frame over the UNIVERSE, so [0..0]
                # (must-not-have) falls out of the same plan
                lo, hi = card
                cnts = matched.groupBy("code").agg(
                    F.count("*").alias("__n_match")
                )
                cond = F.col("__n_match") >= lo
                if hi is not None:
                    cond = cond & (F.col("__n_match") <= hi)
                return (
                    uni.join(F.broadcast(cnts), "code", "left")
                    .withColumn(
                        "__n_match", F.coalesce("__n_match", F.lit(0))
                    )
                    .filter(cond)
                    .select("code")
                )

            def ref_set(r) -> DataFrame:
                # refinement-set tree (r12): leaves are refinements or
                # groups, inner nodes AND (∩) / OR (∪) over the
                # universe-relative matching sets
                if r[0] == "rAND" or r[0] == "rOR":
                    out = ref_set(r[1][0])
                    for item in r[1][1:]:
                        nxt = ref_set(item)
                        if r[0] == "rAND":
                            out = out.join(
                                F.broadcast(nxt.distinct()),
                                "code",
                                "left_semi",
                            )
                        else:
                            out = out.unionByName(nxt)
                    return out
                if r[0] == "grp":
                    return grp_set(r[1])
                return leaf_set(*r)

            return base.join(
                F.broadcast(ref_set(node[2]).distinct()),
                "code",
                "left_semi",
            )
        a, b = ev(node[1]), ev(node[2])
        if kind == "AND":
            return a.join(b, "code", "left_semi")
        if kind == "OR":
            return a.unionByName(b).distinct()
        return a.join(b, "code", "left_anti")  # MINUS

    return ev(_ecl_parse(ecl)).distinct()


def _concept_properties(codesystems: DataFrame) -> DataFrame:
    """(system, code, prop, pval, grp) concept property assertions at
    every ``concept`` nesting depth — CodeSystem ``concept.property[]``
    (hl7.org/fhir/R4/codesystem.html), choice values coerced to one
    string column so filter predicates compare uniformly. ``grp`` is
    the assertion's position in its concept's property array — R4
    properties carry no relationship-group ids, so each assertion is
    SELF-GROUPED (the SNOMED ECL rule for ungrouped relationship data);
    ECL attribute groups match on (code, grp) equality. Empty frame
    when the encoded schema carries no properties. The built plan is
    memoized per input frame (:func:`_plan_memo`)."""
    return _plan_memo(
        codesystems,
        "concept_properties",
        lambda: _concept_properties_build(codesystems),
    )


def _concept_properties_build(codesystems: DataFrame) -> DataFrame:
    spark = codesystems.sparkSession
    empty = local_rows_df(
        spark, [], "system string, code string, prop string, pval string, grp int"
    )
    # NOTE: property may appear at ANY concept nesting depth (a child
    # concept can carry properties its parents lack — the encoded
    # schema is sparse per level), so the walk below checks per level;
    # only a missing `concept` column short-circuits.
    if not _element_fields(codesystems, "concept"):
        return empty

    def prop_rows(cur: DataFrame) -> DataFrame:
        p = cur.select(
            "system",
            F.col("c.code").alias("code"),
            F.posexplode(
                F.coalesce(F.col("c.property"), F.array())
            ).alias("grp", "p"),
        )
        vfields = [
            f for f in p.schema["p"].dataType.fieldNames() if f.startswith("value")
        ]
        pval = (
            F.coalesce(*[F.col(f"p.{f}").cast("string") for f in vfields])
            if vfields
            else F.lit(None).cast("string")
        )
        return p.select(
            "system",
            "code",
            F.col("p.code").alias("prop"),
            pval.alias("pval"),
            F.col("grp").cast("int").alias("grp"),
        )

    cur = codesystems.select(
        F.col("url").alias("system"), F.explode("concept").alias("c")
    )
    out = empty
    while True:
        fields = (
            cur.schema["c"].dataType.fieldNames()
            if isinstance(cur.schema["c"].dataType, T.StructType)
            else []
        )
        if "property" in fields:
            out = out.unionByName(prop_rows(cur))
        if "concept" not in fields:
            return out
        cur = cur.select(
            "system",
            F.explode(F.coalesce(F.col("c.concept"), F.array())).alias("c"),
        )


_HIERARCHY_OPS = ("is-a", "descendent-of", "is-not-a", "generalizes")


def _expand_filters(
    valuesets: DataFrame,
    codesystems: DataFrame | None,
    closure: DataFrame | None,
    refsets: DataFrame | None = None,
    per_include: bool = False,
    _ecl_stack: frozenset = frozenset(),
    _vs_cache: dict | None = None,
) -> DataFrame | None:
    """Resolve ``include.filter`` entries — ``None`` when no include
    carries any (hl7.org/fhir/R4/valueset.html#compose). Supported:

    - ``concept is-a`` (anchor + transitive descendants),
      ``descendent-of`` (descendants only), ``is-not-a`` (whole system
      minus anchor-or-descendants), ``generalizes`` (ancestors
      including the anchor — the closure read in the other direction)
      — all against ``closure``;
    - ``code regex`` / ``in`` / ``not-in`` — column predicates over the
      system's concept universe (regex is whole-value, per spec;
      ``in``/``not-in`` take comma-separated code lists);
    - ``<property> =`` / ``regex`` / ``exists`` (true|false) — against
      flattened ``concept.property[]`` assertions.

    Multiple filters inside one include AND together (spec semantics):
    a code qualifies only when every filter of its include matched it.
    ``code exists`` raises. Closure, concept universe, and
    property tables are all terminology-sized — broadcast; the filter
    list itself is K rows."""
    flt = (
        valuesets.select(
            F.col("url"), F.posexplode("compose.include").alias("inc_idx", "i")
        )
        .withColumn(
            "n_filters", F.size(F.coalesce(F.col("i.filter"), F.array()))
        )
        .filter(F.col("n_filters") > 0)
        .select(
            "url",
            "inc_idx",
            "n_filters",
            F.col("i.system").alias("system"),
            F.posexplode(F.coalesce(F.col("i.filter"), F.array())).alias(
                "f_idx", "f"
            ),
        )
        .select(
            "url",
            "inc_idx",
            "n_filters",
            "f_idx",
            "system",
            F.col("f.property").alias("property"),
            F.col("f.op").alias("op"),
            F.col("f.value").alias("value"),
        )
    )
    is_hier = (F.col("property") == "concept") & F.col("op").isin(
        *_HIERARCHY_OPS
    )
    is_code = (F.col("property") == "code") & (
        F.col("op").isin("regex", "in", "not-in")
        | (
            (F.col("op") == "exists")
            & F.col("value").isin("true", "false")
        )
    )
    is_ecl = (F.col("property") == "constraint") & (F.col("op") == "=")
    # exists requires the literal strings 'true'/'false' (FHIR boolean
    # rendering); anything else ('True', NULL, '1') must RAISE here —
    # if it slipped past as is_prop it would contribute no match part
    # and the include would silently expand empty.
    is_prop = (~F.col("property").isin("concept", "code")) & (
        F.col("op").isin("=", "regex")
        | (
            (F.col("op") == "exists")
            & F.col("value").isin("true", "false")
        )
    )
    # the filter LIST is metadata (K rows): ONE collect answers every
    # capability probe in plain Python (r12 — each probe used to be its
    # own limit(1).count() job, ~7 jobs per compose batch). The frame
    # is LOCALIZED first (r15): the collect materializes the lazy
    # single-partition checkpoint as part of its own job, and the
    # ~6 per-op branches below (fh/fg/fn/fc/fp/ecl) then plan against
    # a flat checkpoint scan instead of each re-analyzing the
    # double-posexplode compose chain.
    flt = _localize(flt)
    flt_rows = flt.collect()
    if not flt_rows:
        return None

    def _p_hier(r):
        return r["property"] == "concept" and r["op"] in _HIERARCHY_OPS

    def _p_code(r):
        return r["property"] == "code" and (
            r["op"] in ("regex", "in", "not-in")
            or (r["op"] == "exists" and r["value"] in ("true", "false"))
        )

    def _p_ecl(r):
        return r["property"] == "constraint" and r["op"] == "="

    def _p_prop(r):
        return r["property"] not in ("concept", "code", None) and (
            r["op"] in ("=", "regex")
            or (r["op"] == "exists" and r["value"] in ("true", "false"))
        )

    bad = [
        r
        for r in flt_rows
        if not (_p_hier(r) or _p_code(r) or _p_prop(r) or _p_ecl(r))
    ][:1]
    if bad:
        raise NotImplementedError(
            f"unsupported ValueSet filter: property={bad[0]['property']!r} "
            f"op={bad[0]['op']!r} value={bad[0]['value']!r} "
            "(supported: concept is-a / descendent-of "
            "/ is-not-a / generalizes; code regex / in / not-in / exists; "
            "<property> = / regex / exists with value 'true'|'false'; "
            "constraint = <ECL subset>)"
        )
    key = ["url", "inc_idx", "n_filters", "f_idx", "system"]
    need_universe = any(
        _p_code(r)
        or r["op"] == "is-not-a"
        or (r["op"] == "exists" and r["value"] == "false")
        for r in flt_rows
    )
    if need_universe and codesystems is None:
        raise NotImplementedError(
            "code/is-not-a/exists-false ValueSet filters need the "
            "codesystems table to enumerate the system's concept universe"
        )
    if codesystems is None and any(_p_prop(r) for r in flt_rows):
        raise NotImplementedError(
            "concept-property ValueSet filters need the codesystems "
            "table (concept.property[] assertions live there)"
        )
    need_closure = any(_p_hier(r) for r in flt_rows)
    if need_closure and closure is None:
        raise NotImplementedError(
            "hierarchical ValueSet filters need a concept closure — "
            "build one with concept_closure(concept_edges(codesystems)) "
            "and pass closure="
        )
    # ECL constraint filters: each expression string is evaluated
    # distributedly by ecl_expand; the resulting code frames join the
    # same per-filter AND machinery as every other part.
    ecl_rows = [r for r in flt_rows if _p_ecl(r)]
    if ecl_rows and (codesystems is None or closure is None):
        raise NotImplementedError(
            "constraint (ECL) ValueSet filters need both the "
            "codesystems table and a concept closure — pass "
            "codesystems= and closure="
        )
    uni = _all_concepts(codesystems) if codesystems is not None else None
    parts = []
    if need_closure:
        clo = closure.select(
            F.col("system").alias("c_system"),
            F.col("ancestor").alias("c_anc"),
            F.col("descendant").alias("c_desc"),
        )
        fh = flt.filter(F.col("op").isin("is-a", "descendent-of"))
        descendants = fh.join(
            F.broadcast(clo),
            (F.col("system") == F.col("c_system"))
            & (F.col("value") == F.col("c_anc")),
        ).select(*key, F.col("c_desc").alias("code"))
        anchors = fh.filter(F.col("op") == "is-a").select(
            *key, F.col("value").alias("code")
        )
        parts += [descendants, anchors]
        # generalizes: concepts the anchor is-a — the closure read in
        # the ANCESTOR direction, plus the anchor itself (FHIR
        # valueset-filter-operator: "including the provided concept")
        fg = flt.filter(F.col("op") == "generalizes")
        ancestors = fg.join(
            F.broadcast(clo),
            (F.col("system") == F.col("c_system"))
            & (F.col("value") == F.col("c_desc")),
        ).select(*key, F.col("c_anc").alias("code"))
        parts += [
            ancestors,
            fg.select(*key, F.col("value").alias("code")),
        ]
        fn = flt.filter(F.col("op") == "is-not-a")
        if need_universe and any(r["op"] == "is-not-a" for r in flt_rows):
            excluded = fn.join(
                F.broadcast(clo),
                (F.col("system") == F.col("c_system"))
                & (F.col("value") == F.col("c_anc")),
            ).select(*key, F.col("c_desc").alias("code")).unionByName(
                fn.select(*key, F.col("value").alias("code"))
            )
            in_system = fn.join(
                F.broadcast(uni.select("system", "code")), "system"
            ).select(*key, "code")
            parts.append(
                in_system.join(
                    F.broadcast(excluded), key + ["code"], "left_anti"
                )
            )
    if need_universe:
        fc = flt.filter(is_code).join(
            F.broadcast(uni.select("system", "code")), "system"
        )
        whole_value = F.concat(F.lit("^(?:"), F.col("value"), F.lit(")$"))
        in_list = F.array_contains(F.split("value", ","), F.col("code"))
        parts.append(
            fc.filter(
                F.when(
                    F.col("op") == "regex",
                    F.regexp_like(F.col("code"), whole_value),
                )
                .when(F.col("op") == "in", in_list)
                # every concept HAS a code, so `code exists true` is the
                # whole system and `exists false` is empty
                .when(F.col("op") == "exists", F.col("value") == "true")
                .otherwise(~in_list)
            ).select(*key, "code")
        )
    fp = flt.filter(is_prop)
    if codesystems is not None and any(_p_prop(r) for r in flt_rows):
        props = _concept_properties(codesystems)
        fv = fp.filter(F.col("op").isin("=", "regex"))
        whole_value = F.concat(F.lit("^(?:"), F.col("value"), F.lit(")$"))
        parts.append(
            fv.join(
                F.broadcast(props),
                (fv["system"] == props["system"])
                & (fv["property"] == props["prop"]),
            )
            .filter(
                F.when(
                    F.col("op") == "=", F.col("pval") == F.col("value")
                ).otherwise(F.regexp_like(F.col("pval"), whole_value))
            )
            .select(fv["url"], "inc_idx", "n_filters", "f_idx", fv["system"], "code")
        )
        fe = fp.filter(F.col("op") == "exists")
        if any(_p_prop(r) and r["op"] == "exists" for r in flt_rows):

            def with_prop(side):
                return side.join(
                    F.broadcast(props),
                    (side["system"] == props["system"])
                    & (side["property"] == props["prop"]),
                ).select(
                    side["url"],
                    "inc_idx",
                    "n_filters",
                    "f_idx",
                    side["system"],
                    "code",
                )

            parts.append(with_prop(fe.filter(F.col("value") == "true")))
            fe_false = fe.filter(F.col("value") == "false")
            if need_universe and any(
                _p_prop(r) and r["op"] == "exists" and r["value"] == "false"
                for r in flt_rows
            ):
                in_system = fe_false.join(
                    F.broadcast(uni.select("system", "code")), "system"
                ).select(*key, "code")
                parts.append(
                    in_system.join(
                        F.broadcast(with_prop(fe_false)),
                        key + ["code"],
                        "left_anti",
                    )
                )
    flt_types = dict(flt.dtypes)

    def _kl(col, val):  # literal cast to flt's own dtype so unions line up
        return F.lit(val).cast(flt_types[col]).alias(col)

    for r in ecl_rows:
        parts.append(
            ecl_expand(
                r["value"], codesystems, closure, r["system"],
                valuesets=refsets, _ecl_stack=_ecl_stack,
                _vs_cache=_vs_cache,
            ).select(
                _kl("url", r["url"]),
                _kl("inc_idx", r["inc_idx"]),
                _kl("n_filters", r["n_filters"]),
                _kl("f_idx", r["f_idx"]),
                _kl("system", r["system"]),
                "code",
            )
        )
    matches = parts[0]
    for p in parts[1:]:
        matches = matches.unionByName(p)
    # AND across the filters of one include: keep codes every filter hit
    out_key = (
        ["url", "inc_idx", "system"] if per_include else ["url", "system"]
    )
    members = (
        matches.distinct()
        .groupBy("url", "inc_idx", "n_filters", "system", "code")
        .agg(F.count_distinct("f_idx").alias("__nf"))
        .filter(F.col("__nf") == F.col("n_filters"))
        .select(*out_key, "code")
        .distinct()
    )
    if codesystems is not None:
        disp = _all_concepts(codesystems).withColumnRenamed("system", "d_system")
        return members.join(
            F.broadcast(disp),
            (F.col("system") == F.col("d_system")) & (members["code"] == disp["code"]),
            "left",
        ).select(*out_key, members["code"].alias("code"), "display")
    return members.withColumn("display", F.lit(None).cast("string"))


def translate_codes(
    df: DataFrame,
    conceptmaps: DataFrame,
    system_col: str,
    code_col: str,
    map_url: str | None = None,
    reverse: bool = False,
    _nested: bool = False,
) -> DataFrame:
    """Translate (system, code) pairs through ConceptMap
    group[].element[].target[] — adds ``target_system``,
    ``target_code``, ``target_display``, ``equivalence`` (NULL when no
    mapping exists; rows multiply when a code maps to several targets).

    ``group.unmapped`` (hl7.org/fhir/R4/conceptmap.html, r9) applies to
    rows whose system matches a group's source but whose code has no
    element mapping — detected from the join itself (a ``__matched``
    witness on the flattened mapping), NOT from ``target_code``
    nullity: ``target.code`` is optional in R4 (equivalence
    ``unmatched``/``disjoint`` targets are codeless), and such
    explicitly-mapped rows keep their stated equivalence instead of
    falling into the unmapped fallback. Mode ``provided`` echoes the source code into
    ``target_code`` (target_system from the group), ``fixed``
    substitutes the rule's code/display, ``other-map`` re-translates
    the leftover rows through the referenced ConceptMap — resolved
    DEPTH-1 (the referenced map's own unmapped rules are not applied;
    a self-referencing map therefore terminates). ``equivalence``
    stays NULL for unmapped-rule hits, distinguishing them from
    element matches. Groups are independent per the spec, so a source
    system appearing in several groups applies each group's rule.

    The flattened mapping and unmapped-rule tables broadcast; the fact
    table is never shuffled (other-map adds one broadcast join per
    referenced map — map COUNT is metadata-sized). ``map_url``
    restricts to one ConceptMap.

    ``reverse=True`` is the $translate ``reverse`` parameter
    (hl7.org/fhir/R4/conceptmap-operation-translate.html): facts are
    matched against (group.target, element.target.code) and the
    ELEMENT side comes back as the translation — "what might translate
    TO this code". Equivalence is reported AS STATED (the forward
    source→target relationship, per the operation's definition — a
    'wider' forward mapping means the returned source is narrower than
    the fact code). ``group.unmapped`` is a forward-direction concept
    and does not apply; codeless targets (equivalence
    unmatched/disjoint) cannot be matched by code and are naturally
    absent. Same broadcast shape, roles swapped.
    """
    maps = conceptmaps
    if map_url is not None:
        maps = maps.filter(F.col("url") == map_url)
    # sparse-schema discipline: EVERY optional ConceptMap element may be
    # absent as a column — a map whose targets are all codeless
    # (equivalence unmatched/disjoint) encodes NO target.code field at
    # all (r10 differential fuzz catch)
    tfields = _element_fields(maps, "group", "element", "target")

    def tpick(name):
        return (
            F.col(f"tgt.{name}")
            if name in tfields
            else F.lit(None).cast("string")
        )

    if reverse:
        efields = _element_fields(maps, "group", "element")
        flat_r = (
            maps.select(F.explode("group").alias("g"))
            .select(
                F.col("g.target").alias("__src_system"),
                F.col("g.source").alias("target_system"),
                F.explode("g.element").alias("el"),
            )
            .select(
                "__src_system",
                "target_system",
                (
                    F.col("el.code")
                    if "code" in efields
                    else F.lit(None).cast("string")
                ).alias("target_code"),
                (
                    F.col("el.display")
                    if "display" in efields
                    else F.lit(None).cast("string")
                ).alias("target_display"),
                F.explode("el.target").alias("tgt"),
            )
            .select(
                "__src_system",
                tpick("code").alias("__src_code"),
                "target_system",
                "target_code",
                "target_display",
                tpick("equivalence").alias("equivalence"),
            )
            .filter(F.col("__src_code").isNotNull())
        )
        return df.join(
            F.broadcast(flat_r),
            (F.col(system_col) == F.col("__src_system"))
            & (F.col(code_col) == F.col("__src_code")),
            "left",
        ).drop("__src_system", "__src_code")
    flat = (
        maps.select(F.explode("group").alias("g"))
        .select(
            F.col("g.source").alias("__src_system"),
            F.col("g.target").alias("target_system"),
            F.explode("g.element").alias("el"),
        )
        .select(
            "__src_system",
            "target_system",
            (
                F.col("el.code")
                if "code" in _element_fields(maps, "group", "element")
                else F.lit(None).cast("string")
            ).alias("__src_code"),
            F.explode("el.target").alias("tgt"),
        )
        .select(
            "__src_system",
            "__src_code",
            "target_system",
            tpick("code").alias("target_code"),
            tpick("display").alias("target_display"),
            tpick("equivalence").alias("equivalence"),
            # join-match witness: unmapped rules apply only to rows with
            # NO element entry (spec), and target.code is OPTIONAL
            # (equivalence unmatched/disjoint ships codeless targets) —
            # so matched-ness must come from the join, not target_code
            # nullity (round-9 ADVICE, medium).
            F.lit(True).alias("__matched"),
        )
    )
    out = df.join(
        F.broadcast(flat),
        (F.col(system_col) == F.col("__src_system"))
        & (F.col(code_col) == F.col("__src_code")),
        "left",
    ).drop("__src_system", "__src_code")
    tgt_cols = ["target_system", "target_code", "target_display", "equivalence"]
    if _nested or "unmapped" not in _element_fields(maps, "group"):
        return out.drop("__matched")
    ufields = _element_fields(maps, "group", "unmapped")

    def upick(name):
        return (
            F.col(f"g.unmapped.{name}")
            if name in ufields
            else F.lit(None).cast("string")
        )

    un = (
        maps.select(F.explode("group").alias("g"))
        .select(
            F.col("g.source").alias("__u_system"),
            F.col("g.target").alias("__u_tsystem"),
            upick("mode").alias("__u_mode"),
            upick("code").alias("__u_code"),
            upick("display").alias("__u_display"),
            upick("url").alias("__u_url"),
        )
        .filter(F.col("__u_mode").isNotNull())
    )
    u_cols = [
        "__u_system", "__u_tsystem", "__u_mode", "__u_code",
        "__u_display", "__u_url",
    ]
    mapped = out.filter(F.col("__matched").isNotNull()).drop("__matched")
    left = out.filter(F.col("__matched").isNull()).drop("__matched").join(
        F.broadcast(un), F.col(system_col) == F.col("__u_system"), "left"
    )
    base_cols = [c for c in out.columns if c not in tgt_cols and c != "__matched"]
    parts = [mapped, left.filter(F.col("__u_mode").isNull()).drop(*u_cols)]
    inline = left.filter(F.col("__u_mode").isin("provided", "fixed"))
    parts.append(
        inline.select(
            *base_cols,
            F.col("__u_tsystem").alias("target_system"),
            F.when(
                F.col("__u_mode") == "provided", F.col(code_col)
            ).otherwise(F.col("__u_code")).alias("target_code"),
            F.when(
                F.col("__u_mode") == "fixed", F.col("__u_display")
            ).alias("target_display"),
            F.lit(None).cast("string").alias("equivalence"),
        )
    )
    other = left.filter(F.col("__u_mode") == "other-map")
    # referenced-map urls are ConceptMap METADATA (K rows), collected to
    # drive one broadcast re-translate per map — depth-1 by _nested
    urls = [
        r[0]
        for r in other.select("__u_url").distinct().collect()
        if r[0] is not None
    ]
    for u in urls:
        sub = other.filter(F.col("__u_url") == u).drop(*u_cols, *tgt_cols)
        parts.append(
            translate_codes(
                sub, conceptmaps, system_col, code_col,
                map_url=u, _nested=True,
            )
        )
    parts.append(
        other.filter(F.col("__u_url").isNull()).drop(*u_cols)
    )
    res = parts[0]
    for prt in parts[1:]:
        res = res.unionByName(prt)
    return res


def validate_codes(
    df: DataFrame,
    valuesets: DataFrame,
    system_col: str,
    code_col: str,
    vs_url: str,
    codesystems: DataFrame | None = None,
    closure: DataFrame | None = None,
) -> DataFrame:
    """FHIR ``ValueSet/$validate-code`` as a batch operation
    (hl7.org/fhir/R4/valueset-operation-validate-code.html): for every
    (system, code) row of ``df``, is the code a member of the ValueSet
    at ``vs_url``? Adds ``in_valueset`` (boolean, never NULL) and the
    member ``display`` (NULL for non-members) — the set-membership
    twin of :func:`translate_codes`.

    The ValueSet is expanded ONCE via :func:`expand_valueset` (so every
    compose feature that expansion supports — filters, hierarchy,
    ECL constraints, excludes — is honored) and the expansion, a
    terminology-sized frame, broadcasts against the fact table: the
    data is never shuffled, exactly how a 100 TB observation table
    wants its codes checked.
    """
    vs = valuesets.filter(F.col("url") == vs_url)
    members = (
        expand_valueset(vs, codesystems, closure=closure)
        .select(
            F.col("system").alias("__m_system"),
            F.col("code").alias("__m_code"),
            F.col("display").alias("display"),
        )
        .dropDuplicates(["__m_system", "__m_code"])
        .withColumn("in_valueset", F.lit(True))
    )
    return (
        df.join(
            F.broadcast(members),
            (F.col(system_col) == F.col("__m_system"))
            & (F.col(code_col) == F.col("__m_code")),
            "left",
        )
        .withColumn(
            "in_valueset", F.coalesce(F.col("in_valueset"), F.lit(False))
        )
        .drop("__m_system", "__m_code")
    )


def subsumes(
    pairs: DataFrame,
    closure: DataFrame,
    system: str,
    code_a_col: str = "code_a",
    code_b_col: str = "code_b",
) -> DataFrame:
    """CodeSystem ``$subsumes`` (hl7.org/fhir/R4/codesystem-operation-
    subsumes.html) evaluated in batch: for each (codeA, codeB) pair,
    the standard outcome code — ``equivalent`` (same concept),
    ``subsumes`` (A is an ancestor of B), ``subsumed-by`` (B is an
    ancestor of A), ``not-subsumed`` — against the transitive concept
    :func:`concept_closure` of one system.

    Plan: the fact-side pair table is never shuffled — two broadcast
    left joins against the (ancestor, descendant) closure (one per
    direction) and a pure map to the outcome. This is the set-scale
    version of the one-pair REST operation: classify a billion pairs
    in one pass.

    Output: the input columns + ``outcome``. Pairs with a NULL code
    yield a NULL outcome (unknown codes that never appear in the
    closure correctly fall out as ``not-subsumed``; the spec leaves
    unknown-code behavior to the server — callers wanting a hard
    error can anti-join :func:`_all_concepts` first).
    """
    clo = closure.filter(F.col("system") == system).select(
        F.col("ancestor").alias("__anc"), F.col("descendant").alias("__desc")
    )
    a_over_b = clo.select(
        F.col("__anc").alias("__sa"),
        F.col("__desc").alias("__sb"),
        F.lit(True).alias("__a_subsumes_b"),
    )
    b_over_a = clo.select(
        F.col("__desc").alias("__sa"),
        F.col("__anc").alias("__sb"),
        F.lit(True).alias("__b_subsumes_a"),
    )
    ca, cb = F.col(code_a_col), F.col(code_b_col)
    out = (
        pairs.join(
            F.broadcast(a_over_b),
            (ca == F.col("__sa")) & (cb == F.col("__sb")),
            "left",
        )
        .drop("__sa", "__sb")
        .join(
            F.broadcast(b_over_a),
            (ca == F.col("__sa")) & (cb == F.col("__sb")),
            "left",
        )
        .drop("__sa", "__sb")
    )
    outcome = (
        F.when(ca.isNull() | cb.isNull(), F.lit(None).cast("string"))
        .when(ca == cb, F.lit("equivalent"))
        .when(F.col("__a_subsumes_b").isNotNull(), F.lit("subsumes"))
        .when(F.col("__b_subsumes_a").isNotNull(), F.lit("subsumed-by"))
        .otherwise(F.lit("not-subsumed"))
    )
    return out.withColumn("outcome", outcome).drop(
        "__a_subsumes_b", "__b_subsumes_a"
    )


def lookup_codes(
    df: DataFrame,
    codesystems: DataFrame,
    system_col: str,
    code_col: str,
) -> DataFrame:
    """Batch CodeSystem ``$lookup``
    (hl7.org/fhir/R4/codesystem-operation-lookup.html): for each fact
    (system, code) pair, the concept's display and its property
    assertions — the "what IS this code" operation a terminology
    server answers one code at a time, here as one broadcast join over
    the whole fact column. ``found`` is a join-match witness (the
    translate_codes r9 lesson: never infer matching from a nullable
    payload column — display is optional). Rows MULTIPLY per property
    assertion (long form, the oracle-checkable shape); concepts
    without properties keep one row with NULL prop/pval, unknown codes
    one row with found=false.

    The concept and property frames are terminology-sized broadcasts;
    the fact table never shuffles.

    Output: df columns + (found, display, prop, pval) — the fact table
    must not already carry columns with those four names (rename
    before calling; a collision would be silently ambiguous).
    """
    concepts = _all_concepts(codesystems).select(
        F.col("system").alias("__l_system"),
        F.col("code").alias("__l_code"),
        F.col("display").alias("display"),
        F.lit(True).alias("found"),
    )
    out = df.join(
        F.broadcast(concepts),
        (F.col(system_col) == F.col("__l_system"))
        & (F.col(code_col) == F.col("__l_code")),
        "left",
    ).drop("__l_system", "__l_code")
    props = _concept_properties(codesystems).select(
        F.col("system").alias("__p_system"),
        F.col("code").alias("__p_code"),
        "prop",
        "pval",
    )
    out = out.join(
        F.broadcast(props),
        (F.col(system_col) == F.col("__p_system"))
        & (F.col(code_col) == F.col("__p_code"))
        & F.col("found").isNotNull(),
        "left",
    ).drop("__p_system", "__p_code")
    return out.withColumn("found", F.coalesce("found", F.lit(False)))
