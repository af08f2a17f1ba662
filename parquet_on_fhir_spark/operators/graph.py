"""Connected components over an edge list, and other graph operators.

The missing piece after any LSH near-dup pass: MinHash/SimHash emit
*pairs*, but dedup must keep one survivor per transitive *cluster*
(a~b, b~c => drop two of {a,b,c}).  A pair graph of at most
``_BROADCAST_MAX_ROWS`` edges is collected once and labelled by
union-find on the driver — q108's 142-node graph in one job instead of
two fixpoint rounds of six.  At 100 TB the pair graph does not fit on
the driver, so bigger graphs cluster in a distributed fixpoint.

Algorithm of the distributed path: min-label propagation with pointer
jumping — what GraphX's ``connectedComponents`` (Pregel) runs,
expressed as DataFrame joins. Each round:

1. propagate: ``label(v) <- min(label(v), min over neighbours u of
   label(u))`` — one edge-to-label join plus a groupBy-min, both
   shuffling only ``(node, label)`` pairs (16 bytes/row);
2. pointer-jump ×2: ``label(v) <- label(label(v))`` — self-joins on the
   label table that compress discovered label trees;
3. convergence: labels only ever DECREASE, so ``sum(label)`` is a
   monotone witness — one scalar action per round, no diff join.

Honest complexity: the min label still travels at most a couple of
graph hops per round, so rounds scale with component DIAMETER (pointer
jumping compresses the label forest, not the graph).  Near-dup cluster
graphs — the use this module exists for — are band-collision cliques
bridged by shared documents: diameter is single-digit and 3-5 rounds
converge (q108's oracle equality is the proof).  For adversarial
diameters (long chains) use :func:`connected_components_contract` —
the large-star/small-star edge-contraction recursion (Kiveris et al.,
ACM SoCC 2014), O(log² n) rounds independent of diameter.  Both
variants RAISE on non-convergence rather than returning a
partially-propagated labelling.

Every convergence-tested loop — both component variants and
:func:`k_core` here, the is-a closure in fhir/terminology.py — runs
through :func:`fixpoint`, which truncates lineage once per round (lazy
localCheckpoint) so round k's plan does not replay rounds 1..k-1. It is
the one checkpoint seam: on a real cluster with a checkpoint dir
configured, ``df.checkpoint()`` there would be the durable choice.
"""

from __future__ import annotations

import logging
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, NumericType, StructField, StructType

from parquet_on_fhir_spark.session import local_rows_df

_log = logging.getLogger(__name__)


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    witness: Sequence[Column],
    max_rounds: int,
    name: str,
    prev: tuple | None = None,
) -> tuple[DataFrame, int]:
    """Apply ``step(df, round)`` from ``seed`` until two consecutive
    rounds give the same witness; return ``(frame, row count)``.

    Each round cuts lineage with a LAZY localCheckpoint (self-join
    rounds would otherwise grow the plan exponentially) and runs ONE
    aggregate action — ``count(*)`` plus the caller's ``witness``
    aggregates — which also materializes the checkpoint: one job per
    round, where an eager checkpoint plus a count pays two. The count
    is always in the tuple, so an empty frame (NULL sums) converges.
    ``prev`` is the seed's witness when the caller already knows it,
    letting the first round converge. Logs one ``debug`` line per round.

    Raises ``RuntimeError`` after ``max_rounds`` rounds without a
    repeat: a partial result would silently under-merge clusters or
    under-close a hierarchy.
    """
    df = seed
    for rnd in range(max_rounds):
        df = step(df, rnd).localCheckpoint(eager=False)
        sig = tuple(df.agg(F.count("*"), *witness).collect()[0])
        _log.debug("%s round %d: rows=%d witness=%s", name, rnd, sig[0], sig[1:])
        if sig == prev:
            return df, sig[0]
        prev = sig
    raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")


#: pointer-jump schedule: rounds BEFORE this index run plain min-label
#: propagation (zero extra joins); later rounds add this many
#: label(label(v)) jumps. Near-dup cluster graphs (single-digit
#: diameter — the module's primary workload) converge before jumping
#: ever starts, so they no longer pay 2 self-joins per round for an
#: acceleration they cannot use (r16 A/B on q108: 3.28 s with
#: unconditional ×2 jumps vs 1.81 s without; the fixpoint label set is
#: identical either way — jumping only changes HOW FAST labels settle).
#: Deep graphs still get the ~2×-per-round compression once the round
#: count shows the diameter is real.
_PTR_JUMP_START = 3
_PTR_JUMPS = 2

#: node/edge count under which the small-graph strategies engage
#: (broadcast rank/contribution tables in pagerank, adjacency-
#: intersection triangle counting, driver-side union-find in
#: connected_components): tens of MB of broadcast or driver memory at
#: most. For connected components the driver path wins at every size up
#: to the gate: on random graphs (as many nodes as edges) at local[4] on
#: 4 vCPUs it took 0.5-0.6 s / 1.2-1.5 s / 9-15 s for 10k / 100k / 1M
#: edges against 15-17 s / 18-22 s / 123-164 s for the fixpoint, with
#: the Python driver peaking at about 0.5 GB at 1M.
#: Module constant so tests can force the big-graph branches on small
#: fixtures and assert both strategies agree.
_BROADCAST_MAX_ROWS = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component id is the smallest node id reachable from the node.
    Node ids must be numeric: a ``TypeError`` names any other id column
    before a job starts.  A NULL endpoint is a node labelled NULL that
    joins no component.  Nodes with no edges are the caller's to union
    in (their component is themselves).

    Graphs of at most ``_BROADCAST_MAX_ROWS`` edges are labelled on the
    driver (see :func:`_components`); bigger ones run the distributed
    fixpoint, which raises ``RuntimeError`` if the labelling has not
    converged within ``max_iter`` rounds (rounds scale with component
    diameter — see module docstring); a partially-propagated result
    would silently under-merge clusters, which for dedup means silently
    under-deleting.  ``max_iter`` applies only to that path.
    """
    return _components(edges, src, dst, max_iter)[0]


def _components(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> tuple[DataFrame, int]:
    """:func:`connected_components` plus its row count, which the
    label computation already paid for — consumers size a broadcast
    join by it without a fresh count action (guide §3.1: checkpointed
    frames have no stats, so AQE would plan a sort-merge join)."""
    ends = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    for col, field in zip((src, dst), ends.schema.fields):
        if not isinstance(field.dataType, NumericType):
            raise TypeError(
                f"connected_components: node id column {col!r} is "
                f"{field.dataType.simpleString()}, not numeric"
            )
    # Materialize the (possibly expensive — LSH pipelines) edge input
    # ONCE, with its count in the same job: both paths below read the
    # checkpoint, so neither replays the upstream plan (a lazy cut
    # WITHOUT this count let the first round's witness job replay it in
    # concurrent AQE stages — r16 A/B on q108: 3.47 s vs 2.78 s).
    ends = ends.localCheckpoint(eager=False)
    n_edges = ends.count()
    # Node set from ALL endpoints (a self-loop-only node is still a node);
    # self-loops are then useless for propagation and dropped.
    nodes = ends.select("u").unionAll(ends.select(F.col("v").alias("u"))).distinct()
    if n_edges <= _BROADCAST_MAX_ROWS:
        return _driver_components(ends, nodes.schema["u"].dataType, n_edges)
    bidir = ends.filter(F.col("u") != F.col("v"))
    bidir = bidir.unionAll(bidir.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def propagate(labels: DataFrame, rnd: int) -> DataFrame:
        # 1. propagate the neighbour minimum into each node's label.
        prop = bidir.join(labels, bidir["u"] == labels["node"]).select(
            F.col("v").alias("node"), F.col("comp")
        )
        new = (
            labels.unionAll(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # 2. pointer jumping (ADAPTIVE, r16): follow the label two hops
        #    (comp is itself a node id, so look its label up in the
        #    same table). Each hop halves label-tree heights — but each
        #    is also a full self-join (2 exchanges) per round, pure
        #    waste on the shallow graphs this operator mostly sees.
        #    So the first _PTR_JUMP_START rounds propagate only; if the
        #    fixpoint still has not landed (real diameter), jumping
        #    switches on for every later round.
        n_jumps = _PTR_JUMPS if rnd >= _PTR_JUMP_START else 0
        for _hop in range(n_jumps):
            hop = new.select(
                F.col("node").alias("c_node"), F.col("comp").alias("c_comp")
            )
            new = (
                new.join(hop, new["comp"] == hop["c_node"], "left")
                .select("node", F.coalesce("c_comp", "comp").alias("comp"))
            )
        return new

    # 3. monotone convergence witness (labels never increase): the
    #    label sum. decimal(38,0): with wide node ids (e.g. 60-bit
    #    md5_60) a plain long sum can overflow and raise under ANSI mode.
    labels, rows = fixpoint(
        nodes.select(F.col("u").alias("node"), F.col("u").alias("comp")),
        propagate,
        [F.sum(F.col("comp").cast("decimal(38,0)"))],
        max_iter,
        "connected_components",
    )
    return labels.select("node", F.col("comp").alias("component")), rows


def _driver_components(
    ends: DataFrame, id_type: DataType, n_edges: int
) -> tuple[DataFrame, int]:
    """Label a small edge list with union-find on the driver: one
    ``collect()`` instead of a fixpoint of ~6 jobs per round (q108's
    142-node pair graph: 18 construction jobs -> 8). Every root is its
    component's smallest id, so the labels equal the fixpoint's. The
    labels go back as a ``LocalRelation`` (``local_rows_df``)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in ends.collect():
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        if u is not None and v is not None:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    _log.debug(
        "connected_components on the driver: edges=%d nodes=%d",
        n_edges,
        len(parent),
    )
    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    labels = [(n, find(n)) for n in parent]  # NULL is its own root
    return local_rows_df(ends.sparkSession, labels, schema), len(labels)


def _canonical(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (big, small) orientation, no
    self-loops, deduped."""
    big = F.greatest(F.col("a"), F.col("b"))
    small = F.least(F.col("a"), F.col("b"))
    return (
        e.select(big.alias("a"), small.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components_contract(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components by alternating large-star/small-star edge
    CONTRACTION (Kiveris et al., "Connected Components in MapReduce and
    Beyond", ACM SoCC 2014): unlike label propagation
    (:func:`connected_components`), the edge set itself is rewritten
    toward a union of stars, converging in O(log² n) rounds regardless
    of component DIAMETER — the variant for adversarial graphs (long
    chains); for single-digit-diameter near-dup cluster graphs the
    label-propagation version does fewer, cheaper rounds.

    Per round: two phases, each a groupBy-min over (node, neighbour)
    pairs plus an equi-join — 16-byte rows, same shuffle discipline.
    Convergence witness: the canonical edge set's (count, hash-sum) pair
    is compared across rounds; stars are a fixpoint of both phases.
    Raises on a blown round budget like the label version.
    """
    # one materialization of the edge input; nodes and the canonical
    # edge set both read the checkpoint (see the label variant)
    ends = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint()
    nodes = (
        ends.select(F.col("a").alias("node"))
        .unionAll(ends.select(F.col("b").alias("node")))
        .distinct()
    )
    e = _canonical(ends)

    def bidir(cano: DataFrame) -> DataFrame:
        return cano.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            cano.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def large_star(cano: DataFrame) -> DataFrame:
        nb = bidir(cano)
        mins = nb.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("u"), F.col("mv"))
        return _canonical(
            nb.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), m.alias("b"))
        )

    def small_star(cano: DataFrame) -> DataFrame:
        # strictly-smaller neighbours of each node (canonical a>b IS that
        # orientation), their minimum, and the node itself all connect to m
        mins = cano.groupBy("a").agg(F.min("b").alias("m"))
        spokes = (
            cano.join(mins, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        centers = mins.select(F.col("a"), F.col("m").alias("b"))
        return _canonical(spokes.unionAll(centers))

    e, _ = fixpoint(
        e,
        lambda cano, _rnd: small_star(large_star(cano)),
        # decimal sum: order-independent witness immune to ANSI long
        # overflow (xxhash64 values span the full int64 range)
        [F.sum(F.xxhash64("a", "b").cast("decimal(38,0)"))],
        max_iter,
        "connected_components_contract",
    )
    # fixpoint is a union of stars: every non-root appears as `a` exactly
    # once with b = its root; roots (and self-loop-only nodes) label
    # themselves
    roots = e.select(F.col("a").alias("node"), F.col("b").alias("comp"))
    return (
        nodes.join(roots, "node", "left")
        .select("node", F.coalesce("comp", F.col("node")).alias("component"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list:
    ``rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)/outdeg(u) + dangling/N)``
    — the power-iteration form with dangling mass redistributed
    uniformly, run for exactly ``iterations`` rounds (fixed count, not
    convergence-tested, so the result is a deterministic function of
    the graph — restatable in a recursive-CTE oracle).

    Scale shape: outdegrees are one hash aggregate computed ONCE and
    joined by src each round; each round is one shuffle of
    (dst, contribution) pairs into a hash aggregate — identical to the
    CC fixpoint's per-round cost profile. The dangling mass is a 1-ROW
    aggregate broadcast into the rank update — NOT a per-round driver
    collect, so no action (and no job-scheduling round-trip) runs per
    iteration: the per-round lazy localCheckpoints cascade at the
    FINAL action, materializing each round exactly once, in order.
    (The collect form cost ~0.1-0.2 s of scheduling latency per round
    at any data size — pure driver overhead, 10 rounds of it.)
    N and the node set are computed once up front.

    Output: (node, rank); ranks sum to 1 up to float error.
    """
    ends = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    nodes = ends.select("u").unionAll(ends.select(F.col("v").alias("u"))).distinct()
    outdeg = ends.groupBy("u").agg(F.count("*").alias("__deg"))
    # (node, __deg) computed ONCE and checkpointed: the r14 form joined
    # outdeg back into the rank table EVERY round (5 extra joins + 5
    # extra lazy checkpoints of driver-plan work for an iteration-
    # invariant table). __deg is NULL for dangling nodes.
    nd = nodes.join(outdeg, nodes["u"] == outdeg["u"], "left").select(
        nodes["u"].alias("node"), F.col("__deg")
    ).localCheckpoint()
    n = nd.count()
    if n == 0:
        return nd.select(F.col("node"), F.lit(0.0).alias("rank"))
    # The node count is already on the driver (the convergence/size
    # action above) — use it to pick the per-round join strategy
    # (guide §3.1). A checkpointed rank table carries no stats, so AQE
    # plans the ends⋈ranks join as sort-merge, shuffling the FULL edge
    # table every round. Under 1M nodes the rank table is tens of MB:
    # broadcast it (and the post-agg contribution table) so the edge
    # checkpoint is scanned in place — per round the only exchange
    # left is the contribution aggregate's own. Bigger graphs keep the
    # shuffle join: a 100 TB-scale rank table must not be broadcast.
    small = n <= _BROADCAST_MAX_ROWS
    ranks = nd.select("node", F.lit(1.0 / n).alias("rank"), "__deg")
    for _ in range(iterations):
        # referenced by the dangling aggregate AND the contribution
        # join — the lazy cut makes each round compute once when the
        # final action cascades the checkpoints (ONE checkpoint per
        # round; the rank table carries __deg so no per-round join)
        ranks = ranks.localCheckpoint(eager=False)
        # dangling mass: rank held by nodes with no outgoing edges —
        # a 1-row aggregate BROADCAST into the update (same IEEE op
        # order as the former driver-collected scalar: d*dang/n
        # left-associated, added to the constant (1-d)/n)
        dangling = (
            ranks.filter(F.col("__deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang"))
        )
        rk = F.broadcast(ranks) if small else ranks
        contrib = (
            ends.join(rk, ends["u"] == rk["node"])
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("__deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("__in"))
        )
        if small:
            contrib = F.broadcast(contrib)
        base = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.col("__dang") / F.lit(float(n))
        )
        ranks = (
            nd.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (base + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))).alias("rank"),
                "__deg",
            )
        )
    return ranks.select("node", "rank")


def _canonical_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Dedup a (possibly directed, duplicated) edge list to canonical
    undirected pairs (a < b), dropping self-loops and NULL endpoints;
    lineage-truncated because every caller references it repeatedly."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .localCheckpoint()
    )


def _undirected_degrees(und: DataFrame) -> DataFrame:
    """(n, d) degree table of a canonical undirected edge list."""
    # one explode, one scan of the (checkpointed) edge list — the
    # unionAll form scans it twice
    return (
        und.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as a
    (possibly directed, possibly duplicated) edge list.

    Algorithm: degree-based edge orientation (the MapReduce classic —
    Suri & Vassilvitskii, WWW'11 "Counting Triangles and the Curse of
    the Last Reducer"). Each undirected edge {u,v} is oriented from the
    endpoint that is SMALLER in the total order (degree, node-id) to the
    larger; every triangle then has exactly one source vertex with two
    outgoing oriented edges, so it is found exactly once as a wedge
    (u→v, u→w) closed by the oriented edge v→w.

    Scale shape: orientation bounds every out-neighborhood at O(√m),
    so the wedge self-join — the quadratic step that kills naive
    triangle counting on skewed graphs (a celebrity node of degree d
    would otherwise emit d² wedges) — emits at most m·√m candidates
    regardless of skew. Three narrow shuffles: the dedup/distinct on
    canonical pairs, the degree aggregate (joined back, broadcast-size
    for real-world degree tables is NOT assumed — it shuffles on the
    node key), and the wedge join on the closing edge. No collect; the
    edge list is never materialized on the driver.

    Output: (node, n_triangles) for every node with ≥1 triangle.
    """
    und = _canonical_undirected(edges, src, dst)
    deg = _undirected_degrees(und)
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    # orient low(deg, id) → high(deg, id); ties impossible in (d, id)
    oriented = keyed.select(
        F.when(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
            F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
        )
        .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
        .alias("e")
    ).select("e.u", "e.v")
    # Scale-adaptive repartition by the wedge pivot BEFORE the
    # checkpoint (r15 optimization): the checkpoint freezes whatever
    # partitioning exists, and the upstream distinct/orient chain is
    # AQE-coalesced by its INPUT size — which says nothing about the
    # m·√m wedge expansion the self-join below produces. Measured at
    # sf0.1: the frozen single partition serialized the entire wedge
    # join + closing join + corner explode into ONE 3.4 s task on a
    # 32-core session. Hashing on u both parallelizes the expansion
    # (out-degrees are √m-bounded by the orientation, so u spreads
    # evenly) and co-partitions e1/e2 for the self-join, so this
    # exchange REPLACES the join's own — it is not an extra shuffle.
    par = oriented.sparkSession.sparkContext.defaultParallelism
    oriented = oriented.repartition(par, "u")
    oriented = oriented.localCheckpoint()  # referenced 3x in either branch
    # The checkpoint makes the edge count a near-free job; it picks the
    # counting strategy (same 1M gate the r15 closing-set broadcast
    # used — AQE cannot size through a checkpoint).
    if oriented.count() <= _BROADCAST_MAX_ROWS:
        # Adjacency-intersection counting (r16, guide §2.4/§3.1): the
        # wedge self-join materializes m·√m wedge rows and explodes 3
        # corner rows per TRIANGLE (62M rows on q150's near-complete
        # 500-node fixture) just to count them. The per-node counts
        # decompose per ORIENTED EDGE instead: for edge a→b,
        #   n1 = |out(a) ∩ out(b)|  — triangles where a is the pivot
        #        and b the middle (w ranges over the intersection), so
        #        edge (a,b) contributes n1 to a AND n1 to b;
        #   n2 = |in(a) ∩ in(b)|    — triangles where a→b is the
        #        closing edge (the pivots u range over the
        #        intersection), contributing n2 to b as the top corner
        #        (a's middle credit was counted at its pivot edge).
        # Every triangle (u→v, u→w, v→w) is thus credited exactly once
        # per corner: u and v at edge (u,v) via n1, w at edge (v,w)
        # via n2. Out-degrees are √m-bounded by the orientation, so
        # the adjacency tables hold m elements total — broadcastable
        # under the gate — and the whole count is ONE map-side pass
        # over the edges (two hash-set intersections per edge) plus a
        # 3-rows-per-edge explode into the final aggregate: no wedge
        # rows, no per-triangle rows, one narrow exchange.
        aout = oriented.groupBy("u").agg(F.collect_list("v").alias("nb"))
        ain = oriented.groupBy("v").agg(F.collect_list("u").alias("nb"))
        e = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e = (
            e.join(
                F.broadcast(
                    aout.select(F.col("u").alias("a"), F.col("nb").alias("oa"))
                ),
                "a",
            )  # inner: a always has out-edge b
            .join(
                F.broadcast(
                    aout.select(F.col("u").alias("b"), F.col("nb").alias("ob"))
                ),
                "b",
                "left",
            )
            .join(
                F.broadcast(
                    ain.select(F.col("v").alias("a"), F.col("nb").alias("ia"))
                ),
                "a",
                "left",
            )
            .join(
                F.broadcast(
                    ain.select(F.col("v").alias("b"), F.col("nb").alias("ib"))
                ),
                "b",
            )  # inner: b always has in-edge a
        )
        # type-safe empty arrays for the nullable sides: an empty slice
        # of the same row's guaranteed-non-null sibling array
        ob = F.coalesce(F.col("ob"), F.slice(F.col("oa"), 1, 0))
        ia = F.coalesce(F.col("ia"), F.slice(F.col("ib"), 1, 0))
        n1 = F.size(F.array_intersect(F.col("oa"), ob)).cast("long")
        n2 = F.size(F.array_intersect(ia, F.col("ib"))).cast("long")
        # the intersections are the per-row work: materialize each ONCE
        # behind the explode (a bare explode of the struct array would
        # inline n1 into two struct legs = two hash-set builds per edge)
        sized = e.select("a", "b", n1.alias("n1"), n2.alias("n2"))
        contrib = sized.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("node"), F.col("n1").alias("c")),
                    F.struct(F.col("b").alias("node"), F.col("n1").alias("c")),
                    F.struct(F.col("b").alias("node"), F.col("n2").alias("c")),
                )
            ).alias("e")
        ).select("e.node", "e.c")
        return (
            contrib.groupBy("node")
            .agg(F.sum("c").cast("long").alias("n_triangles"))
            .filter(F.col("n_triangles") > 0)
        )
    # Big-graph branch (the 100 TB shape): the proven m·√m wedge join —
    # adjacency arrays that big must not be broadcast, and the shuffle
    # join spreads the wedge stream instead.
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    # each unordered out-pair once: x before y in the canonical id order
    wedges = e1.join(e2, "u").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"])  # (u, x, y) = one triangle
    # one explode, not a 3-way unionAll of the SAME join subtree — the
    # union form plans the wedge join three times (no reuse without an
    # explicit cache); the explode scans it once
    corners = tris.select(
        F.explode(F.array(F.col("u"), F.col("x"), F.col("y"))).alias("node")
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree ≥ k, by distributed peeling — drop all nodes of degree < k,
    recompute degrees on the surviving subgraph, repeat to fixpoint.
    The dense-community extractor (spam rings, co-purchase clusters)
    that thresholding RAW degree gets wrong: a node of degree 100 whose
    neighbors all vanish is not in the core.

    Each round is one degree aggregate plus two LEFT SEMI joins of the
    edge list against the surviving-node set (shuffle keys: node id;
    edge payload: two longs — never attributes). Rounds are
    data-dependent (≤ peeling depth, typically ≪ node count) and run
    through :func:`fixpoint` with the edge count as the witness.
    Raises after ``max_iter`` rounds rather than silently returning an
    unpeeled graph.

    Output: (node, degree) for k-core members, degree measured inside
    the core.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = _canonical_undirected(edges, src, dst)

    def peel(cur: DataFrame, _rnd: int) -> DataFrame:
        keep = _undirected_degrees(cur).filter(F.col("d") >= k).select("n")
        return cur.join(keep, cur["a"] == keep["n"], "left_semi").join(
            keep, F.col("b") == keep["n"], "left_semi"
        )

    # the seed's edge count is the first witness: an already-peeled
    # graph (no edge lost => every degree >= k) converges in ONE round
    e, _ = fixpoint(e, peel, [], max_iter, "k_core", prev=(e.count(),))
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def hierarchy_rollup(
    nodes: DataFrame,
    id_col: str,
    parent_col: str,
    value_col: str,
    max_depth: int = 20,
) -> DataFrame:
    """Roll a value up a parent hierarchy (BOM cost rollup, org-chart
    headcount): every node receives the SUM of its own value and all
    descendants' values.

    Iterative ancestor expansion: start from (node, ancestor=node),
    join the frontier's topmost ancestor to its parent each round, and
    accumulate (node, ancestor) pairs — ``log``-free but bounded by the
    hierarchy DEPTH in rounds, each one equi-join of the frontier on
    the parent key + a union. Spark has no recursive CTE; this is the
    standard unrolling, with lineage truncation per round and a
    RuntimeError past ``max_depth`` (a parent cycle would otherwise
    loop forever — depth overrun is a data bug worth failing loudly
    on). The final rollup is one (ancestor ← pairs ⋈ values) aggregate.

    Output: (node, total) — total includes the node itself.
    """
    ids = nodes.select(
        F.col(id_col).alias("node"), F.col(parent_col).alias("parent")
    )
    vals = nodes.select(
        F.col(id_col).alias("vnode"), F.col(value_col).alias("__v")
    )
    # (node, ancestor) pairs accumulate as a LIST of per-level
    # frontiers unioned once at the end (r15 optimization): the r14
    # form re-checkpointed the GROWING union every round — O(depth²)
    # rows copied across a deep hierarchy — when each level is already
    # its own checkpoint. Frontier checkpoints are LAZY: the per-round
    # stat action materializes them, so each round is one job instead
    # of three (pairs checkpoint + frontier checkpoint + stat).
    pair_parts = [ids.select(F.col("node"), F.col("node").alias("anc"))]
    frontier = (
        ids.select("node", F.col("parent").alias("anc"))
        .filter(F.col("anc").isNotNull() & (F.col("anc") != F.col("node")))
        .localCheckpoint(eager=False)
    )
    depth = 0
    step = ids.select(
        F.col("node").alias("anc"), F.col("parent").alias("next_anc")
    )
    # one driver action per round: (frontier size, self-cycle count) in
    # a single aggregate — a separate cycle-check count would double the
    # per-round job launches on exactly the deep hierarchies this targets
    stat = frontier.agg(
        F.count("*").alias("n"),
        F.sum((F.col("anc") == F.col("node")).cast("int")).alias("cyc"),
    ).collect()[0]
    while stat["n"] and stat["n"] > 0:
        if stat["cyc"]:
            raise RuntimeError(
                "parent cycle detected during hierarchy_rollup "
                f"(round {depth}) — max_depth={max_depth}"
            )
        depth += 1
        if depth > max_depth:
            raise RuntimeError(
                f"hierarchy deeper than max_depth={max_depth} (cycle?)"
            )
        pair_parts.append(frontier)
        frontier = (
            frontier.join(step, "anc")
            .select("node", F.col("next_anc").alias("anc"))
            .filter(F.col("anc").isNotNull())
            .distinct()
            .localCheckpoint(eager=False)
        )
        stat = frontier.agg(
            F.count("*").alias("n"),
            F.sum((F.col("anc") == F.col("node")).cast("int")).alias("cyc"),
        ).collect()[0]
    pairs = pair_parts[0]
    for part in pair_parts[1:]:
        pairs = pairs.unionAll(part)
    return (
        pairs.join(vals, pairs["node"] == vals["vnode"])
        .groupBy("anc")
        .agg(F.sum("__v").alias("total"))
        .select(F.col("anc").alias("node"), "total")
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node: triangles(v) / C(deg(v),
    2) — how close each node's neighborhood is to a clique, the
    community-density signal on top of raw triangle counts.

    Composes :func:`triangle_count` (degree-oriented wedge join, the
    O(m^1.5) bound) with the degree table — both over ONE canonical
    edge materialization; the final join is (node)-keyed over
    node-cardinality frames. Degree-0/1 nodes have no possible
    triangle and report coefficient 0.

    Output: (node, degree, n_triangles, coefficient).
    """
    und = _canonical_undirected(edges, src, dst)
    deg = _undirected_degrees(und)
    tri = triangle_count(und, "a", "b")
    possible = F.col("d") * (F.col("d") - 1) / 2.0
    return (
        deg.join(tri, deg["n"] == tri["node"], "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.coalesce(F.col("n_triangles"), F.lit(0)) / possible,
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )


def common_neighbors(
    df: DataFrame,
    node_col: str,
    attr_col: str,
    max_attr_degree: int | None = None,
    term_dp: int | None = 12,
) -> DataFrame:
    """Common-neighbor link prediction over a bipartite (node, attr)
    incidence: for every node pair sharing ≥1 attribute, the shared
    count, the Jaccard score |A∩B| / (|A|+|B|−|A∩B|), and the
    Adamic–Adar score Σ_{shared a} 1/ln(deg(a)) (r11 — rare shared
    attributes weigh more than ubiquitous ones) — the classical
    "suppliers stocking the same parts / users touching the same
    items" candidate generators (Liben-Nowell & Kleinberg 2003).

    Plan: distinct (attr, node) incidence → per-attr self-join with
    ``node_a < node_b`` (the WEDGE join — shuffle keyed by attr, pair
    volume Σ_attr C(deg_attr, 2), the triangle_count bound) → one hash
    aggregate per pair → two degree joins for Jaccard. The Adamic–Adar
    term rides the SAME wedge rows: attr degrees join onto the left
    side pre-wedge (same shuffle key — no extra exchange), and every
    wedge row sums 1/ln(deg) with each term ``term_dp``-quantized
    (the cross-engine transcendental convention; shared attrs always
    have degree ≥ 2, so ln never hits 0).
    ``max_attr_degree`` is the skew guard: a hub attribute shared by
    10⁶ nodes contributes 5·10¹¹ wedges while carrying ~no signal
    (everyone shares it), so production runs CAP attr degree and drop
    hubs — degrees (and therefore Jaccard/Adamic–Adar) are computed on
    the capped incidence, consistently. Zero-overlap pairs are absent
    by construction (they carry no candidate signal).

    Output: (node_a, node_b, common, degree_a, degree_b, jaccard,
    adamic_adar).
    """
    pairs = (
        df.filter(
            F.col(node_col).isNotNull() & F.col(attr_col).isNotNull()
        )
        .select(F.col(node_col).alias("__n"), F.col(attr_col).alias("__a"))
        .distinct()
    )
    if max_attr_degree is not None:
        keep = (
            pairs.groupBy("__a")
            .agg(F.count("*").alias("__ad"))
            .filter(F.col("__ad") <= max_attr_degree)
            .select("__a")
        )
        pairs = pairs.join(keep, "__a", "left_semi")
    ndeg = pairs.groupBy("__n").agg(F.count("*").alias("__nd"))
    adeg = pairs.groupBy("__a").agg(F.count("*").alias("__ad"))
    left = pairs.select("__a", F.col("__n").alias("node_a")).join(
        adeg, "__a"
    )
    right = pairs.select("__a", F.col("__n").alias("node_b"))
    aa_term = F.lit(1.0) / F.ln(F.col("__ad").cast("double"))
    if term_dp is not None:
        aa_term = F.round(aa_term, term_dp)
    common = (
        left.join(right, "__a")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(
            F.count("*").alias("common"),
            F.sum(aa_term).alias("adamic_adar"),
        )
    )
    out = common.join(
        ndeg.select(
            F.col("__n").alias("node_a"), F.col("__nd").alias("degree_a")
        ),
        "node_a",
    ).join(
        ndeg.select(
            F.col("__n").alias("node_b"), F.col("__nd").alias("degree_b")
        ),
        "node_b",
    )
    return out.select(
        "node_a",
        "node_b",
        "common",
        "degree_a",
        "degree_b",
        (
            F.col("common").cast("double")
            / (
                F.col("degree_a") + F.col("degree_b") - F.col("common")
            ).cast("double")
        ).alias("jaccard"),
        "adamic_adar",
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    term_dp: int | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) over a directed edge
    list, run for a FIXED iteration count with L2 normalization after
    every half-step — a deterministic function of the graph (no
    convergence test), so the whole computation restates as a
    chained-CTE SQL oracle, exactly like :func:`pagerank`'s
    fixed-round form.

    Per half-step: one shuffle of (node, partial) pairs into a hash
    aggregate, then the L2 norm is a 1-ROW aggregate BROADCAST back
    into the update — never a per-round driver collect; the lazy
    localCheckpoints cascade at the final action so each half-step
    materializes once, in order (the pagerank lesson). The edge list
    is deduped up front — a doubled edge must not double-count.

    ``term_dp`` quantizes each normalized score (the repo's
    transcendental convention: sqrt differs across libm builds in the
    last ulp; 12-dp pinning stops cross-engine drift from compounding
    through the next half-step's sums).

    Output: (node, hub, authority) over all edge endpoints; hub
    (authority) is 0.0 for nodes with no outgoing (incoming) edges.
    """
    if iterations < 1:
        raise ValueError(
            "hits() requires iterations >= 1: with zero iterations the "
            "authority vector is undefined and hubs would be the "
            "unnormalized all-ones seed"
        )
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    e = e.localCheckpoint()

    def rnd(c):
        return F.round(c, term_dp) if term_dp is not None else c

    def normalize(df, col):
        nrm = df.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__nrm")
        )
        return (
            df.crossJoin(F.broadcast(nrm))
            .select("node", rnd(F.col(col) / F.col("__nrm")).alias(col))
            .localCheckpoint(eager=False)
        )

    hubs = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.lit(1.0).alias("h"))
    )
    auth = None
    for _ in range(iterations):
        auth = normalize(
            e.join(hubs, e["u"] == hubs["node"])
            .groupBy(e["v"].alias("node"))
            .agg(F.sum("h").alias("a")),
            "a",
        )
        hubs = normalize(
            e.join(auth, e["v"] == auth["node"])
            .groupBy(e["u"].alias("node"))
            .agg(F.sum("a").alias("h")),
            "h",
        )
    return (
        hubs.join(auth, "node", "full_outer")
        .select(
            "node",
            F.coalesce("h", F.lit(0.0)).alias("hub"),
            F.coalesce("a", F.lit(0.0)).alias("authority"),
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation between the degrees at the two ends of an edge — the
    one-number audit of whether hubs attach to hubs (r > 0, social
    graphs) or to leaves (r < 0, supply/dependency graphs).

    ``directed=True`` correlates (out-degree(src), in-degree(dst)) over
    the DISTINCT edge set; ``directed=False`` canonicalizes {a, b} and
    correlates total degrees over BOTH orientations of each undirected
    edge (the symmetric form the undirected coefficient requires — one
    orientation alone biases r whenever degree distributions are
    asymmetric within edges).

    Exactness: all five moments (Σx, Σy, Σxy, Σx², Σy², plus n) fold in
    DECIMAL(38,0) — degrees are integers, so every ingredient is exact
    in any engine and the coefficient is ONE double expression at the
    end (the q169/q210b integer-moments discipline).

    Scale shape: one distinct on the edge key, two node-sized degree
    aggregates REUSED from the same deduped frame, two joins each on
    the edge frame's own src/dst key, one global 1-row aggregate (all
    partial-aggregated map-side). Degree tables are node-sized, not
    edge-sized; nothing collects. Output: 1 row (n_edges = correlated
    endpoint samples — the distinct edge count when directed, 2m when
    undirected — mean_src_deg, mean_dst_deg, assortativity; the
    coefficient is NULL when either degree variance is zero).
    """
    if directed:
        e = edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        ).distinct()
        dsrc = e.groupBy("u").agg(F.count("*").alias("x"))
        ddst = e.groupBy("v").agg(F.count("*").alias("y"))
        pairs = e.join(dsrc, "u").join(ddst, "v").select("x", "y")
    else:
        und = _canonical_undirected(edges, src, dst)
        deg = _undirected_degrees(und)
        da = deg.select(F.col("n").alias("a"), F.col("d").alias("xa"))
        db = deg.select(F.col("n").alias("b"), F.col("d").alias("xb"))
        keyed = und.join(da, "a").join(db, "b")
        pairs = keyed.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("xa").alias("x"), F.col("xb").alias("y")
                    ),
                    F.struct(
                        F.col("xb").alias("x"), F.col("xa").alias("y")
                    ),
                )
            ).alias("p")
        ).select("p.x", "p.y")
    dec = "decimal(38,0)"
    m = pairs.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = (n * F.col("sxy") - sx * sy).cast("double")
    vx = (n * F.col("sxx") - sx * sx).cast("double")
    vy = (n * F.col("syy") - sy * sy).cast("double")
    return m.select(
        n.cast("long").alias("n_edges"),
        (sx.cast("double") / n.cast("double")).alias("mean_src_deg"),
        (sy.cast("double") / n.cast("double")).alias("mean_dst_deg"),
        F.when(
            (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)
        ).alias("assortativity"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected graph, made DETERMINISTIC: every node starts as its own
    label; each round every node adopts the most frequent label among
    its neighbors, ties broken by the smallest label; isolated nodes
    (and a round-1 node whose neighbors all tie at count 1) resolve by
    the same (count DESC, label ASC) rule. FIXED iteration count — the
    pagerank/HITS convention that makes a power-method algorithm
    restatable as chained SQL CTEs, hash-checkable by an oracle
    instead of rows-only.

    Unlike :func:`connected_components` (min-label fixpoint = exact
    components), frequency-based propagation finds DENSE communities:
    a bridge node between two cliques lands with the bigger clique
    even though everything is one component.

    Per round: one edge⋈label join, one (node, label) count aggregate,
    one rank-1 window — all shuffling 16-byte pairs; lineage cut per
    round so round k never replays rounds 1..k-1. Output: (node,
    label).
    """
    from pyspark.sql import Window

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    ends = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    nodes = (
        ends.select("u")
        .unionAll(ends.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("node"))
    )
    bidir = ends.filter(F.col("u") != F.col("v"))
    bidir = bidir.unionAll(
        bidir.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        nbr = (
            bidir.join(labels, bidir["u"] == labels["node"])
            .select(F.col("v").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.desc("c"), F.asc("label")
        )
        adopted = (
            nbr.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("node", "label")
        )
        labels = (
            nodes.join(adopted, "node", "left")
            .select(
                "node",
                F.coalesce(adopted["label"], nodes["node"]).alias("label"),
            )
        )
        labels = labels.localCheckpoint(eager=False)
    return labels
