"""Connected components + cluster dedup + chunking vs plain-Python references."""

import random

import pytest
from pyspark.sql import functions as F

from parquet_on_fhir_spark.operators import graph as G
from parquet_on_fhir_spark.operators.dedup import near_dup_clusters
from parquet_on_fhir_spark.operators.graph import connected_components
from parquet_on_fhir_spark.operators.text import chunk_documents

#: connected_components' two paths: union-find on the driver at the
#: default gate, the distributed fixpoint with the gate at 0
_GATES = {"driver": G._BROADCAST_MAX_ROWS, "distributed": 0}


def _both_paths(fn):
    """``fn()`` once per connected-components path, as {path: result}."""
    out = {}
    for path, gate in _GATES.items():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(G, "_BROADCAST_MAX_ROWS", gate)
            out[path] = fn()
    return out


def _uf_components(edges):
    """Union-find reference: node -> min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = _both_paths(
        lambda: {
            r["node"]: r["component"]
            for r in connected_components(df, "src", "dst").collect()
        }
    )
    want = _uf_components(edges)
    assert got == {"driver": want, "distributed": want}


def test_cc_chain_and_island(spark):
    # chain 1-2-3-4, island {10,11}, cycle {20,21,22}
    _check(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20)])


def test_cc_star_merge(spark):
    # two stars merged by one bridge edge -> single component rooted at 1
    edges = [(1, i) for i in range(2, 7)] + [(100, i) for i in range(101, 106)]
    _check(spark, edges)
    _check(spark, edges + [(6, 105)])


def test_cc_self_loops_and_duplicates(spark):
    _check(spark, [(5, 5), (1, 2), (2, 1), (1, 2), (3, 3)])


def test_cc_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 20 * trial)
        ]
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        _check(spark, edges)


def test_near_dup_clusters_survivors(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "completely different text about spark query engines at scale"),
        (4, "the quick brown fox jumps over the lazy dog again and again ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = near_dup_clusters(
        df, "text", "doc_id", num_hashes=32, num_bands=16, jaccard_threshold=0.3
    ).collect()
    comp = {r["doc_id"]: r["component"] for r in out}
    surv = {r["doc_id"]: r["is_survivor"] for r in out}
    # 1,2,4 are near-dups of each other; 3 is its own singleton cluster
    assert comp[1] == comp[2] == comp[4] == 1
    assert comp[3] == 3
    assert surv == {1: True, 2: False, 3: True, 4: False}


def test_chunking_reconstructs_text(spark):
    rows = [(1, "a" * 48 + "b" * 48 + "c" * 30), (2, ""), (3, "short"), (4, "x" * 96)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = chunk_documents(df, "text", "doc_id", size=48, stride=32).collect()
    texts = dict(rows)
    seen = {}
    for r in out:
        t = texts[r["doc_id"]]
        py = t[r["chunk_start"] - 1 : r["chunk_start"] - 1 + 48]
        assert r["chunk_text"] == py
        assert r["chunk_len"] == len(py)
        seen.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_start"]))
    for doc_id, t in texts.items():
        ids = sorted(seen[doc_id])
        # chunk ids contiguous from 0; starts stride apart; full coverage
        assert [i for i, _ in ids] == list(range(len(ids)))
        assert all(s == 1 + i * 32 for i, s in ids)
        last_start = ids[-1][1]
        assert last_start - 1 + 48 >= len(t)  # covers the tail
        if len(ids) > 1:  # no chunk past the text
            assert last_start <= len(t)


def test_chunking_is_map_only(spark, sf_dir):
    from parquet_on_fhir_spark.api import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = (
        chunk_documents(d, "text", "doc_id", size=128, stride=96)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_cc_raises_on_round_budget(spark, monkeypatch):
    """A long chain cannot converge in 2 rounds: the guard must raise
    rather than return a partially-propagated labelling. Only the
    distributed path has rounds, so the gate is forced to 0."""
    monkeypatch.setattr(G, "_BROADCAST_MAX_ROWS", 0)
    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, "src", "dst", max_iter=2)
    # with budget it converges to one component
    got = connected_components(df, "src", "dst", max_iter=40).collect()
    assert {r["component"] for r in got} == {0}


def _closure_edges(spark, pairs):
    return spark.createDataFrame(
        [("s", f"c{a}", f"c{b}") for a, b in pairs],
        "system string, parent string, child string",
    )


def _chain(n):
    return [(i, i + 1) for i in range(n - 1)]


def _raise_concept_closure(spark):
    from parquet_on_fhir_spark.fhir.terminology import concept_closure

    # depth-9 chain: paths of 8 edges need 3 doubling rounds + 1 witness
    concept_closure(_closure_edges(spark, _chain(9)), max_rounds=2)


def _raise_closure_delta(spark):
    from parquet_on_fhir_spark.fhir.terminology import (
        closure_delta,
        concept_closure,
    )

    old = concept_closure(_closure_edges(spark, [(0, 1)]))
    # the new edges continue the chain c1 > c2 > ... > c9
    closure_delta(old, _closure_edges(spark, _chain(10)[1:]), max_rounds=2)


def _raise_k_core(spark):
    from parquet_on_fhir_spark.operators.graph import k_core

    # the cascading peel: 4 -> 2 -> 0 edges, then the repeat
    df = spark.createDataFrame(_chain(6)[1:], "src int, dst int")
    k_core(df, 2, max_iter=2)


def _raise_cc(spark):
    df = spark.createDataFrame(_chain(60), "src long, dst long")
    # only the distributed path has rounds to run out of
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(G, "_BROADCAST_MAX_ROWS", 0)
        connected_components(df, "src", "dst", max_iter=2)


def _raise_cc_contract(spark):
    from parquet_on_fhir_spark.operators.graph import connected_components_contract

    df = spark.createDataFrame(_chain(60), "src long, dst long")
    connected_components_contract(df, "src", "dst", max_iter=2)


_TOO_FEW_ROUNDS = {
    "concept_closure": _raise_concept_closure,
    "closure_delta": _raise_closure_delta,
    "k_core": _raise_k_core,
    "connected_components": _raise_cc,
    "connected_components_contract": _raise_cc_contract,
}


@pytest.mark.parametrize("name", list(_TOO_FEW_ROUNDS))
def test_fixpoints_raise_the_same_way(spark, name):
    """Every convergence-tested loop runs through graph.fixpoint, so a
    round budget too small for the input fails with one message."""
    with pytest.raises(RuntimeError, match=rf"^{name} did not converge in 2 rounds$"):
        _TOO_FEW_ROUNDS[name](spark)


def test_closure_fixpoint_one_job_per_round(spark, count_jobs):
    """Each doubling round is ONE job (lazy checkpoint + the witness
    count); AQE is off under the metadata guard, so counts repeat."""
    from parquet_on_fhir_spark.fhir.terminology import (
        closure_delta,
        concept_closure,
    )

    chain = _closure_edges(spark, _chain(9))
    # 3 doubling rounds close paths of 8 edges; the 4th repeats the count
    clo, jobs = count_jobs(lambda: concept_closure(chain))
    assert jobs == 4 and clo.count() == 36
    old = concept_closure(_closure_edges(spark, [(0, 1)]))
    new = _closure_edges(spark, [(1, 2)])
    # the bridged seed {c1>c2, c0>c2} is already closed: round 1 doubles
    # it, round 2 repeats the count
    delta, jobs = count_jobs(lambda: closure_delta(old, new))
    assert jobs == 2
    assert {(r.ancestor, r.descendant) for r in delta.collect()} == {
        ("c1", "c2"),
        ("c0", "c2"),
    }


def _check_contract(spark, edges, max_iter=40):
    from parquet_on_fhir_spark.operators.graph import connected_components_contract

    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {
        r["node"]: r["component"]
        for r in connected_components_contract(df, "src", "dst", max_iter).collect()
    }
    assert got == _uf_components(edges)


def test_contract_basic_graphs(spark):
    _check_contract(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20)])
    _check_contract(spark, [(5, 5), (1, 2), (2, 1), (1, 2), (3, 3)])
    edges = [(1, i) for i in range(2, 7)] + [(100, i) for i in range(101, 106)]
    _check_contract(spark, edges + [(6, 105)])


def test_contract_random_graphs(spark):
    rng = random.Random(11)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40 + 20 * trial)]
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        _check_contract(spark, edges)


def test_contract_handles_deep_chains(spark):
    """The diameter-200 chain that label propagation cannot finish in a
    small round budget converges for the contraction variant in
    O(log² n) rounds."""
    edges = [(i, i + 1) for i in range(200)]
    _check_contract(spark, edges, max_iter=12)


from hypothesis import given, settings
from hypothesis import strategies as st

_texts = st.lists(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=200,
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None)
@given(
    _texts,
    # stride <= size (the operator rejects gap-leaving strides)
    st.integers(1, 40).flatmap(
        lambda size: st.tuples(st.just(size), st.integers(1, size))
    ),
)
def test_chunking_matches_python_reference(spark, texts, size_stride):
    size, stride = size_stride
    """Random unicode docs, random size/stride: chunk set == python
    slicing reference (offsets are CHARACTER-based in both)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_id"], r["chunk_start"], r["chunk_text"])
        for r in chunk_documents(df, "text", "doc_id", size=size, stride=stride).collect()
    }
    expected = set()
    for i, t in rows:
        extra = max(len(t) - size, 0)
        n = 1 + (extra + stride - 1) // stride
        for ci in range(n):
            start = ci * stride
            expected.add((i, ci, start + 1, t[start : start + size]))
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2**20), st.integers(0, 2**20)), min_size=1, max_size=20))
def test_zorder_key_matches_python(spark, pts):
    from parquet_on_fhir_spark.operators.layout import zorder_key

    df = spark.createDataFrame(pts, "x long, y long")
    got = [r["z"] for r in df.select(zorder_key("x", "y", bits=21).alias("z")).collect()]

    def pyz(a, b, bits=21):
        k = 0
        for i in range(bits):
            k |= ((a >> i) & 1) << (2 * i)
            k |= ((b >> i) & 1) << (2 * i + 1)
        return k

    assert sorted(got) == sorted(pyz(a, b) for a, b in pts)


def test_near_dup_clusters_pair_and_singleton(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "completely different text about spark query engines at scale"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = _both_paths(
        lambda: {
            r["doc_id"]: r["component"]
            for r in near_dup_clusters(
                df, "text", "doc_id", num_bands=16, jaccard_threshold=0.3
            ).collect()
        }
    )
    assert got["driver"] == got["distributed"] == {1: 1, 2: 1, 3: 3}


def test_cc_null_endpoints(spark):
    """A NULL endpoint is its own node labelled NULL and joins nothing;
    the other end keeps its own label (both paths, as the fixpoint
    always did)."""
    df = spark.createDataFrame(
        [(7, None), (None, None), (1, 2)], "src long, dst long"
    )
    got = _both_paths(
        lambda: sorted(
            connected_components(df).collect(), key=lambda r: (r[0] is None, r)
        )
    )
    want = [(1, 1), (2, 1), (7, 7), (None, None)]
    assert [tuple(r) for r in got["driver"]] == want
    assert [tuple(r) for r in got["distributed"]] == want


def test_cc_rejects_non_numeric_ids(spark, count_jobs):
    """String ids raise one TypeError from the schema on both paths,
    before any job (they used to fail inside the witness job with
    CAST_INVALID_INPUT)."""
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    for gate in _GATES.values():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(G, "_BROADCAST_MAX_ROWS", gate)
            err, jobs = count_jobs(
                lambda: pytest.raises(TypeError, connected_components, df)
            )
        err.match("'src' is string, not numeric")
        assert jobs == 0


def test_near_dup_clusters_job_count(spark, count_jobs):
    """The small pair graph is labelled on the driver: 8 jobs on every
    call (the distributed fixpoint's rounds made it 24)."""
    rows = [(i, f"alpha beta gamma delta epsilon zeta {i % 4}") for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for _ in range(2):
        _, jobs = count_jobs(
            lambda: near_dup_clusters(
                df, "text", "doc_id", num_hashes=16, num_bands=4,
                jaccard_threshold=0.3,
            )
        )
        assert jobs == 8


def test_connected_components_empty_edges(spark):
    """Empty edge set converges immediately (regression: the scalar
    None convergence sentinel collided with the NULL sum of an empty
    node set and burned every round before raising)."""
    from parquet_on_fhir_spark.operators.graph import (
        connected_components,
        connected_components_contract,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0
    assert connected_components_contract(empty).count() == 0


def test_pagerank_matches_python_reference(spark):
    """5-iteration PageRank on a small directed graph with a dangling
    node equals a plain-Python power iteration; ranks sum to 1."""
    from parquet_on_fhir_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]  # 5 nodes? 4 nodes, 3 dangles? no: 3->1 so only none dangling... add 5
    edges.append((3, 5))  # 5 is dangling (no out-edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}

    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    d = 0.85
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        dangling = sum(r for v, r in rank.items() if v not in outdeg)
        nxt = {}
        for v in nodes:
            inc = sum(
                rank[u] / outdeg[u] for (u, w) in edges if w == v
            )
            nxt[v] = (1 - d) / n + d * dangling / n + d * inc
        rank = nxt

    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-12, (v, got[v], rank[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the hub (3) outranks everyone
    assert got[3] == max(got.values())


def test_triangle_count_known_graph(spark):
    from parquet_on_fhir_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5 + an
    # isolated triangle {6,7,8}; duplicate/reversed/self edges ignored.
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (2, 1), (1, 1), (4, 5),
        (6, 7), (7, 8), (8, 6), (6, 7),
    ]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 6: 1, 7: 1, 8: 1}


def test_triangle_count_matches_bruteforce_random(spark):
    import itertools
    import random

    from parquet_on_fhir_spark.operators.graph import triangle_count

    rng = random.Random(7)
    n, m = 40, 220
    edges = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    expected = {}
    for a, b, c in itertools.combinations(range(n), 3):
        if {(a, b), (b, c), (a, c)} <= edges:
            for v in (a, b, c):
                expected[v] = expected.get(v, 0) + 1
    df = spark.createDataFrame(sorted(edges), "src int, dst int")
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert got == expected


def test_triangle_count_big_graph_branch_agrees(spark, monkeypatch):
    """The >1M-edge wedge-join branch (r16: small graphs count by
    adjacency intersection instead) must produce identical per-node
    counts — force it by zeroing the gate and compare strategies."""
    rng = random.Random(11)
    edges = set()
    while len(edges) < 200:
        a, b = rng.randrange(35), rng.randrange(35)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "src int, dst int")
    small = {r.node: r.n_triangles for r in G.triangle_count(df).collect()}
    monkeypatch.setattr(G, "_BROADCAST_MAX_ROWS", 0)
    big = {r.node: r.n_triangles for r in G.triangle_count(df).collect()}
    assert big == small and small  # same counts, and the graph has triangles


def test_pagerank_big_graph_branch_agrees(spark, monkeypatch):
    """The >1M-node shuffle-join pagerank branch (r16: small graphs
    broadcast the rank/contribution tables) must produce identical
    ranks — IEEE-identical, since only the join strategy changes."""

    edges = [(i, (i * 7) % 23) for i in range(23)] + [(3, 9), (9, 3), (4, 4)]
    df = spark.createDataFrame(edges, "src int, dst int")
    small = {r.node: r["rank"] for r in G.pagerank(df, iterations=4).collect()}
    monkeypatch.setattr(G, "_BROADCAST_MAX_ROWS", 0)
    big = {r.node: r["rank"] for r in G.pagerank(df, iterations=4).collect()}
    assert big == small


def test_near_dup_clusters_shuffle_join_branch_agrees(spark, monkeypatch):
    """near_dup_clusters broadcasts the label table only under the
    gate (r16); the shuffle-join branch must yield the same clusters."""
    from parquet_on_fhir_spark.operators.dedup import near_dup_clusters

    rows = [(i, f"alpha beta gamma delta epsilon zeta {i % 4}") for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def run():
        return {
            (r.doc_id, r.component, r.is_survivor)
            for r in near_dup_clusters(
                df, "text", "doc_id", num_hashes=16, num_bands=4,
                jaccard_threshold=0.3,
            ).collect()
        }

    small = run()
    monkeypatch.setattr(G, "_BROADCAST_MAX_ROWS", 0)
    assert run() == small


def test_k_core_known_graph(spark):
    from parquet_on_fhir_spark.operators.graph import k_core

    # K4 {1,2,3,4} + a tail 4-5-6: 2-core = K4 only (tail peels off),
    # 3-core = K4, 4-core = empty.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src int, dst int")
    two = {r.node: r.degree for r in k_core(df, 2).collect()}
    assert set(two) == {1, 2, 3, 4} and all(d == 3 for d in two.values())
    assert set(r.node for r in k_core(df, 3).collect()) == {1, 2, 3, 4}
    assert k_core(df, 4).count() == 0


def test_k_core_cascading_peel(spark):
    from parquet_on_fhir_spark.operators.graph import k_core

    # chain 1-2-3-4-5: every 2-core peel cascades from the endpoints;
    # result must be empty (a naive single-pass degree filter keeps 2-4)
    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src int, dst int")
    assert k_core(df, 2).count() == 0


def test_k_core_matches_bruteforce_random(spark):
    import random

    from parquet_on_fhir_spark.operators.graph import k_core

    rng = random.Random(13)
    n, m = 30, 70
    edges = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))

    def peel(es, k):
        es = set(es)
        while True:
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            weak = {v for v, d in deg.items() if d < k}
            if not weak:
                return deg
            es = {(a, b) for a, b in es if a not in weak and b not in weak}

    df = spark.createDataFrame(sorted(edges), "src int, dst int")
    for k in (2, 3, 4):
        expected = peel(edges, k)
        got = {r.node: r.degree for r in k_core(df, k).collect()}
        assert got == expected, f"k={k}"


def test_hierarchy_rollup_tree(spark):
    from parquet_on_fhir_spark.operators.graph import hierarchy_rollup

    #      1
    #     / \
    #    2   3
    #   / \
    #  4   5     and an isolated root 9
    rows = [
        (1, None, 1.0),
        (2, 1, 2.0),
        (3, 1, 3.0),
        (4, 2, 4.0),
        (5, 2, 5.0),
        (9, None, 9.0),
    ]
    df = spark.createDataFrame(rows, "id int, parent int, v double")
    got = {r.node: r.total for r in hierarchy_rollup(df, "id", "parent", "v").collect()}
    assert got == {1: 15.0, 2: 11.0, 3: 3.0, 4: 4.0, 5: 5.0, 9: 9.0}


def test_hierarchy_rollup_cycle_raises(spark):
    import pytest

    from parquet_on_fhir_spark.operators.graph import hierarchy_rollup

    rows = [(1, 2, 1.0), (2, 1, 1.0)]
    df = spark.createDataFrame(rows, "id int, parent int, v double")
    with pytest.raises(RuntimeError, match="cycle"):
        hierarchy_rollup(df, "id", "parent", "v", max_depth=5)


def test_clustering_coefficient_known_graphs(spark):
    from parquet_on_fhir_spark.operators.graph import clustering_coefficient

    # triangle 1-2-3 plus pendant 4 attached to 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "src long, dst long"
    )
    got = {r.node: r for r in clustering_coefficient(edges).collect()}
    assert got[1].degree == 3 and got[1].n_triangles == 1
    assert abs(got[1].coefficient - 1 / 3) < 1e-12
    assert got[2].coefficient == 1.0 and got[3].coefficient == 1.0
    assert got[4].degree == 1 and got[4].coefficient == 0.0


def test_common_neighbors_bipartite(spark):
    """common_neighbors: hand-computed shared counts + Jaccard over a
    small bipartite incidence; the hub cap drops high-degree attrs and
    degrees stay consistent with the CAPPED incidence."""
    from parquet_on_fhir_spark.operators.graph import common_neighbors

    rows = [
        (1, "p1"), (1, "p2"), (1, "p3"),
        (2, "p1"), (2, "p2"),
        (3, "p3"), (3, "p4"),
        (4, "hub"), (1, "hub"), (2, "hub"), (3, "hub"),
        (1, "p1"),  # duplicate incidence row: must not double-count
    ]
    df = spark.createDataFrame(rows, "n int, a string")
    out = {
        (r.node_a, r.node_b): r
        for r in common_neighbors(df, "n", "a").collect()
    }
    # uncapped: hub links everyone
    r12 = out[(1, 2)]
    assert r12.common == 3 and r12.degree_a == 4 and r12.degree_b == 3
    assert abs(r12.jaccard - 3 / 4) < 1e-12
    assert out[(1, 3)].common == 2  # p3 + hub
    assert (2, 4) in out  # only via hub
    # cap 3 drops the degree-4 hub attr entirely
    capped = {
        (r.node_a, r.node_b): r
        for r in common_neighbors(df, "n", "a", max_attr_degree=3).collect()
    }
    assert (2, 4) not in capped and (1, 4) not in capped
    c12 = capped[(1, 2)]
    assert c12.common == 2 and c12.degree_a == 3 and c12.degree_b == 2
    assert capped[(1, 3)].common == 1


def test_hits_matches_numpy_power_iteration(spark):
    """hits (r11) vs a direct numpy power iteration with the same
    per-half-step L2 normalization and 12-dp pinning, on a small
    directed graph with a dangling node (no outgoing edges → hub 0)
    and a source-only node (no incoming → authority 0); duplicated
    edges must not double-count."""
    import numpy as np

    from parquet_on_fhir_spark.operators.graph import hits

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (1, 2)]  # dup (1,2)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, iterations=2, term_dp=12).collect()
    }

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    adj = np.zeros((len(nodes), len(nodes)))
    for s, d in set(edges):
        adj[idx[s], idx[d]] = 1.0
    h = np.ones(len(nodes))
    # hub init only on nodes WITH outgoing edges (engine contract)
    h = (adj.sum(axis=1) > 0).astype(float)
    for _ in range(2):
        a = adj.T @ h
        a = np.round(a / np.sqrt((a * a).sum()), 12)
        h = adj @ a
        h = np.round(h / np.sqrt((h * h).sum()), 12)
    for n in nodes:
        eh, ea = h[idx[n]], a[idx[n]]
        gh, ga = got[n]
        assert abs(gh - eh) < 1e-9, (n, gh, eh)
        assert abs(ga - ea) < 1e-9, (n, ga, ea)
    # node 4 is dangling (hub 0), node 1 and 5 are source-only (auth 0)
    assert got[4][0] == 0.0 and got[1][1] == 0.0 and got[5][1] == 0.0


def test_adamic_adar_matches_reference(spark):
    """common_neighbors' adamic_adar column (r11) vs a hand-computed
    Σ 1/ln(deg) on a small bipartite incidence: rarity weighting ranks
    a rare shared attribute above several ubiquitous ones, degree-1
    attrs never reach the wedge (no ln(1) division), and the hub cap
    removes the capped attr from BOTH scores consistently."""
    import math

    from parquet_on_fhir_spark.operators.graph import common_neighbors

    # attrs: h shared by 4 nodes (hub), r shared by 2 (rare),
    # s shared by 3, x touched once (degree 1 — never a wedge)
    inc = [
        (1, "h"), (2, "h"), (3, "h"), (4, "h"),
        (1, "r"), (2, "r"),
        (1, "s"), (2, "s"), (3, "s"),
        (4, "x"),
    ]
    df = spark.createDataFrame(inc, "n long, a string")
    got = {
        (r["node_a"], r["node_b"]): (r["common"], r["adamic_adar"])
        for r in common_neighbors(df, "n", "a", term_dp=None).collect()
    }

    def aa(*degs):
        return sum(1.0 / math.log(d) for d in degs)

    def close(got_pair, common, expect_aa):
        return got_pair[0] == common and abs(got_pair[1] - expect_aa) < 1e-12

    assert close(got[(1, 2)], 3, aa(4, 2, 3))  # h + r + s
    assert close(got[(1, 3)], 2, aa(4, 3))
    assert close(got[(3, 4)], 1, aa(4))
    # the rare pair's AA beats a pure-hub pair despite equal common=1
    assert close(got[(1, 4)], 1, aa(4)) and aa(2) > aa(4)
    # hub cap drops 'h' everywhere: (3,4) loses its only shared attr
    capped = {
        (r["node_a"], r["node_b"]): (r["common"], r["adamic_adar"])
        for r in common_neighbors(
            df, "n", "a", max_attr_degree=3, term_dp=None
        ).collect()
    }
    assert (3, 4) not in capped
    assert close(capped[(1, 2)], 2, aa(2, 3))


def test_hits_iteration_bounds(spark):
    """r12 pinned (ADVICE): iterations < 1 raises up front instead of
    crashing on hubs.join(None) after the loop; iterations=1 runs."""
    import pytest

    from parquet_on_fhir_spark.operators.graph import hits

    e = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    with pytest.raises(ValueError, match="iterations"):
        hits(e, iterations=0)
    with pytest.raises(ValueError, match="iterations"):
        hits(e, iterations=-1)
    rows = {r.node: r for r in hits(e, iterations=1).collect()}
    assert set(rows) == {1, 2, 3}
