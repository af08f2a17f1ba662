"""Embedding similarity search (SURVEY.md §2B Q68-Q70).

Baseline: brute-force cosine top-k (exact; JVM HOF math, broadcast the
query set). Scale path: random-hyperplane LSH bucketing — queries only
compare against corpus vectors in colliding buckets, turning the O(n·q)
sweep into an equi-join on bucket signatures. Hyperplanes are generated
from a seeded RNG so plans are deterministic and reproducible across
runs/executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_on_fhir_spark.functions.vectors import cosine_similarity


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (queries ≪ corpus at any sane scale), so
    the corpus is scanned ONCE with no shuffle; the only exchange is the
    final per-query top-k (a tiny aggregate after rank-filtering).
    Ranking uses (rounded cosine DESC, corpus id ASC) — deterministic
    under float noise.
    """
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qvec")
    )
    joined = corpus.join(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(corpus_id) != F.col(query_id))
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__qvec")) + F.lit(1e-9), 6)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (
        joined.select(query_id, corpus_id, sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-pattern bucket id of a vector under the given hyperplanes —
    pure JVM expression (dot product via zip_with over an array literal)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        d = F.aggregate(
            F.zip_with(vec_col, plane, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH.

    Each of ``n_tables`` hash tables assigns every vector a bucket
    (sign pattern over ``n_planes`` hyperplanes); queries join the
    corpus on (table, bucket) only. Recall grows with n_tables;
    candidate count shrinks 2^-n_planes per table. 100 TB posture:
    bucket ids are computed map-side; the join shuffles on small
    (int, long) keys; per-query top-k is window-ranked.
    """
    def with_buckets(df: DataFrame, id_alias: str) -> DataFrame:
        rows = []
        for t_i in range(n_tables):
            planes = random_hyperplanes(dim, n_planes, seed + t_i)
            rows.append(
                F.struct(
                    F.lit(t_i).alias("table"), lsh_bucket(F.col(vec_col), planes).alias("bucket")
                )
            )
        return df.select(
            F.col(id_alias), F.col(vec_col), F.explode(F.array(*rows)).alias("tb")
        ).select(id_alias, vec_col, "tb.table", "tb.bucket")

    cb = with_buckets(corpus, corpus_id)
    qb = with_buckets(
        queries.select(F.col(query_id), F.col(vec_col)), query_id
    ).withColumnRenamed(vec_col, "__qvec")

    cand = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .select(corpus_id, query_id, vec_col, "__qvec")
        .dropDuplicates([corpus_id, query_id])
    )
    if exclude_self:
        cand = cand.filter(F.col(corpus_id) != F.col(query_id))
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__qvec")) + F.lit(1e-9), 6)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (
        cand.select(query_id, corpus_id, sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
    max_train_rows: int = 262_144,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning — the
    centroid-based alternative to sign-LSH.

    Index build: KMeans (Spark ML, seeded) fit on a bounded sample of the
    corpus (``max_train_rows``, standard IVF practice — centroid quality
    saturates long before the full corpus size); every vector is then
    assigned to its nearest centroid (one distributed transform).
    Query: each query probes its ``n_probe`` nearest centroids (distance
    to the small centroid table is a JVM expression over literals) and
    compares only against those cells — candidate fraction ≈
    n_probe/n_centroids. At 100 TB the cell assignment is a write-time
    partition key, so a probe reads only matching partitions.

    ``corpus_rows``: approximate corpus cardinality, used only to size
    the deterministic training-sample fraction — ±50% error is harmless
    (the oversample + exact cap absorb it), so pass catalog/file-footer
    metadata rather than counting. Both paths pick the SAME rows (the
    globally lowest ``max_train_rows`` ids by ``(xxhash64(id), id)``):

    - hint present: hash-threshold filter (oversample ~10%) then exact
      cap — ONE full-width corpus pass, TakeOrderedAndProject over
      ~1.1·cap survivors.
    - hint absent: no count() is ever run. A narrow ``(id, hash)`` pass
      feeds TakeOrderedAndProject (per-partition heap of cap ids, a few
      MB — vectors never enter the heap), then a broadcast SEMI join
      fetches the training vectors. Two passes, but the first reads two
      columns; still, at 100 TB pass the hint and pay one.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    hash32 = F.pmod(F.xxhash64(F.col(corpus_id)), F.lit(1 << 32))
    if corpus_rows is not None and corpus_rows <= max_train_rows:
        train_src = corpus
    elif corpus_rows is not None:
        # Deterministic bounded sample: hash-of-id threshold (oversample
        # ~10%) then an exact cap ordered by (hash, id). Unlike
        # sample().limit(), the chosen rows depend only on ids — never on
        # partition layout or arrival order — so centroids (and every
        # downstream ANN result) are reproducible across cluster shapes.
        # The orderBy feeds TakeOrderedAndProject over ~1.1·cap rows, not
        # a full-corpus sort.
        frac = min(1.0, 1.1 * max_train_rows / corpus_rows)
        thresh = int(frac * (1 << 32))
        train_src = (
            corpus.withColumn("__h", hash32)
            .filter(F.col("__h") < thresh)
            .orderBy("__h", corpus_id)
            .limit(max_train_rows)
        )
    else:
        # Count-free fallback: top-cap over (hash, id) alone — the heap
        # holds 24-byte entries, not embeddings — then a broadcast semi
        # join pulls the vectors. Selects exactly the rows the hint path
        # would, so results don't depend on whether the hint was given.
        train_ids = (
            corpus.select(corpus_id, hash32.alias("__h"))
            .orderBy("__h", corpus_id)
            .limit(max_train_rows)
            .select(corpus_id)
        )
        train_src = corpus.join(F.broadcast(train_ids), corpus_id, "semi")
    train = train_src.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(train)
    centroids = [list(map(float, c)) for c in model.clusterCenters()]

    assigned = model.transform(
        corpus.select(
            F.col(corpus_id),
            F.col(vec_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
        )
    ).select(corpus_id, vec_col, F.col("prediction").alias("__cell"))

    probes = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("__qvec"),
        F.explode(
            F.transform(
                F.slice(
                    F.sort_array(centroid_dist_structs(F.col(vec_col), centroids)),
                    1,
                    n_probe,
                ),
                lambda s: s["cid"],
            )
        ).alias("__cell"),
    )

    cand = assigned.join(F.broadcast(probes), "__cell").drop("__cell")
    if exclude_self:
        cand = cand.filter(F.col(corpus_id) != F.col(query_id))
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__qvec")) + F.lit(1e-9), 6)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (
        cand.select(query_id, corpus_id, sim.alias("cosine"))
        .dropDuplicates([query_id, corpus_id])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def centroid_dist_structs(vc, centroids: list[list[float]]):
    """array<struct<dist,cid>> of squared-L2 distances from ``vc`` to
    each centroid literal — pure JVM expression; ``sort_array`` of it
    orders by (dist, cid), so ties break to the lowest cell id."""
    pairs = []
    for cid, cvec in enumerate(centroids):
        lit_vec = F.array(*[F.lit(float(x)) for x in cvec])
        d = F.aggregate(
            F.zip_with(vc, lit_vec, lambda a, b: (a.cast("double") - b) ** 2),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        pairs.append(F.struct(d.alias("dist"), F.lit(cid).alias("cid")))
    return F.array(*pairs)


def ivf_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF candidate semantics with a FROZEN codebook (r13 verdict
    task 7, the q67c pattern): ``ivf_topk``'s KMeans training is
    seed-dependent and not oracle-portable, but the stage that
    actually serves queries — cell assignment, ``n_probe`` probing,
    within-cell exact top-k — is a deterministic function of the
    centroid literals. This variant takes the codebook as an
    argument, assigns every corpus vector to its nearest centroid with
    the same sorted-struct argmin used for probing (ties → lowest
    cell id), and runs the probe/top-k pipeline in pure Catalyst, so
    a driver SQL oracle can replay it. Production posture at 100 TB:
    train once on a sample, persist the codebook, serve with this —
    the cell id doubles as the write-time partition key."""
    dists = centroid_dist_structs(F.col(vec_col), centroids)
    assigned = corpus.select(
        F.col(corpus_id),
        F.col(vec_col),
        F.sort_array(dists)[0]["cid"].alias("__cell"),
    )
    probes = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("__qvec"),
        F.explode(
            F.transform(
                F.slice(F.sort_array(dists), 1, n_probe),
                lambda s: s["cid"],
            )
        ).alias("__cell"),
    )
    cand = assigned.join(F.broadcast(probes), "__cell").drop("__cell")
    if exclude_self:
        cand = cand.filter(F.col(corpus_id) != F.col(query_id))
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__qvec")) + F.lit(1e-9), 6)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (
        cand.select(query_id, corpus_id, sim.alias("cosine"))
        .dropDuplicates([query_id, corpus_id])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_moments(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Mean vector + covariance matrix of an embedding column — the
    dense-linear-algebra step feeding PCA / whitening / SVD-based
    curation (e.g. the projection stage of SemDeDup-style pipelines).

    Scale design: the naive formulation (posexplode to (row, i, x) and
    self-join i×j) multiplies the corpus by dim² INSIDE a shuffle — at
    100 TB with dim=1024 that is a ~10⁶× blowup. Instead ``mapInPandas``
    (Arrow batches → one numpy matmul per batch) emits per-batch
    PARTIALS — count, per-dim sums, and the upper-triangle of the
    Gram matrix — so the shuffle carries O(batches × dim²/2) tiny rows
    regardless of corpus size. One hash aggregate reduces the partials;
    broadcasts of the d per-dim sums and the 1-row count finish
    cov_ij = (S_ij − S_i·S_j/n)/n (population covariance).

    Output: one row per (i, j) with i ≤ j: (i, j, cov, mean_i, mean_j).
    Batch math runs in float64 regardless of the stored element type so
    results match a double-precision oracle.
    """
    import pandas as pd
    from pyspark.sql import types as T

    part_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            iu = np.triu_indices(m.shape[1])
            gram = m.T @ m
            yield pd.concat(
                [
                    pd.DataFrame({"i": iu[0], "j": iu[1], "s": gram[iu]}),
                    pd.DataFrame(
                        {
                            "i": np.arange(m.shape[1]),
                            "j": -1,
                            "s": m.sum(axis=0),
                        }
                    ),
                    pd.DataFrame({"i": [-1], "j": [-1], "s": [float(len(pdf))]}),
                ]
            )

    # Referenced three times below (count / per-dim sums / Gram rows);
    # without materialization each branch re-runs the corpus scan +
    # matmul (the plan showed 4 ReadSchema on the source). The lazily
    # checkpointed frame is dim²/2 + dim + 1 rows — small at any dim.
    agg = (
        df.select(vec_col)
        .mapInPandas(partials, part_schema)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .localCheckpoint(eager=False)
    )
    n = agg.filter(F.col("i") == -1).select(F.col("s").alias("_cnt"))
    sums = agg.filter((F.col("j") == -1) & (F.col("i") >= 0))
    si = sums.select(F.col("i").alias("i"), F.col("s").alias("_si"))
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("_sj"))
    return (
        agg.filter(F.col("j") >= 0)
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            (
                (F.col("s") - F.col("_si") * F.col("_sj") / F.col("_cnt"))
                / F.col("_cnt")
            ).alias("cov"),
            (F.col("_si") / F.col("_cnt")).alias("mean_i"),
            (F.col("_sj") / F.col("_cnt")).alias("mean_j"),
        )
    )


def fit_pca(
    df: DataFrame, k: int, vec_col: str = "embedding"
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit a k-component PCA from :func:`embedding_moments`: the
    distributed pass reduces the corpus to a dim×dim covariance (tiny —
    dim² doubles), and the eigendecomposition runs DRIVER-SIDE in numpy
    (O(dim³), independent of corpus size — the correct split at 100 TB:
    the cluster computes moments, the driver solves a 1k×1k symmetric
    eigenproblem in milliseconds).

    Returns (mean, components, eigenvalues): ``components`` is a k×dim
    row-major list (descending eigenvalue order, sign-canonicalized so
    the largest-|x| coordinate of each component is positive — eigh's
    sign choice is otherwise arbitrary).
    """
    rows = embedding_moments(df, vec_col).collect()
    if not rows:
        # empty / all-NULL input: max() over no moments would raise a
        # bare ValueError from builtins instead of saying why
        raise ValueError("fit_pca requires at least one embedding row")
    dim = max(r["j"] for r in rows) + 1
    cov = np.zeros((dim, dim))
    mean = np.zeros(dim)
    for r in rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
        mean[r["i"]] = r["mean_i"]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return (
        [float(x) for x in mean],
        comps,
        [float(vals[i]) for i in order],
    )


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten_eigvals: list[float] | None = None,
) -> DataFrame:
    """Project embeddings onto precomputed principal components —
    the dimensionality-reduction / whitening stage SemDeDup-class
    pipelines run before clustering.

    The fitted model (mean + k×dim components, optionally eigenvalues
    for whitening) enters the plan as ARRAY LITERALS, so projection is
    a pure map over the corpus: per component one ``zip_with``·``
    aggregate`` dot product against the centered vector — JVM
    expressions, no Python, no shuffle, one scan at any corpus size.
    """
    mean_arr = F.array(*[F.lit(float(x)) for x in mean])
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), mean_arr, lambda x, m: x - m
    )

    def against(c):
        comp_arr = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with(F.col("_centered"), comp_arr, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    proj = [against(c) for c in components]
    if whiten_eigvals is not None:
        proj = [
            p / F.lit(float(max(ev, 1e-12)) ** 0.5)
            for p, ev in zip(proj, whiten_eigvals)
        ]
    return (
        df.withColumn("_centered", centered)
        .withColumn(out_col, F.array(*proj))
        .drop("_centered")
    )


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean embedding (centroid): dimension explode → one
    (group, dim) hash aggregate → re-assembled array (sort by ordinal
    inside a K×dim collect). The explode shuffles (group, dim, value)
    triples — linear in rows×dim, mergeable map-side — and the result
    frame is groups×dim, broadcast-size for any real source count.

    Output: (group, centroid array<double>, n_vectors).
    """
    dims = df.select(
        F.col(group_col).alias("group"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    )
    per_dim = dims.groupBy("group", "dim").agg(
        F.avg("v").alias("m"), F.count("*").alias("c")
    )
    return per_dim.groupBy("group").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("m")))
            ),
            lambda s: s["m"],
        ).alias("centroid"),
        (F.sum("c") / F.count("*")).cast("bigint").alias("n_vectors"),
    )


def centroid_similarity_matrix(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine similarity between group centroids — the
    source-drift audit an embedding-pipeline owner reads to spot a
    source whose representation collapsed or diverged. Builds on
    :func:`group_centroids`; the pairwise step is a K² cross join of
    the K-row centroid frame (broadcast both sides), with the dot
    products as ``aggregate``/``zip_with`` expressions — never a
    row-level pairwise pass over the corpus.

    Output: (group_a, group_b, cosine), group_a < group_b.
    """
    cents = group_centroids(df, group_col, vec_col)
    a = cents.select(
        F.col("group").alias("group_a"), F.col("centroid").alias("__ca")
    )
    b = cents.select(
        F.col("group").alias("group_b"), F.col("centroid").alias("__cb")
    )
    dot = F.aggregate(
        F.zip_with("__ca", "__cb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            (dot / (norm("__ca") * norm("__cb"))).alias("cosine"),
        )
    )


def embedding_isotropy(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Embedding-space isotropy audit WITHOUT a pairwise join: for
    L2-normalized vectors v̂ᵢ the mean pairwise cosine satisfies the
    exact identity  mean_{i≠j} v̂ᵢ·v̂ⱼ = (‖Σᵢv̂ᵢ‖² − n) / (n(n−1))
    (expand ‖Σv̂‖² = Σᵢⱼ v̂ᵢ·v̂ⱼ and split the diagonal, which is
    exactly n) — so the O(n²) statistic collapses to one O(n·d)
    aggregate. High mean cosine = anisotropic/collapsed embedding
    space (Ethayarajh 2019, arXiv:1909.00512); the standard health
    check before cosine-threshold dedup or ANN recall tuning.

    Plan: per-row norm is a map-side array fold (``F.aggregate``,
    double accumulator — no UDF); the component sum is ONE
    (dimension)-keyed hash aggregate after posexplode — shuffle rows =
    n·d reduced map-side to partitions·d — then a d-row fold. Zero
    vectors are excluded (reported via n vs the caller's count).

    Output: 1 row — (n, dim, mean_norm, mean_cosine).
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            vec, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x
        )
    )
    base = (
        df.select(vec.alias("__v"), norm.alias("__nrm"))
        .filter(F.col("__nrm") > 0)
    )
    stats = base.agg(
        F.count("*").alias("n"),
        F.avg("__nrm").alias("mean_norm"),
        F.max(F.size("__v")).alias("dim"),
    )
    # normalize AFTER the explode: a transform lambda capturing __nrm
    # would inline the whole sqrt-of-fold expression per ELEMENT under
    # projection collapse (O(d²) per row — the q228 lesson), whereas
    # here the norm is evaluated once per row by the Generate input
    # and the division is a plain per-output-row column op
    comps = base.select(
        "__nrm", F.posexplode("__v").alias("__i", "__raw")
    ).select("__i", (F.col("__raw") / F.col("__nrm")).alias("__x"))
    dims = comps.groupBy("__i").agg(F.sum("__x").alias("__s"))
    sq = dims.agg(
        F.sum(F.col("__s") * F.col("__s")).alias("__ss")
    )
    nd = F.col("n").cast("double")
    return stats.crossJoin(F.broadcast(sq)).select(
        "n",
        "dim",
        "mean_norm",
        F.when(
            F.col("n") > 1,
            (F.col("__ss") - nd) / (nd * (nd - 1.0)),
        ).alias("mean_cosine"),
    )


def mutual_best_match(
    pairs: DataFrame,
    left_id: str = "left_id",
    right_id: str = "right_id",
    score_col: str = "score",
) -> DataFrame:
    """Reciprocal-best-match (mutual-nearest-neighbor) filter over a
    SCORED candidate-pair frame: keep (l, r) only when r is l's best
    right-side match AND l is r's best left-side match — the alignment
    primitive for cross-corpus entity matching / bilingual document
    pairing, where one-directional argmax keeps asymmetric junk pairs.

    Takes pairs, not raw vectors, ON PURPOSE: at corpus scale the
    candidate frame comes from an LSH/IVF stage (q70's machinery) and
    this operator is the cheap two-window epilogue on candidates —
    never an all-pairs product. The brute-force pair builder for
    query-sized inputs is :func:`brute_force_topk` (broadcast side).

    Both argmaxes are rank-1 windows ordered (score DESC, other-id ASC)
    — deterministic under score ties; the mutual condition is an inner
    join of the two rank-1 frames on the pair key. Shuffles: one per
    window (each keyed by its own id column) + the pair-key join.
    """
    wl = Window.partitionBy(left_id).orderBy(
        F.desc(score_col), F.col(right_id)
    )
    wr = Window.partitionBy(right_id).orderBy(
        F.desc(score_col), F.col(left_id)
    )
    best_l = (
        pairs.withColumn("__rl", F.row_number().over(wl))
        .filter(F.col("__rl") == 1)
        .select(left_id, right_id, score_col)
    )
    best_r = (
        pairs.withColumn("__rr", F.row_number().over(wr))
        .filter(F.col("__rr") == 1)
        .select(left_id, right_id)
    )
    return best_l.join(best_r, [left_id, right_id])


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    seed: int = 42,
    max_train_rows: int = 65_536,
    iters: int = 8,
):
    """Train product-quantization codebooks (Jégou et al. 2011): the
    vector is split into ``m`` subvectors and each subspace gets its
    own ``k``-centroid codebook, so a d-dim float vector compresses to
    m small codes (m=8, k=16 → 4 bytes/vector) — THE memory lever for
    corpus-scale ANN, where full float vectors cannot stay resident.

    Training runs driver-side seeded Lloyd iterations on a BOUNDED
    deterministic sample (ordered by id — the IVF convention: codebook
    quality saturates long before corpus size; the sample is
    metadata-scale by contract). Empty clusters re-seed
    deterministically from the farthest points. Returns a numpy array
    (m, k, d/m) — broadcast-sized state for encode/query.
    """
    import numpy as np

    rows = (
        corpus.select(corpus_id, vec_col)
        .orderBy(corpus_id)
        .limit(max_train_rows)
        .collect()
    )
    X = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, sub))
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        init = rng.choice(n, size=min(k, n), replace=False)
        C = Xj[np.sort(init)].copy()
        if len(C) < k:  # tiny corpora: pad deterministically
            C = np.vstack([C, C[rng.integers(0, len(C), k - len(C))]])
        for _ in range(iters):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    C[c] = Xj[mask].mean(axis=0)
                else:  # re-seed empty cluster at the farthest point
                    C[c] = Xj[d2.min(axis=1).argmax()]
        books[j] = C
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Encode every corpus vector as its m nearest-centroid codes —
    one Arrow-batched ``mapInPandas`` pass (the codebooks ride the
    closure: m·k·d/m floats, broadcast-sized). Output: (id, codes
    array<int> of length m); this is what a 100 TB index PERSISTS in
    place of float vectors."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks)
    m, k, sub = books.shape

    def batches(it):
        for pdf in it:
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                d2 = ((Xj[:, None, :] - books[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    corpus_id: pdf[corpus_id],
                    "codes": list(codes.tolist()),
                }
            )

    return corpus.select(corpus_id, vec_col).mapInPandas(
        batches, schema=f"{corpus_id} long, codes array<int>"
    )


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes an m×k inner-product lookup table against the
    codebooks (queries stay full-precision — the asymmetric trick
    that keeps accuracy), then every encoded corpus vector scores as
    m table lookups summed — no float vectors are read at query time.
    Queries are collected driver-side (query-sized by the
    brute_force_topk contract) and the LUTs ride the mapInPandas
    closure; scoring is one numpy gather per Arrow batch. Ranking is
    (rounded score DESC, corpus id ASC) — deterministic."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks)
    m, kk, sub = books.shape
    qrows = queries.select(query_id, vec_col).collect()
    qids = [r[query_id] for r in qrows]
    Q = np.asarray([r[vec_col] for r in qrows], dtype=np.float64)
    # lut[q, j, c] = <query_q subvector j, centroid c>
    luts = np.einsum(
        "qjs,jcs->qjc", Q.reshape(len(Q), m, sub), books
    )

    def batches(it):
        for pdf in it:
            codes = np.asarray(list(pdf["codes"]), dtype=np.int64)
            ids = pdf[corpus_id].to_numpy()
            rows = {query_id: [], corpus_id: [], "score": []}
            for qi, qid in enumerate(qids):
                s = luts[qi][np.arange(m)[None, :], codes].sum(axis=1)
                rows[query_id].extend([qid] * len(ids))
                rows[corpus_id].extend(ids.tolist())
                rows["score"].extend(np.round(s + 1e-9, 6).tolist())
            yield pd.DataFrame(rows)

    scored = encoded.mapInPandas(
        batches,
        schema=f"{query_id} long, {corpus_id} long, score double",
    )
    if exclude_self:
        scored = scored.filter(F.col(corpus_id) != F.col(query_id))
    w = Window.partitionBy(query_id).orderBy(
        F.desc("score"), F.col(corpus_id)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def binary_codes(vec_col, dims: int):
    """Sign-bit binary quantization of an embedding as TWO 32-bit
    halves packed into longs (``lo`` = dims 0-31, ``hi`` = 32-63) —
    two halves so bit 63 never touches the sign bit of a signed
    BIGINT, keeping the codes portable to any SQL engine. Pure JVM
    expression (chained conditional ORs, the lsh_bucket shape).
    Returns (lo_expr, hi_expr)."""
    import pyspark.sql.functions as _F

    def half(start: int):
        code = _F.lit(0).cast("long")
        for i in range(start, min(start + 32, dims)):
            bit = _F.when(
                vec_col[i].cast("double") > 0,
                _F.shiftleft(_F.lit(1).cast("long"), i - start),
            ).otherwise(_F.lit(0).cast("long"))
            code = code.bitwiseOR(bit)
        return code

    return half(0), half(32)


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int = 64,
    k: int = 10,
    max_hamming: int = 16,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Binary-quantized similarity search (r14 wave 3): sign-bit codes
    + Hamming-distance prefilter + exact cosine rerank — the standard
    memory/compute lever production vector systems apply before exact
    math (16 bytes/vector and a popcount replace 64 floats and a dot
    product for the coarse pass; Hamming on sign bits estimates
    angle: E[hamming] = dims·θ/π).

    The coarse pass still visits every (query, vector) pair — the win
    is arithmetic (two XOR+popcounts, whole-stage codegen, no float
    lanes) and bandwidth (codes can live in a skinny column the scan
    prunes to), not asymptotics; compose with the IVF/LSH bucketing
    operators when the pair space itself must shrink. Fully
    deterministic (codes are exact integers; rerank uses the rounded
    cosine + id order), so a SQL oracle replays it end to end.
    Output: (q_id, vec_id, hamming, cosine, rank ≤ k)."""
    lo, hi = binary_codes(F.col(vec_col), dims)
    c = corpus.select(
        F.col(corpus_id), F.col(vec_col),
        lo.alias("__clo"), hi.alias("__chi"),
    )
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qvec"),
        lo.alias("__qlo"), hi.alias("__qhi"),
    )
    joined = c.join(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(corpus_id) != F.col(query_id))
    ham = (
        F.bit_count(F.col("__clo").bitwiseXOR(F.col("__qlo")))
        + F.bit_count(F.col("__chi").bitwiseXOR(F.col("__qhi")))
    ).cast("int")
    sim = F.round(
        cosine_similarity(F.col(vec_col), F.col("__qvec")) + F.lit(1e-9), 6
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (
        joined.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(query_id, corpus_id, "hamming", sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
