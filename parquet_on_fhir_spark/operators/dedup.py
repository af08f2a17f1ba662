"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2B Q66-Q67): exact, MinHash+LSH, SimHash, n-gram Jaccard.

All JVM-side (built-in hash/HOF expressions; no Python UDFs): a 100 TB
dedup sweep is exactly the workload where a per-row Python boundary
would dominate the cost.

Scale design:
- exact: one shuffle on a 256-bit content hash (never on the text).
- MinHash: signatures are computed per-row (map-side, no shuffle);
  LSH banding turns near-dup search into an equi-join on
  (band, band-hash) — shuffle keys are small ints, candidate pairs
  are verified with an exact-similarity residual.
- SimHash: 64-bit fingerprint per row; banding into 4×16-bit chunks
  gives Hamming-distance ≤ 3 candidate recall by pigeonhole.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_on_fhir_spark.session import local_rows_df

_log = logging.getLogger(__name__)

#: Default per-bucket row cap for LSH band joins. A band self-join costs
#: O(Σ bucket²) pairs: one boilerplate-heavy bucket (a template repeated
#: millions of times) goes quadratic even after exact dedup. Buckets above
#: the cap are dropped from candidate generation — their members are
#: near-identical to thousands of others, so pair-based survivor selection
#: degenerates anyway; run exact_dedup first for those.
DEFAULT_MAX_BUCKET = 65536


def _cap_buckets(
    banded: DataFrame, keys: list[str], cap: int | None, log_dropped: bool
) -> DataFrame:
    """Drop (band, bucket) groups larger than ``cap`` rows.

    The count is a window over the same keys the self-join shuffles on, so
    the cap adds no new exchange shape. ``log_dropped=True`` runs one extra
    (small) aggregate eagerly to report what was dropped — off by default
    so plan construction stays lazy.
    """
    if cap is None:
        return banded
    if log_dropped:
        d = (
            banded.groupBy(*keys)
            .count()
            .filter(F.col("count") > cap)
            .agg(
                F.count(F.lit(1)).alias("buckets"),
                F.coalesce(F.sum("count"), F.lit(0)).alias("rows"),
            )
            .first()
        )
        _log.warning(
            "LSH bucket cap %d: dropping %d oversized buckets (%d rows)",
            cap, d["buckets"], d["rows"],
        )
    wc = Window.partitionBy(*keys)
    return (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(wc))
        .filter(F.col("__bsz") <= cap)
        .drop("__bsz")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct ``text_col`` content — the survivor is
    the minimum ``id_col`` (deterministic, unlike dropDuplicates).

    Shuffles on sha2(text) rather than the text itself: constant-width
    shuffle keys regardless of document size.
    """
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(text_col: str, k: int = 3):
    """Word k-shingles of a text column as a distinct array (JVM expr).

    The token array is let-bound via the 1-element-array transform:
    HOFs run interpreted with no CSE, so referencing the split directly
    in the per-position lambda would re-tokenize the WHOLE document once
    per shingle position (quadratic in document length — this binding
    alone was worth ~3× on the sf0.1 corpus)."""
    tokens = F.split(F.lower(F.col(text_col)), r"\s+")

    def per_toks(ts):
        idx = F.sequence(F.lit(0), F.greatest(F.size(ts) - k, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ts, i + 1, k)))
        )

    return F.transform(F.array(tokens), per_toks)[0]


def md5_60(col) -> "F.Column":
    """Portable 60-bit integer hash: first 15 hex digits of md5, base-16
    → base-10. Chosen because BOTH Spark (``conv(substr(md5(x),1,15),
    16,10)``) and DuckDB (``CAST('0x' || substr(md5(x),1,15) AS
    BIGINT)``) compute it bit-identically, which makes every
    MinHash/LSH pipeline built on it cross-engine oracle-checkable.
    Slower than xxhash64 (md5 is cryptographic) — use for verification
    corpora; keep xxhash64 for production sweeps.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _seeded_hash(hash_family: str, seed: int):
    """seed → (string column → bigint column) hash function."""
    if hash_family == "xxhash64":
        return lambda s: F.xxhash64(s, F.lit(seed))
    if hash_family == "md5_60":
        return lambda s: md5_60(F.concat_ws(":", F.lit(str(seed)), s))
    raise ValueError(f"unknown hash_family {hash_family!r}")


def _seeded_hash_col(hash_family: str, seed_col, s):
    """Same family as :func:`_seeded_hash` but the seed is a COLUMN (a
    lambda variable), producing bit-identical values: ``xxhash64(s, i)``
    hashes the int exactly like ``xxhash64(s, lit(i))``, and
    ``CAST(i AS STRING)`` renders ints exactly like ``str(i)``."""
    if hash_family == "xxhash64":
        return F.xxhash64(s, seed_col)
    if hash_family == "md5_60":
        return md5_60(F.concat_ws(":", seed_col.cast("string"), s))
    raise ValueError(f"unknown hash_family {hash_family!r}")


def _bucket_hash(hash_family: str):
    """(band slice joined as csv string) → bigint bucket id."""
    if hash_family == "xxhash64":
        return F.xxhash64
    if hash_family in ("md5_60", "md5_km"):
        # one hash per band — the seeded fan-out doesn't apply here, so
        # both portable families bucket with the plain md5_60 value
        return md5_60
    raise ValueError(f"unknown hash_family {hash_family!r}")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature: array of ``num_hashes`` minima of
    a seeded hash family over word k-shingles.

    ``hash_family``: ``"xxhash64"`` (default — fastest, JVM-native),
    ``"md5_km"`` (portable AND one md5 per shingle: seed i's value is
    ``(h1 + i*h2) mod 2^60`` where h1/h2 are disjoint hex slices of a
    single md5 — Kirsch–Mitzenmacher double hashing, the standard way to
    fan one strong hash into a seeded family; DuckDB restates the
    arithmetic bit-identically), or ``"md5_60"`` (legacy portable form:
    md5 per (seed, shingle) — 32× the md5 calls of md5_km for the same
    oracle-checkability; kept for comparison). Either way the seeded
    family ≈ independent hash functions; everything happens map-side per
    row (transform + array_min), so this adds ZERO shuffles.

    The shingle array is LET-BOUND once per row by wrapping it in a
    1-element array and transforming over it: higher-order functions run
    interpreted (no codegen subexpression elimination), so the naive
    ``array(*[array_min(transform(shingles, hash_i)) ...])`` form
    re-tokenizes the document ``num_hashes`` times — measured 10× slower
    on the sf0.1 corpus.  Hash values are bit-identical (the seed rides
    as the sequence lambda variable instead of a literal).
    """
    sh = shingles(text_col, k)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    if hash_family == "md5_km":
        # One md5 per shingle: h1 = 60-bit hex[1..15], h2 = 56-bit
        # hex[16..29]; seed i's hash = (h1 + i*h2) mod 2^60.  Bounds:
        # i ≤ 31 and h2 < 2^56 keep i*h2 + h1 < 2^62 — no ANSI int64
        # overflow in either engine.  The (h1, h2) struct array is
        # let-bound via the same 1-element-array trick as the shingle
        # array (HOFs run interpreted, no CSE — an inline form would
        # recompute the md5 per seed and forfeit the whole win).
        hp = F.transform(
            sh,
            lambda s: F.struct(
                F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint").alias("h1"),
                F.conv(F.substring(F.md5(s), 16, 14), 16, 10).cast("bigint").alias("h2"),
            ),
        )
        sig = F.transform(
            F.array(hp),
            lambda hps: F.transform(
                seeds,
                lambda i: F.array_min(
                    F.transform(
                        hps, lambda p: F.pmod(p["h1"] + i * p["h2"], F.lit(1 << 60))
                    )
                ),
            ),
        )[0]
    else:
        sig = F.transform(
            F.array(sh),
            lambda arr: F.transform(
                seeds,
                lambda i: F.array_min(
                    F.transform(arr, lambda s: _seeded_hash_col(hash_family, i, s))
                ),
            ),
        )[0]
    # Column metadata lets minhash_lsh_pairs validate band divisibility
    # without an eager probe of the signature length.
    return df.select(
        F.col(id_col),
        sig.alias(
            "minhash",
            metadata={"num_hashes": num_hashes, "hash_family": hash_family},
        ),
    )


def _band_signatures(
    sig_df: DataFrame, id_col: str, num_bands: int, hash_family: str
) -> DataFrame:
    """(id, minhash) → exploded (id, band, bucket): the signature is cut
    into ``num_bands`` equal slices and each slice csv-hashed to a bigint
    bucket.  Map-side only — the ~24 B/row output is what any downstream
    equi-join shuffles, never the signatures themselves."""
    n_rows = F.size(F.col("minhash"))
    rows_per_band = (n_rows / num_bands).cast("int")
    bucket_fn = _bucket_hash(hash_family)
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    bucket_fn(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("minhash"), b * rows_per_band + 1, rows_per_band
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    sig_df: DataFrame,
    id_col: str,
    num_bands: int = 8,
    jaccard_threshold: float = 0.5,
    num_hashes: int | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    log_dropped: bool = False,
    hash_family: str | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding over MinHash
    signatures, filtered by estimated Jaccard ≥ threshold.

    Bands the signature into ``num_bands`` chunks, hashes each chunk,
    equi-joins on (band_id, chunk_hash) — only collisions are compared,
    so cost is O(candidates), not O(n²). Pair estimate = fraction of
    matching signature positions.

    The band self-join shuffles ONLY (band, bucket, id) — ~24 bytes/row
    — never the signatures: each row is replicated ``num_bands`` times
    for banding, so carrying the 32×8-byte signature through that
    exchange would multiply the widest shuffle by the band count.
    Signatures are re-attached to the (much smaller) surviving pair set
    by two id-keyed joins afterward.

    ``num_hashes`` must divide evenly into ``num_bands`` (trailing
    signature positions would otherwise be silently ignored); it is read
    from the signature column's metadata when minhash_signatures produced
    it, or passed explicitly. Buckets larger than ``max_bucket_size``
    rows are dropped from candidate generation (see _cap_buckets).
    ``hash_family`` (bucket hashing) follows the signature column's
    metadata by default so signatures and buckets stay in one family.
    """
    meta = sig_df.schema["minhash"].metadata or {}
    if num_hashes is None:
        num_hashes = meta.get("num_hashes")
    if hash_family is None:
        hash_family = meta.get("hash_family") or "xxhash64"
    if num_hashes is not None and num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by num_bands={num_bands}; "
            "trailing signature positions would be silently ignored"
        )
    # The signature table is referenced THREE times below (banding +
    # both pair-side re-attach joins); without materialization each
    # branch replays the full MinHash-over-text computation — by far the
    # most expensive part of the pipeline. Checkpoint the NARROW
    # (id, minhash) projection lazily (n_docs × ~260 B): the first job
    # that reads it computes it once, and its blocks go with the frame.
    sigs = sig_df.select(F.col(id_col), F.col("minhash")).localCheckpoint(eager=False)
    banded = _band_signatures(sigs, id_col, num_bands, hash_family)
    banded = _cap_buckets(banded, ["band", "bucket"], max_bucket_size, log_dropped)

    left = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    id_pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        id_pairs.join(
            sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a")),
            "id_a",
        ).join(
            sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b")),
            "id_b",
        )
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.size(F.col("sig_a"))
    )
    return pairs.select(
        "id_a", "id_b", est.alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= jaccard_threshold)


def ngram_jaccard(text_a, text_b, k: int = 3):
    """Exact word-k-shingle Jaccard between two text columns (for
    verifying LSH candidates)."""
    def sh(c):
        # let-bound token array — see :func:`shingles` (no CSE in HOFs)
        tokens = F.split(F.lower(c), r"\s+")

        def per_toks(ts):
            idx = F.sequence(F.lit(0), F.greatest(F.size(ts) - k, F.lit(0)))
            return F.array_distinct(
                F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ts, i + 1, k)))
            )

        return F.transform(F.array(tokens), per_toks)[0]

    a, b = sh(text_a), sh(text_b)
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprint per document, from token xxhash64s.

    Bit i of the fingerprint = majority vote of bit i across token
    hashes. Single-pass formulation: ONE ``aggregate`` over the token
    hashes folds a 64-wide bit-balance array (zip_with against a
    constant mask array), then one fold ORs the positive-balance masks
    into the fingerprint — a shallow expression tree, vs. 64 separate
    per-bit aggregates whose codegen depth risks interpreted fallback.
    Near-duplicates have small Hamming distance between fingerprints.
    """
    tokens = F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    hashes = F.transform(tokens, lambda x: F.xxhash64(x))

    def mask(i: int) -> int:  # signed-long bit mask (bit 63 = sign bit)
        return (1 << i) if i < 63 else -(1 << 63)

    masks = F.array(*[F.lit(mask(i)).cast("long") for i in range(bits)])
    balances = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            balances,
            masks,
            lambda bal, m: F.when(bal > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_candidates(
    fp_df: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    log_dropped: bool = False,
) -> DataFrame:
    """Candidate pairs with Hamming distance ≤ ``max_hamming`` via
    4×16-bit band pigeonhole (dist ≤ 3 ⇒ at least one band equal),
    verified with an exact popcount residual. (band, chunk) buckets
    above ``max_bucket_size`` rows are dropped (see _cap_buckets)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), 16 * i)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("chunk"),
            )
            for i in range(4)
        ]
    )
    banded = fp_df.select(F.col(id_col), F.col("simhash"), F.explode(bands).alias("b")).select(
        id_col, "simhash", "b.band", "b.chunk"
    )
    banded = _cap_buckets(banded, ["band", "chunk"], max_bucket_size, log_dropped)
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), "band", "chunk"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), "band", "chunk"
    )
    pairs = (
        left.join(right, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    exact: bool = False,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    log_dropped: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    cosine ≥ ``threshold`` and id_a < id_b.

    ``exact=True``: all-pairs verification baseline — O(n²) comparisons,
    for oracle checks and small corpora only.

    Default (LSH) mode is the 100 TB path: sign-LSH bucketing
    (``n_tables`` independent hyperplane tables, bucket ids computed
    map-side) turns the sweep into an equi-join on (table, bucket) —
    only same-bucket candidates get the exact cosine verify, so cost is
    O(collisions). Recall is tuned by n_planes (bucket granularity) ↓ /
    n_tables (independent chances) ↑; near-identical vectors (the
    near-dup regime) collide with probability ≥ 1-(1-(1-θ/π)^p)^t,
    which for θ→0 approaches 1.
    """
    from parquet_on_fhir_spark.functions.vectors import cosine_similarity
    from parquet_on_fhir_spark.operators.similarity import (
        lsh_bucket,
        random_hyperplanes,
    )

    ids = df.select(F.col(id_col), F.col(vec_col))
    a = ids.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = ids.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    if exact:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            first = df.select(F.size(vec_col).alias("d")).first()
            if first is None:  # empty corpus: empty pair set, stable schema
                from pyspark.sql import types as T

                id_t = df.schema[id_col].dataType
                return local_rows_df(
                    df.sparkSession,
                    [],
                    T.StructType(
                        [
                            T.StructField("id_a", id_t),
                            T.StructField("id_b", id_t),
                            T.StructField("cosine", T.DoubleType()),
                        ]
                    ),
                )
            dim = int(first["d"])
        cand = None
        for t_i in range(n_tables):
            planes = random_hyperplanes(dim, n_planes, seed=42 + t_i)
            bk = ids.select(
                F.col(id_col), lsh_bucket(F.col(vec_col), planes).alias("__bucket")
            )
            bk = _cap_buckets(bk, ["__bucket"], max_bucket_size, log_dropped)
            la = bk.select(F.col(id_col).alias("id_a"), "__bucket")
            lb = bk.select(F.col(id_col).alias("id_b"), "__bucket")
            c = la.join(lb, "__bucket").filter(F.col("id_a") < F.col("id_b")).select(
                "id_a", "id_b"
            )
            cand = c if cand is None else cand.unionByName(c)
        id_pairs = cand.dropDuplicates(["id_a", "id_b"])
        pairs = id_pairs.join(
            a, "id_a"
        ).join(b, "id_b")
    cos = cosine_similarity("__va", "__vb")
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cos + F.lit(1e-9), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def near_dup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float = 0.5,
    k: int = 3,
    hash_family: str = "xxhash64",
    max_iter: int = 25,
) -> DataFrame:
    """Full near-dedup: MinHash → LSH pairs → transitive clusters →
    deterministic survivor per cluster.  ``max_iter`` bounds the
    distributed connected-components rounds (raises rather than
    under-merging — see operators/graph.py; 25 covers any realistic
    cluster diameter).

    Pairs alone under-delete (a~b and b~c must collapse to ONE survivor
    even when a~c was never emitted), so the pair graph is closed with
    :func:`~parquet_on_fhir_spark.operators.graph.connected_components`
    — union-find on the driver for a pair graph of at most
    ``graph._BROADCAST_MAX_ROWS`` edges, a distributed fixpoint above
    that.  Output: every input id with its cluster id (the minimum doc
    id of the cluster; singletons are their own cluster) and
    ``is_survivor`` (true for the cluster minimum — the row exact/
    near dedup would keep).
    """
    from parquet_on_fhir_spark.operators import graph as _graph

    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes=num_hashes, k=k, hash_family=hash_family
    )
    pairs = minhash_lsh_pairs(
        sigs, id_col, num_bands=num_bands, jaccard_threshold=jaccard_threshold
    )
    cc, n_cc = _graph._components(pairs, "id_a", "id_b", max_iter)
    # The label table covers only docs that appear in a near-dup pair.
    # Its checkpointed plan carries no stats, so the left join back to
    # the full corpus would default to a sort-merge join — shuffling
    # and sorting the CORPUS id column on both sides. When the row
    # count _components already holds says the label table is small
    # (≤1M rows ≈ tens of MB), broadcast it and leave the corpus side
    # completely unshuffled (r16, guide §3.1); bigger label tables
    # keep the shuffle join — a 100 TB pair graph must not broadcast.
    if n_cc <= _graph._BROADCAST_MAX_ROWS:
        cc = F.broadcast(cc)
    out = (
        df.select(id_col)
        .join(cc, F.col(id_col) == cc["node"], "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    return out.withColumn("is_survivor", F.col("component") == F.col(id_col))


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_repeats: int = 2,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Span-level exact-substring duplication (the verbatim-repeat pass
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022 — done with hashed word n-grams instead of a
    suffix array, which trades their exact minimal length for a
    distributed-friendly formulation): find, per document, the maximal
    token spans whose every word ``n``-gram occurs ≥ ``min_repeats``
    times in the whole corpus.

    Output: (id, span_start, span_end, n_dup_ngrams) with 1-based
    token indices, span_end inclusive.

    Stages (3 narrow shuffles, text never shuffled):
    1. map: posexplode word n-gram hashes → (id, pos, h) ~24 B rows;
    2. groupBy(h) count → the duplicated-hash set; the join back to
       positions reuses the same hash partitioning (no extra exchange);
    3. window per (id): merge overlapping duplicated n-gram intervals
       (gap ≤ n) into maximal spans via a lag + running-sum span id.
    """
    from pyspark.sql import Window

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    hash_fn = _seeded_hash(hash_family, 0)

    # Let-bind the token array via the 1-element-array transform: HOFs
    # run interpreted with no CSE, so referencing `words` directly in
    # the per-position lambda would re-split the WHOLE document once per
    # n-gram position (quadratic in document length — measured 5× on
    # the sf0.1 corpus).
    def per_ws(ws):
        nw = F.size(ws)
        grams = F.when(nw >= n, F.sequence(F.lit(1), nw - n + 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            grams,
            lambda i: F.struct(
                i.alias("pos"),
                hash_fn(F.concat_ws(" ", F.slice(ws, i, n))).alias("h"),
            ),
        )

    # pos feeds BOTH the duplicated-hash count and the join back; the
    # branches don't plan a ReusedExchange (different partition keys
    # survive AQE), so without materialization the n-gram hash explode
    # runs twice over the full corpus. A lazy checkpoint of the narrow
    # (id, pos, h) rows (~24 B each) is the standard two-pass
    # materialization — it holds exactly what a shuffle of the same
    # rows would have written to local disk anyway.
    pos = df.select(
        F.col(id_col),
        F.explode(F.transform(F.array(words), per_ws)[0]).alias("ph"),
    ).select(
        id_col, F.col("ph.pos").alias("pos"), F.col("ph.h").alias("h")
    ).localCheckpoint(eager=False)
    dup_h = (
        pos.groupBy("h").agg(F.count("*").alias("__c")).filter(F.col("__c") >= min_repeats)
    )
    flagged = pos.join(dup_h.select("h"), "h")
    w = Window.partitionBy(id_col).orderBy("pos")
    new_span = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > n), 1
    ).otherwise(0)
    span_id = F.sum(new_span).over(
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.withColumn("__span", span_id)
        .groupBy(id_col, "__span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).alias("span_end"),
            F.count("*").alias("n_dup_ngrams"),
        )
        .drop("__span")
    )


def incremental_dedup(
    new_docs: DataFrame,
    kept_docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float | None = 0.5,
    k: int = 3,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    broadcast_new: bool = True,
) -> DataFrame:
    """Continuous-ingestion dedup: drop rows of ``new_docs`` that are
    exact or near duplicates of the ALREADY-KEPT corpus (dedup of the
    new batch against itself is a separate :func:`exact_dedup` /
    :func:`near_dup_clusters` pass — compose as needed).

    Scale shape — the kept corpus is the 100 TB side and is scanned,
    never shuffled against itself:

    1. exact: content-hash LEFT ANTI join (sha2 of text; the kept side
       reduces to its distinct hash set map-side before the join);
    2. near (``jaccard_threshold`` not None): each side is banded
       SEPARATELY and kept-banded is equi-joined against the new batch's
       banded rows on (band, bucket) — kept×kept candidate pairs are
       never generated, so the kept side's self-collision banding cost
       (which would dominate at corpus scale) is structurally absent.
       With ``broadcast_new`` (default) the new side — typically a tiny
       ingestion batch — is broadcast, so the kept corpus is scanned
       map-side with ZERO shuffle; set it False for jumbo batches to get
       a plain (band, bucket) shuffle join instead.  Colliding cross-set
       pairs are verified by signature agreement ≥ threshold and the hit
       new-ids dropped.  ``max_bucket_size`` caps hot kept-side buckets
       (boilerplate) exactly as in :func:`minhash_lsh_pairs`.
    """
    text_hash = F.sha2(F.col(text_col), 256)
    kept_hashes = kept_docs.select(text_hash.alias("__h")).distinct()
    survivors = (
        new_docs.withColumn("__h", text_hash)
        .join(kept_hashes, "__h", "left_anti")
        .drop("__h")
    )
    if jaccard_threshold is None:
        return survivors
    # Multiply-referenced intermediates are checkpointed lazily (each is
    # computed once, by the first job that reads it): survivors feeds
    # both signature computation and the final anti-join (it is the
    # small ingestion batch — cheap to hold); each signature table feeds
    # banding AND pair re-attach, and replaying either means recomputing
    # MinHash over text.
    survivors = survivors.localCheckpoint(eager=False)
    new_sigs = minhash_signatures(
        survivors, text_col, id_col, num_hashes=num_hashes, k=k, hash_family=hash_family
    ).select(F.col(id_col), F.col("minhash")).localCheckpoint(eager=False)
    kept_sigs = minhash_signatures(
        kept_docs, text_col, id_col, num_hashes=num_hashes, k=k, hash_family=hash_family
    ).select(F.col(id_col), F.col("minhash")).localCheckpoint(eager=False)
    new_banded = _band_signatures(new_sigs, id_col, num_bands, hash_family).select(
        F.col(id_col).alias("__nid"), "band", "bucket"
    )
    kept_banded = _band_signatures(kept_sigs, id_col, num_bands, hash_family).select(
        F.col(id_col).alias("__kid"), "band", "bucket"
    )
    kept_banded = _cap_buckets(
        kept_banded, ["band", "bucket"], max_bucket_size, log_dropped=False
    )
    if broadcast_new:
        new_banded = F.broadcast(new_banded)
    candidates = (
        kept_banded.join(new_banded, ["band", "bucket"])
        .select("__nid", "__kid")
        .dropDuplicates(["__nid", "__kid"])
    )
    est = F.size(
        F.filter(F.zip_with(F.col("sig_n"), F.col("sig_k"), lambda a, b: a == b),
                 lambda x: x)
    ) / F.size(F.col("sig_n"))
    near_hit_ids = (
        candidates.join(
            new_sigs.select(F.col(id_col).alias("__nid"), F.col("minhash").alias("sig_n")),
            "__nid",
        )
        .join(
            kept_sigs.select(F.col(id_col).alias("__kid"), F.col("minhash").alias("sig_k")),
            "__kid",
        )
        .filter(est >= jaccard_threshold)
        .select("__nid")
        .distinct()
    )
    return survivors.join(
        near_hit_ids, survivors[id_col] == near_hit_ids["__nid"], "left_anti"
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    max_train_rows: int = 262_144,
    max_cell_size: int | None = DEFAULT_MAX_BUCKET,
    corpus_rows: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): k-means cluster
    the embedding space, then WITHIN each cluster treat every pair with
    cosine ≥ ``threshold`` as semantic duplicates and keep one
    representative per duplicate group.

    This is the embedding-space sibling of :func:`near_dup_clusters` —
    where MinHash/LSH catches lexical duplicates, SemDeDup catches
    paraphrases and re-renders that share meaning but not tokens. The
    cluster step IS the blocking: the quadratic verify runs per cell
    (Σ cell² work, the paper's own design), never corpus-wide, and
    ``max_cell_size`` caps degenerate cells exactly like LSH bucket
    caps. Deterministic end to end: seeded KMeans over a hash-ordered
    bounded training sample (same discipline as ivf_topk), min-id
    survivor per connected duplicate group (transitive closure via the
    distributed CC fixpoint, not pairwise-greedy — a≈b≈c collapses to
    ONE survivor even when a≈c is below threshold).

    Output: (id_col, cell, component, is_survivor) — every input row,
    with ``is_survivor`` false only for rows judged semantic duplicates
    of a kept representative.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from parquet_on_fhir_spark.functions.vectors import cosine_similarity
    from parquet_on_fhir_spark.operators.graph import connected_components

    hash32 = F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 32))
    if corpus_rows is not None and corpus_rows <= max_train_rows:
        train_src = df
    else:
        train_ids = (
            df.select(id_col, hash32.alias("__h"))
            .orderBy("__h", id_col)
            .limit(max_train_rows)
            .select(id_col)
        )
        train_src = df.join(F.broadcast(train_ids), id_col, "semi")
    train = train_src.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_clusters, seed=seed, maxIter=10).fit(train)
    assigned = model.transform(
        df.select(
            F.col(id_col),
            F.col(vec_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
        )
    ).select(F.col(id_col), F.col(vec_col), F.col("prediction").alias("cell"))
    # feeds capping, both pair sides, and output: computed once
    assigned = assigned.localCheckpoint(eager=False)

    capped = _cap_buckets(
        assigned.select(id_col, "cell"), ["cell"], max_cell_size, log_dropped=False
    )
    lhs = capped.join(assigned, [id_col, "cell"]).select(
        "cell", F.col(id_col).alias("__ida"), F.col(vec_col).alias("__va")
    )
    rhs = capped.join(assigned, [id_col, "cell"]).select(
        "cell", F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb")
    )
    pairs = (
        lhs.join(rhs, "cell")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(cosine_similarity(F.col("__va"), F.col("__vb")) >= threshold)
        .select("__ida", "__idb")
    )
    cc = connected_components(pairs, "__ida", "__idb").withColumnRenamed(
        "component", "__comp"
    )
    return (
        assigned.select(id_col, "cell")
        .join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce(F.col("__comp"), F.col(id_col)).alias("component"),
            (F.coalesce(F.col("__comp"), F.col(id_col)) == F.col(id_col)).alias(
                "is_survivor"
            ),
        )
    )


def effective_sample_size(
    df: "DataFrame",
    text_col: str = "text",
) -> "DataFrame":
    """Duplicate-inflation audit: exact-duplicate clusters by full-text
    hash, and the EFFECTIVE sample size of the corpus when each
    document is down-weighted to 1/cluster_size (the standard dedup
    weighting for loss/eval reweighting instead of dropping rows).
    With w_d = 1/|cluster(d)|, Kish's ESS = (Σw)²/Σw² collapses to
    C² / Σ_clusters (1/size) where C = cluster count — so a corpus of
    pure uniques has ESS = N and a corpus of one giant cluster has
    ESS = 1, and the gap to n_clusters quantifies how SKEWED the
    duplication is (many singletons + one megacluster), which
    dup_rate alone hides.

    100 TB plan: one (hash)-keyed aggregate with map-side combine
    (shuffle rows = distinct texts, 16-byte keys — the
    :func:`exact_dedup` shuffle), then a 1-row fold. md5 keeps the
    audit engine-portable; collision probability at 1e12 docs is
    ~1e-13 (birthday bound on 128 bits).

    Output: 1 row — (n_docs, n_clusters, dup_rate, ess).
    """
    sizes = (
        # md5(NULL) is NULL: unfiltered, all NULL-text rows would fuse
        # into one phantom "cluster" and silently deflate the ESS
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(F.count("*").alias("__size"))
    )
    agg = sizes.agg(
        F.sum("__size").alias("n_docs"),
        F.count("*").alias("n_clusters"),
        F.sum(1.0 / F.col("__size").cast("double")).alias("__inv"),
    )
    c = F.col("n_clusters").cast("double")
    return agg.select(
        "n_docs",
        "n_clusters",
        (1.0 - c / F.col("n_docs").cast("double")).alias("dup_rate"),
        (c * c / F.col("__inv")).alias("ess"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
    shingle_cap: int | None = None,
) -> DataFrame:
    """Directed n-gram CONTAINMENT pairs: (a, b) where
    ``|sh(a) ∩ sh(b)| / |sh(a)| ≥ threshold`` over distinct word
    k-shingles — the subset/quote detector Jaccard misses by design
    (a 20-word fragment inside a 500-word article has Jaccard ≈ 0.04
    but containment ≈ 1.0; Broder 1997 separates the two resemblance
    measures for exactly this reason). The pretraining use: drop
    fragments whose content already ships inside a kept document.

    Plan: one shingle explode (the inverted index), a self-equi-join
    on the shingle key, one (a, b) count, one |sh(a)| join, one
    division. ``shingle_cap`` drops shingles present in more than cap
    documents BEFORE the join (the `_cap_buckets` hot-key guard —
    stop-word shingles are the worst join keys and carry no subset
    signal); capped runs under-count shared shingles, so cap=None is
    the exact/oracle mode and capped mode is the corpus-scale posture.
    Text itself never shuffles — only (id, shingle-string) pairs.

    Pipeline-order caveat (measured, r12 ×30 probe): pair volume is
    QUADRATIC in exact-duplication factor — k copies of one document
    all pair with each other — so on crawl-like corpora run
    :func:`exact_dedup` FIRST and containment on the survivors, with
    ``shingle_cap`` bounding what duplication remains. A replicated
    corpus (the probe's construction) is exactly the adversarial
    case, which is why the probe excludes this operator by design.

    Output: (id_a, id_b, shared, n_sh_a, containment), directed both
    ways when both directions clear the threshold.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, k)).alias("sh"),
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    capped = _cap_buckets(sh, ["sh"], shingle_cap, False)
    a = capped.select(F.col("id").alias("id_a"), "sh")
    b = capped.select(F.col("id").alias("id_b"), "sh")
    shared = (
        a.join(b, "sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    out = shared.join(
        sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_sh_a")),
        "id_a",
    ).withColumn(
        "containment",
        F.col("shared").cast("double") / F.col("n_sh_a").cast("double"),
    )
    return out.filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "shared", "n_sh_a", "containment"
    )
