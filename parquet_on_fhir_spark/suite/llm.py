"""LLM-data-pipeline queries (SURVEY.md §2B Q66-Q74, BASELINE.json
north star): dedup, similarity search, text analysis, multimodal.

Exact-semantics operators carry DuckDB oracles; LSH/ANN/fingerprint
operators are rows-only (hash-family-dependent results) and are instead
property-tested against exact similarity in tests/.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_on_fhir_spark.operators import text as tx
from parquet_on_fhir_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_candidates,
)
from parquet_on_fhir_spark.operators.multimodal import attach_binary, extract_features
from parquet_on_fhir_spark.operators.similarity import ann_topk, brute_force_topk
from parquet_on_fhir_spark.suite.common import local_df, Q, d4, t


def _docs_with_dups(spark, sf_dir):
    """documents ∪ an id-shifted copy — synthesizes exact duplicates so
    dedup has something to remove (base table has none)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.unionAll(d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))


# --- Q66: exact dedup (content hash, deterministic survivor) -----------------
def q66(spark, sf_dir):
    return exact_dedup(_docs_with_dups(spark, sf_dir), "text", "doc_id").select("doc_id")


Q66_ORACLE = """
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
r AS (
  SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM docs2
)
SELECT doc_id FROM r WHERE rn = 1
"""


# --- Q67: MinHash + LSH near-dedup (hash-family-specific → rows-only) ----------
def q67(spark, sf_dir):
    """Near-duplicate pairs among documents ∪ lightly-corrupted copies.
    Property-tested vs exact n-gram Jaccard in tests/test_llm_ops.py."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    corrupted = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker words")).alias("text"),
    )
    sigs = minhash_signatures(d.unionAll(corrupted), "text", "doc_id", num_hashes=32)
    return minhash_lsh_pairs(sigs, "doc_id", num_bands=8, jaccard_threshold=0.4)


# --- Q67c: MinHash + LSH with the portable md5_60 family (exact oracle) -----------
def q67c(spark, sf_dir):
    """The SAME MinHash/LSH pipeline as q67 but on the ``md5_60`` hash
    family, which DuckDB computes bit-identically — so signatures,
    banding, candidate pairs and the Jaccard estimate are all restated
    in the oracle with list lambdas and hash-verified end to end.
    est_jaccard = matches/32 is an exact binary fraction (32 = 2^5), so
    the double value is engine-stable without rounding."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    corrupted = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker words")).alias("text"),
    )
    sigs = minhash_signatures(
        d.unionAll(corrupted), "text", "doc_id", num_hashes=32, hash_family="md5_km"
    )
    return minhash_lsh_pairs(sigs, "doc_id", num_bands=8, jaccard_threshold=0.4)


Q67C_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' tail marker words' AS text
  FROM documents WHERE doc_id < 50
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 1)),
           i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' '))) AS shingles
  FROM base
),
sigs AS (
  SELECT doc_id,
         list_transform(generate_series(0, 31),
           i -> list_min(list_transform(hp,
                p -> (p.h1 + i * p.h2) % 1152921504606846976))) AS sig
  FROM (SELECT doc_id, list_transform(shingles,
          s -> {'h1': CAST('0x' || substr(md5(s), 1, 15) AS BIGINT),
                'h2': CAST('0x' || substr(md5(s), 16, 14) AS BIGINT)}) AS hp FROM sh)
),
banded AS (
  SELECT doc_id,
         b.band,
         CAST('0x' || substr(md5(array_to_string(
           list_transform(sig[b.band*4+1 : b.band*4+4], x -> CAST(x AS VARCHAR)), ',')), 1, 15) AS BIGINT) AS bucket
  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band) b
),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r USING (band, bucket)
  WHERE l.doc_id < r.doc_id
),
scored AS (
  SELECT id_a, id_b,
         len(list_filter(list_transform(generate_series(1, 32),
             i -> sa.sig[i] = sb.sig[i]), x -> x)) / 32.0 AS est_jaccard
  FROM pairs
  JOIN sigs sa ON sa.doc_id = id_a
  JOIN sigs sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, est_jaccard FROM scored WHERE est_jaccard >= 0.4
"""


# --- Q67b: SimHash near-dedup (rows-only) ----------------------------------------
def q67b(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    corrupted = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    fps = simhash(d.unionAll(corrupted), "text", "doc_id")
    return simhash_candidates(fps, "doc_id", max_hamming=3)


# --- Q68: cosine similarity vs a query vector -------------------------------------
def q68(spark, sf_dir):
    from parquet_on_fhir_spark.functions.vectors import cosine_similarity

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return e.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(cosine_similarity("embedding", "qvec") + F.lit(1e-9), 6).alias("cosine"),
    )


Q68_ORACLE = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings),
ex AS (SELECT vec_id, unnest(ee) AS v, generate_subscripts(ee, 1) AS i FROM e),
qx AS (SELECT unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q)
SELECT ex.vec_id,
       round(sum(ex.v * qx.v) / (sqrt(sum(ex.v * ex.v)) * sqrt(sum(qx.v * qx.v))) + 1e-9, 6) AS cosine
FROM ex JOIN qx ON ex.i = qx.i
GROUP BY ex.vec_id
"""


# --- Q69: brute-force top-k similarity search ---------------------------------------
def q69(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    res = brute_force_topk(e, queries, k=3)
    return res.select("q_id", "vec_id", "cosine", F.col("rank").alias("rnk"))


Q69_ORACLE = """
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings),
ex AS (SELECT vec_id, unnest(ee) AS v, generate_subscripts(ee, 1) AS i FROM e),
qx AS (SELECT q_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
sims AS (
  SELECT qx.q_id, ex.vec_id,
         round(sum(ex.v * qx.v) / (sqrt(sum(ex.v * ex.v)) * sqrt(sum(qx.v * qx.v))) + 1e-9, 6) AS cosine
  FROM ex JOIN qx ON ex.i = qx.i
  WHERE ex.vec_id <> qx.q_id
  GROUP BY qx.q_id, ex.vec_id
)
SELECT q_id, vec_id, cosine,
       row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
FROM sims QUALIFY rnk <= 3
"""


# --- Q70: ANN top-k via multi-table sign-LSH (rows-only; recall-tested) ----------------
def q70(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    return ann_topk(e, queries, dim=64, k=3, n_planes=4, n_tables=8)


# --- Q70b: IVF ANN (KMeans cells + n_probe; rows-only; recall-tested) --------------------
def q70b(spark, sf_dir):
    from parquet_on_fhir_spark.operators.similarity import ivf_topk

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    return ivf_topk(e, queries, k=3, n_centroids=8, n_probe=4)


# --- Q70c: IVF candidate stage with a FROZEN codebook (oracle-backed twin) ---------------
# Deterministic pseudo-random codebook: 4 centroids x 64 dims in
# [-1, 1]; repr() round-trips each double exactly, so the SAME values
# reach Spark (F.lit) and DuckDB (decimal literals).
Q70C_CENTROIDS = [
    [((c * 29 + i * 13) % 19 - 9) / 9.0 for i in range(64)]
    for c in range(4)
]


def q70c(spark, sf_dir):
    """IVF ANN candidate semantics, oracle-backed (r13 verdict task 7
    — retire q70b's rows-only tail where portable, the q67c pattern):
    operators/similarity.py::ivf_topk_fixed with the frozen 4x64
    codebook above. Cell assignment = argmin of squared-L2 to the
    centroid literals (sorted-struct, ties to the lowest cell id);
    each query probes its 2 nearest cells; exact cosine top-3 within
    the probed cells, ranked (rounded cosine DESC, vec_id). KMeans
    training stays in q70b/tests (seed-dependent, not portable) —
    THIS is the stage that serves queries in production, where the
    codebook is trained once and persisted."""
    from parquet_on_fhir_spark.operators.similarity import ivf_topk_fixed

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    out = ivf_topk_fixed(
        e, queries, Q70C_CENTROIDS, k=3, n_probe=2
    )
    return out.withColumnRenamed("rank", "rnk")


def _q70c_cent_sql() -> str:
    rows = ", ".join(
        "(%d, [%s])" % (c, ", ".join(repr(x) for x in vec))
        for c, vec in enumerate(Q70C_CENTROIDS)
    )
    return f"(VALUES {rows}) AS tc(c, vals)"


Q70C_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings),
ex AS (SELECT vec_id, unnest(ee) AS v, generate_subscripts(ee, 1) AS i FROM e),
cent AS (
  SELECT c, unnest(vals) AS v, generate_subscripts(vals, 1) AS i
  FROM {_q70c_cent_sql()}
),
ed AS (
  SELECT ex.vec_id, cent.c, sum((ex.v - cent.v) * (ex.v - cent.v)) AS d
  FROM ex JOIN cent ON ex.i = cent.i
  GROUP BY 1, 2
),
ranked AS (
  SELECT vec_id, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
  FROM ed
),
cells AS (SELECT vec_id, c AS cell FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, c AS cell FROM ranked
           WHERE vec_id < 5 AND rn <= 2),
cand AS (
  SELECT p.q_id, s.vec_id
  FROM probes p JOIN cells s ON s.cell = p.cell
  WHERE s.vec_id <> p.q_id
),
qx AS (SELECT vec_id AS q_id, v, i FROM ex WHERE vec_id < 5),
sims AS (
  SELECT cand.q_id, cand.vec_id,
         round(sum(ex.v * qx.v)
               / (sqrt(sum(ex.v * ex.v)) * sqrt(sum(qx.v * qx.v)))
               + 1e-9, 6) AS cosine
  FROM cand
  JOIN ex ON ex.vec_id = cand.vec_id
  JOIN qx ON qx.q_id = cand.q_id AND qx.i = ex.i
  GROUP BY 1, 2
)
SELECT q_id, vec_id, cosine,
       row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
         AS rnk
FROM sims QUALIFY rnk <= 3
"""


# --- Q70d: sign-LSH ANN with the seeded hyperplanes replayed in SQL (oracle twin) ----------
def q70d(spark, sf_dir):
    """Sign-LSH ANN, oracle-backed (r14 — the q67c/q70c pattern
    applied to the LAST hash family in the rows-only tail): q70's
    ann_topk is deterministic given its seeded hyperplanes
    (random_hyperplanes(dim, n, seed) — the same Gaussian draw every
    run), so the full pipeline — per-table sign-pattern buckets,
    (table, bucket) candidate join, dedup, exact rounded-cosine
    rerank — replays in SQL with the planes as literals. 4 tables × 4
    planes keeps the literal table at 16×64 doubles. Sign knife-edge
    (dot ≈ 0 flipping between engines) is measure-zero on real
    embeddings; the rerank uses the shared 6-dp discipline."""
    from parquet_on_fhir_spark.operators.similarity import ann_topk

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    out = ann_topk(e, queries, dim=64, k=3, n_planes=4, n_tables=4)
    return out.withColumnRenamed("rank", "rnk")


def _q70d_planes_sql() -> str:
    """The EXACT plane literals ann_topk(seed=42, n_tables=4,
    n_planes=4) uses, as a (t, p, vals) VALUES table — repr()
    round-trips each double bit-exactly into DuckDB."""
    from parquet_on_fhir_spark.operators.similarity import (
        random_hyperplanes,
    )

    rows = []
    for t_i in range(4):
        planes = random_hyperplanes(64, 4, 42 + t_i)
        for p_i, vec in enumerate(planes):
            rows.append(
                "(%d, %d, [%s])"
                % (t_i, p_i, ", ".join(repr(float(x)) for x in vec))
            )
    return "(VALUES %s) AS tp(t, p, vals)" % ", ".join(rows)


Q70D_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings),
ex AS (SELECT vec_id, unnest(ee) AS v, generate_subscripts(ee, 1) AS i FROM e),
pl AS (
  SELECT t, p, unnest(vals) AS pv, generate_subscripts(vals, 1) AS i
  FROM {_q70d_planes_sql()}
),
dots AS (
  SELECT ex.vec_id, pl.t, pl.p, sum(ex.v * pl.pv) AS dot
  FROM ex JOIN pl ON ex.i = pl.i
  GROUP BY 1, 2, 3
),
buckets AS (
  SELECT vec_id, t,
         sum(CASE WHEN dot > 0
                  THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
  FROM dots GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id
  FROM buckets c JOIN buckets q
    ON c.t = q.t AND c.bucket = q.bucket
   AND q.vec_id < 5 AND c.vec_id <> q.vec_id
),
qx AS (SELECT vec_id AS q_id, v, i FROM ex WHERE vec_id < 5),
sims AS (
  SELECT cand.q_id, cand.vec_id,
         round(sum(ex.v * qx.v)
               / (sqrt(sum(ex.v * ex.v)) * sqrt(sum(qx.v * qx.v)))
               + 1e-9, 6) AS cosine
  FROM cand
  JOIN ex ON ex.vec_id = cand.vec_id
  JOIN qx ON qx.q_id = cand.q_id AND qx.i = ex.i
  GROUP BY 1, 2
)
SELECT q_id, vec_id, cosine,
       row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
         AS rnk
FROM sims QUALIFY rnk <= 3
"""

# (q70c/q70d are registered in the QUERIES literal below — the list
# doesn't exist yet at this point in the module.)


# --- Q91: embedding-cosine near-duplicate pairs (exact baseline; oracle) ---------------
def q91(spark, sf_dir):
    """All-pairs cosine >= 0.40 — the exact verification baseline for
    embedding near-dedup. O(n^2) by construction; the LSH-bucketed form
    (q91b) is the 100 TB path."""
    from parquet_on_fhir_spark.operators.dedup import embedding_near_dup_pairs

    e = t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.40, exact=True
    )


Q91_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings),
ex AS (SELECT vec_id, unnest(ee) AS v, generate_subscripts(ee, 1) AS i FROM e),
sims AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(sum(a.v * b.v) / (sqrt(sum(a.v * a.v)) * sqrt(sum(b.v * b.v))) + 1e-9, 4) AS cosine
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, cosine FROM sims WHERE cosine >= 0.40
"""


# --- Q91b: the same via sign-LSH bucketing (rows-only; recall-tested) --------------------
def q91b(spark, sf_dir):
    from parquet_on_fhir_spark.operators.dedup import embedding_near_dup_pairs

    e = t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.40, n_planes=4, n_tables=8, dim=64
    )


# --- Q71: text analysis stats ------------------------------------------------------------
def q71(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        d4(F.avg(ntok)).alias("avg_tokens"),
        d4(F.avg("n_chars")).alias("avg_chars"),
        F.max(ntok).alias("max_tokens"),
    )


Q71_ORACLE = """
SELECT lang, count(*) AS n_docs,
       round(avg(len(string_split(text, ' '))) + 1e-9, 4) AS avg_tokens,
       round(avg(n_chars) + 1e-9, 4) AS avg_chars,
       max(len(string_split(text, ' '))) AS max_tokens
FROM documents GROUP BY lang
"""


# --- Q71b: language-ID heuristic (marker-set n-gram scoring; rows-only) --------------------
def q71b(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.withColumn("detected", tx.detect_language("text"))
        .groupBy("detected")
        .agg(F.count("*").alias("n"))
    )


# detect_language restated: per-language marker-token counts, argmax
# with the same deterministic tie-break (equal scores -> the
# lexicographically-last language, matching the struct-sort in
# operators/text.py::detect_language).
Q71B_ORACLE = r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
),
s AS (
  SELECT doc_id,
    len(list_filter(toks, x -> list_contains(['the','and','of','to','is','a','in','that'], x))) AS s_en,
    len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','en','un'], x))) AS s_es,
    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht','ein','zu'], x))) AS s_de,
    len(list_filter(toks, x -> list_contains(['le','la','les','de','et','est','un','une'], x))) AS s_fr,
    len(list_filter(toks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) AS s_zh
  FROM tk
),
d AS (
  SELECT doc_id,
    CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
         WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'zh'
         WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
         WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
         WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
         ELSE 'de' END AS detected
  FROM s
)
SELECT detected, count(*) AS n FROM d GROUP BY detected
"""


# --- Q72: term document-frequency / IDF --------------------------------------------------
def q72(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    doc_freq = tok.groupBy("token").agg(F.count("*").alias("doc_freq"))
    total = d.agg(F.count("*").alias("total"))
    return (
        doc_freq.crossJoin(F.broadcast(total))
        .select(
            "token",
            "doc_freq",
            d4(F.log(F.col("total").cast("double") / F.col("doc_freq"))).alias("idf"),
        )
        .orderBy(F.desc("doc_freq"), "token")
        .limit(20)
    )


Q72_ORACLE = """
WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
dfreq AS (SELECT token, count(*) AS doc_freq FROM tok GROUP BY token),
n AS (SELECT count(*) AS total FROM documents)
SELECT token, doc_freq, round(ln(CAST(total AS DOUBLE) / doc_freq) + 1e-9, 4) AS idf
FROM dfreq, n
ORDER BY doc_freq DESC, token
LIMIT 20
"""


# --- Q74: text quality rule filter ----------------------------------------------------------
def q74(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    chars_per_tok = F.col("n_chars").cast("double") / ntok
    return d.filter(
        F.col("n_chars").between(100, 2000)
        & (ntok >= 20)
        & chars_per_tok.between(3, 8)
    ).select("doc_id", "lang")


Q74_ORACLE = """
SELECT doc_id, lang FROM documents
WHERE n_chars BETWEEN 100 AND 2000
  AND len(string_split(text, ' ')) >= 20
  AND (CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))) BETWEEN 3 AND 8
"""


# --- Q74b: composite quality + token-budget scoring (oracle-checked) -------------------
def q74b(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(tx.quality_score("text") + F.lit(1e-9), 4).alias("quality"),
        tx.token_count("text").alias("n_tokens"),
        tx.bpe_ish_token_count("text").alias("bpe_tokens"),
    )


# The full scoring pipeline restated in SQL: same tokenization
# (regex whitespace split of lower(text)), same component scores, same
# weights — the d4(+1e-9) discipline absorbs last-ulp FP differences.
Q74B_ORACLE = r"""
WITH tk AS (
  SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id, text, toks,
    CAST(len(toks) AS DOUBLE) AS n_tok,
    CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        / length(text) AS pr,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        / len(toks) AS mwl,
    CAST(len(list_filter(toks, x -> list_contains(
        ['the','and','of','to','is','a','in','that'], x))) AS DOUBLE)
        / len(toks) AS sr
  FROM tk
)
SELECT doc_id,
  round(least(n_tok / 50.0, 1.0) * 0.4
      + greatest(0.0, 1.0 - pr * 10.0) * 0.2
      + (CASE WHEN mwl >= 2.5 AND mwl <= 10.0 THEN 1.0 ELSE 0.3 END) * 0.2
      + least(sr * 5.0, 1.0) * 0.2 + 1e-9, 4) AS quality,
  CAST(len(toks) AS INT) AS n_tokens,
  CAST(list_sum(list_transform(toks, x -> CAST(ceil(length(x) / 4.0) AS INT)))
       + length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS bpe_tokens
FROM feat
"""


# --- Q74c: rolling-hash document fingerprints (xxhash64 — rows-only) --------------------
def q74c(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", tx.rolling_fingerprint("text").alias("fingerprint")
    )


# --- Q86: composed corpus-curation pipeline (rows-only; pipeline-tested) ---------------
def q86(spark, sf_dir):
    from parquet_on_fhir_spark.operators.pipeline import curate_corpus

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    curated = curate_corpus(
        d.unionAll(dups), min_quality=0.1, near_dup_threshold=0.8, token_budget=20000
    )
    return curated.select("doc_id", "quality", "n_tokens")


# --- Q74d: portable rolling-hash fingerprints (md5_60 — exact oracle) -------------------
def q74d(spark, sf_dir):
    """q74c's winnowing fingerprint on the cross-engine md5_60 family,
    so the min-of-rolling-window-hashes value itself is hash-verified
    (q74c keeps xxhash64, the production family)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.rolling_fingerprint("text", hash_family="md5_60").alias("fingerprint"),
    )


Q74D_ORACLE = r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
)
SELECT doc_id,
       list_min(list_transform(
         generate_series(1, greatest(len(toks) - 7, 1)),
         i -> CAST('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15) AS BIGINT)
       )) AS fingerprint
FROM tk
"""


# --- Q86c: the FULL curation pipeline on the portable hash family (exact oracle) --------
def q86c(spark, sf_dir):
    """curate_corpus end-to-end — exact dedup → MinHash-LSH near-dedup →
    quality filter → greedy token budget — with hash_family="md5_60",
    so every stage (including the LSH pair set and the two-pass budget
    cutoff) is restated in the oracle and hash-verified. The budget
    cutoff's scale-safe histogram form must be row-identical to the
    oracle's global running-sum window — that equivalence IS the thing
    under test."""
    from parquet_on_fhir_spark.operators.pipeline import curate_corpus

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    curated = curate_corpus(
        d.unionAll(dups),
        min_quality=0.1,
        near_dup_threshold=0.8,
        token_budget=20000,
        hash_family="md5_km",
    )
    return curated.select("doc_id", "quality", F.col("n_tokens").cast("long").alias("n_tokens"))


Q86C_ORACLE = r"""
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 25
),
exact AS (  -- stage 1: exact dedup, min-id survivor per content
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM docs2) WHERE rn = 1
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 1)),
           i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' '))) AS shingles
  FROM exact
),
sigs AS (
  SELECT doc_id,
         list_transform(generate_series(0, 31),
           i -> list_min(list_transform(hp,
                p -> (p.h1 + i * p.h2) % 1152921504606846976))) AS sig
  FROM (SELECT doc_id, list_transform(shingles,
          s -> {'h1': CAST('0x' || substr(md5(s), 1, 15) AS BIGINT),
                'h2': CAST('0x' || substr(md5(s), 16, 14) AS BIGINT)}) AS hp FROM sh)
),
banded AS (
  SELECT doc_id, b.band,
         CAST('0x' || substr(md5(array_to_string(
           list_transform(sig[b.band*4+1 : b.band*4+4], x -> CAST(x AS VARCHAR)), ',')), 1, 15) AS BIGINT) AS bucket
  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band) b
),
losers AS (  -- stage 2: near-dup pairs >= 0.8 estimated Jaccard drop the higher id
  SELECT DISTINCT r.doc_id AS loser
  FROM banded l JOIN banded r USING (band, bucket)
  JOIN sigs sa ON sa.doc_id = l.doc_id
  JOIN sigs sb ON sb.doc_id = r.doc_id
  WHERE l.doc_id < r.doc_id
    AND len(list_filter(list_transform(generate_series(1, 32),
        i -> sa.sig[i] = sb.sig[i]), x -> x)) / 32.0 >= 0.8
),
feat AS (  -- stage 3: quality score (q74b formulas) + token count
  SELECT doc_id,
    CAST(len(toks) AS DOUBLE) AS n_tok,
    CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        / length(text) AS pr,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        / len(toks) AS mwl,
    CAST(len(list_filter(toks, x -> list_contains(
        ['the','and','of','to','is','a','in','that'], x))) AS DOUBLE)
        / len(toks) AS sr
  FROM (
    SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS toks
    FROM exact WHERE doc_id NOT IN (SELECT loser FROM losers)
  )
),
scored AS (
  SELECT doc_id,
    round(least(n_tok / 50.0, 1.0) * 0.4
        + greatest(0.0, 1.0 - pr * 10.0) * 0.2
        + (CASE WHEN mwl >= 2.5 AND mwl <= 10.0 THEN 1.0 ELSE 0.3 END) * 0.2
        + least(sr * 5.0, 1.0) * 0.2 + 1e-9, 4) AS quality,
    CAST(n_tok AS BIGINT) AS n_tokens
  FROM feat
),
runs AS (  -- stage 4: greedy budget in (quality desc, id) order, inclusive prefix
  SELECT doc_id, quality, n_tokens,
         sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM scored WHERE quality >= 0.1
)
SELECT doc_id, quality, n_tokens FROM runs WHERE run <= 20000
"""


# --- Q73: multimodal binary columns (decode via stand-in codec; oracle-checked) ----------------
def q73(spark, sf_dir):
    """The mapInPandas plumbing (Arrow batches, binary payloads, fixed
    feature schema) runs for real; the oracle states the aggregate it
    must produce — payload bytes are UTF-8 text bytes (DuckDB
    ``strlen``) and the stand-in codec's feature width is 5."""
    d = t(spark, sf_dir, "documents")
    media = attach_binary(d.select("doc_id", "text"), "text", kind="blob")
    feats = extract_features(media)
    return feats.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        d4(F.avg("n_bytes")).alias("avg_bytes"),
        F.size(F.first("feat")).alias("feat_dim"),
    )


Q73_ORACLE = """
SELECT 'blob' AS kind, count(*) AS n_media,
       round(avg(strlen(text)) + 1e-9, 4) AS avg_bytes,
       5 AS feat_dim
FROM documents
"""


# --- Q73b: frame-sampling plan over media with durations (JVM-side; oracle) ---------------
def q73b(spark, sf_dir):
    """Video frame-sample planning: media rows expand to the timestamps a
    decoder would extract — sequence+explode, fully JVM-side, so the
    oracle is exact (duration synthesized deterministically from text
    length: 10 ms per character)."""
    from parquet_on_fhir_spark.operators.multimodal import frame_sample_plan

    d = t(spark, sf_dir, "documents")
    media = attach_binary(d.select("doc_id", "text"), "text", kind="video")
    media = media.withColumn(
        "meta",
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            (F.length(F.decode(F.col("content"), "UTF-8")) * 10)
            .cast("bigint")
            .alias("duration_ms"),
        ),
    )
    return frame_sample_plan(media, every_ms=1000)


Q73B_ORACLE = """
SELECT doc_id AS media_id,
       CAST(unnest(generate_series(0, greatest(CAST(floor(length(text) * 10.0 / 1000) AS INT) - 1, 0))) * 1000 AS INT) AS frame_ts_ms
FROM documents
"""


QUERIES = [
    Q("q66_dedup_exact", q66, Q66_ORACLE),
    Q("q67_dedup_minhash_lsh", q67, None),
    Q("q67b_dedup_simhash", q67b, None),
    Q("q67c_dedup_minhash_md5", q67c, Q67C_ORACLE),
    Q("q68_cosine_similarity", q68, Q68_ORACLE),
    Q("q69_similarity_topk_bruteforce", q69, Q69_ORACLE),
    Q("q70_similarity_ann_lsh", q70, None),
    Q("q70b_similarity_ivf", q70b, None),
    Q("q70c_ivf_fixed_codebook", q70c, Q70C_ORACLE),
    Q("q70d_lsh_seeded_planes", q70d, Q70D_ORACLE),
    Q("q71_text_stats", q71, Q71_ORACLE),
    Q("q71b_language_id", q71b, Q71B_ORACLE),
    Q("q72_term_idf", q72, Q72_ORACLE),
    Q("q74_quality_filter", q74, Q74_ORACLE),
    Q("q74b_quality_scoring", q74b, Q74B_ORACLE),
    Q("q74c_doc_fingerprints", q74c, None),
    Q("q74d_doc_fingerprints_md5", q74d, Q74D_ORACLE),
    Q("q86_corpus_curation_pipeline", q86, None),
    Q("q86c_curation_pipeline_md5", q86c, Q86C_ORACLE),
    Q("q91_embedding_near_dup", q91, Q91_ORACLE),
    Q("q91b_embedding_near_dup_lsh", q91b, None),
    Q("q73_multimodal_features", q73, Q73_ORACLE),
    Q("q73b_multimodal_frame_plan", q73b, Q73B_ORACLE),
]


# --- Q95: benchmark decontamination (13-gram overlap removal) ------------------------
def q95(spark, sf_dir):
    """Corpus minus documents sharing any word 8-gram with the
    benchmark slice (doc_id % 17 == 0). Broadcast semi/anti joins — the
    corpus side is never shuffled (operators/curation.py)."""
    from parquet_on_fhir_spark.operators.curation import decontaminate

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 17 == 0).select("text")
    return decontaminate(d, bench, n=8).select("doc_id")


Q95_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words) - 6),
                               i -> array_to_string(words[i:i+7], ' '))) AS gram
  FROM w WHERE len(words) >= 8
),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
c AS (SELECT DISTINCT g.doc_id FROM g JOIN b USING (gram))
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM c)
"""


# --- Q96: deterministic mixture sampling (hash-threshold stratified) -----------------
def q96(spark, sf_dir):
    """Stratified downsampling to a source mixture with layout-independent
    hash draws (md5_60(seed:id) / 2^60 < rate)."""
    from parquet_on_fhir_spark.operators.curation import sample_mixture

    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    weights = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
    return sample_mixture(d, weights, default_rate=0.1).select("doc_id", "source")


Q96_ORACLE = """
SELECT doc_id, source FROM documents
WHERE CAST('0x' || substr(md5('mix0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      / 1152921504606846976.0
      < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.75
                    WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25 ELSE 0.1 END
"""


# --- Q97: repetition statistics (Gopher-style gates) ---------------------------------
def q97(spark, sf_dir):
    """Per-document repetition signals: duplicate-line fraction and the
    share of the most frequent word 2-gram (operators/curation.py,
    pure higher-order expressions)."""
    from parquet_on_fhir_spark.operators.curation import repetition_stats

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    s = repetition_stats(d)
    return s.select(
        "doc_id",
        d4(F.col("dup_line_frac")).alias("dup_line_frac"),
        d4(F.col("top_2gram_frac")).alias("top_2gram_frac"),
        "word_count",
    )


Q97_ORACLE = """
WITH w AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i+1])) AS gram
  FROM w WHERE len(words) >= 2
),
tg AS (
  SELECT doc_id, max(n) AS mx, CAST(sum(n) AS BIGINT) AS tot
  FROM (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2)
  GROUP BY 1
)
SELECT w.doc_id AS doc_id,
       round(CASE WHEN len(lines) <= 0 THEN 0.0
                  ELSE (len(lines) - len(list_distinct(lines))) * 1.0 / len(lines)
             END + 1e-9, 4) AS dup_line_frac,
       round(COALESCE(tg.mx * 1.0 / tg.tot, 0.0) + 1e-9, 4) AS top_2gram_frac,
       len(words) AS word_count
FROM w LEFT JOIN tg ON w.doc_id = tg.doc_id
"""


# --- Q98: PII redaction (regexp_replace chain, cross-engine regex subset) -----------
def q98(spark, sf_dir):
    """Emails/SSNs/IPs/phones injected deterministically, then redacted;
    patterns restricted to the Java-regex ∩ RE2 subset so the oracle
    replays them verbatim (operators/curation.py::PII_PATTERNS)."""
    from parquet_on_fhir_spark.operators.curation import redact_pii

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 tel 415-555-0123 "),
            F.substring(F.col("text"), 1, 40),
        ).alias("text"),
    )
    return redact_pii(seeded).select(
        "doc_id", F.substring(F.col("text"), 1, 120).alias("redacted")
    )


Q98_ORACLE = """
WITH seeded AS (
  SELECT doc_id,
         'contact user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.'
           || CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789 tel 415-555-0123 '
           || substr(text, 1, 40) AS text
  FROM documents
)
SELECT doc_id,
       substr(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g'),
           '(\\+?\\d{1,2}[ .\\-])?(\\(\\d{3}\\)[ .\\-]?|\\d{3}[ .\\-])\\d{3}[ .\\-]\\d{4}\\b', '[PHONE]', 'g'),
         1, 120) AS redacted
FROM seeded
"""

QUERIES.extend([
    Q("q95_decontaminate", q95, Q95_ORACLE),
    Q("q96_sample_mixture", q96, Q96_ORACLE),
    Q("q97_repetition_stats", q97, Q97_ORACLE),
    Q("q98_redact_pii", q98, Q98_ORACLE),
])


# --- Q99: sequence packing layout (GPT-style contiguous packing) ---------------------
def q99(spark, sf_dir):
    """Per-document packing coordinates for 512-token training windows,
    16 parallel packing groups (operators/curation.py::pack_sequences;
    the one shuffle is the per-group window)."""
    from parquet_on_fhir_spark.operators.curation import pack_sequences

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(d, max_tokens=512, num_groups=16).select(
        "doc_id", "pack_group", "pack_bin", "pack_offset", "pack_spans"
    )


Q99_ORACLE = """
WITH w AS (
  SELECT doc_id,
         doc_id % 16 AS pack_group,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS tok
  FROM documents
),
c AS (
  SELECT doc_id, pack_group, tok,
         CAST(sum(tok) OVER (PARTITION BY pack_group ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM w
)
SELECT doc_id, pack_group,
       CAST((cum - tok) // 512 AS BIGINT) AS pack_bin,
       CAST((cum - tok) % 512 AS BIGINT) AS pack_offset,
       CASE WHEN tok > 0 THEN (cum - 1) // 512 > (cum - tok) // 512
            ELSE FALSE END AS pack_spans
FROM c
"""

QUERIES.append(Q("q99_pack_sequences", q99, Q99_ORACLE))


# --- Q108: near-dup CLUSTERS (MinHash → LSH pairs → connected components) ---------
def q108(spark, sf_dir):
    """The q67c pair pipeline closed into transitive clusters with the
    distributed connected-components fixpoint (operators/graph.py) and a
    deterministic min-id survivor per cluster.  md5_60 family keeps every
    stage — signatures, banding, pairs, the transitive closure itself —
    restatable in the DuckDB oracle (closure via WITH RECURSIVE)."""
    from parquet_on_fhir_spark.operators.dedup import near_dup_clusters

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    corrupted = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker words")).alias("text"),
    )
    return near_dup_clusters(
        d.unionAll(corrupted),
        "text",
        "doc_id",
        num_hashes=32,
        num_bands=8,
        jaccard_threshold=0.4,
        hash_family="md5_km",
    )


Q108_ORACLE = r"""
WITH RECURSIVE base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' tail marker words' AS text
  FROM documents WHERE doc_id < 50
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 1)),
           i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' '))) AS shingles
  FROM base
),
sigs AS (
  SELECT doc_id,
         list_transform(generate_series(0, 31),
           i -> list_min(list_transform(hp,
                p -> (p.h1 + i * p.h2) % 1152921504606846976))) AS sig
  FROM (SELECT doc_id, list_transform(shingles,
          s -> {'h1': CAST('0x' || substr(md5(s), 1, 15) AS BIGINT),
                'h2': CAST('0x' || substr(md5(s), 16, 14) AS BIGINT)}) AS hp FROM sh)
),
banded AS (
  SELECT doc_id,
         b.band,
         CAST('0x' || substr(md5(array_to_string(
           list_transform(sig[b.band*4+1 : b.band*4+4], x -> CAST(x AS VARCHAR)), ',')), 1, 15) AS BIGINT) AS bucket
  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band) b
),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r USING (band, bucket)
  WHERE l.doc_id < r.doc_id
),
edges AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sigs sa ON sa.doc_id = id_a
  JOIN sigs sb ON sb.doc_id = id_b
  WHERE len(list_filter(list_transform(generate_series(1, 32),
        i -> sa.sig[i] = sb.sig[i]), x -> x)) / 32.0 >= 0.4
),
bidir AS (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION
  SELECT id_b AS s, id_a AS d FROM edges
),
reach(node, root) AS (
  SELECT s, s FROM bidir
  UNION
  SELECT b.d, reach.root FROM reach JOIN bidir b ON b.s = reach.node
),
comp AS (
  SELECT node, min(root) AS component FROM reach GROUP BY node
)
SELECT base.doc_id,
       coalesce(comp.component, base.doc_id) AS component,
       coalesce(comp.component, base.doc_id) = base.doc_id AS is_survivor
FROM base LEFT JOIN comp ON comp.node = base.doc_id
"""


# --- Q109: document chunking (overlapping char windows; RAG / context prep) -------
def q109(spark, sf_dir):
    """Map-only sequence+explode chunking — zero shuffles, chunk rows
    inherit the scan partitioning (operators/text.py::chunk_documents)."""
    from parquet_on_fhir_spark.operators.text import chunk_documents

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, "text", "doc_id", size=128, stride=96).select(
        "doc_id", "chunk_id", "chunk_start", "chunk_text", "chunk_len"
    )


Q109_ORACLE = """
SELECT doc_id,
       i AS chunk_id,
       1 + i*96 AS chunk_start,
       substr(text, 1 + i*96, 128) AS chunk_text,
       CAST(len(substr(text, 1 + i*96, 128)) AS INT) AS chunk_len
FROM documents,
     LATERAL (SELECT unnest(generate_series(0,
       CAST(floor((greatest(len(text) - 128, 0) + 95) / 96) AS INT))) AS i) t
"""


QUERIES.extend(
    [
        Q("q108_dedup_clusters_md5", q108, Q108_ORACLE),
        Q("q109_doc_chunking", q109, Q109_ORACLE),
    ]
)


# --- Q111: DSIR-style importance weights (hashed-unigram log-likelihood ratio) ----
def q111(spark, sf_dir):
    """Target = the English slice; every stage (md5 bucket hash, Laplace
    histograms, per-word log-ratio, per-doc mean) is restated in the
    DuckDB oracle.  d4 rounding absorbs float summation order in the
    per-doc mean (operators/curation.py::importance_weights)."""
    from parquet_on_fhir_spark.operators.curation import importance_weights

    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    target = d.filter(F.col("lang") == "en").select("doc_id", "text")
    out = importance_weights(
        d.select("doc_id", "text"), target, "text", "doc_id", n_buckets=1024
    )
    return out.select(
        "doc_id", F.round(F.col("importance_weight") + F.lit(1e-9), 4).alias("importance_weight")
    )


Q111_ORACLE = r"""
WITH wc AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('0:' || w), 1, 15) AS BIGINT) % 1024 AS bucket
  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
),
wt AS (
  SELECT bucket FROM (
    SELECT CAST('0x' || substr(md5('0:' || w), 1, 15) AS BIGINT) % 1024 AS bucket
    FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents WHERE lang = 'en')
    WHERE w <> '') s
),
ht AS (SELECT bucket, count(*) AS n FROM wt GROUP BY bucket),
tt AS (SELECT sum(n) AS tot FROM ht),
hr AS (SELECT bucket, count(*) AS n FROM wc GROUP BY bucket),
tr AS (SELECT sum(n) AS tot FROM hr),
ratios AS (
  SELECT hr.bucket,
         ln(coalesce((ht.n + 1.0) / (tt.tot + 1024.0), 1.0 / (tt.tot + 1024.0))
            / ((hr.n + 1.0) / (tr.tot + 1024.0))) AS log_ratio
  FROM hr LEFT JOIN ht ON hr.bucket = ht.bucket, tt, tr
),
scored AS (
  SELECT wc.doc_id, avg(r.log_ratio) AS w
  FROM wc JOIN ratios r ON r.bucket = wc.bucket
  GROUP BY wc.doc_id
)
SELECT d.doc_id,
       round(coalesce(s.w, 0.0) + 1e-9, 4) AS importance_weight
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
"""


# --- Q112: per-source cap (anti-over-representation gate) -------------------------
def q112(spark, sf_dir):
    """Keep the 10 longest docs per source (ties broken by doc_id) —
    one window shuffle on the source key
    (operators/curation.py::cap_per_source)."""
    from parquet_on_fhir_spark.operators.curation import cap_per_source

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return cap_per_source(d, "source", "doc_id", max_per_key=10, order_col="n_chars").select(
        "doc_id", "source"
    )


Q112_ORACLE = """
SELECT doc_id, source
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
WHERE rn <= 10
"""


QUERIES.extend(
    [
        Q("q111_importance_weights", q111, Q111_ORACLE),
        Q("q112_source_cap", q112, Q112_ORACLE),
    ]
)


# --- Q113: span-level exact-substring duplication (Lee et al. ACL'22 style) -------
def q113(spark, sf_dir):
    """Maximal token spans whose every word 8-gram repeats ≥2× in the
    corpus (documents ∪ 30 verbatim copies, which guarantees whole-doc
    spans alongside the corpus's natural boilerplate repeats).  md5_60
    keeps hashes, the duplicated-gram set, and the span merge all
    restated in the oracle (operators/dedup.py::duplicate_spans)."""
    from parquet_on_fhir_spark.operators.dedup import duplicate_spans

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return duplicate_spans(
        d.unionAll(copies), "text", "doc_id", n=8, hash_family="md5_60"
    )


Q113_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 30
),
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM base
),
pos AS (
  SELECT doc_id, i AS pos,
         CAST('0x' || substr(md5('0:' || array_to_string(ws[i:i+7], ' ')), 1, 15) AS BIGINT) AS h
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS i) t
),
dups AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
flagged AS (SELECT doc_id, pos FROM pos WHERE h IN (SELECT h FROM dups)),
sp AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 8
              THEN 1 ELSE 0 END AS ns
  FROM flagged WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sp2 AS (
  SELECT doc_id, pos,
         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
  FROM sp
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + 7 AS INT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_dup_ngrams
FROM sp2
GROUP BY doc_id, span
"""


QUERIES.append(Q("q113_duplicate_spans", q113, Q113_ORACLE))


# --- Q114: BM25 ranked retrieval ---------------------------------------------------
def q114(spark, sf_dir):
    """BM25 over the corpus for a 3-term query; every stage (tf, df, the
    Lucene +1 idf, length normalization) restated in SQL.  d4 rounding
    absorbs float summation order (operators/text.py::bm25_scores)."""
    from parquet_on_fhir_spark.operators.text import bm25_scores

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    out = bm25_scores(d, ["join", "vector", "stream"], "text", "doc_id")
    return out.select(
        "doc_id", F.round(F.col("bm25") + F.lit(1e-9), 4).alias("bm25")
    )


Q114_ORACLE = r"""
WITH lens AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w <> '')) AS l
  FROM documents
),
stats AS (SELECT count(*) AS n, avg(l) AS avgdl FROM lens),
tf AS (
  SELECT doc_id, w AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w IN ('join', 'vector', 'stream')
  GROUP BY doc_id, w
),
dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
idf AS (
  SELECT term, ln(1 + (stats.n - dfc + 0.5) / (dfc + 0.5)) AS idf, stats.avgdl
  FROM dfq, stats
)
SELECT tf.doc_id,
       round(sum(idf.idf * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.l / idf.avgdl))) + 1e-9, 4) AS bm25
FROM tf
JOIN idf ON idf.term = tf.term
JOIN lens ON lens.doc_id = tf.doc_id
GROUP BY tf.doc_id
"""


QUERIES.append(Q("q114_bm25", q114, Q114_ORACLE))


# --- Q115: table profile (one-pass per-column audit) ------------------------------
def q115(spark, sf_dir):
    """Null/distinct/min/max per column in one aggregate pass, exploded
    to long form (operators/text.py::profile_table)."""
    from parquet_on_fhir_spark.operators.text import profile_table

    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_discount", "l_returnflag"
    )
    return profile_table(l)


Q115_ORACLE = """
SELECT 'l_orderkey' AS column,
       CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(l_orderkey) AS VARCHAR) AS min_value,
       CAST(max(l_orderkey) AS VARCHAR) AS max_value
FROM lineitem
UNION ALL
SELECT 'l_quantity', CAST(count(*) - count(l_quantity) AS BIGINT),
       CAST(count(DISTINCT l_quantity) AS BIGINT),
       CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_discount', CAST(count(*) - count(l_discount) AS BIGINT),
       CAST(count(DISTINCT l_discount) AS BIGINT),
       CAST(min(l_discount) AS VARCHAR), CAST(max(l_discount) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', CAST(count(*) - count(l_returnflag) AS BIGINT),
       CAST(count(DISTINCT l_returnflag) AS BIGINT),
       CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
FROM lineitem
"""


QUERIES.append(Q("q115_table_profile", q115, Q115_ORACLE))


# --- Q116: deterministic corpus split (train/val/test) ----------------------------
def q116(spark, sf_dir):
    """Hash-threshold split — layout-independent, restated exactly in
    SQL (operators/curation.py::split_corpus)."""
    from parquet_on_fhir_spark.operators.curation import split_corpus

    d = t(spark, sf_dir, "documents").select("doc_id")
    return split_corpus(d, {"train": 0.9, "val": 0.05, "test": 0.05}, "doc_id")


Q116_ORACLE = """
SELECT doc_id,
       CASE WHEN draw < 0.9 THEN 'train'
            WHEN draw < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST('0x' || substr(md5('split0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           / 1152921504606846976.0 AS draw
  FROM documents
)
"""


QUERIES.append(Q("q116_corpus_split", q116, Q116_ORACLE))


# --- Q119: embedding int8 quantization (rows-only: round-half ties on float -------
# products are not portable across engines; tests/test_llm_ops.py carries
# correctness — codes/scale/mse invariants + cosine preservation)
def q119(spark, sf_dir):
    from parquet_on_fhir_spark.functions.vectors import (
        quantization_mse,
        quantize_int8,
    )

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.withColumn("q", quantize_int8("embedding"))
    return q.select(
        "vec_id",
        F.round(F.col("q.scale") + F.lit(1e-9), 6).alias("scale"),
        F.round(quantization_mse("embedding", "q") + F.lit(1e-9), 8).alias("mse"),
    )


QUERIES.append(Q("q119_embedding_quantize", q119, None))


# --- Q120: incremental dedup of a new batch against the kept corpus ---------------
def q120(spark, sf_dir):
    """Continuous-ingestion gate: the new batch = 30 near-dups + 20
    exact copies + 10 genuinely-new docs; survivors must be exactly the
    genuinely-new (operators/dedup.py::incremental_dedup, md5_60 family
    so both stages restate in SQL)."""
    from parquet_on_fhir_spark.operators.dedup import incremental_dedup

    kept = t(spark, sf_dir, "documents").select("doc_id", "text")
    near = kept.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker words")).alias("text"),
    )
    exact = kept.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120)).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    fresh = kept.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("zzq genuinely novel ingest payload entry"),
            F.col("doc_id").cast("string"),
            F.lit("qzz unseen vocabulary tokens only"),
        ).alias("text"),
    )
    new = near.unionAll(exact).unionAll(fresh)
    return incremental_dedup(
        new, kept, "text", "doc_id", jaccard_threshold=0.4, hash_family="md5_km"
    ).select("doc_id")


Q120_ORACLE = r"""
WITH kept AS (SELECT doc_id, text FROM documents),
new_batch AS (
  SELECT doc_id + 1000000 AS doc_id, text || ' tail marker words' AS text
  FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents
  WHERE doc_id >= 100 AND doc_id < 120
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         'zzq genuinely novel ingest payload entry ' || CAST(doc_id AS VARCHAR)
           || ' qzz unseen vocabulary tokens only' AS text
  FROM documents WHERE doc_id < 10
),
surv AS (
  SELECT * FROM new_batch WHERE text NOT IN (SELECT text FROM kept)
),
all_docs AS (
  SELECT 'n:' || CAST(doc_id AS VARCHAR) AS uid, text FROM surv
  UNION ALL
  SELECT 'k:' || CAST(doc_id AS VARCHAR) AS uid, text FROM kept
),
sh AS (
  SELECT uid,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 1)),
           i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' '))) AS shingles
  FROM all_docs
),
sigs AS (
  SELECT uid,
         list_transform(generate_series(0, 31),
           i -> list_min(list_transform(hp,
                p -> (p.h1 + i * p.h2) % 1152921504606846976))) AS sig
  FROM (SELECT uid, list_transform(shingles,
          s -> {'h1': CAST('0x' || substr(md5(s), 1, 15) AS BIGINT),
                'h2': CAST('0x' || substr(md5(s), 16, 14) AS BIGINT)}) AS hp FROM sh)
),
banded AS (
  SELECT uid, b.band,
         CAST('0x' || substr(md5(array_to_string(
           list_transform(sig[b.band*4+1 : b.band*4+4], x -> CAST(x AS VARCHAR)), ',')), 1, 15) AS BIGINT) AS bucket
  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band) b
),
pairs AS (
  SELECT DISTINCT l.uid AS ua, r.uid AS ub
  FROM banded l JOIN banded r USING (band, bucket)
  WHERE l.uid < r.uid
),
hits AS (
  SELECT CASE WHEN substr(ua, 1, 2) = 'n:' THEN ua ELSE ub END AS nuid
  FROM pairs
  JOIN sigs sa ON sa.uid = ua
  JOIN sigs sb ON sb.uid = ub
  WHERE (substr(ua, 1, 2) = 'n:') <> (substr(ub, 1, 2) = 'n:')
    AND len(list_filter(list_transform(generate_series(1, 32),
          i -> sa.sig[i] = sb.sig[i]), x -> x)) / 32.0 >= 0.4
)
SELECT doc_id FROM surv
WHERE 'n:' || CAST(doc_id AS VARCHAR) NOT IN (SELECT nuid FROM hits)
"""


QUERIES.append(Q("q120_incremental_dedup", q120, Q120_ORACLE))


# --- Q121: CCNet-style n-gram LM fluency scoring (Wenzek et al., LREC 2020) ----------
def q121(spark, sf_dir):
    """Score every document under an add-k bigram LM trained on the
    doc_id%5==0 reference slice; broadcast model tables, text never
    shuffled (operators/curation.py:ngram_lm_score)."""
    from parquet_on_fhir_spark.operators.curation import ngram_lm_score

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = d.filter(F.col("doc_id") % 5 == 0)
    out = ngram_lm_score(d, ref, k=0.1)
    return out.select(
        "doc_id", "n_bigrams", d4(F.col("lm_score")).alias("lm_score")
    )


Q121_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                i -> words[i] || ' ' || words[i + 1])) AS gram
  FROM tok WHERE len(words) >= 2
),
refbg AS (SELECT gram, count(*) AS c2 FROM bg WHERE doc_id % 5 = 0 GROUP BY gram),
refctx AS (
  SELECT string_split(gram, ' ')[1] AS w1, count(*) AS c1
  FROM bg WHERE doc_id % 5 = 0 GROUP BY 1
),
vocab AS (
  SELECT count(DISTINCT w) AS V FROM (
    SELECT unnest(words) AS w FROM tok WHERE doc_id % 5 = 0)
),
scored AS (
  SELECT b.doc_id,
         log2((COALESCE(r.c2, 0) + 0.1) / (COALESCE(c.c1, 0) + 0.1 * v.V)) AS logp
  FROM bg b
  LEFT JOIN refbg r USING (gram)
  LEFT JOIN refctx c ON string_split(b.gram, ' ')[1] = c.w1
  CROSS JOIN vocab v
),
per_doc AS (
  SELECT doc_id, count(*) AS n_bigrams, round(-avg(logp) + 1e-9, 4) AS lm_score
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       p.lm_score AS lm_score
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES.append(Q("q121_ngram_lm_score", q121, Q121_ORACLE))


# --- Q122: line-level cross-document dedup (RefinedWeb cleanup stage) ----------------
def q122(spark, sf_dir):
    """Documents get a shared footer + per-source banner appended; the
    operator must strip every line occurring in >= 3 docs (the footer
    and all banners) and keep each document's unique body line
    (operators/text.py:dedup_lines). Counting side shuffles (sha2, id)
    only; surviving lines shuffle once for reassembly."""
    from parquet_on_fhir_spark.operators.text import dedup_lines

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("-- shared footer: all rights reserved --"),
            F.concat(F.lit("source banner: "), F.col("source")),
        ).alias("text"),
    )
    out = dedup_lines(d, min_docs=3)
    return out.select("doc_id", "text", "n_lines_kept", "n_lines_removed")


Q122_ORACLE = """
WITH built AS (
  SELECT doc_id,
         text || chr(10) || '-- shared footer: all rights reserved --'
              || chr(10) || 'source banner: ' || source AS text
  FROM documents
),
l AS (
  SELECT doc_id,
         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM built
),
dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM dup)),
reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
         count(*) AS n_lines_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(r.text, '') AS text,
       COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
       len(string_split(b.text, chr(10))) - COALESCE(r.n_lines_kept, 0)
         AS n_lines_removed
FROM built b LEFT JOIN reb r USING (doc_id)
"""


QUERIES.append(Q("q122_dedup_lines", q122, Q122_ORACLE))


# --- Q123: per-source frequent n-grams (boilerplate / template detector) -------------
def q123(spark, sf_dir):
    """Top-10 trigrams per source with deterministic (count desc, gram)
    tie-break (operators/text.py:frequent_ngrams). Shuffle rows =
    distinct (source, gram) pairs after partial combine."""
    from parquet_on_fhir_spark.operators.text import frequent_ngrams

    d = t(spark, sf_dir, "documents").select("source", "text")
    return frequent_ngrams(d, n=3, k=10, group_col="source")


Q123_ORACLE = """
WITH tok AS (
  SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS words
  FROM documents
),
g AS (
  SELECT source,
         unnest(list_transform(range(1, len(words) - 1),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram
  FROM tok WHERE len(words) >= 3
),
c AS (SELECT source AS "group", gram, count(*) AS n_occurrences
      FROM g GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY "group"
                ORDER BY n_occurrences DESC, gram) AS rank FROM c)
SELECT "group", gram, n_occurrences, rank FROM r WHERE rank <= 10
"""


QUERIES.append(Q("q123_frequent_ngrams", q123, Q123_ORACLE))


# --- Q131: SemDeDup semantic deduplication (Abbas et al. 2023) -----------------------
def q131(spark, sf_dir):
    """KMeans-cell blocking + within-cell cosine >= threshold + CC
    min-id survivor (operators/dedup.py::semantic_dedup). Rows-only:
    Spark ML KMeans centroids are not reproducible in DuckDB; the
    planted-duplicate correctness lives in tests/test_llm_ops.py and
    the per-cell pair math is the oracle-checked q91 cosine."""
    from parquet_on_fhir_spark.operators.dedup import semantic_dedup

    e = t(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        e, "vec_id", "embedding", n_clusters=8, threshold=0.9, corpus_rows=500
    )
    return out.select("vec_id", "component", "is_survivor")


QUERIES.append(Q("q131_semantic_dedup", q131, None))


# --- Q133: ordered funnel analysis (view -> click -> purchase) -----------------------
def q133(spark, sf_dir):
    """Sequential funnel over the events table: per user, earliest
    view, first click AFTER that view, first purchase AFTER that click
    (operators/analytics.py::funnel — one filtered hash aggregate per
    step, no global sort/window)."""
    from parquet_on_fhir_spark.operators.analytics import funnel

    e = t(spark, sf_dir, "events")
    out = funnel(
        e,
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )
    from parquet_on_fhir_spark.suite.common import ts_str

    return out.select(
        "user_id",
        ts_str("t_view", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t_view"),
        ts_str("t_click", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t_click"),
        ts_str("t_purchase", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t_purchase"),
        "furthest_step",
    )


Q133_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_view
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
  GROUP BY e.user_id
)
SELECT s1.user_id,
       strftime(s1.t_view, '%Y-%m-%d %H:%M:%S.%f') AS t_view,
       strftime(s2.t_click, '%Y-%m-%d %H:%M:%S.%f') AS t_click,
       strftime(s3.t_purchase, '%Y-%m-%d %H:%M:%S.%f') AS t_purchase,
       1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT
         AS furthest_step
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


QUERIES.append(Q("q133_funnel", q133, Q133_ORACLE))


# --- Q134: cohort retention triangle -------------------------------------------------
def q134(spark, sf_dir):
    """Weekly cohort retention (operators/analytics.py::cohort_retention):
    shuffle rows = active (user, week) pairs, never raw events."""
    from parquet_on_fhir_spark.operators.analytics import cohort_retention

    e = t(spark, sf_dir, "events")
    out = cohort_retention(e, "1 week")
    from parquet_on_fhir_spark.suite.common import ts_str

    return out.select(
        ts_str("cohort").alias("cohort"), "period_offset", "n_users"
    )


Q134_ORACLE = """
WITH a AS (
  SELECT DISTINCT user_id, time_bucket(INTERVAL '1 week', ts,
                                       TIMESTAMP '1970-01-01') AS b
  FROM events
),
f AS (SELECT user_id, min(b) AS cohort FROM a GROUP BY user_id)
SELECT strftime(f.cohort, '%Y-%m-%d %H:%M:%S') AS cohort,
       CAST((epoch(a.b) - epoch(f.cohort)) / 604800 AS INT) AS period_offset,
       count(DISTINCT a.user_id) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


QUERIES.append(Q("q134_cohort_retention", q134, Q134_ORACLE))


# --- Q135: data-quality expectation report -------------------------------------------
def q135(spark, sf_dir):
    """One-pass expectation contract over documents
    (operators/text.py::check_expectations)."""
    from parquet_on_fhir_spark.operators.text import check_expectations

    d = t(spark, sf_dir, "documents")
    return check_expectations(
        d,
        {
            "doc_id_not_null": F.col("doc_id").isNotNull(),
            "text_nonempty": F.length(F.col("text")) > 0,
            "lang_known": F.col("lang").isin("en", "es", "de", "fr", "zh"),
            "n_chars_consistent": F.col("n_chars") == F.length(F.col("text")),
            "source_prefixed": F.col("source").rlike("^[a-z]"),
        },
    ).select("rule", "n_rows", "n_violations", d4(F.col("pass_rate")).alias("pass_rate"), "ok")


Q135_ORACLE = """
WITH w AS (
  SELECT count(*) AS n,
    count(CASE WHEN NOT COALESCE(doc_id IS NOT NULL, false) THEN 1 END) AS v1,
    count(CASE WHEN NOT COALESCE(len(text) > 0, false) THEN 1 END) AS v2,
    count(CASE WHEN NOT COALESCE(lang IN ('en','es','de','fr','zh'), false) THEN 1 END) AS v3,
    count(CASE WHEN NOT COALESCE(n_chars = len(text), false) THEN 1 END) AS v4,
    count(CASE WHEN NOT COALESCE(regexp_matches(source, '^[a-z]'), false) THEN 1 END) AS v5
  FROM documents
)
SELECT t.rule, w.n AS n_rows, t.v AS n_violations,
       round((w.n - t.v) / CAST(w.n AS DOUBLE) + 1e-9, 4) AS pass_rate,
       t.v = 0 AS ok
FROM w, (
  SELECT 'doc_id_not_null' AS rule, v1 AS v FROM w UNION ALL
  SELECT 'text_nonempty', v2 FROM w UNION ALL
  SELECT 'lang_known', v3 FROM w UNION ALL
  SELECT 'n_chars_consistent', v4 FROM w UNION ALL
  SELECT 'source_prefixed', v5 FROM w
) t
"""


QUERIES.append(Q("q135_expectations", q135, Q135_ORACLE))


# --- Q139: deterministic weighted sampling (Efraimidis-Spirakis A-ES) ----------------
def q139(spark, sf_dir):
    """Top-5 weighted sample per source, weights = document length:
    hash-derived uniforms make the A-ES key exactly restatable in SQL
    (operators/curation.py::weighted_sample)."""
    from parquet_on_fhir_spark.operators.curation import weighted_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = weighted_sample(
        d, k=5, weight_col="n_chars", group_col="source", seed=1
    )
    return out.select("doc_id", "source", "n_chars")


Q139_ORACLE = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln((CAST(CONCAT('0x', substr(md5(CONCAT('ws1', ':',
               CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 1)
            / 1152921504606846976.0) / n_chars AS wkey
  FROM documents WHERE n_chars > 0
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY wkey DESC, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, source, n_chars FROM r WHERE rn <= 5
"""


QUERIES.append(Q("q139_weighted_sample", q139, Q139_ORACLE))


# --- Q143: contamination audit report ------------------------------------------------
def q143(spark, sf_dir):
    """Which benchmark slice items (doc_id%17==0) leak into which
    corpus documents, by shared distinct 8-gram count
    (operators/curation.py::contamination_report)."""
    from parquet_on_fhir_spark.operators.curation import contamination_report

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_report(d, bench, n=8)


Q143_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - 6),
                i -> array_to_string(words[i:i+7], ' ')))) AS gram
  FROM w WHERE len(words) >= 8
),
b AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g WHERE doc_id % 17 = 0)
SELECT g.doc_id, b.bench_id, count(*) AS n_shared_ngrams
FROM g JOIN b USING (gram)
GROUP BY 1, 2
"""


QUERIES.append(Q("q143_contamination_report", q143, Q143_ORACLE))


# --- Q144: hashed bag-of-words classifier scoring ------------------------------------
# Deterministic stand-in for trained weights: 32 buckets, values in
# [-0.9, 0.9]. The SAME literal is formatted into the oracle below.
_Q144_WEIGHTS = [(((i * 37 + 11) % 19) - 9) / 10.0 for i in range(32)]


def q144(spark, sf_dir):
    """fastText-shaped quality-classifier scoring over documents:
    token → md5 bucket → weight; sigmoid of the mean
    (operators/curation.py::classifier_score)."""
    from parquet_on_fhir_spark.operators.curation import classifier_score

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    out = classifier_score(d, _Q144_WEIGHTS, bias=0.1, seed=0)
    return out.select(
        "doc_id", F.round(F.col("clf_score") + F.lit(1e-9), 6).alias("clf_score")
    )


_Q144_ARR = "[" + ", ".join(repr(w) for w in _Q144_WEIGHTS) + "]"

Q144_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS words
  FROM documents
),
s AS (
  SELECT doc_id,
         0.1 + coalesce(list_sum(list_transform(words,
             tok -> ({_Q144_ARR})[
                 CAST(CAST(CONCAT('0x', substr(md5(CONCAT('clf0', ':', tok)),
                      1, 15)) AS BIGINT) % 32 AS INT) + 1])), 0.0)
               / greatest(len(words), 1) AS score
  FROM w
)
SELECT doc_id, round(1.0 / (1.0 + exp(-score)) + 1e-9, 6) AS clf_score FROM s
"""


QUERIES.append(Q("q144_classifier_score", q144, Q144_ORACLE))


# --- Q145: temperature-scaled source mixture -----------------------------------------
def q145(spark, sf_dir):
    """Temperature sampling to a 150-row budget at alpha=0.5 — small
    sources upweighted relative to their natural share
    (operators/curation.py::temperature_mixture)."""
    from parquet_on_fhir_spark.operators.curation import temperature_mixture

    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_mixture(d, budget=150, alpha=0.5, seed=1)


Q145_ORACLE = """
WITH c AS (
  SELECT source, count(*) AS n,
         pow(CAST(count(*) AS DOUBLE), 0.5) AS w
  FROM documents GROUP BY source
),
tw AS (SELECT sum(w) AS tw FROM c),
r AS (
  SELECT source,
         round(least(1.0, 150 * w / tw / n), 12) AS rate
  FROM c, tw
)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE CAST(CONCAT('0x', substr(md5(CONCAT('temp1', ':',
        CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
      / 1152921504606846976.0 < r.rate
"""


QUERIES.append(Q("q145_temperature_mixture", q145, Q145_ORACLE))


# --- Q146: embedding mean + covariance (PCA/whitening prep) --------------------------
def q146(spark, sf_dir):
    """Distributed covariance of the 64-dim embedding column via
    Arrow-batch Gram partials (operators/similarity.py::
    embedding_moments) — 2080 upper-triangle entries."""
    from parquet_on_fhir_spark.operators.similarity import embedding_moments

    e = t(spark, sf_dir, "embeddings")
    out = embedding_moments(e, "embedding")
    return out.select(
        "i",
        "j",
        F.round(F.col("cov") + F.lit(1e-12), 8).alias("cov"),
        F.round(F.col("mean_i") + F.lit(1e-12), 8).alias("mean_i"),
        F.round(F.col("mean_j") + F.lit(1e-12), 8).alias("mean_j"),
    )


Q146_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(r.i AS INT) AS i,
         CAST(embedding[CAST(r.i AS INT) + 1] AS DOUBLE) AS x
  FROM embeddings, range(64) r(i)
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
s AS (SELECT i, sum(x) AS si FROM e GROUP BY i),
xy AS (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
)
SELECT xy.i, xy.j,
       round((sxy - s1.si * s2.si / n.n) / n.n + 1e-12, 8) AS cov,
       round(s1.si / n.n + 1e-12, 8) AS mean_i,
       round(s2.si / n.n + 1e-12, 8) AS mean_j
FROM xy
JOIN s s1 ON s1.i = xy.i
JOIN s s2 ON s2.i = xy.j
CROSS JOIN n
"""


QUERIES.append(Q("q146_embedding_covariance", q146, Q146_ORACLE))


# --- Q147: BPE pair statistics (tokenizer-training inner loop) -----------------------
def q147(spark, sf_dir):
    """Top-50 adjacent character pairs within words — the pair-count
    step of one BPE merge round (operators/text.py::bpe_pair_counts)."""
    from parquet_on_fhir_spark.operators.text import bpe_pair_counts

    d = t(spark, sf_dir, "documents").select("text")
    return bpe_pair_counts(d, "text", top_k=50)


Q147_ORACLE = """
WITH w AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
p AS (
  SELECT unnest(list_transform(range(1, length(word)),
                i -> substr(word, CAST(i AS INT), 2))) AS pair
  FROM w
)
SELECT pair, count(*) AS cnt
FROM p GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 50
"""


QUERIES.append(Q("q147_bpe_pairs", q147, Q147_ORACLE))


# --- Q148: PCA projection (rows-only: eigendecomposition is not SQL-portable) --------
def q148(spark, sf_dir):
    """Fit 8-component PCA from distributed moments, project the
    embedding table (operators/similarity.py::fit_pca/pca_project).
    Rows-only: correctness carried by
    tests/test_llm_ops.py::test_pca_matches_numpy_reference."""
    from parquet_on_fhir_spark.operators.similarity import fit_pca, pca_project

    e = t(spark, sf_dir, "embeddings")
    mean, comps, eigvals = fit_pca(e, k=8)
    out = pca_project(e, mean, comps, whiten_eigvals=eigvals)
    return out.select(
        "vec_id", F.round(F.element_at("pca", 1), 4).alias("pc1")
    )


QUERIES.append(Q("q148_pca_project", q148, None))


# --- Q163: REAL image decode through the Arrow feature path -------------------------
def q163(spark, sf_dir):
    """End-to-end real decode, driver-checked: an 8x8 constant-gray P6
    PPM is CONSTRUCTED per document (header + 192 repeated bytes, all
    JVM expressions), decoded for real by the pure-numpy PPM codec
    inside mapInPandas, and the resulting luminance features compared
    to their closed form — a constant image's 8x8 grid is v/255
    everywhere, so the oracle needs no decoder. Exercises bytes →
    pixels → features, not a stand-in."""
    from parquet_on_fhir_spark.operators.multimodal import (
        extract_features,
        numpy_features,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    v = (F.col("doc_id") % 200 + 28).cast("int")  # gray level 28..227
    payload = F.concat(
        F.encode(F.lit("P6\n8 8\n255\n"), "ISO-8859-1"),
        F.encode(F.repeat(F.chr(v), 192), "ISO-8859-1"),
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("content"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=numpy_features)
    return feats.select(
        "media_id",
        "n_bytes",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("f_width"),
        F.round(F.element_at("feat", 2), 4).alias("f_height"),
        d4(F.element_at("feat", 3)).alias("lum_00"),
        d4(F.element_at("feat", 66)).alias("lum_77"),
    )


Q163_ORACLE = """
SELECT doc_id AS media_id,
       CAST(203 AS BIGINT) AS n_bytes,
       66 AS feat_dim,
       CAST(8.0 AS DOUBLE) AS f_width,
       CAST(8.0 AS DOUBLE) AS f_height,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_00,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_77
FROM documents
WHERE doc_id < 200
"""


QUERIES.append(Q("q163_multimodal_real_decode", q163, Q163_ORACLE))


# --- Q178: duplicate-aware soft dedup (survive with probability 1/n) ----------------
def q178(spark, sf_dir):
    """operators/curation.py::soft_dedup over documents: each exact-copy
    group survives with expectation 1 while the surviving COPY is
    hash-randomized; the md5_60 draw makes the exact surviving set
    restatable in SQL."""
    from parquet_on_fhir_spark.operators.curation import soft_dedup

    d = t(spark, sf_dir, "documents")
    out = soft_dedup(d, "text", "doc_id", seed=0)
    return out.select("doc_id", "n_copies")


Q178_ORACLE = """
WITH c AS (
  SELECT md5(text) AS dg, count(*) AS n_copies
  FROM documents GROUP BY md5(text)
)
SELECT doc_id, n_copies
FROM documents JOIN c ON md5(text) = c.dg
WHERE CAST('0x' || substr(md5('soft0:' || CAST(doc_id AS VARCHAR)), 1, 15)
           AS BIGINT) / CAST(1152921504606846976 AS DOUBLE)
      < 1.0 / n_copies
"""


QUERIES.append(Q("q178_soft_dedup", q178, Q178_ORACLE))


# --- Q179: PMI collocations (phrase-vocabulary induction) ---------------------------
def q179(spark, sf_dir):
    """Top-50 adjacent-bigram collocations by pointwise mutual
    information (operators/curation.py::collocations) — linear bigram
    explode, vocabulary-sized shuffles, broadcast unigram joins."""
    from parquet_on_fhir_spark.operators.curation import collocations

    d = t(spark, sf_dir, "documents")
    out = collocations(d, "text", min_count=5, k=50)
    return out.select("w1", "w2", "n_pair", d4(F.col("pmi")).alias("pmi"), "rank")


Q179_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
uni AS (
  SELECT w, count(*) AS nw FROM (
    SELECT unnest(ts) AS w FROM toks
  ) WHERE w <> '' GROUP BY w
),
nt AS (SELECT sum(nw) AS n_tokens FROM uni),
bi AS (
  SELECT w1, w2, count(*) AS n_pair FROM (
    SELECT ts[i] AS w1, ts[i + 1] AS w2
    FROM toks, unnest(range(1, len(ts))) AS r(i)
  ) WHERE w1 <> '' AND w2 <> ''
  GROUP BY w1, w2
),
np AS (SELECT sum(n_pair) AS n_pairs FROM bi),
scored AS (
  SELECT bi.w1, bi.w2, bi.n_pair,
         ln((bi.n_pair / np.n_pairs)
            / ((u1.nw / CAST(nt.n_tokens AS DOUBLE))
               * (u2.nw / CAST(nt.n_tokens AS DOUBLE)))) AS pmi
  FROM bi
  JOIN uni u1 ON bi.w1 = u1.w
  JOIN uni u2 ON bi.w2 = u2.w
  CROSS JOIN nt CROSS JOIN np
  WHERE bi.n_pair >= 5
)
SELECT w1, w2, n_pair, round(pmi + 1e-9, 4) + 0.0 AS pmi,
       CAST(row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS BIGINT)
         AS rank
FROM scored
QUALIFY rank <= 50
"""


QUERIES.append(Q("q179_pmi_collocations", q179, Q179_ORACLE))


# --- Q182: curriculum interleave (anti-clumping mixture order) -----------------------
def q182(spark, sf_dir):
    """operators/curation.py::interleave_sources over documents: global
    training order where each round holds at most one document per
    source — no long single-source runs. The md5_60 draws make the
    exact order SQL-restatable."""
    from parquet_on_fhir_spark.operators.curation import interleave_sources

    d = t(spark, sf_dir, "documents")
    out = interleave_sources(d, "source", "doc_id", seed=0)
    return out.select("doc_id", "source", "position")


Q182_ORACLE = """
WITH drawn AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5('il0:' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS draw,
         CAST('0x' || substr(md5('ils0:' || source), 1, 15) AS BIGINT) AS sdraw
  FROM documents
),
r AS (
  SELECT doc_id, source, sdraw,
         row_number() OVER (PARTITION BY source ORDER BY draw, doc_id) - 1
           AS rnd
  FROM drawn
)
SELECT doc_id, source,
       CAST(row_number() OVER (ORDER BY rnd, sdraw, source) - 1 AS INT)
         AS position
FROM r
"""


QUERIES.append(Q("q182_curriculum_interleave", q182, Q182_ORACLE))


# --- Q185: compressed-format (PNG) real decode, driver-checked ----------------------
def q185(spark, sf_dir):
    """operators/multimodal.py::decode_png end-to-end: 200 genuine
    zlib-compressed 8x8 PNGs (one per gray level 28..227, built by the
    pure-stdlib encoder driver-side — ~60 bytes each, broadcast) are
    joined to documents, inflated + unfiltered by the numpy PNG codec
    inside mapInPandas, and the luminance features compared to their
    closed form (a constant image's 8x8 grid is v/255 everywhere) — so
    the oracle needs no decoder. Proves the COMPRESSED bytes → pixels
    → features path runs in-container, not just PPM/BMP."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_png,
        extract_features,
        numpy_features,
    )

    payloads = [
        (g, bytearray(encode_png(np.full((8, 8, 3), g, dtype=np.uint8))))
        for g in range(28, 228)
    ]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 200 + 28).cast("int") == F.col("g")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=numpy_features)
    return feats.select(
        "media_id",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("f_width"),
        F.round(F.element_at("feat", 2), 4).alias("f_height"),
        d4(F.element_at("feat", 3)).alias("lum_00"),
        d4(F.element_at("feat", 34)).alias("lum_mid"),
        d4(F.element_at("feat", 66)).alias("lum_77"),
    )


Q185_ORACLE = """
SELECT doc_id AS media_id,
       66 AS feat_dim,
       CAST(8.0 AS DOUBLE) AS f_width,
       CAST(8.0 AS DOUBLE) AS f_height,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_00,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_mid,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_77
FROM documents
WHERE doc_id < 200
"""


QUERIES.append(Q("q185_png_real_decode", q185, Q185_ORACLE))


# --- Q191: stratified k-fold assignment ---------------------------------------------
def q191(spark, sf_dir):
    """operators/curation.py::stratified_folds over documents stratified
    by source: per-stratum hash-rank deal means every fold gets an
    equal share of each source (the md5_60 draw makes the exact
    assignment SQL-restatable)."""
    from parquet_on_fhir_spark.operators.curation import stratified_folds

    d = t(spark, sf_dir, "documents")
    out = stratified_folds(d, "doc_id", 5, strata_cols=["source"], seed=0)
    return out.select("doc_id", "source", "fold")


Q191_ORACLE = """
SELECT doc_id, source,
       CAST((row_number() OVER (
               PARTITION BY source
               ORDER BY CAST('0x' || substr(md5('fold0:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                        doc_id
             ) - 1) % 5 AS INT) AS fold
FROM documents
"""


QUERIES.append(Q("q191_stratified_folds", q191, Q191_ORACLE))


# --- Q192: unigram entropy per source ------------------------------------------------
def q192(spark, sf_dir):
    """operators/text.py::unigram_entropy per source — the
    lexical-diversity audit; H computed from counts in one pass
    (ln N - sum c ln c / N). Each ln term is 12-dp-quantized in BOTH
    engines (the transcendental-sum convention, suite/common.py)."""
    from parquet_on_fhir_spark.operators.text import unigram_entropy

    d = t(spark, sf_dir, "documents")
    out = unigram_entropy(d, "text", key_cols=["source"], term_dp=12)
    return out.select(
        "source",
        "n_tokens",
        "n_types",
        d4(F.col("entropy")).alias("entropy"),
    )


Q192_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
c AS (
  SELECT source, tok, count(*) AS c
  FROM toks WHERE tok <> '' GROUP BY source, tok
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       round(round(ln(sum(c)), 12)
             - sum(c * round(ln(c), 12)) / sum(c) + 1e-9, 4) + 0.0
         AS entropy
FROM c GROUP BY source
"""


QUERIES.append(Q("q192_unigram_entropy", q192, Q192_ORACLE))


# --- Q193: real audio (PCM WAV) decode, driver-checked ------------------------------
def q193(spark, sf_dir):
    """operators/multimodal.py::decode_wav end-to-end: 100 genuine
    16-bit PCM WAV payloads (1 s of an 8 kHz square wave, amplitude
    keyed by doc_id, built by the stdlib encoder driver-side and
    broadcast) are decoded by the numpy WAV codec inside mapInPandas;
    the resulting [sr, duration, rms, zcr, peak] features have closed
    forms (square wave: rms = peak = a/32768, 79 sign changes) so the
    oracle needs no decoder. Proves the bytes → samples → features
    audio path runs in-container, like q163/q185 for images."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_wav,
        extract_features,
        wav_features,
    )

    payloads = []
    for lvl in range(100):
        a = (lvl + 10) * 256
        half = np.full(100, a, dtype="<i2")
        wave = np.tile(np.concatenate([half, -half]), 40)  # 8000 samples
        payloads.append((lvl, bytearray(encode_wav(wave, 8000))))
    pay = local_df(spark, payloads, "lvl INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 100).cast("int") == F.col("lvl")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(1000).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=wav_features)
    return feats.select(
        "media_id",
        "n_bytes",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("sample_rate"),
        d4(F.element_at("feat", 2)).alias("duration_s"),
        d4(F.element_at("feat", 3)).alias("rms"),
        d4(F.element_at("feat", 4)).alias("zcr_per_s"),
        d4(F.element_at("feat", 5)).alias("peak"),
    )


Q193_ORACLE = """
SELECT doc_id AS media_id,
       CAST(16044 AS BIGINT) AS n_bytes,
       5 AS feat_dim,
       CAST(8000.0 AS DOUBLE) AS sample_rate,
       round(1.0 + 1e-9, 4) AS duration_s,
       round((doc_id % 100 + 10) / 128.0 + 1e-9, 4) AS rms,
       round(79.0 + 1e-9, 4) AS zcr_per_s,
       round((doc_id % 100 + 10) / 128.0 + 1e-9, 4) AS peak
FROM documents
WHERE doc_id < 100
"""


QUERIES.append(Q("q193_wav_real_decode", q193, Q193_ORACLE))


# --- Q194: exact set-similarity self-join (prefix filtering) ------------------------
def q194(spark, sf_dir):
    """operators/joins.py::set_similarity_join — EXACT Jaccard >= 0.8
    pairs over word sets via All-Pairs prefix filtering (rarest-first
    token order bounds the candidate join); the quadratic oracle is
    affordable at sf0.01 on the doc_id < 400 slice.

    candidate_budget=None: the synthetic documents table is the
    prefix filter's DEGENERATE template-vocabulary regime (52% of
    all-pairs survive — SCALE_NOTES.md) and the r9 guard would
    correctly refuse it; this 200-doc slice accepts quadratic cost
    knowingly because the point here is exactness vs the oracle."""
    from parquet_on_fhir_spark.operators.joins import set_similarity_join

    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.array_remove(F.split(F.col("text"), " "), "").alias("toks"),
        )
    )
    out = set_similarity_join(
        d, "doc_id", "toks", threshold=0.8, candidate_budget=None
    )
    return out.select("id_a", "id_b", d4(F.col("jaccard")).alias("jaccard"))


Q194_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE doc_id < 200
  ) WHERE tok <> ''
),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i / CAST(sa.n + sb.n - i AS DOUBLE) + 1e-9, 4) + 0.0 AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
"""


QUERIES.append(Q("q194_set_similarity_join", q194, Q194_ORACLE))


# --- Q196: Count-Min-Sketch heavy hitters vs exact ---------------------------------
def q196(spark, sf_dir):
    """operators/analytics.py::frequency_sketch_topk over document
    tokens: exact top-20 heavy hitters side-by-side with JVM-native
    count_min_sketch estimates (driver-side decode of the serialized
    sketch — a K-item lookup, no JVM round-trips). The estimate VALUES
    depend on sketch collisions, so the oracle checks the exact
    counts/ranks plus the two CMS invariants (never undercounts;
    within eps*N here, verified at this SF)."""
    from parquet_on_fhir_spark.operators.analytics import frequency_sketch_topk

    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    out = frequency_sketch_topk(toks, "tok", k=20, eps=0.001, seed=7)
    total = toks.count()
    return out.select(
        F.col("item"),
        "n",
        "rank",
        (F.col("n_est") >= F.col("n")).alias("est_ge_exact"),
        (F.col("n_est") <= F.col("n") + F.lit(int(0.001 * total))).alias(
            "est_within_eps"
        ),
    )


Q196_ORACLE = """
WITH c AS (
  SELECT tok AS item, count(*) AS n FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY tok
)
SELECT item, n,
       CAST(row_number() OVER (ORDER BY n DESC, item ASC) AS BIGINT)
         AS rank,
       true AS est_ge_exact,
       true AS est_within_eps
FROM c
QUALIFY rank <= 20
"""


QUERIES.append(Q("q196_frequency_sketch", q196, Q196_ORACLE))


# --- Q204: cross-source duplicate audit ---------------------------------------------
def q204(spark, sf_dir):
    """Curation audit composing exact-dup grouping with source overlap:
    for each duplicated text, is it repeated WITHIN one source (likely
    boilerplate) or ACROSS sources (likely syndication)? The decision a
    mix owner makes differs — so the audit splits the counts.

    The base table has no exact-duplicate texts at small SF (r7 ran
    this vacuously at 0 rows), so duplicates are PLANTED, mirrored in
    the oracle: docs with doc_id%10==0 get a same-source copy
    (within_source groups) and doc_id%10==1 a copy under source
    'syndicated' (cross_source groups)."""
    base = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    within = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "source", "text"
    )
    cross = base.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.lit("syndicated").alias("source"),
        "text",
    )
    d = base.unionAll(within).unionAll(cross)
    groups = (
        d.groupBy(F.md5("text").alias("dg"))
        .agg(
            F.count("*").alias("n_copies"),
            F.count_distinct("source").alias("n_sources"),
        )
        .filter(F.col("n_copies") > 1)
    )
    kind = F.when(F.col("n_sources") > 1, "cross_source").otherwise(
        "within_source"
    )
    return (
        groups.groupBy(kind.alias("dup_kind"))
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n_copies").alias("n_docs"),
            F.sum(F.col("n_copies") - 1).alias("n_redundant"),
        )
    )


Q204_ORACLE = """
WITH planted AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, source, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, 'syndicated', text FROM documents WHERE doc_id % 10 = 1
),
g AS (
  SELECT md5(text) AS dg, count(*) AS n_copies,
         count(DISTINCT source) AS n_sources
  FROM planted GROUP BY md5(text)
  HAVING count(*) > 1
)
SELECT CASE WHEN n_sources > 1 THEN 'cross_source'
            ELSE 'within_source' END AS dup_kind,
       count(*) AS n_groups,
       CAST(sum(n_copies) AS BIGINT) AS n_docs,
       CAST(sum(n_copies - 1) AS BIGINT) AS n_redundant
FROM g GROUP BY 1
"""


QUERIES.append(Q("q204_cross_source_dup_audit", q204, Q204_ORACLE))


# --- Q205: per-source token-length histogram (packing planner) ----------------------
def q205(spark, sf_dir):
    """operators/analytics.py::numeric_histogram composed per source
    over whitespace token counts — the length profile a sequence-packing
    planner reads before choosing a context length."""
    from parquet_on_fhir_spark.operators.analytics import numeric_histogram

    d = t(spark, sf_dir, "documents").withColumn(
        "n_tokens",
        F.size(F.array_remove(F.split(F.col("text"), " "), "")).cast("double"),
    )
    out = numeric_histogram(
        d, "n_tokens", bins=8, key_cols=["source"], lo=0.0, hi=400.0
    )
    return out.select(
        "source",
        "bin",
        d4(F.col("bin_lo")).alias("bin_lo"),
        d4(F.col("bin_hi")).alias("bin_hi"),
        "n",
    )


Q205_ORACLE = """
WITH lens AS (
  SELECT source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS DOUBLE) AS n_tokens
  FROM documents
),
binned AS (
  SELECT source,
         greatest(least(CAST(floor(n_tokens / 50.0) AS INT) + 1, 8), 1)
           AS bin,
         count(*) AS n
  FROM lens GROUP BY 1, 2
),
grid AS (
  SELECT DISTINCT source, b AS bin
  FROM lens, unnest(range(1, 9)) AS r(b)
)
SELECT g.source, g.bin,
       round((g.bin - 1) * 50.0 + 1e-9, 4) AS bin_lo,
       round(g.bin * 50.0 + 1e-9, 4) AS bin_hi,
       coalesce(binned.n, 0) AS n
FROM grid g LEFT JOIN binned ON g.source = binned.source AND g.bin = binned.bin
"""


QUERIES.append(Q("q205_token_length_histogram", q205, Q205_ORACLE))


# --- Q208: source-centroid cosine matrix --------------------------------------------
def q208(spark, sf_dir):
    """operators/similarity.py::centroid_similarity_matrix over the
    embeddings table grouped by label: per-label mean vectors via one
    (group, dim) aggregate, then the K^2 cosine grid over the K-row
    centroid frame."""
    from parquet_on_fhir_spark.operators.similarity import (
        centroid_similarity_matrix,
    )

    e = t(spark, sf_dir, "embeddings")
    out = centroid_similarity_matrix(e, "label", "embedding")
    return out.select(
        "group_a", "group_b", d4(F.col("cosine")).alias("cosine")
    )


Q208_ORACLE = """
WITH dims AS (
  SELECT label AS grp, i AS dim, embedding[i] AS v
  FROM read_parquet_embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
),
cent AS (
  SELECT grp, dim, avg(v) AS m FROM dims GROUP BY grp, dim
),
dots AS (
  SELECT a.grp AS group_a, b.grp AS group_b,
         sum(a.m * b.m) AS dot,
         sqrt(sum(a.m * a.m)) AS na, sqrt(sum(b.m * b.m)) AS nb
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.grp < b.grp
  GROUP BY a.grp, b.grp
)
SELECT group_a, group_b, round(dot / (na * nb) + 1e-9, 4) AS cosine
FROM dots
"""
# DuckDB view name differs from the literal above; patch in the real
# table reference at declaration time.
Q208_ORACLE = Q208_ORACLE.replace("read_parquet_embeddings", "embeddings")


QUERIES.append(Q("q208_centroid_similarity", q208, Q208_ORACLE))


# --- Q209: cross-source quantile normalization --------------------------------------
def q209(spark, sf_dir):
    """operators/analytics.py::quantile_normalize — per-source document
    lengths mapped onto the pooled length distribution (keyed
    percent_rank window + broadcast 101-point pooled grid)."""
    from parquet_on_fhir_spark.operators.analytics import quantile_normalize

    d = t(spark, sf_dir, "documents").withColumn(
        "len_chars", F.col("n_chars").cast("double")
    )
    out = quantile_normalize(d, "len_chars", ["source"], grid=101)
    return out.select(
        "doc_id", "source", d4(F.col("len_chars_qnorm")).alias("len_norm")
    )


_Q209_CUTS = ", ".join(str(i / 100) for i in range(101))
Q209_ORACLE = f"""
WITH pooled AS (
  SELECT quantile_cont(CAST(n_chars AS DOUBLE), [{_Q209_CUTS}]) AS g
  FROM documents
),
ranked AS (
  SELECT doc_id, source,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY CAST(n_chars AS DOUBLE)) AS pr
  FROM documents
)
SELECT doc_id, source,
       round(g[CAST(floor(pr * 100) AS INT) + 1]
             + (pr * 100 - floor(pr * 100))
               * (g[least(CAST(floor(pr * 100) AS INT) + 2, 101)]
                  - g[CAST(floor(pr * 100) AS INT) + 1]) + 1e-9, 4)
         AS len_norm
FROM ranked CROSS JOIN pooled
"""


QUERIES.append(Q("q209_quantile_normalize", q209, Q209_ORACLE))


# --- Q210: multi-feature OLS fit (rows-only: matrix solve) --------------------------
def q210(spark, sf_dir):
    """operators/analytics.py::linear_regression_fit — one-pass normal
    equations over lineitem (price ~ quantity + discount + tax); the
    (p+1)x(p+1) numpy solve is not SQL-restatable beyond one feature,
    so correctness is carried by
    tests/test_analytics.py::test_linear_regression_fit_matches_numpy."""
    from parquet_on_fhir_spark.operators.analytics import linear_regression_fit

    l = t(spark, sf_dir, "lineitem")
    out = linear_regression_fit(
        l, ["l_quantity", "l_discount", "l_tax"], "l_extendedprice"
    )
    return out.select("feature", d4(F.col("coefficient")).alias("coefficient"))


QUERIES.append(Q("q210_ols_fit", q210, None))


# --- Q210b: OLS normal-equation moments (exact-decimal oracle twin of q210) ----------
def q210b(spark, sf_dir):
    """The complete normal-equation INPUT of q210's fit — X'X and X'y
    over (1, l_quantity, l_discount, l_tax) -> l_extendedprice — as one
    hash-checkable aggregate row (r9 verdict task 5: the numpy solve
    stays rows-only in q210, but everything Spark computes to FEED it
    is exact decimal arithmetic and fully SQL-restatable). All four
    columns are 2dp-exact in the data, so each is cast to
    DECIMAL(18,2) before multiplying: products (scale 4) and sums stay
    EXACT in both engines — no float summation-order risk. One
    map-side-combined aggregate, no shuffle beyond the 1-row combine;
    the same plan shape linear_regression_fit uses internally
    (operators/analytics.py). The moment columns are projected as
    STRINGS on both sides (r10 verdict task 1): the arithmetic stays
    exact decimal, but a DECIMAL(38,4) *output* column degrades to
    float64 in the driver's Arrow fetch (223183329690674.7423 ->
    ...674.75), so the final row renders each moment via the
    fixed-scale decimal->string cast, which Spark and DuckDB format
    identically ('1524135.0000')."""
    l = t(spark, sf_dir, "lineitem")
    names = [
        ("q", "l_quantity"), ("d", "l_discount"),
        ("x", "l_tax"), ("y", "l_extendedprice"),
    ]
    base = l.select(
        *[F.col(c).cast("decimal(18,2)").alias(a) for a, c in names]
    )
    keys = [a for a, _ in names]
    aggs = [F.count("*").cast("long").alias("n")]
    for i, a in enumerate(keys):
        aggs.append(
            F.sum(F.col(a))
            .cast("decimal(38,4)")
            .cast("string")
            .alias(f"s_{a}")
        )
        for b in keys[i:]:
            aggs.append(
                F.sum(F.col(a) * F.col(b))
                .cast("decimal(38,4)")
                .cast("string")
                .alias(f"s_{a}{b}")
            )
    return base.agg(*aggs)


Q210B_ORACLE = """
WITH b AS (
  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS q,
         CAST(l_discount AS DECIMAL(18,2)) AS d,
         CAST(l_tax AS DECIMAL(18,2)) AS x,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS y
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(SUM(q) AS DECIMAL(38,4)) AS VARCHAR) AS s_q,
       CAST(CAST(SUM(q*q) AS DECIMAL(38,4)) AS VARCHAR) AS s_qq,
       CAST(CAST(SUM(q*d) AS DECIMAL(38,4)) AS VARCHAR) AS s_qd,
       CAST(CAST(SUM(q*x) AS DECIMAL(38,4)) AS VARCHAR) AS s_qx,
       CAST(CAST(SUM(q*y) AS DECIMAL(38,4)) AS VARCHAR) AS s_qy,
       CAST(CAST(SUM(d) AS DECIMAL(38,4)) AS VARCHAR) AS s_d,
       CAST(CAST(SUM(d*d) AS DECIMAL(38,4)) AS VARCHAR) AS s_dd,
       CAST(CAST(SUM(d*x) AS DECIMAL(38,4)) AS VARCHAR) AS s_dx,
       CAST(CAST(SUM(d*y) AS DECIMAL(38,4)) AS VARCHAR) AS s_dy,
       CAST(CAST(SUM(x) AS DECIMAL(38,4)) AS VARCHAR) AS s_x,
       CAST(CAST(SUM(x*x) AS DECIMAL(38,4)) AS VARCHAR) AS s_xx,
       CAST(CAST(SUM(x*y) AS DECIMAL(38,4)) AS VARCHAR) AS s_xy,
       CAST(CAST(SUM(y) AS DECIMAL(38,4)) AS VARCHAR) AS s_y,
       CAST(CAST(SUM(y*y) AS DECIMAL(38,4)) AS VARCHAR) AS s_yy
FROM b
"""


QUERIES.append(Q("q210b_ols_moments", q210b, Q210B_ORACLE))


# --- Q225: repeated-trigram repetition audit (Gopher rule) ---------------------------
def q225(spark, sf_dir):
    """Per-source repetition audit via the duplicate-trigram fraction
    (operators/text.py::repeated_ngram_fraction — the Gopher/Rae'21
    repetition quality rule): docs whose trigram slots are >30%
    repeats are template chaff. The flag threshold compares scaled
    INTEGERS (10·dups > 3·total), so the cut is exact in both
    engines; short docs (<3 tokens) stay n_docs-counted but unscored.
    Plan: map-side trigram explode → (doc,gram) hash agg → per-doc
    recount → K-row source aggregate; text never shuffles."""
    d = t(spark, sf_dir, "documents")
    rnf = tx.repeated_ngram_fraction(d, "doc_id", "text", 3)
    j = d.select("doc_id", "source").join(rnf, "doc_id", "left")
    dups = F.col("n_ngrams") - F.col("n_distinct")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("n_ngrams").alias("n_scored"),
        F.count(F.when(10 * dups > 3 * F.col("n_ngrams"), 1)).alias(
            "n_flagged"
        ),
        d4(F.avg("dup_fraction")).alias("avg_dup"),
    )


Q225_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(tk) - 2),
           i -> array_to_string(tk[i:i+2], ' '))) AS gram
  FROM toks WHERE len(tk) >= 3
),
per AS (
  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
),
doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
         count(*) AS n_distinct
  FROM per GROUP BY doc_id
),
j AS (
  SELECT d.source, doc.n_ngrams, doc.n_distinct,
         CAST(doc.n_ngrams - doc.n_distinct AS DOUBLE)
           / CAST(doc.n_ngrams AS DOUBLE) AS dup_fraction
  FROM documents d LEFT JOIN doc USING (doc_id)
)
SELECT source,
       count(*) AS n_docs,
       count(n_ngrams) AS n_scored,
       CAST(count(CASE WHEN 10 * (n_ngrams - n_distinct) > 3 * n_ngrams
                  THEN 1 END) AS BIGINT) AS n_flagged,
       round(avg(dup_fraction) + 1e-9, 4) AS avg_dup
FROM j GROUP BY source
"""


QUERIES.append(Q("q225_repetition_audit", q225, Q225_ORACLE))


# --- Q228: cross-source n-gram overlap audit -----------------------------------------
def q228(spark, sf_dir):
    """Pairwise trigram-vocabulary Jaccard between sources
    (operators/text.py::source_ngram_overlap): the corpus-leakage /
    syndication audit that catches cross-source overlap even when no
    document is an exact copy (q204's complement). Shuffle volume is
    the distinct (source, gram) vocabulary — text never moves; the
    pair and size frames are K-bounded broadcasts."""
    d = t(spark, sf_dir, "documents")
    out = tx.source_ngram_overlap(d, "source", "text", 3)
    return out.select(
        "group_a",
        "group_b",
        "grams_a",
        "grams_b",
        "shared",
        d4(F.col("jaccard")).alias("jaccard"),
    )


Q228_ORACLE = """
WITH toks AS (
  SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
vocab AS (
  SELECT DISTINCT source,
         unnest(list_transform(
           generate_series(1, len(tk) - 2),
           i -> array_to_string(tk[i:i+2], ' '))) AS gram
  FROM toks WHERE len(tk) >= 3
),
sizes AS (SELECT source, count(*) AS n_grams FROM vocab GROUP BY source),
pairs AS (
  SELECT a.source AS group_a, b.source AS group_b, count(*) AS shared
  FROM vocab a JOIN vocab b USING (gram)
  WHERE a.source < b.source
  GROUP BY a.source, b.source
)
SELECT group_a, group_b,
       sa.n_grams AS grams_a, sb.n_grams AS grams_b,
       CAST(shared AS BIGINT) AS shared,
       round(CAST(shared AS DOUBLE)
             / CAST(sa.n_grams + sb.n_grams - shared AS DOUBLE)
             + 1e-9, 4) AS jaccard
FROM pairs
JOIN sizes sa ON sa.source = group_a
JOIN sizes sb ON sb.source = group_b
"""


QUERIES.append(Q("q228_source_overlap", q228, Q228_ORACLE))


# --- Q230: vocabulary richness / coverage --------------------------------------------
def q230(spark, sf_dir):
    """Per-source vocabulary richness (operators/text.py::
    vocab_richness): token frequency spectrum → Chao1 lower-bound
    richness (bias-corrected form) and Good-Turing coverage 1 − F1/N —
    the "is more data from this source still adding vocabulary" audit.
    One (source, token) hash aggregate (shuffle ≈ vocabulary) + K-row
    spectrum reduce; counts integral, two double divisions at the
    end."""
    d = t(spark, sf_dir, "documents")
    out = tx.vocab_richness(d, "text", "source")
    return out.select(
        "source",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        d4(F.col("chao1")).alias("chao1"),
        d4(F.col("coverage")).alias("coverage"),
    )


Q230_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS t
  FROM documents
),
counts AS (
  SELECT source, t, count(*) AS c FROM tok GROUP BY source, t
),
agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS vocab,
         count(CASE WHEN c = 1 THEN 1 END) AS f1,
         count(CASE WHEN c = 2 THEN 1 END) AS f2
  FROM counts GROUP BY source
)
SELECT source, n_tokens, vocab, f1, f2,
       round(CAST(vocab AS DOUBLE)
             + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
               / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) + 1e-9, 4) AS chao1,
       round(CASE WHEN n_tokens > 0
             THEN 1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             END + 1e-9, 4) AS coverage
FROM agg
"""


QUERIES.append(Q("q230_vocab_richness", q230, Q230_ORACLE))


# --- Q241: n-gram novelty curve over ingestion order ----------------------------------
def q241(spark, sf_dir):
    """Crawl-saturation audit (operators/text.py::ngram_novelty):
    per 100-doc ingestion batch, the fraction of trigram occurrences
    whose gram was never seen in an earlier batch. One corpus scan:
    gram explode → (batch, gram) reduce → per-gram first-seen over
    the REDUCED frame → K-batch recount; the text never shuffles."""
    d = t(spark, sf_dir, "documents")
    out = tx.ngram_novelty(d, "doc_id", "text", 3, 100)
    return out.select(
        "batch",
        "occurrences",
        "new_occurrences",
        "distinct_grams",
        "new_distinct_grams",
        d4(F.col("novelty_rate")).alias("novelty_rate"),
    )


Q241_ORACLE = """
WITH toks AS (
  SELECT doc_id // 100 AS batch,
         string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
grams AS (
  SELECT batch,
         unnest(list_transform(
           generate_series(1, len(tk) - 2),
           i -> array_to_string(tk[i:i+2], ' '))) AS gram
  FROM toks WHERE len(tk) >= 3
),
per AS (
  SELECT batch, gram, count(*) AS c FROM grams GROUP BY batch, gram
),
first_ AS (
  SELECT gram, min(batch) AS fb FROM per GROUP BY gram
)
SELECT batch,
       CAST(sum(c) AS BIGINT) AS occurrences,
       CAST(sum(CASE WHEN batch = fb THEN c ELSE 0 END) AS BIGINT)
         AS new_occurrences,
       count(*) AS distinct_grams,
       CAST(sum(CASE WHEN batch = fb THEN 1 ELSE 0 END) AS BIGINT)
         AS new_distinct_grams,
       round(CAST(sum(CASE WHEN batch = fb THEN c ELSE 0 END) AS DOUBLE)
             / CAST(sum(c) AS DOUBLE) + 1e-9, 4) AS novelty_rate
FROM per JOIN first_ USING (gram)
GROUP BY batch
"""


QUERIES.append(Q("q241_ngram_novelty", q241, Q241_ORACLE))


# --- Q242: duplicate-inflation / effective sample size --------------------------------
def q242(spark, sf_dir):
    """Dedup-weighting audit (operators/dedup.py::
    effective_sample_size): Kish ESS of the corpus when each document
    is down-weighted to 1/cluster_size over exact-hash duplicate
    clusters — ESS vs n_clusters quantifies how SKEWED duplication
    is, which dup_rate hides. One 16-byte-keyed aggregate plus a
    1-row fold."""
    from parquet_on_fhir_spark.operators.dedup import (
        effective_sample_size,
    )

    d = t(spark, sf_dir, "documents")
    out = effective_sample_size(d, "text")
    return out.select(
        "n_docs",
        "n_clusters",
        d4(F.col("dup_rate")).alias("dup_rate"),
        d4(F.col("ess")).alias("ess"),
    )


Q242_ORACLE = """
WITH sizes AS (
  SELECT md5(text) AS h, count(*) AS sz FROM documents GROUP BY h
),
agg AS (
  SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
         count(*) AS n_clusters,
         sum(1.0 / CAST(sz AS DOUBLE)) AS inv
  FROM sizes
)
SELECT n_docs, n_clusters,
       round(1.0 - CAST(n_clusters AS DOUBLE) / CAST(n_docs AS DOUBLE)
             + 1e-9, 4) AS dup_rate,
       round(CAST(n_clusters AS DOUBLE) * CAST(n_clusters AS DOUBLE)
             / inv + 1e-9, 4) AS ess
FROM agg
"""


QUERIES.append(Q("q242_effective_sample_size", q242, Q242_ORACLE))


# --- Q243: embedding-space isotropy without a pairwise join ---------------------------
def q243(spark, sf_dir):
    """Embedding health check (operators/similarity.py::
    embedding_isotropy): mean pairwise cosine via the exact
    ||sum of unit vectors||^2 identity — the O(n^2) statistic as one
    O(n·d) aggregate (per-row norm is a map-side array fold; one
    dimension-keyed hash aggregate; d-row fold). Cosine outputs use
    the 6dp rounding convention of the similarity family (q68)."""
    from parquet_on_fhir_spark.operators.similarity import (
        embedding_isotropy,
    )

    e = t(spark, sf_dir, "embeddings")
    out = embedding_isotropy(e, "embedding")
    return out.select(
        "n",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("mean_norm") + F.lit(1e-9), 6).alias("mean_norm"),
        F.round(F.col("mean_cosine") + F.lit(1e-9), 6).alias(
            "mean_cosine"
        ),
    )


Q243_ORACLE = """
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
nr AS (
  SELECT v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
),
base AS (SELECT v, nrm FROM nr WHERE nrm > 0),
stats AS (
  SELECT count(*) AS n, avg(nrm) AS mean_norm,
         CAST(max(len(v)) AS BIGINT) AS dim
  FROM base
),
comps AS (
  SELECT generate_subscripts(v, 1) AS i, unnest(v) / nrm AS x FROM base
),
dims AS (SELECT i, sum(x) AS s FROM comps GROUP BY i),
sq AS (SELECT sum(s * s) AS ss FROM dims)
SELECT n, dim,
       round(mean_norm + 1e-9, 6) AS mean_norm,
       round((ss - CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
             + 1e-9, 6) AS mean_cosine
FROM stats CROSS JOIN sq
"""


QUERIES.append(Q("q243_embedding_isotropy", q243, Q243_ORACLE))


# --- Q247: Unicode script / char-class census -----------------------------------------
def q247(spark, sf_dir):
    """Per-source script census (operators/text.py::script_profile):
    Latin / digit / whitespace / CJK-ideograph character counts as
    pure length-of-regexp_replace expressions folded map-side into one
    K-row aggregate — the mislabeled-language / mojibake / markup
    audit a tokenizer-training pipeline runs before anything else.
    The CJK class is the literal BMP range U+4E00-9FFF so both regex
    dialects mean the same thing."""
    from parquet_on_fhir_spark.operators.text import script_profile

    d = t(spark, sf_dir, "documents")
    out = script_profile(d, "source", "text")
    return out.select(
        F.col("group").alias("source"),
        "n_docs",
        "chars",
        "latin",
        "digit",
        "space",
        "cjk",
        "other",
        d4(F.col("latin_frac")).alias("latin_frac"),
        d4(F.col("cjk_frac")).alias("cjk_frac"),
    )


Q247_ORACLE = """
WITH per AS (
  SELECT source,
         length(text) AS total,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
           AS latin,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS digit,
         length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g'))
           AS space,
         length(text)
           - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g'))
           AS cjk
  FROM documents
),
g AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(total) AS BIGINT) AS chars,
         CAST(sum(latin) AS BIGINT) AS latin,
         CAST(sum(digit) AS BIGINT) AS digit,
         CAST(sum(space) AS BIGINT) AS space,
         CAST(sum(cjk) AS BIGINT) AS cjk
  FROM per GROUP BY source
)
SELECT source, n_docs, chars, latin, digit, space, cjk,
       CAST(chars - latin - digit - space - cjk AS BIGINT) AS other,
       CASE WHEN chars > 0 THEN
         round(CAST(latin AS DOUBLE) / CAST(chars AS DOUBLE) + 1e-9, 4)
       END AS latin_frac,
       CASE WHEN chars > 0 THEN
         round(CAST(cjk AS DOUBLE) / CAST(chars AS DOUBLE) + 1e-9, 4)
       END AS cjk_frac
FROM g
"""


QUERIES.append(Q("q247_script_profile", q247, Q247_ORACLE))


# --- Q250: duplicate-cluster size histogram --------------------------------------------
def q250(spark, sf_dir):
    """Duplication SHAPE audit (completes q66 exact dedup + q242 ESS):
    the log2 histogram of exact-duplicate cluster sizes — many
    singletons + one megacluster and uniform pair-duplication have the
    same dup_rate but opposite remediations. Bucket = len(bin(size))-1
    (exact integer floor(log2), no float-log boundary risk at powers
    of two); one 16-byte-keyed aggregate + one K-bucket recount."""
    d = t(spark, sf_dir, "documents")
    sizes = d.groupBy(F.md5(F.col("text")).alias("h")).agg(
        F.count("*").alias("size")
    )
    return (
        sizes.groupBy(
            (F.length(F.expr("bin(size)")) - 1).alias("log2_bucket")
        )
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("size").alias("n_docs"),
        )
        .select("log2_bucket", "n_clusters", "n_docs")
    )


Q250_ORACLE = """
WITH sizes AS (
  SELECT md5(text) AS h, count(*) AS size FROM documents GROUP BY h
)
SELECT CAST(length(bin(size)) - 1 AS INT) AS log2_bucket,
       count(*) AS n_clusters,
       CAST(sum(size) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
"""


QUERIES.append(Q("q250_dup_cluster_histogram", q250, Q250_ORACLE))


# --- Q251: tokenizer fertility / chars-per-token budget audit ---------------------------
def q251(spark, sf_dir):
    """Token-budget audit (operators/text.py::bpe_ish_token_count):
    per-source characters-per-token fertility under the ~4-chars/piece
    BPE estimate — the number a pretraining budget is priced in; CJK-
    heavy sources (q247's census) surface here as low fertility. All
    JVM expressions (array fold + punct regex), one K-row aggregate."""
    d = t(spark, sf_dir, "documents")
    toks = tx.bpe_ish_token_count(F.col("text"))
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text").cast("long")).alias("chars"),
        F.sum(toks).alias("tokens"),
    )
    return per.select(
        "source",
        "n_docs",
        "chars",
        "tokens",
        d4(
            F.col("chars").cast("double") / F.col("tokens").cast("double")
        ).alias("chars_per_token"),
    )


Q251_ORACLE = """
WITH per AS (
  SELECT source,
         length(text) AS chars,
         list_sum(list_transform(
           string_split_regex(lower(text), '\\s+'),
           w -> CAST(ceil(length(w) / 4.0) AS INT)))
         + length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS toks
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS chars,
       CAST(sum(toks) AS BIGINT) AS tokens,
       round(CAST(sum(chars) AS DOUBLE) / CAST(sum(toks) AS DOUBLE)
             + 1e-9, 4) AS chars_per_token
FROM per GROUP BY source
"""


QUERIES.append(Q("q251_tokenizer_fertility", q251, Q251_ORACLE))


# --- Q255: compressed-format (baseline JPEG) real decode, driver-checked -------------
def q255(spark, sf_dir):
    """operators/multimodal.py::decode_jpeg end-to-end (r11 — the last
    compressed-format seam closed pure-numpy): 100 genuine baseline
    JPEGs (one per EVEN gray level 28..226, built by the in-repo
    encoder driver-side — solid even gray decodes EXACTLY because the
    DC coefficient 8·(v−128) is divisible by the Annex-K luminance
    quantizer 16 and every AC is zero) broadcast-join to documents,
    get Huffman-decoded + IDCT'd inside mapInPandas, and the luminance
    features compare to their closed form — the oracle needs no
    decoder. Same plan shape as q185 (PNG): fact side never shuffles."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_jpeg,
        extract_features,
        numpy_features,
    )

    payloads = [
        (
            g,
            bytearray(
                encode_jpeg(
                    np.full((8, 8, 3), g, dtype=np.uint8), grayscale=True
                )
            ),
        )
        for g in range(28, 228, 2)
    ]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.join(
        F.broadcast(pay),
        ((F.col("doc_id") % 100) * 2 + 28).cast("int") == F.col("g"),
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=numpy_features)
    return feats.select(
        "media_id",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("f_width"),
        F.round(F.element_at("feat", 2), 4).alias("f_height"),
        d4(F.element_at("feat", 3)).alias("lum_00"),
        d4(F.element_at("feat", 34)).alias("lum_mid"),
        d4(F.element_at("feat", 66)).alias("lum_77"),
    )


Q255_ORACLE = """
SELECT doc_id AS media_id,
       66 AS feat_dim,
       CAST(8.0 AS DOUBLE) AS f_width,
       CAST(8.0 AS DOUBLE) AS f_height,
       round(((doc_id % 100) * 2 + 28) / 255.0 + 1e-9, 4) AS lum_00,
       round(((doc_id % 100) * 2 + 28) / 255.0 + 1e-9, 4) AS lum_mid,
       round(((doc_id % 100) * 2 + 28) / 255.0 + 1e-9, 4) AS lum_77
FROM documents
WHERE doc_id < 200
"""


QUERIES.append(Q("q255_jpeg_real_decode", q255, Q255_ORACLE))


# --- Q258: weighted training-subset sampling (Efraimidis-Spirakis) --------------------
def q258(spark, sf_dir):
    """Weighted sampling without replacement (operators/curation.py::
    weighted_sample_wor, r11): the 50 documents drawn by
    length-weighted Efraimidis-Spirakis exponential keys — one
    map-side key computation + TakeOrdered (per-partition top-k heaps,
    no global sort, no window), the quality-weighted subset draw
    ``df.sample`` (Bernoulli, unweighted) cannot express. The md5 draw
    makes the exact sample SQL-restatable; only the integer columns
    return (key ordering is cross-engine stable, the float key itself
    stays internal)."""
    from parquet_on_fhir_spark.operators.curation import (
        weighted_sample_wor,
    )

    d = t(spark, sf_dir, "documents")
    out = weighted_sample_wor(d, "doc_id", "n_chars", k=50, seed=7)
    return out.select("doc_id", "n_chars")


Q258_ORACLE = """
SELECT doc_id, n_chars
FROM (
  SELECT doc_id, n_chars,
         ln((CAST('0x' || substr(md5('ws7:' || CAST(doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) + 1)
            / CAST(1152921504606846976 AS DOUBLE)) / n_chars AS k
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
ORDER BY k DESC, doc_id
LIMIT 50
"""


QUERIES.append(Q("q258_weighted_sample", q258, Q258_ORACLE))


# --- Q261: Heaps-law vocabulary-growth fit --------------------------------------------
def q261(spark, sf_dir):
    """Heaps'-law fit V ≈ K·T^β over ingestion order (operators/
    text.py::heaps_law, r11): cumulative (tokens, vocabulary) points
    per 50-doc batch from the one-scan novelty machinery, log-log OLS
    closed form with 12-dp ln pinning — the growth-law companion of
    the q241 novelty RATE and the q173 Zipf slope; all windows run
    over the K-batch frame, never the corpus."""
    out = tx.heaps_law(
        t(spark, sf_dir, "documents"), "doc_id", "text", batch_width=50
    )
    return out.select(
        "n_points",
        "tokens_total",
        "vocab_total",
        d4(F.col("beta")).alias("beta"),
        d4(F.col("k")).alias("k"),
    )


Q261_ORACLE = """
WITH toks AS (
  SELECT doc_id // 50 AS batch,
         string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
grams AS (
  SELECT batch, unnest(tk) AS gram FROM toks WHERE len(tk) >= 1
),
per AS (
  SELECT batch, gram, count(*) AS c FROM grams GROUP BY batch, gram
),
first_ AS (
  SELECT gram, min(batch) AS fb FROM per GROUP BY gram
),
curve AS (
  SELECT batch,
         sum(c) AS occurrences,
         sum(CASE WHEN batch = fb THEN 1 ELSE 0 END) AS newv
  FROM per JOIN first_ USING (gram)
  GROUP BY batch
),
pts AS (
  SELECT sum(occurrences) OVER (ORDER BY batch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t,
         sum(newv) OVER (ORDER BY batch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
  FROM curve
),
lg AS (
  SELECT round(ln(CAST(t AS DOUBLE)), 12) AS x,
         round(ln(CAST(v AS DOUBLE)), 12) AS y,
         t, v
  FROM pts WHERE t > 0 AND v > 0
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST(max(t) AS BIGINT) AS tokens_total,
         CAST(max(v) AS BIGINT) AS vocab_total,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM lg
)
SELECT n_points, tokens_total, vocab_total,
       round((n_points * sxy - sx * sy)
             / (n_points * sxx - sx * sx) + 1e-9, 4) AS beta,
       round(exp((sy - (n_points * sxy - sx * sy)
                       / (n_points * sxx - sx * sx) * sx) / n_points)
             + 1e-9, 4) AS k
FROM s
"""


QUERIES.append(Q("q261_heaps_law", q261, Q261_ORACLE))


# --- Q263: progressive JPEG real decode --------------------------------------------
def q263(spark, sf_dir):
    """operators/multimodal.py::_decode_jpeg_progressive end-to-end
    (r12 — the r11 verdict's task 5): same plan shape as q255, but the
    payloads are genuine SOF2 PROGRESSIVE streams built driver-side by
    encode_jpeg_progressive (interleaved DC scan at Al=1, one-bit DC
    refinement, per-component spectral-selection AC bands + the
    G.1.2.3 correction-bit refinement). Solid even gray decodes
    EXACTLY — the DC scans recover 8·(v−128) (divisible by the Annex-K
    luminance quantizer 16) through the successive-approximation split
    and every AC is zero in every band — so the luminance features
    compare to their closed form and the oracle needs no decoder.
    Broadcast join to documents; the fact side never shuffles."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_jpeg_progressive,
        extract_features,
        numpy_features,
    )

    payloads = [
        (
            g,
            bytearray(
                encode_jpeg_progressive(
                    np.full((8, 8, 3), g, dtype=np.uint8), grayscale=True
                )
            ),
        )
        for g in range(30, 230, 2)
    ]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.join(
        F.broadcast(pay),
        ((F.col("doc_id") % 100) * 2 + 30).cast("int") == F.col("g"),
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=numpy_features)
    return feats.select(
        "media_id",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("f_width"),
        F.round(F.element_at("feat", 2), 4).alias("f_height"),
        d4(F.element_at("feat", 3)).alias("lum_00"),
        d4(F.element_at("feat", 34)).alias("lum_mid"),
        d4(F.element_at("feat", 66)).alias("lum_77"),
    )


Q263_ORACLE = """
SELECT doc_id AS media_id,
       66 AS feat_dim,
       CAST(8.0 AS DOUBLE) AS f_width,
       CAST(8.0 AS DOUBLE) AS f_height,
       round(((doc_id % 100) * 2 + 30) / 255.0 + 1e-9, 4) AS lum_00,
       round(((doc_id % 100) * 2 + 30) / 255.0 + 1e-9, 4) AS lum_mid,
       round(((doc_id % 100) * 2 + 30) / 255.0 + 1e-9, 4) AS lum_77
FROM documents
WHERE doc_id < 200
"""


QUERIES.append(Q("q263_jpeg_progressive_decode", q263, Q263_ORACLE))


# --- Q265: stratified weighted sampling (per-group Efraimidis-Spirakis) ---------------
def q265(spark, sf_dir):
    """Stratified weighted sampling without replacement (operators/
    curation.py::weighted_sample_wor_per_group, r12): at most 10 docs
    PER SOURCE, drawn by length-weighted Efraimidis-Spirakis keys —
    the training-mixture primitive ("cap each domain, prefer higher
    quality") a global top-k cannot express. One map-side md5 key
    computation + one row_number window partitioned by source: a
    single shuffle on the group key, no per-group jobs; the md5 draw
    makes the exact sample SQL-restatable."""
    from parquet_on_fhir_spark.operators.curation import (
        weighted_sample_wor_per_group,
    )

    d = t(spark, sf_dir, "documents")
    out = weighted_sample_wor_per_group(
        d, "source", "doc_id", "n_chars", k=10, seed=11
    )
    return out.select("source", "doc_id", "n_chars")


Q265_ORACLE = """
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         ln((CAST('0x' || substr(md5('wsg11:' || CAST(doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) + 1)
            / CAST(1152921504606846976 AS DOUBLE)) / n_chars AS sample_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY sample_key DESC, doc_id) AS rn
  FROM keyed
)
SELECT source, doc_id, n_chars FROM ranked WHERE rn <= 10
"""


QUERIES.append(Q("q265_stratified_weighted_sample", q265, Q265_ORACLE))


# --- Q270: GIF (LZW) real decode ------------------------------------------------------
def q270(spark, sf_dir):
    """operators/multimodal.py::decode_gif end-to-end (r12 wave 2):
    200 genuine GIF87a files — two-color 8x8 images (rows 0-3 gray g,
    rows 4-7 its inverse), REAL variable-width LZW streams, every
    even g stored INTERLACED (the 4-pass row order) — broadcast onto
    documents and decoded by the pure-python LZW codec inside
    mapInPandas. The top/bottom split makes the closed-form oracle
    sensitive to interlace mistakes: lum_00 must be g/255 and lum_77
    its inverse, which a wrong row reorder scrambles. Same plan shape
    as q185/q255: the fact side never shuffles. Animation/transparency
    composites route to the decode_real PIL seam (module docstring)."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_gif,
        extract_features,
        numpy_features,
    )

    def make(g: int) -> bytearray:
        img = np.empty((8, 8, 3), dtype=np.uint8)
        img[:4] = g
        img[4:] = 255 - g
        return bytearray(encode_gif(img, interlace=(g % 2 == 0)))

    payloads = [(g, make(g)) for g in range(28, 228)]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 200 + 28).cast("int") == F.col("g")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("image/gif").alias("mime"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=numpy_features)
    return feats.select(
        "media_id",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("f_width"),
        F.round(F.element_at("feat", 2), 4).alias("f_height"),
        d4(F.element_at("feat", 3)).alias("lum_00"),
        d4(F.element_at("feat", 34)).alias("lum_mid"),
        d4(F.element_at("feat", 66)).alias("lum_77"),
    )


Q270_ORACLE = """
SELECT doc_id AS media_id,
       66 AS feat_dim,
       CAST(8.0 AS DOUBLE) AS f_width,
       CAST(8.0 AS DOUBLE) AS f_height,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_00,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_mid,
       round((255 - (doc_id % 200 + 28)) / 255.0 + 1e-9, 4) AS lum_77
FROM documents
WHERE doc_id < 200
"""


QUERIES.append(Q("q270_gif_real_decode", q270, Q270_ORACLE))


# --- Q271: reciprocal-best-match (mutual nearest neighbor) alignment -------------------
def q271(spark, sf_dir):
    """Reciprocal-best-match alignment (operators/similarity.py::
    mutual_best_match, r12 wave 2): pair two embedding corpora (ids
    0-59 vs 100-159) keeping only MUTUAL cosine argmaxes — the
    cross-corpus alignment primitive where one-directional argmax
    keeps asymmetric junk. The operator consumes a SCORED PAIR frame
    (two rank-1 windows + a pair-key join), so at corpus scale it
    rides an LSH/IVF candidate stage; here the candidates are the
    broadcast brute-force product (query-sized sides), cosine rounded
    to 6dp before ranking (q68's determinism recipe)."""
    from parquet_on_fhir_spark.functions.vectors import cosine_similarity
    from parquet_on_fhir_spark.operators.similarity import mutual_best_match

    e = t(spark, sf_dir, "embeddings")
    left = e.filter(F.col("vec_id") < 60).select(
        F.col("vec_id").alias("left_id"), F.col("embedding").alias("lv")
    )
    right = e.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 160)
    ).select(F.col("vec_id").alias("right_id"), F.col("embedding").alias("rv"))
    pairs = left.join(F.broadcast(right)).select(
        "left_id",
        "right_id",
        F.round(
            cosine_similarity(F.col("lv"), F.col("rv")) + F.lit(1e-9), 6
        ).alias("score"),
    )
    out = mutual_best_match(pairs, "left_id", "right_id", "score")
    return out.select("left_id", "right_id", F.col("score").alias("cosine"))


Q271_ORACLE = """
WITH l AS (SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS lv
           FROM embeddings WHERE vec_id < 60),
r AS (SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS rv
      FROM embeddings WHERE vec_id >= 100 AND vec_id < 160),
lx AS (SELECT left_id, unnest(lv) AS v, generate_subscripts(lv, 1) AS i FROM l),
rx AS (SELECT right_id, unnest(rv) AS v, generate_subscripts(rv, 1) AS i FROM r),
p AS (
  SELECT lx.left_id, rx.right_id,
         round(sum(lx.v * rx.v)
               / (sqrt(sum(lx.v * lx.v)) * sqrt(sum(rx.v * rx.v)))
               + 1e-9, 6) AS score
  FROM lx JOIN rx ON lx.i = rx.i
  GROUP BY lx.left_id, rx.right_id
),
bl AS (
  SELECT left_id, right_id, score FROM p
  QUALIFY row_number() OVER (PARTITION BY left_id
                             ORDER BY score DESC, right_id) = 1
),
br AS (
  SELECT left_id, right_id FROM p
  QUALIFY row_number() OVER (PARTITION BY right_id
                             ORDER BY score DESC, left_id) = 1
)
SELECT bl.left_id, bl.right_id, bl.score AS cosine
FROM bl JOIN br USING (left_id, right_id)
"""


QUERIES.append(Q("q271_mutual_best_match", q271, Q271_ORACLE))


# --- Q273: n-gram containment pairs (quote/subset detection) ----------------------------
def q273(spark, sf_dir):
    """Directed shingle-containment pairs (operators/dedup.py::
    containment_pairs, r12 wave 2 — Broder 1997's containment measure,
    the subset/quote detector Jaccard misses): documents ∪ 20-word
    FRAGMENTS of docs 0-29 (id+2000000); a fragment's trigram set
    sits inside its source (containment ≈ 1.0) while Jaccard would
    stay ≈ fragment/source ratio. Exact mode (no hot-shingle cap) so
    the inverted-index join restates verbatim in SQL; only (id,
    shingle) pairs shuffle, never the text."""
    from parquet_on_fhir_spark.operators.dedup import containment_pairs

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    frags = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 20))
        .alias("text"),
    )
    out = containment_pairs(
        d.unionAll(frags), "text", "doc_id", k=3, threshold=0.8
    )
    return out.select(
        "id_a", "id_b", "shared", "n_sh_a",
        d4(F.col("containment")).alias("containment"),
    )


Q273_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(string_split_regex(text, '\s+')[1:20], ' ') AS text
  FROM documents WHERE doc_id < 30
),
sh AS (
  SELECT doc_id AS id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 1)),
           i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS s
  FROM base
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.id <> b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
       CAST(n_sh AS BIGINT) AS n_sh_a,
       round(CAST(shared AS DOUBLE) / CAST(n_sh AS DOUBLE) + 1e-9, 4)
         AS containment
FROM shared JOIN sizes ON shared.id_a = sizes.id
WHERE CAST(shared AS DOUBLE) / CAST(n_sh AS DOUBLE) >= 0.8
"""


QUERIES.append(Q("q273_containment_pairs", q273, Q273_ORACLE))


# --- Q276: animated-GIF frame extraction ---------------------------------------------
def q276(spark, sf_dir):
    """Animated-GIF frame extraction (operators/multimodal.py::
    gif_animation_features over decode_gif_frames, r12 wave 2): 200
    three-frame GIF89a animations — Graphic Control Extensions with
    per-frame delays, full-frame compositing — decoded inside
    mapInPandas; solid frames give a closed-form oracle (frame k of
    payload g has known luminance), so the GCE walk, frame order and
    delay parsing are hash-checked. The video-shaped path: what
    frame_sample_plan plans for codec-less formats, executed for real
    on the in-repo GIF codec."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_gif_animation,
        gif_animation_features,
    )

    def make(g: int) -> bytearray:
        f = lambda v: np.full((6, 6, 3), v, dtype=np.uint8)  # noqa: E731
        return bytearray(
            encode_gif_animation(
                [f(g), f(255 - g), f(g)], delays_ms=[40, 80, 120]
            )
        )

    payloads = [(g, make(g)) for g in range(28, 228)]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 200 + 28).cast("int") == F.col("g")
    ).select(F.col("doc_id").alias("media_id"), "content")
    out = gif_animation_features(media)
    return out.select(
        "media_id", "frame_idx", "delay_ms",
        d4(F.col("mean_lum")).alias("mean_lum"),
    )


Q276_ORACLE = """
SELECT doc_id AS media_id, f.frame_idx,
       CAST(CASE f.frame_idx WHEN 0 THEN 40 WHEN 1 THEN 80
            ELSE 120 END AS BIGINT) AS delay_ms,
       round(CASE WHEN f.frame_idx = 1
                  THEN (255 - (doc_id % 200 + 28)) / 255.0
                  ELSE (doc_id % 200 + 28) / 255.0 END + 1e-9, 4)
         AS mean_lum
FROM documents, (SELECT unnest([0, 1, 2]) AS frame_idx) f
WHERE doc_id < 200
"""


QUERIES.append(Q("q276_gif_animation_frames", q276, Q276_ORACLE))


# --- Q277: BPE tokenizer-training merges ---------------------------------------------
def q277(spark, sf_dir):
    """BPE merge training (operators/text.py::bpe_train_merges, r12
    wave 2 — Sennrich 2016): the first 12 merges learned from the
    documents corpus. The corpus is scanned ONCE (distinct-word
    frequency aggregate); every round after runs on the
    vocabulary-sized frame — the property that lets real tokenizer
    training run on a corpus sample without a corpus-sized loop.
    Iterative argmax → rows-only; bitwise-verified against an
    independent pure-python BPE in tests/test_r12_wave2.py (incl. the
    canonical Sennrich low/lower/newest/widest walkthrough and
    regex-special symbols)."""
    from parquet_on_fhir_spark.operators.text import bpe_train_merges

    d = t(spark, sf_dir, "documents")
    return bpe_train_merges(d, "text", rounds=12)


QUERIES.append(Q("q277_bpe_train_merges", q277, None))


# --- Q278: product-quantization ANN (ADC top-k) --------------------------------------
def q278(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py::pq_train/
    pq_encode/pq_topk, r12 wave 2 — Jégou 2011): 64-dim embeddings
    compress to 8 one-byte codes (8 subspaces × 16 centroids) and
    queries score by asymmetric-distance lookup tables — no float
    vector is read at query time, which is THE memory lever at
    100 TB (the encoded index is ~32× smaller and the full vectors
    stay in cold storage for the re-rank stage). Codebooks train on a
    bounded deterministic sample; scoring is one numpy gather per
    Arrow batch. Rows-only (seeded Lloyd); cluster-recall and
    lossless-codebook exactness pinned in tests."""
    from parquet_on_fhir_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    e = t(spark, sf_dir, "embeddings")
    books = pq_train(e, m=8, k=16)
    enc = pq_encode(e, books)
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return pq_topk(enc, queries, books, k=5).select(
        "q_id", "vec_id", "score", F.col("rank").alias("rnk")
    )


QUERIES.append(Q("q278_pq_topk", q278, None))


# --- Q279: Unicode normalization audit ------------------------------------------------
def q279(spark, sf_dir):
    """Unicode NFC audit (operators/text.py::
    unicode_normalization_audit, r12 wave 2): documents with planted
    DECOMPOSED suffixes (combining acute U+0301, combining ring
    U+030A on every fifth doc) are flagged and their code-point
    shrink measured -- mixed normalization silently defeats exact
    dedup/token counts, so this is the audit a crawl pipeline runs
    before hashing. The normalize call is the one vectorized pandas
    step; DuckDB's nfc_normalize restates it exactly (parity with
    python unicodedata verified)."""
    from parquet_on_fhir_spark.operators.text import (
        unicode_normalization_audit,
    )

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" cafe\u0301 A\u030angstro\u0308m"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = unicode_normalization_audit(d, "text", "doc_id", form="NFC")
    return out.select("doc_id", "changed", "len_before", "len_after")


Q279_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' cafe' || chr(769) || ' A' || chr(778)
                   || 'ngstro' || chr(776) || 'm'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       nfc_normalize(text) <> text AS changed,
       CAST(length(text) AS INT) AS len_before,
       CAST(length(nfc_normalize(text)) AS INT) AS len_after
FROM d
"""


QUERIES.append(Q("q279_unicode_nfc_audit", q279, Q279_ORACLE))


# --- Q282: URL canonicalization + dedup audit -----------------------------------------
def q282(spark, sf_dir):
    """URL-level duplicate clusters (operators/curation.py::
    canonicalize_url + url_dedup_audit, r12 wave 3): documents get
    deterministic crawl URLs in five messy shapes — scheme/host case,
    explicit default port, ``www.``, tracking params (utm_*/fbclid),
    fragments, duplicate and trailing slashes, shuffled param order —
    and the audit groups by the canonical form. URL dedup is the
    FIRST dedup stage of a crawl pipeline at 100 TB because it prices
    per URL string, not per payload: here it is a map-only Catalyst
    projection + ONE map-side-combined aggregate. The oracle restates
    every canonicalization step generically in DuckDB (regexp +
    list lambdas), not just the planted shapes."""
    from parquet_on_fhir_spark.operators.curation import url_dedup_audit

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            """
            CASE CAST(doc_id / 100 AS INT) % 5
              WHEN 0 THEN 'https://example.com/page/'
                          || CAST(doc_id % 100 AS STRING)
              WHEN 1 THEN 'HTTPS://EXAMPLE.com:443/page/'
                          || CAST(doc_id % 100 AS STRING)
                          || '/?utm_source=feed&utm_campaign=x'
              WHEN 2 THEN 'https://www.example.com/page/'
                          || CAST(doc_id % 100 AS STRING)
                          || '?fbclid=abc'
              WHEN 3 THEN 'https://example.com/page/'
                          || CAST(doc_id % 100 AS STRING)
                          || '?a=1&utm_medium=email#frag'
              ELSE 'https://example.com//page/'
                          || CAST(doc_id % 100 AS STRING)
                          || '/?b=2&a=1'
            END
            """
        ).alias("url"),
    )
    out = url_dedup_audit(d, "url", "doc_id")
    return out.select(
        "canonical_url", "n_variants", "n_distinct_raw", "keeper_id"
    )


Q282_ORACLE = r"""
WITH raw AS (
  SELECT doc_id,
         CASE CAST(floor(doc_id / 100) AS INT) % 5
           WHEN 0 THEN 'https://example.com/page/'
                       || CAST(doc_id % 100 AS VARCHAR)
           WHEN 1 THEN 'HTTPS://EXAMPLE.com:443/page/'
                       || CAST(doc_id % 100 AS VARCHAR)
                       || '/?utm_source=feed&utm_campaign=x'
           WHEN 2 THEN 'https://www.example.com/page/'
                       || CAST(doc_id % 100 AS VARCHAR)
                       || '?fbclid=abc'
           WHEN 3 THEN 'https://example.com/page/'
                       || CAST(doc_id % 100 AS VARCHAR)
                       || '?a=1&utm_medium=email#frag'
           ELSE 'https://example.com//page/'
                       || CAST(doc_id % 100 AS VARCHAR)
                       || '/?b=2&a=1'
         END AS url
  FROM documents
),
defrag AS (
  SELECT doc_id, url, regexp_replace(trim(url), '#.*$', '') AS s FROM raw
),
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
           AS scheme,
         regexp_replace(s, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS after
  FROM defrag
),
auth AS (
  SELECT *, regexp_extract(after, '^([^/?]*)', 1) AS authority
  FROM parts
),
hostport AS (
  SELECT *,
         regexp_replace(
           CASE WHEN scheme = 'http'
                  THEN regexp_replace(lower(authority), ':80$', '')
                WHEN scheme = 'https'
                  THEN regexp_replace(lower(authority), ':443$', '')
                ELSE lower(authority) END,
           '^www\.', '') AS host,
         substr(after, length(authority) + 1) AS pathq
  FROM auth
),
pathpart AS (
  SELECT *, regexp_extract(pathq, '^([^?]*)', 1) AS raw_path
  FROM hostport
),
cleanpath AS (
  SELECT *,
         CASE WHEN p = '' THEN '/'
              WHEN length(p) > 1 AND p LIKE '%/'
                THEN substr(p, 1, length(p) - 1)
              ELSE p END AS path
  FROM (SELECT *, regexp_replace(raw_path, '/{2,}', '/', 'g') AS p
        FROM pathpart)
),
q AS (
  SELECT *,
         CASE WHEN contains(pathq, '?')
              THEN substr(pathq, length(raw_path) + 2)
              ELSE '' END AS query
  FROM cleanpath
),
canon AS (
  SELECT doc_id, url AS raw_url,
         CASE WHEN scheme IN ('http', 'https') THEN
           scheme || '://' || host || path ||
           CASE WHEN cq = '' THEN '' ELSE '?' || cq END
         ELSE trim(url) END AS canonical_url
  FROM (
    SELECT *,
           coalesce(array_to_string(
             list_sort(list_filter(string_split(query, '&'),
               x -> x <> '' AND NOT starts_with(x, 'utm_')
                    AND NOT list_contains(
                      ['fbclid','gclid','msclkid','mc_eid','igshid',
                       'ref_src','s_kwcid'],
                      string_split(x, '=')[1]))),
             '&'), '') AS cq
    FROM q)
)
SELECT canonical_url, count(*) AS n_variants,
       count(DISTINCT raw_url) AS n_distinct_raw,
       min(doc_id) AS keeper_id
FROM canon GROUP BY canonical_url HAVING count(*) > 1
"""


QUERIES.append(Q("q282_url_dedup_audit", q282, Q282_ORACLE))


# --- Q284: lossless WebP (VP8L) real decode -------------------------------------------
def q284(spark, sf_dir):
    """operators/multimodal.py::decode_webp end-to-end (r12 wave 3):
    200 genuine lossless WebP files — 8x8 two-tone images (rows 0-3
    gray g, rows 4-7 its inverse) carrying REAL VP8L entropy streams
    (canonical prefix codes with the full code-length-coded
    serialization; every even g additionally LZ77-codes its runs
    through the 2D distance map and a 1-bit color cache), written by
    the in-repo encoder — broadcast onto documents and decoded by the
    system libwebp (operators/webp.py) inside mapInPandas. Lossless
    means decode is EXACT, so the closed-form oracle pins
    lum_00 = g/255 and lum_77 = (255-g)/255 with no tolerance beyond
    d4. Same plan shape as q255/q270: the fact side never shuffles.
    Lossy VP8 payloads are q299."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_webp_lossless,
        extract_features,
        numpy_features,
    )

    def make(g: int) -> bytearray:
        img = np.empty((8, 8, 3), dtype=np.uint8)
        img[:4] = g
        img[4:] = 255 - g
        return bytearray(encode_webp_lossless(img, use_lz77=(g % 2 == 0)))

    payloads = [(g, make(g)) for g in range(28, 228)]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 200 + 28).cast("int") == F.col("g")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("image/webp").alias("mime"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=numpy_features)
    return feats.select(
        "media_id",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("f_width"),
        F.round(F.element_at("feat", 2), 4).alias("f_height"),
        d4(F.element_at("feat", 3)).alias("lum_00"),
        d4(F.element_at("feat", 34)).alias("lum_mid"),
        d4(F.element_at("feat", 66)).alias("lum_77"),
    )


Q284_ORACLE = """
SELECT doc_id AS media_id,
       66 AS feat_dim,
       CAST(8.0 AS DOUBLE) AS f_width,
       CAST(8.0 AS DOUBLE) AS f_height,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_00,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_mid,
       round((255 - (doc_id % 200 + 28)) / 255.0 + 1e-9, 4) AS lum_77
FROM documents
WHERE doc_id < 200
"""


QUERIES.append(Q("q284_webp_lossless_real_decode", q284, Q284_ORACLE))


# --- Q299: lossy WebP (VP8 key-frame) real decode --------------------------------------
def q299(spark, sf_dir):
    """Lossy WebP decode end-to-end (r13): 150 genuine
    LOSSY WebP files — solid-gray VP8 key frames from the in-repo RFC
    6386 fixture encoder (operators/vp8_enc.py::encode_webp_solid,
    boolean-arithmetic-coded, DC-only Y2 residual in MB(0,0), DC
    prediction propagating it across the 2x1 cropped MB grid) —
    broadcast onto documents and decoded by the system libwebp
    (operators/webp.py) inside mapInPandas (decode_pixels dispatch +
    the BT.601 integer YUV->RGB in multimodal.py). Solid color makes the LOSSY
    path EXACT (the q284 lever, lossy edition): the oracle pins the
    full integer round trip in closed form — gray g -> Y plane value
    y = (56318*g + 1081344) // 65536 (libwebp's RGB->Y, fixture
    ground truth) -> decoded gray ((y-16)*19077 + 8192) // 16384.
    tests/test_vp8_codec.py pins that libwebp accepts the encoder's
    streams (random modes/coefficients, multi-partition frames). Same
    broadcast plan shape as q284: the fact side never shuffles."""
    from parquet_on_fhir_spark.operators.multimodal import (
        extract_features,
        numpy_features,
    )
    from parquet_on_fhir_spark.operators.vp8_enc import encode_webp_solid

    payloads = [
        (g, bytearray(encode_webp_solid(24, 16, (g, g, g))[0]))
        for g in range(40, 190)
    ]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150 + 40).cast("int") == F.col("g")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("image/webp").alias("mime"),
            F.lit(24).alias("width"),
            F.lit(16).alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=numpy_features)
    return feats.select(
        "media_id",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("f_width"),
        F.round(F.element_at("feat", 2), 4).alias("f_height"),
        d4(F.element_at("feat", 3)).alias("lum_00"),
        d4(F.element_at("feat", 34)).alias("lum_mid"),
        d4(F.element_at("feat", 66)).alias("lum_77"),
    )


Q299_ORACLE = """
WITH m AS (
  SELECT doc_id,
         (56318 * (doc_id % 150 + 40) + 1081344) // 65536 AS yv
  FROM documents WHERE doc_id < 150
),
px AS (
  SELECT doc_id,
         least(255, greatest(0, ((yv - 16) * 19077 + 8192) // 16384)) AS outv
  FROM m
)
SELECT doc_id AS media_id,
       66 AS feat_dim,
       CAST(24.0 AS DOUBLE) AS f_width,
       CAST(16.0 AS DOUBLE) AS f_height,
       round(outv / 255.0 + 1e-9, 4) AS lum_00,
       round(outv / 255.0 + 1e-9, 4) AS lum_mid,
       round(outv / 255.0 + 1e-9, 4) AS lum_77
FROM px
"""


QUERIES.append(Q("q299_webp_vp8_real_decode", q299, Q299_ORACLE))


# --- Q301: animated WebP frame extraction -----------------------------------------------
def q301(spark, sf_dir):
    """Animated-WebP frame extraction (operators/multimodal.py::
    webp_animation_features over decode_webp_frames, r13): 150
    three-frame VP8X/ANIM/ANMF animations with MIXED codecs — two
    VP8L lossless frames (two-tone g, solid inverse) and one LOSSY
    VP8 solid frame (the q299 exactness lever), full-canvas
    composites with per-frame durations — decoded inside mapInPandas.
    Every frame is exact, so the chunk walk, frame order, duration
    parsing and the cross-codec dispatch are all hash-checked in one
    closed-form oracle: frame 2's luminance is the documented gray
    YUV round trip. The q276 GIF shape on the WebP container."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_webp_animation,
        webp_animation_features,
    )

    def make(g: int) -> bytearray:
        two = np.empty((8, 8, 3), np.uint8)
        two[:4] = g
        two[4:] = 255 - g
        inv = np.full((8, 8, 3), 255 - g, np.uint8)
        solid = np.full((8, 8, 3), g, np.uint8)
        return bytearray(
            encode_webp_animation(
                [two, inv, solid], [40, 80, 120],
                lossy_mask=[False, False, True],
            )
        )

    payloads = [(g, make(g)) for g in range(40, 190)]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150 + 40).cast("int") == F.col("g")
    ).select(F.col("doc_id").alias("media_id"), "content")
    out = webp_animation_features(media)
    return out.select(
        "media_id", "frame_idx", "duration_ms",
        d4(F.col("mean_lum")).alias("mean_lum"),
    )


Q301_ORACLE = """
WITH m AS (
  SELECT doc_id, doc_id % 150 + 40 AS g,
         (56318 * (doc_id % 150 + 40) + 1081344) // 65536 AS yv
  FROM documents WHERE doc_id < 150
)
SELECT doc_id AS media_id, f.frame_idx,
       CAST(CASE f.frame_idx WHEN 0 THEN 40 WHEN 1 THEN 80
            ELSE 120 END AS BIGINT) AS duration_ms,
       round(CASE f.frame_idx
               WHEN 0 THEN 0.5
               WHEN 1 THEN (255 - g) / 255.0
               ELSE least(255, greatest(0,
                    ((yv - 16) * 19077 + 8192) // 16384)) / 255.0
             END + 1e-9, 4) AS mean_lum
FROM m, (SELECT unnest([0, 1, 2]) AS frame_idx) f
"""


QUERIES.append(Q("q301_webp_animation_frames", q301, Q301_ORACLE))


# --- Q302: AVIF real decode (system libavif seam) ---------------------------------------
def q302(spark, sf_dir):
    """AVIF real decode (operators/avif.py, r13 — the LAST format on
    the r11/r12 missing lists): genuine AV1-coded AVIF files decoded
    end-to-end inside mapInPandas through the ctypes seam to the
    container's libavif 0.11 (dav1d decode, aom encode) — the honest
    SYSTEM-codec tier next to the pure-python WebP family; the 0.11
    struct offsets are proven by the lossless random-plane roundtrip
    in tests/test_avif_codec.py. Fixtures are LOSSLESS (AV1 qindex 0)
    solid grays with U=V=128, so the full-range conversion gives
    R=G=B=Y exactly and the oracle is trivial closed form. Same
    broadcast plan shape as q284/q299: the fact side never
    shuffles."""
    import numpy as np

    from parquet_on_fhir_spark.operators.avif import encode_avif_yuv420
    from parquet_on_fhir_spark.operators.multimodal import (
        extract_features,
        numpy_features,
    )

    def make(g: int) -> bytearray:
        Y = np.full((16, 24), g, np.uint8)
        U = np.full((8, 12), 128, np.uint8)
        return bytearray(encode_avif_yuv420(Y, U, U))

    payloads = [(g, make(g)) for g in range(40, 190)]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150 + 40).cast("int") == F.col("g")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("image/avif").alias("mime"),
            F.lit(24).alias("width"),
            F.lit(16).alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=numpy_features)
    return feats.select(
        "media_id",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("f_width"),
        F.round(F.element_at("feat", 2), 4).alias("f_height"),
        d4(F.element_at("feat", 3)).alias("lum_00"),
        d4(F.element_at("feat", 34)).alias("lum_mid"),
        d4(F.element_at("feat", 66)).alias("lum_77"),
    )


Q302_ORACLE = """
SELECT doc_id AS media_id,
       66 AS feat_dim,
       CAST(24.0 AS DOUBLE) AS f_width,
       CAST(16.0 AS DOUBLE) AS f_height,
       round((doc_id % 150 + 40) / 255.0 + 1e-9, 4) AS lum_00,
       round((doc_id % 150 + 40) / 255.0 + 1e-9, 4) AS lum_mid,
       round((doc_id % 150 + 40) / 255.0 + 1e-9, 4) AS lum_77
FROM documents
WHERE doc_id < 150
"""


QUERIES.append(Q("q302_avif_real_decode", q302, Q302_ORACLE))


# --- Q303: EXIF metadata audit (orientation + GPS-presence PII flag) --------------------
def q303(spark, sf_dir):
    """EXIF metadata audit (operators/multimodal.py::exif_audit over
    parse_exif, r13): orientation normalization (tag 0x0112 — values
    2-8 mean the stored pixels are flipped/rotated and EVERY pixel op
    downstream must compensate) and the GPS-presence PII flag (tag
    0x8825 — carrying the pointer at all is the privacy finding), read
    from the TIFF-structured EXIF blob across THREE real containers:
    JPEG APP1, WebP EXIF chunk, raw TIFF header. 150 fixtures cycle
    container kind by doc_id%3 (one in three JPEG payloads carries NO
    EXIF — the has_exif=false path is in-oracle), orientation cycles
    1-8, GPS every 5th. mapInPandas per payload; same broadcast plan
    shape as q299/q302."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        build_exif,
        encode_jpeg,
        encode_webp_lossless,
        exif_audit,
        wrap_exif_jpeg,
        wrap_exif_webp,
    )

    img = np.full((8, 8, 3), 120, np.uint8)
    jpeg = encode_jpeg(img)
    webp = encode_webp_lossless(img)
    tiff_px = None

    def make(i: int) -> bytearray:
        if i % 3 == 0 and i % 2 == 0:
            return bytearray(jpeg)  # no EXIF at all
        ex = build_exif(
            orientation=i % 8 + 1,
            make=f"Cam{i % 5}",
            gps=(i % 5 == 0),
        )
        if i % 3 == 0:
            return bytearray(wrap_exif_jpeg(jpeg, ex))
        if i % 3 == 1:
            return bytearray(wrap_exif_webp(webp, ex))
        return bytearray(ex)  # raw TIFF-structured blob

    payloads = [(i, make(i)) for i in range(150)]
    pay = local_df(spark, payloads, "i INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select(F.col("doc_id").alias("media_id"), "content")
    return exif_audit(media).select(
        "media_id", "has_exif", "orientation", "make", "has_gps"
    )


Q303_ORACLE = """
SELECT doc_id AS media_id,
       NOT (doc_id % 6 = 0) AS has_exif,
       CASE WHEN doc_id % 6 = 0 THEN NULL
            ELSE CAST(doc_id % 8 + 1 AS INT) END AS orientation,
       CASE WHEN doc_id % 6 = 0 THEN NULL
            ELSE 'Cam' || CAST(doc_id % 5 AS VARCHAR) END AS make,
       CASE WHEN doc_id % 6 = 0 THEN NULL
            ELSE doc_id % 5 = 0 END AS has_gps
FROM documents
WHERE doc_id < 150
"""


QUERIES.append(Q("q303_exif_audit", q303, Q303_ORACLE))


# --- Q304: compressed-payload audit with the decompression-bomb guard -------------------
def q304(spark, sf_dir):
    """Compressed-payload ingestion audit (operators/curation.py::
    compressed_payload_audit, r13): magic-byte codec detection
    (gzip/zlib/zstd/raw) + BOUNDED inflate — the decompression-bomb
    guard a 100 TB ingest needs before touching crawled archives (a
    kilobyte zlib payload can expand to petabytes; the operator caps
    materialized output per payload and reports truncated instead of
    dying). 150 fixtures cycle five payload classes by doc_id%5:
    gzip'd text of closed-form length, zlib'd text, a 100 KB-expansion
    bomb against a 4 KiB cap (truncated at exactly the cap), a
    corrupt (cut) gzip stream (out_len NULL), and raw bytes. Same
    broadcast fixture-join shape as the codec family."""
    import gzip as _gzip
    import zlib as _zlib

    from parquet_on_fhir_spark.operators.curation import (
        compressed_payload_audit,
    )

    def make(i: int) -> bytearray:
        n = 1000 + (i % 7) * 351
        text = (b"doc%06d " % i) * (n // 10)  # 10-byte unit: len = 10*(n//10)
        k = i % 5
        if k == 0:
            return bytearray(_gzip.compress(text, 6))
        if k == 1:
            return bytearray(_zlib.compress(text, 6))
        if k == 2:
            return bytearray(_zlib.compress(b"a" * 100_000, 9))
        if k == 3:
            return bytearray(_gzip.compress(text, 6)[:30])
        return bytearray(text)

    payloads = [(i, make(i)) for i in range(150)]
    pay = local_df(spark, payloads, "i INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select(F.col("doc_id").alias("media_id"), "content")
    out = compressed_payload_audit(media, max_out_bytes=4096)
    return out.select("media_id", "codec", "out_len", "truncated")


Q304_ORACLE = """
WITH m AS (
  SELECT doc_id, doc_id % 5 AS k,
         10 * ((1000 + (doc_id % 7) * 351) // 10) AS text_len
  FROM documents WHERE doc_id < 150
)
SELECT doc_id AS media_id,
       CASE k WHEN 0 THEN 'gzip' WHEN 1 THEN 'zlib' WHEN 2 THEN 'zlib'
              WHEN 3 THEN 'gzip' ELSE 'raw' END AS codec,
       CASE k WHEN 0 THEN CASE WHEN text_len <= 4096 THEN text_len
                               ELSE 4096 END
              WHEN 1 THEN CASE WHEN text_len <= 4096 THEN text_len
                               ELSE 4096 END
              WHEN 2 THEN 4096
              WHEN 3 THEN NULL
              ELSE text_len END AS out_len,
       CASE k WHEN 2 THEN TRUE
              WHEN 3 THEN FALSE
              ELSE text_len > 4096 AND k IN (0, 1) END AS truncated
FROM m
"""


QUERIES.append(Q("q304_compressed_payload_audit", q304, Q304_ORACLE))


# --- Q305: HTML main-content extraction --------------------------------------------------
def q305(spark, sf_dir):
    """HTML main-content extraction (operators/html.py::html_extract,
    r13 — the jusText/trafilatura-family op a crawl corpus needs
    before any text stage): stdlib-parser tokenization with
    script/style dropped and entities decoded, block segmentation at
    block-level tags, and the two classic signals (length ≥ 25 chars,
    link density ≤ 0.5) keeping article prose while nav/footer/ad
    blocks fall out. 150 fixture pages cycle four shapes by doc_id%4
    (3-paragraph article with nav+footer; pure link farm; one-para
    page with an ad div; bare text with no markup), built from
    fixed-width word units so every kept-text LENGTH is closed form.
    One mapInPandas pass — the page scan rides the corpus scan."""
    from parquet_on_fhir_spark.operators.html import html_extract

    def para(i: int, j: int) -> str:
        return ("w%04d " % ((i + j) % 9999)) * 10

    def make(i: int) -> str:
        k = i % 4
        nav = ('<nav><a href="/">Home</a> <a href="/b">Blog</a> '
               '<a href="/c">Contact</a></nav>')
        foot = '<footer><a href="/t">Terms</a> | <a href="/p">Priv</a></footer>'
        title = f"<head><title>Page {i}</title></head>"
        if k == 0:
            body = nav + "".join(
                f"<p>{para(i, j)}</p>" for j in range(3)
            ) + foot
            return f"<html>{title}<body>{body}</body></html>"
        if k == 1:
            links = "".join(f'<a href="/{j}">L{j:03d}</a> ' for j in range(8))
            return f"<html>{title}<body><nav>{links}</nav></body></html>"
        if k == 2:
            return (f"<html>{title}<body><p>{para(i, 0)}</p>"
                    f"<div>Buy now!</div></body></html>")
        return para(i, 0)  # bare text, no markup at all

    payloads = [(i, make(i)) for i in range(150)]
    pay = local_df(spark, payloads, "i INT, html STRING")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pages = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select(F.col("doc_id"), "html")
    out = html_extract(pages)
    return out.select(
        "doc_id",
        "title",
        "n_blocks",
        "n_kept",
        F.length("text").alias("kept_len"),
        d4(F.col("link_density")).alias("link_density_4dp"),
    )


Q305_ORACLE = """
WITH m AS (SELECT doc_id, doc_id % 4 AS k FROM documents WHERE doc_id < 150)
SELECT doc_id,
       CASE WHEN k = 3 THEN NULL
            ELSE 'Page ' || CAST(doc_id AS VARCHAR) END AS title,
       CAST(CASE k WHEN 0 THEN 5 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 1 END
            AS INT) AS n_blocks,
       CAST(CASE k WHEN 0 THEN 3 WHEN 1 THEN 0 WHEN 2 THEN 1 ELSE 1 END
            AS INT) AS n_kept,
       CASE k WHEN 0 THEN 179 WHEN 1 THEN 0 WHEN 2 THEN 59 ELSE 59 END
         AS kept_len,
       round(CASE k
               -- k=0: nav raw 17 (15 linked), footer raw 12 (9
               --      linked), 3 paras x 59 raw-stripped; k=1: 8
               --      'L000'-style links: raw 39 stripped, 32 linked
               WHEN 0 THEN (15.0 + 9.0) / (17.0 + 12.0 + 177.0)
               WHEN 1 THEN 32.0 / 39.0
               WHEN 2 THEN 0.0
               ELSE 0.0
             END + 1e-9, 4) AS link_density_4dp
FROM m
"""


QUERIES.append(Q("q305_html_main_text", q305, Q305_ORACLE))


# --- Q306: WARC record extraction ---------------------------------------------------------
def q306(spark, sf_dir):
    """WARC record extraction (operators/warc.py::warc_records, r13 —
    ISO 28500, the container web crawls actually arrive in): header
    parsing, exact Content-Length record segmentation, HTTP status
    from response records, and the member-gzip layout Common Crawl
    publishes (odd doc_ids gzip each record as its own member; stdlib
    zlib walks the concatenated members). Every 10th archive is junk
    and yields the rec_idx=-1 quarantine row instead of failing the
    batch — hostile-input discipline is part of the oracle. 150
    fixtures, one warcinfo + two request/response pairs each, with
    deterministic payload lengths and statuses; mapInPandas, the
    archive scan rides the corpus scan."""
    from parquet_on_fhir_spark.operators.warc import build_warc

    def make(i: int) -> bytearray:
        if i % 10 == 9:
            return bytearray(b"junk, not a warc " * 3)
        recs = [("warcinfo", None, "2026-08-16T00:00:00Z",
                 b"software: t\r\n")]
        for p in range(2):
            recs.append(("request", f"https://ex.org/{i}/{p}",
                         "2026-08-16T00:00:01Z", b"GET / HTTP/1.1\r\n"))
            status = b"200 OK" if (i + p) % 2 == 0 else b"404 NF"
            body = b"HTTP/1.1 " + status + b"\r\n\r\n" + b"x" * (
                100 + i % 50
            )
            recs.append(("response", f"https://ex.org/{i}/{p}",
                         "2026-08-16T00:00:02Z", body))
        return bytearray(build_warc(recs, gzip_members=(i % 2 == 1)))

    payloads = [(i, make(i)) for i in range(150)]
    pay = local_df(spark, payloads, "i INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select(F.col("doc_id").alias("media_id"), "content")
    return warc_records_shaped(media)


def warc_records_shaped(media):
    from parquet_on_fhir_spark.operators.warc import warc_records

    return warc_records(media).select(
        "media_id", "rec_idx", "rec_type", "target_uri",
        "http_status", "content_length",
    )


Q306_ORACLE = """
WITH m AS (SELECT doc_id FROM documents WHERE doc_id < 150),
idx AS (SELECT unnest([0, 1, 2, 3, 4]) AS rec_idx)
SELECT doc_id AS media_id, CAST(-1 AS INT) AS rec_idx,
       NULL AS rec_type, NULL AS target_uri,
       CAST(NULL AS INT) AS http_status,
       CAST(NULL AS BIGINT) AS content_length
FROM m WHERE doc_id % 10 = 9
UNION ALL
SELECT doc_id AS media_id, CAST(rec_idx AS INT) AS rec_idx,
       CASE rec_idx WHEN 0 THEN 'warcinfo'
            WHEN 1 THEN 'request' WHEN 3 THEN 'request'
            ELSE 'response' END AS rec_type,
       CASE WHEN rec_idx = 0 THEN NULL
            ELSE 'https://ex.org/' || CAST(doc_id AS VARCHAR) || '/'
                 || CAST((rec_idx - 1) // 2 AS VARCHAR) END AS target_uri,
       CASE WHEN rec_idx IN (2, 4) THEN
            CASE WHEN (doc_id + (rec_idx - 1) // 2) % 2 = 0
                 THEN 200 ELSE 404 END
       END AS http_status,
       CAST(CASE rec_idx WHEN 0 THEN 13
            WHEN 1 THEN 16 WHEN 3 THEN 16
            ELSE 19 + 100 + doc_id % 50 END AS BIGINT) AS content_length
FROM m, idx WHERE doc_id % 10 <> 9
"""


QUERIES.append(Q("q306_warc_records", q306, Q306_ORACLE))


# --- Q307: robots.txt crawl-compliance filter ---------------------------------------------
def q307(spark, sf_dir):
    """robots.txt evaluation (operators/robots.py::robots_filter,
    r13, re-planned r14 — RFC 9309, the compliance gate before any URL
    is fetched or kept): group selection (exact user-agent token beats
    the * group), wildcard (*) and end-anchor ($) patterns,
    longest-match precedence with Allow winning ties, empty Disallow =
    allow everything, and missing robots.txt = allow. Five fixture
    hosts exercise each rule class; 150 document URLs cycle hosts
    (doc_id%5) and path shapes (doc_id%4), so every verdict is a
    closed-form function of doc_id. r14 scale plan (r13 verdict task
    1): rules parse EXECUTOR-side (mapInPandas over the robots frame —
    the driver never sees a rule; a crawl's host set grows with the
    crawl), fold to one array row per host, equi-join on host
    (Catalyst broadcasts the small side; shuffle-hash above threshold)
    and evaluate precedence in pure Catalyst HOFs — the URL side never
    shuffles when the rules broadcast."""
    from parquet_on_fhir_spark.operators.robots import robots_filter

    robots = local_df(spark, 
        [
            ("h0.ex", "User-agent: *\nDisallow: /private/\n"
                      "Allow: /private/ok/\n"),
            ("h1.ex", "User-agent: *\nDisallow: /*.pdf$\n"),
            # h2.ex: no robots.txt at all (allowed by default)
            ("h3.ex", "User-agent: sparkbot\nDisallow: /pub/\n\n"
                      "User-agent: *\nDisallow: /\n"),
            ("h4.ex", "User-agent: *\nDisallow:\n"),
        ],
        "host string, robots_txt string",
    )
    paths = {
        0: "/private/doc.html",
        1: "/private/ok/doc.html",
        2: "/files/doc.pdf",
        3: "/pub/doc.txt",
    }
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    urls = d.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".ex")).alias("host"),
    ).withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("host"),
            F.element_at(
                F.create_map(*[
                    x for k, v in paths.items()
                    for x in (F.lit(k), F.lit(v))
                ]),
                (F.col("doc_id") % 4).cast("int"),
            ),
        ),
    )
    return robots_filter(
        urls, robots, user_agent="sparkbot"
    ).select("doc_id", "host", "url", "allowed")


Q307_ORACLE = """
WITH m AS (
  SELECT doc_id, doc_id % 5 AS h, doc_id % 4 AS k
  FROM documents WHERE doc_id < 150
)
SELECT doc_id,
       'h' || CAST(h AS VARCHAR) || '.ex' AS host,
       'https://h' || CAST(h AS VARCHAR) || '.ex' ||
       CASE k WHEN 0 THEN '/private/doc.html'
              WHEN 1 THEN '/private/ok/doc.html'
              WHEN 2 THEN '/files/doc.pdf'
              ELSE '/pub/doc.txt' END AS url,
       CASE h
         WHEN 0 THEN k <> 0                  -- /private/ denied, ok/ allowed
         WHEN 1 THEN k <> 2                  -- *.pdf$ denied
         WHEN 2 THEN TRUE                    -- no robots.txt
         WHEN 3 THEN k <> 3                  -- exact-UA group: /pub/ denied
         ELSE TRUE                           -- empty Disallow
       END AS allowed
FROM m
"""


QUERIES.append(Q("q307_robots_filter", q307, Q307_ORACLE))


# --- Q308: MIME sniffing audit (claimed vs magic bytes) ------------------------------------
def q308(spark, sf_dir):
    """Content-type audit (operators/curation.py::mime_sniff_audit,
    r13): magic-byte sniffing against the CLAIMED Content-Type — the
    mislabeled-payload rate is a standard crawl-quality metric, and
    routing by the claimed type feeds binaries to text stages. 150
    fixtures cycle four true payload classes (real PNG/JPEG encoders,
    gzip, plain text) by doc_id%4; every third doc's claim LIES by
    rotating one class forward, so sniffed type and the mismatch flag
    are closed form. Same one-pass mapInPandas shape as the audit
    family."""
    import gzip as _gzip

    import numpy as np

    from parquet_on_fhir_spark.operators.curation import mime_sniff_audit
    from parquet_on_fhir_spark.operators.multimodal import (
        encode_jpeg,
        encode_png,
    )

    img = np.full((8, 8, 3), 77, np.uint8)
    png = encode_png(img)
    jpg = encode_jpeg(img)
    MIMES = ["image/png", "image/jpeg", "application/gzip", "text/plain"]

    def payload(k: int) -> bytes:
        return [png, jpg, _gzip.compress(b"body " * 40),
                b"plain words " * 30][k]

    rows = []
    for i in range(150):
        k = i % 4
        claimed = MIMES[(k + 1) % 4] if i % 3 == 0 else MIMES[k]
        rows.append((i, claimed, bytearray(payload(k))))
    pay = local_df(spark, 
        rows, "i INT, claimed_mime STRING, content BINARY"
    )
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select(F.col("doc_id").alias("media_id"), "claimed_mime", "content")
    return mime_sniff_audit(media).select(
        "media_id", "claimed_mime", "sniffed_mime", "mismatch"
    )


Q308_ORACLE = """
WITH m AS (
  SELECT doc_id, doc_id % 4 AS k, doc_id % 3 = 0 AS lie
  FROM documents WHERE doc_id < 150
),
names AS (
  SELECT doc_id, k, lie,
         CASE k WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                WHEN 2 THEN 'application/gzip' ELSE 'text/plain'
         END AS truth,
         CASE (k + 1) % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                WHEN 2 THEN 'application/gzip' ELSE 'text/plain'
         END AS rotated
  FROM m
)
SELECT doc_id AS media_id,
       CASE WHEN lie THEN rotated ELSE truth END AS claimed_mime,
       truth AS sniffed_mime,
       lie AS mismatch
FROM names
"""


QUERIES.append(Q("q308_mime_sniff_audit", q308, Q308_ORACLE))


# --- Q309: charset sniffing + decoding (r14) ------------------------------------------------
def q309(spark, sf_dir):
    """Charset sniff + decode (operators/encoding.py::decode_text, r14
    — the bytes→text seam the r13 verdict named as the missing link
    for raw crawl payloads): WHATWG-style precedence ladder — BOM
    (utf-8 / utf-16-le) beats HTTP Content-Type charset beats the
    1024-byte meta prescan beats strict-UTF-8 validation beats the
    windows-1252 fallback — with errors='replace' decoding so hostile
    bytes become U+FFFD, never an exception. 150 payloads cycle five
    declaration classes by doc_id%5 (UTF-8 BOM, UTF-16-LE BOM, meta
    iso-8859-1, header windows-1252, bare ASCII under a
    parameter-less Content-Type), each carrying a non-ASCII char that
    only the RIGHT codec decodes — charset, source tier, and decoded
    text are all closed form. One Arrow-batched mapInPandas pass."""
    from parquet_on_fhir_spark.operators.encoding import decode_text

    rows = []
    for i in range(150):
        k = i % 5
        if k == 0:
            content = b"\xef\xbb\xbf" + f"café {i}".encode("utf-8")
            ct = None
        elif k == 1:
            content = f"naïve {i}".encode("utf-16")  # LE BOM
            ct = None
        elif k == 2:
            content = (
                f'<meta charset="iso-8859-1"><p>séance {i}</p>'
            ).encode("iso-8859-1")
            ct = None
        elif k == 3:
            content = f"“quoted {i}”".encode("windows-1252")
            ct = "text/plain; charset=windows-1252"
        else:
            content = f"plain {i}".encode("ascii")
            ct = "text/plain"  # no charset param: falls to heuristic
        rows.append((i, bytearray(content), ct))
    pay = local_df(spark, 
        rows, "i INT, content BINARY, content_type STRING"
    )
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select(F.col("doc_id").alias("media_id"), "content", "content_type")
    return decode_text(media, content_type_col="content_type").select(
        "media_id", "charset", "charset_source", "text"
    )


Q309_ORACLE = """
WITH m AS (SELECT doc_id, doc_id % 5 AS k FROM documents WHERE doc_id < 150)
SELECT doc_id AS media_id,
       CASE k WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16-le'
              WHEN 2 THEN 'iso-8859-1' WHEN 3 THEN 'windows-1252'
              ELSE 'utf-8' END AS charset,
       CASE k WHEN 0 THEN 'bom' WHEN 1 THEN 'bom' WHEN 2 THEN 'meta'
              WHEN 3 THEN 'http' ELSE 'heuristic' END AS charset_source,
       CASE k WHEN 0 THEN 'café ' || CAST(doc_id AS VARCHAR)
              WHEN 1 THEN 'naïve ' || CAST(doc_id AS VARCHAR)
              WHEN 2 THEN '<meta charset="iso-8859-1"><p>séance '
                          || CAST(doc_id AS VARCHAR) || '</p>'
              WHEN 3 THEN '“quoted ' || CAST(doc_id AS VARCHAR) || '”'
              ELSE 'plain ' || CAST(doc_id AS VARCHAR) END AS text
FROM m
"""


QUERIES.append(Q("q309_charset_decode", q309, Q309_ORACLE))


# --- Q310: composed crawl-ingestion pipeline (r14) ------------------------------------------
def q310(spark, sf_dir):
    """End-to-end crawl ingestion in ONE pinned query (r13 verdict
    task 4 — the full story q306/q308/q309/q305/q282/q74 tell
    separately): WARC record split with payloads
    (warc.py::warc_records) → HTTP preamble split + charset sniff +
    decode (encoding.py::http_text; BOM / header-1252 / UTF-8
    heuristic classes by doc_id%3) → HTML main-content extraction
    (html.py::html_extract) → URL canonicalization
    (curation.py::canonicalize_url) → a quality gate on the extracted
    article. Every 10th archive is junk and quarantines out at the
    WARC stage; link-farm pages ((doc_id%6)>=3) survive to extraction
    but keep zero blocks and fail the gate — so every output column
    is a closed-form function of doc_id. Scale shape: the three
    python stages are Arrow-batched mapInPandas passes riding one
    corpus scan lineage in a JOIN-FREE linear chain (the passthrough
    seam carries uri/status/charset through each batch); canon-URL
    and the gate are pure Catalyst; the ONLY join is the fixture
    broadcast."""
    from parquet_on_fhir_spark.operators.curation import canonicalize_url
    from parquet_on_fhir_spark.operators.encoding import http_text
    from parquet_on_fhir_spark.operators.html import html_extract
    from parquet_on_fhir_spark.operators.warc import build_warc, warc_records

    def page(i: int) -> str:
        title = f"<head><title>Page {i}</title></head>"
        if (i % 6) >= 3:  # link farm
            links = "".join(
                f'<a href="/{j}">L{j:03d}</a> ' for j in range(8)
            )
            return f"<html>{title}<body><nav>{links}</nav></body></html>"
        nav = '<nav><a href="/">Home</a> <a href="/b">Blog</a></nav>'
        para = ("w%04d " % (i % 9999)) * 10 + "café."
        return (
            f"<html>{title}<body>{nav}<p>{para}</p>"
            f"<div>Buy now!</div></body></html>"
        )

    def make(i: int) -> bytearray:
        if i % 10 == 9:
            return bytearray(b"junk not a warc " * 3)
        html = page(i)
        k = i % 3
        if k == 0:
            body = b"\xef\xbb\xbf" + html.encode("utf-8")
            ct = b"text/html"
        elif k == 1:
            body = html.encode("windows-1252")
            ct = b"text/html; charset=windows-1252"
        else:
            body = html.encode("utf-8")
            ct = b"text/html"
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ct + b"\r\n\r\n" + body
        )
        uri = f"HTTPS://www.EX.org:443//{i}/page/?utm_source=x&b=2&a=1#frag"
        return bytearray(
            build_warc(
                [("response", uri, "2026-08-16T00:00:00Z", payload)],
                gzip_members=(i % 2 == 1),
            )
        )

    payloads = [(i, make(i)) for i in range(150)]
    pay = local_df(spark, payloads, "i INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select(F.col("doc_id").alias("media_id"), "content")

    recs = warc_records(media, include_payload=True).filter(
        F.col("rec_type") == "response"
    )
    # Linear join-free chain (r14 wave 5): target_uri/status/charset
    # ride the pandas batches via the passthrough seam, so the three
    # python stages compose with ZERO assembly shuffles — the same
    # form q321 needs on a stream, and at 100 TB batch it deletes two
    # per-id joins the first cut of this query paid.
    pages = http_text(recs, passthrough=("target_uri",))
    ext = html_extract(
        pages,
        id_col="media_id",
        html_col="text",
        passthrough=(
            "http_status", "charset", "charset_source", "target_uri",
        ),
    )
    return ext.select(
        F.col("doc_id").alias("media_id"),
        canonicalize_url(F.col("target_uri")).alias("canon_url"),
        "charset",
        "charset_source",
        "http_status",
        "title",
        "n_kept",
        F.length("text").alias("kept_len"),
        (
            (F.col("n_kept") >= 1) & F.length("text").between(50, 2000)
        ).alias("quality_pass"),
    )


Q310_ORACLE = """
WITH m AS (
  SELECT doc_id, doc_id % 3 AS k, (doc_id % 6) >= 3 AS farm
  FROM documents WHERE doc_id < 150 AND doc_id % 10 <> 9
)
SELECT doc_id AS media_id,
       'https://ex.org/' || CAST(doc_id AS VARCHAR) || '/page?a=1&b=2'
         AS canon_url,
       CASE k WHEN 1 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
       CASE k WHEN 0 THEN 'bom' WHEN 1 THEN 'http' ELSE 'heuristic'
         END AS charset_source,
       CAST(200 AS INT) AS http_status,
       'Page ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(CASE WHEN farm THEN 0 ELSE 1 END AS INT) AS n_kept,
       CAST(CASE WHEN farm THEN 0 ELSE 65 END AS INT) AS kept_len,
       NOT farm AS quality_pass
FROM m
"""


QUERIES.append(Q("q310_crawl_pipeline", q310, Q310_ORACLE))


# --- Q311: crawl-frontier politeness schedule (r14 wave 2) ----------------------------------
def q311(spark, sf_dir):
    """Per-host fetch sequencing (operators/frontier.py::
    politeness_schedule): budget each host to its top-5 URLs by
    priority, serialize them (one connection per host), and stamp the
    earliest start under a fixed 500 ms crawl delay. Window over
    host — the shuffle key is the host, and a hot host is a genuinely
    serial crawl constraint, not a plan defect. 300 frontier rows
    derive from documents (host = doc_id%7, priority = doc_id%10), so
    slots and ETAs are deterministic."""
    from parquet_on_fhir_spark.operators.frontier import politeness_schedule

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    frontier = d.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias(
            "host"
        ),
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".ex/p/"), F.col("doc_id"),
        ).alias("url"),
        (F.col("doc_id") % 10).cast("int").alias("priority"),
    )
    return politeness_schedule(
        frontier, delay_ms=500, per_host_cap=5
    ).select("doc_id", "host", "url", "priority", "slot", "eta_ms")


Q311_ORACLE = """
WITH f AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
         'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.ex/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         CAST(doc_id % 10 AS INT) AS priority
  FROM documents WHERE doc_id < 300
),
s AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY host ORDER BY priority DESC, url) AS INT) AS slot
  FROM f
)
SELECT doc_id, host, url, priority, slot,
       CAST((slot - 1) * 500 AS BIGINT) AS eta_ms
FROM s WHERE slot <= 5
"""


QUERIES.append(Q("q311_frontier_schedule", q311, Q311_ORACLE))


# --- Q312: crawl-budget apportionment (largest remainder) -----------------------------------
def q312(spark, sf_dir):
    """Global fetch-budget allocation (operators/frontier.py::
    allocate_crawl_budget): Hamilton / largest-remainder apportionment
    of 1000 fetch slots across hosts proportional to demand, capped at
    each host's own demand. Demand = orders per host bucket
    (o_custkey%97). The exact global remainder rank is computed
    WITHOUT a SinglePartition window (remainder buckets + per-bucket
    offsets, the token-budget discipline) — pinned in
    tests/test_scale_plans.py."""
    from parquet_on_fhir_spark.operators.frontier import (
        allocate_crawl_budget,
    )

    demand = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.concat(
                F.lit("h"), (F.col("o_custkey") % 97).cast("string")
            ).alias("host")
        )
        .agg(F.count("*").alias("n_urls"))
    )
    return allocate_crawl_budget(demand, 1000)


Q312_ORACLE = """
WITH dem AS (
  SELECT 'h' || CAST(o_custkey % 97 AS VARCHAR) AS host,
         count(*) AS n_urls
  FROM orders GROUP BY 1
),
t AS (SELECT sum(n_urls) AS D FROM dem),
q AS (
  SELECT host, n_urls,
         floor(1000 * CAST(n_urls AS DOUBLE) / D) AS q,
         1000 * CAST(n_urls AS DOUBLE) / D
           - floor(1000 * CAST(n_urls AS DOUBLE) / D) AS rem
  FROM dem, t
),
l AS (SELECT 1000 - sum(q) AS leftover FROM q),
r AS (
  SELECT host, n_urls, q,
         row_number() OVER (ORDER BY rem DESC, n_urls DESC, host) AS rk
  FROM q
)
SELECT host, n_urls,
       CAST(least(CAST(n_urls AS BIGINT),
                  CAST(q AS BIGINT)
                  + CASE WHEN rk <= (SELECT leftover FROM l)
                         THEN 1 ELSE 0 END) AS BIGINT) AS allocated
FROM r
"""


QUERIES.append(Q("q312_crawl_budget", q312, Q312_ORACLE))


# --- Q313: anchor-text aggregation (per-target top-k terms) ---------------------------------
def q313(spark, sf_dir):
    """Anchor-text aggregation (operators/frontier.py::
    anchor_text_topk) — the classic off-page signal: per-target term
    counts from link anchors, top-3 per target. One map-side-combined
    hash aggregate after the explode; anchors never shuffle whole.
    Links derive from documents (dst = doc_id%20, anchor = the doc
    text), so counts are deterministic."""
    from parquet_on_fhir_spark.operators.frontier import anchor_text_topk

    links = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select(
            F.concat(
                F.lit("d"), (F.col("doc_id") % 20).cast("string")
            ).alias("dst"),
            F.col("text").alias("anchor"),
        )
    )
    return anchor_text_topk(links, k=3)


Q313_ORACLE = r"""
WITH l AS (
  SELECT 'd' || CAST(doc_id % 20 AS VARCHAR) AS dst, text
  FROM documents WHERE doc_id < 500
),
t AS (
  SELECT dst,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM l
),
c AS (SELECT dst, term, count(*) AS n FROM t GROUP BY 1, 2),
r AS (
  SELECT dst, term, n, CAST(row_number() OVER (
           PARTITION BY dst ORDER BY n DESC, term) AS INT) AS rnk
  FROM c
)
SELECT dst, term, n, rnk FROM r WHERE rnk <= 3
"""


QUERIES.append(Q("q313_anchor_topk", q313, Q313_ORACLE))


# --- Q314: HTML head-metadata extraction (pure Catalyst) ------------------------------------
def q314(spark, sf_dir):
    """Page-metadata extraction (operators/html.py::html_metadata —
    title / og:title / meta description / rel=canonical), PURE
    Catalyst regexp projection riding the scan: no python per page,
    the map-only complement to q305's block extractor. 150 fixture
    pages cycle four head shapes by doc_id%4 (all four fields;
    title-only; og+canonical without title; none), so every output is
    closed form. Empty match ⇒ NULL."""
    from parquet_on_fhir_spark.operators.html import html_metadata

    def make(i: int) -> str:
        k = i % 4
        if k == 0:
            return (
                f"<html><head><title>Doc {i}</title>"
                f'<meta property="og:title" content="OG {i}"/>'
                f'<meta name="description" content="About page {i}."/>'
                f'<link rel="canonical" href="https://ex.org/{i}"/>'
                f"</head><body>x</body></html>"
            )
        if k == 1:
            return f"<html><head><title>Doc {i}</title></head><body>x</body></html>"
        if k == 2:
            return (
                "<html><head>"
                f'<meta property="og:title" content="OG {i}"/>'
                f'<link rel="canonical" href="https://ex.org/{i}"/>'
                "</head><body>x</body></html>"
            )
        return "<html><body>no head at all</body></html>"

    payloads = [(i, make(i)) for i in range(150)]
    pay = local_df(spark, payloads, "i INT, html STRING")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pages = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select("doc_id", "html")
    return html_metadata(pages).select(
        "doc_id", "page_title", "og_title", "meta_description",
        "canonical_url",
    )


Q314_ORACLE = """
WITH m AS (SELECT doc_id, doc_id % 4 AS k FROM documents WHERE doc_id < 150)
SELECT doc_id,
       CASE WHEN k IN (0, 1)
            THEN 'Doc ' || CAST(doc_id AS VARCHAR) END AS page_title,
       CASE WHEN k IN (0, 2)
            THEN 'OG ' || CAST(doc_id AS VARCHAR) END AS og_title,
       CASE WHEN k = 0
            THEN 'About page ' || CAST(doc_id AS VARCHAR) || '.'
         END AS meta_description,
       CASE WHEN k IN (0, 2)
            THEN 'https://ex.org/' || CAST(doc_id AS VARCHAR)
         END AS canonical_url
FROM m
"""


QUERIES.append(Q("q314_html_metadata", q314, Q314_ORACLE))


# --- Q315: sitemap discovery from robots.txt ------------------------------------------------
def q315(spark, sf_dir):
    """Sitemap discovery (operators/robots.py::sitemap_urls): extract
    the ``Sitemap:`` extension records of robots.txt in declaration
    order — pure Catalyst regexp_extract_all + posexplode over the
    robots frame (map-only; hosts without sitemaps emit nothing). 150
    hosts cycle three shapes by doc_id%3 (two sitemaps with mixed
    case/indent; one; none), closed form."""
    from parquet_on_fhir_spark.operators.robots import sitemap_urls

    def make(i: int) -> str:
        k = i % 3
        if k == 0:
            return (
                "User-agent: *\nDisallow: /tmp/\n"
                f"Sitemap: https://h{i}.ex/sm-a.xml\n"
                f"  SITEMAP:   https://h{i}.ex/sm-b.xml\n"
            )
        if k == 1:
            return (
                f"sitemap: https://h{i}.ex/only.xml\n"
                "User-agent: *\nDisallow:\n"
            )
        return "User-agent: *\nDisallow: /private/\n"

    rows = [(f"h{i}.ex", make(i)) for i in range(150)]
    pay = local_df(spark, rows, "host string, robots_txt string")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    robots = d.join(
        F.broadcast(pay),
        F.concat(F.lit("h"), F.col("doc_id").cast("string"), F.lit(".ex"))
        == F.col("host"),
    ).select("host", "robots_txt")
    return sitemap_urls(robots)


Q315_ORACLE = """
WITH m AS (SELECT doc_id, doc_id % 3 AS k FROM documents WHERE doc_id < 150)
SELECT 'h' || CAST(doc_id AS VARCHAR) || '.ex' AS host,
       CAST(0 AS INT) AS seq,
       CASE k WHEN 0 THEN 'https://h' || CAST(doc_id AS VARCHAR)
                          || '.ex/sm-a.xml'
              ELSE 'https://h' || CAST(doc_id AS VARCHAR) || '.ex/only.xml'
         END AS sitemap_url
FROM m WHERE k IN (0, 1)
UNION ALL
SELECT 'h' || CAST(doc_id AS VARCHAR) || '.ex' AS host,
       CAST(1 AS INT) AS seq,
       'https://h' || CAST(doc_id AS VARCHAR) || '.ex/sm-b.xml' AS sitemap_url
FROM m WHERE k = 0
"""


QUERIES.append(Q("q315_sitemap_discovery", q315, Q315_ORACLE))


# --- Q316: C4-style heuristic cleaning (r14 wave 3) -----------------------------------------
def q316(spark, sf_dir):
    """C4 cleaning rules (operators/curation.py::c4_filter — Raffel
    et al. 2020 §2.2, the reference web-text recipe): line-level
    terminal-punctuation / ≥3-words / no-javascript filters, page
    level blocklist / lorem-ipsum / brace / ≥5-sentence gates, first
    failing reason reported. Pure Catalyst (HOF line filter +
    regexp_count) over documents doc_id<400 with deterministic
    markers injected by doc_id%5 (clean with enough sentences; a
    javascript line; lorem ipsum; a brace; a blocklisted word), so
    every verdict is closed form up to the base text's own line
    shape — which the oracle recomputes with the same rules."""
    from parquet_on_fhir_spark.operators.curation import c4_filter

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    k = F.col("doc_id") % 5
    doc = d.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.when(k == 0, F.lit("\nA clean closing line one two three."
                                 "\nAnother fine sentence here friend."
                                 "\nThird sentence is also right here."
                                 "\nFourth sentence closes it out now."
                                 "\nFifth sentence makes the quota sir."))
            .when(k == 1, F.lit("\nEnable javascript to view this page."))
            .when(k == 2, F.lit("\nLorem ipsum dolor sit amet friend."))
            .when(k == 3, F.lit("\nif (x) { return; } end of story."))
            .otherwise(F.lit("\nthis page mentions badword2 sadly too.")),
        ),
    ).select("doc_id", F.col("text2").alias("text"))
    return c4_filter(doc).select(
        "doc_id", "n_lines", "n_kept_lines", "n_sentences", "clean_len",
        "reason", "kept",
    )


# The oracle restates every rule over the same constructed text.
Q316_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         text || CASE doc_id % 5
           WHEN 0 THEN chr(10) || 'A clean closing line one two three.'
                    || chr(10) || 'Another fine sentence here friend.'
                    || chr(10) || 'Third sentence is also right here.'
                    || chr(10) || 'Fourth sentence closes it out now.'
                    || chr(10) || 'Fifth sentence makes the quota sir.'
           WHEN 1 THEN chr(10) || 'Enable javascript to view this page.'
           WHEN 2 THEN chr(10) || 'Lorem ipsum dolor sit amet friend.'
           WHEN 3 THEN chr(10) || 'if (x) { return; } end of story.'
           ELSE chr(10) || 'this page mentions badword2 sadly too.'
         END AS text
  FROM documents WHERE doc_id < 400
),
f AS (
  SELECT doc_id, text,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)), l ->
             regexp_matches(l, '[.!?"]\s*$')
             AND len(list_filter(string_split_regex(trim(l), '\s+'),
                                 x -> x <> '')) >= 3
             AND NOT contains(lower(l), 'javascript')
         ) AS kept_lines
  FROM d
),
g AS (
  SELECT doc_id, text,
         CAST(len(lines) AS INT) AS n_lines,
         CAST(len(kept_lines) AS INT) AS n_kept_lines,
         array_to_string(kept_lines, chr(10)) AS clean0
  FROM f
),
h AS (
  SELECT doc_id, text, n_lines, n_kept_lines,
         coalesce(clean0, '') AS clean,
         CAST(len(regexp_extract_all(coalesce(clean0, ''), '[.!?]'))
              AS INT) AS n_sentences
  FROM g
)
SELECT doc_id, n_lines, n_kept_lines, n_sentences,
       CAST(length(clean) AS INT) AS clean_len,
       CASE WHEN regexp_matches(lower(text), '\b(badword1|badword2)\b')
              THEN 'blocklist'
            WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
            WHEN contains(text, '{') THEN 'brace'
            WHEN n_sentences < 5 THEN 'too_few_sentences'
       END AS reason,
       CASE WHEN regexp_matches(lower(text), '\b(badword1|badword2)\b')
              THEN FALSE
            WHEN contains(lower(text), 'lorem ipsum') THEN FALSE
            WHEN contains(text, '{') THEN FALSE
            WHEN n_sentences < 5 THEN FALSE
            ELSE TRUE END AS kept
FROM h
"""


QUERIES.append(Q("q316_c4_filter", q316, Q316_ORACLE))


# --- Q317: binary-quantized similarity (sign codes + Hamming prefilter + rerank) ------------
def q317(spark, sf_dir):
    """Binary embedding quantization with Hamming prefilter + exact
    rerank (operators/similarity.py::binary_hamming_topk): sign-bit
    codes packed as two 32-bit halves (portable longs), popcount
    Hamming as the coarse pass (E[hamming] = 64·θ/π estimates the
    angle), exact rounded-cosine top-3 among candidates within
    Hamming ≤ 24. Fully deterministic integers + the q69 rerank
    discipline ⇒ the oracle replays codes, distance and ranking
    bit-for-bit."""
    from parquet_on_fhir_spark.operators.similarity import (
        binary_hamming_topk,
    )

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = binary_hamming_topk(e, queries, dims=64, k=3, max_hamming=24)
    return out.withColumnRenamed("rank", "rnk")


Q317_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings),
ex AS (SELECT vec_id, unnest(ee) AS v, generate_subscripts(ee, 1) AS i FROM e),
codes AS (
  SELECT vec_id,
         sum(CASE WHEN v > 0 AND i <= 32
                  THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END) AS lo,
         sum(CASE WHEN v > 0 AND i > 32
                  THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END) AS hi
  FROM ex GROUP BY vec_id
),
cand AS (
  SELECT q.vec_id AS q_id, c.vec_id,
         CAST(bit_count(xor(c.lo, q.lo))
              + bit_count(xor(c.hi, q.hi)) AS INT) AS hamming
  FROM codes c JOIN codes q ON q.vec_id < 5 AND c.vec_id <> q.vec_id
  WHERE bit_count(xor(c.lo, q.lo)) + bit_count(xor(c.hi, q.hi)) <= 24
),
qx AS (SELECT vec_id AS q_id, unnest(ee) AS v,
              generate_subscripts(ee, 1) AS i
       FROM e WHERE vec_id < 5),
sims AS (
  SELECT cand.q_id, cand.vec_id, cand.hamming,
         round(sum(ex.v * qx.v)
               / (sqrt(sum(ex.v * ex.v)) * sqrt(sum(qx.v * qx.v)))
               + 1e-9, 6) AS cosine
  FROM cand
  JOIN ex ON ex.vec_id = cand.vec_id
  JOIN qx ON qx.q_id = cand.q_id AND qx.i = ex.i
  GROUP BY 1, 2, 3
)
SELECT q_id, vec_id, hamming, cosine,
       row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
         AS rnk
FROM sims QUALIFY rnk <= 3
"""


QUERIES.append(Q("q317_binary_hamming_topk", q317, Q317_ORACLE))


# --- Q319: mojibake repair (ftfy-core case) -------------------------------------------------
def q319(spark, sf_dir):
    """Mojibake repair (operators/encoding.py::fix_mojibake, r14 wave
    4 — the ftfy-core transform a crawl needs constantly: UTF-8 bytes
    mis-decoded as 1252/latin-1 upstream, 'café' → 'cafÃ©'). The
    reversal is exact where it applies (re-encode cp1252-with-latin-1
    -fallback, strict UTF-8 decode, accept only if it shortens);
    double encoding unwinds in two passes; strings whose repair round
    trip fails stay untouched. 150 fixtures cycle four classes by
    doc_id%4 (clean; single mojibake; DOUBLE mojibake; a lone Ã that
    must NOT be 'repaired'), built by actually mis-decoding UTF-8 at
    fixture time, so the repaired text is closed form."""
    from parquet_on_fhir_spark.operators.encoding import fix_mojibake

    def make(i: int) -> str:
        k = i % 4
        clean = f"café naïve {i}"
        if k == 0:
            return clean
        if k == 1:
            return clean.encode("utf-8").decode("latin-1")
        if k == 2:
            once = clean.encode("utf-8").decode("latin-1")
            return once.encode("utf-8").decode("latin-1")
        return f"x Ã y {i}"  # 0xC3 0x20: invalid UTF-8, stays as-is

    rows = [(i, make(i)) for i in range(150)]
    pay = local_df(spark, rows, "i INT, mtext STRING")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    docs = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select("doc_id", F.col("mtext").alias("text"))
    return fix_mojibake(docs)


Q319_ORACLE = """
WITH m AS (SELECT doc_id, doc_id % 4 AS k FROM documents WHERE doc_id < 150)
SELECT doc_id,
       CASE WHEN k IN (0, 1, 2)
            THEN 'café naïve ' || CAST(doc_id AS VARCHAR)
            ELSE 'x Ã y ' || CAST(doc_id AS VARCHAR) END AS text,
       k IN (1, 2) AS fixed,
       CAST(CASE k WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END AS INT)
         AS n_passes
FROM m
"""


QUERIES.append(Q("q319_mojibake_repair", q319, Q319_ORACLE))


# --- Q320: sitemap XML parsing (urlset / sitemapindex) --------------------------------------
def q320(spark, sf_dir):
    """Sitemap XML parsing (operators/robots.py::parse_sitemap, r14
    wave 4 — the consumption step after q315's discovery): urlset
    page entries with optional lastmod, sitemapindex child pointers,
    whitespace-tolerant <loc>, loc-less entries dropped per spec.
    PURE Catalyst (dotall regexp block split + per-block transform
    extraction) — map-only over the sitemap frame. 150 hosts cycle
    three document shapes by doc_id%3; closed form."""
    from parquet_on_fhir_spark.operators.robots import parse_sitemap

    def make(i: int) -> str:
        k = i % 3
        if k == 0:
            return (
                '<?xml version="1.0"?><urlset>'
                f"<url><loc>https://h{i}.ex/a</loc>"
                "<lastmod>2026-01-02</lastmod></url>"
                f"<url><loc>\n  https://h{i}.ex/b  \n</loc></url>"
                "<url><lastmod>2026-01-03</lastmod></url>"  # no loc: drop
                "</urlset>"
            )
        if k == 1:
            return (
                "<sitemapindex>"
                f"<sitemap><loc>https://h{i}.ex/child.xml</loc>"
                "<lastmod>2026-02-03</lastmod></sitemap>"
                "</sitemapindex>"
            )
        return '<?xml version="1.0"?><urlset></urlset>'

    rows = [(f"h{i}.ex", make(i)) for i in range(150)]
    pay = local_df(spark, rows, "host string, sitemap_xml string")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sm = d.join(
        F.broadcast(pay),
        F.concat(F.lit("h"), F.col("doc_id").cast("string"), F.lit(".ex"))
        == F.col("host"),
    ).select("host", "sitemap_xml")
    return parse_sitemap(sm)


Q320_ORACLE = """
WITH m AS (SELECT doc_id, doc_id % 3 AS k FROM documents WHERE doc_id < 150)
SELECT 'h' || CAST(doc_id AS VARCHAR) || '.ex' AS host,
       'urlset' AS kind, CAST(0 AS INT) AS seq,
       'https://h' || CAST(doc_id AS VARCHAR) || '.ex/a' AS loc,
       '2026-01-02' AS lastmod
FROM m WHERE k = 0
UNION ALL
SELECT 'h' || CAST(doc_id AS VARCHAR) || '.ex', 'urlset', CAST(1 AS INT),
       'https://h' || CAST(doc_id AS VARCHAR) || '.ex/b', NULL
FROM m WHERE k = 0
UNION ALL
SELECT 'h' || CAST(doc_id AS VARCHAR) || '.ex', 'index', CAST(0 AS INT),
       'https://h' || CAST(doc_id AS VARCHAR) || '.ex/child.xml',
       '2026-02-03'
FROM m WHERE k = 1
"""


QUERIES.append(Q("q320_sitemap_parse", q320, Q320_ORACLE))


# --- Q285: audio spectral features (rFFT) ---------------------------------------------
def q285(spark, sf_dir):
    """operators/multimodal.py::wav_spectral_features end-to-end (r12
    wave 3): 50 genuine 16-bit PCM WAV clips, each a bin-exact pure
    tone at 4*k Hz (sr 8192, n 2048 -> bin width exactly 4 Hz, so
    every spectral feature has a CLOSED FORM: rectangular window +
    bin-exact frequency = delta spectrum), broadcast onto documents
    and decoded by the pure-python rFFT codec inside mapInPandas.
    Power-weighted centroid makes 16-bit quantization noise
    contribute only (noise/peak)^2 ~ 1e-7, so dominant/centroid/
    rolloff all pin to 4*k at 4 dp and flatness to 0. Same broadcast
    plan shape as q193/q284; scale cost is per payload (module
    docstring: production volume belongs on the soundfile seam)."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_wav,
        extract_features,
        wav_spectral_features,
    )

    sr, n = 8192, 2048

    def make(k: int) -> bytearray:
        t_ = np.arange(n)
        sig = (12000 * np.sin(2 * np.pi * k * t_ / n)).astype(np.int16)
        return bytearray(encode_wav(sig, sr))

    payloads = [(k, make(k)) for k in range(10, 60)]
    pay = local_df(spark, payloads, "k INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 50 + 10).cast("int") == F.col("k")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(250).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=wav_spectral_features)
    return feats.select(
        "media_id",
        F.round(F.element_at("feat", 1), 4).alias("sample_rate"),
        F.round(F.element_at("feat", 2), 4).alias("n_samples"),
        F.round(F.element_at("feat", 3), 4).alias("dominant_hz"),
        d4(F.element_at("feat", 4)).alias("centroid_hz"),
        F.round(F.element_at("feat", 5), 4).alias("rolloff85_hz"),
        d4(F.element_at("feat", 7)).alias("flatness"),
    )


Q285_ORACLE = """
SELECT doc_id AS media_id,
       CAST(8192.0 AS DOUBLE) AS sample_rate,
       CAST(2048.0 AS DOUBLE) AS n_samples,
       CAST(4 * (doc_id % 50 + 10) AS DOUBLE) AS dominant_hz,
       round(4 * (doc_id % 50 + 10) + 1e-9, 4) AS centroid_hz,
       CAST(4 * (doc_id % 50 + 10) AS DOUBLE) AS rolloff85_hz,
       round(1e-9, 4) AS flatness
FROM documents
WHERE doc_id < 200
"""


QUERIES.append(Q("q285_audio_spectral_features", q285, Q285_ORACLE))


# --- Q322: frame-level audio features (STFT framing) ----------------------------------------
def q322(spark, sf_dir):
    """operators/multimodal.py::audio_frame_features (r14 wave 6 —
    the audio analog of video frame-sampling: silence runs, clipping
    bursts and tone switches are FRAME phenomena): 50 WAV clips of 4
    frame-aligned tone segments (sr 8192, frame 512 → bin width
    exactly 16 Hz; segment m carries k+m cycles per frame at constant
    amplitude 12000), so per-frame dominant/centroid pin to
    16·(k+m) Hz exactly and rms to 12000/32768/√2 at 2 dp. Every 10th
    clip is junk and quarantines as frame_idx = -1. One mapInPandas
    pass riding the corpus scan, the codec-family shape."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        audio_frame_features,
        encode_wav,
    )

    sr, fl = 8192, 512

    def make(j: int) -> bytearray:
        if j % 10 == 9:
            return bytearray(b"not audio at all " * 3)
        k = j % 50 + 10
        t_ = np.arange(fl)
        segs = [
            (12000 * np.sin(2 * np.pi * (k + m) * t_ / fl)).astype(
                np.int16
            )
            for m in range(4)
        ]
        return bytearray(encode_wav(np.concatenate(segs), sr))

    payloads = [(j, make(j)) for j in range(150)]
    pay = local_df(spark, payloads, "j INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("j")
    ).select(F.col("doc_id").alias("media_id"), "content")
    out = audio_frame_features(media, frame_len=fl, hop=fl)
    return out.select(
        "media_id",
        "frame_idx",
        "sample_rate",
        F.round("rms", 2).alias("rms_2dp"),
        F.round("dominant_hz", 4).alias("dominant_hz"),
        d4(F.col("centroid_hz")).alias("centroid_hz"),
    )


Q322_ORACLE = """
WITH m AS (
  SELECT doc_id, doc_id % 150 AS j, doc_id % 50 + 10 AS k
  FROM documents WHERE doc_id < 150
),
f AS (SELECT unnest([0, 1, 2, 3]) AS frame_idx)
SELECT doc_id AS media_id, CAST(-1 AS INT) AS frame_idx,
       CAST(NULL AS INT) AS sample_rate, CAST(NULL AS DOUBLE) AS rms_2dp,
       CAST(NULL AS DOUBLE) AS dominant_hz,
       CAST(NULL AS DOUBLE) AS centroid_hz
FROM m WHERE j % 10 = 9
UNION ALL
SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(8192 AS INT) AS sample_rate,
       round(12000.0 / 32768.0 / sqrt(2.0), 2) AS rms_2dp,
       CAST(16 * (k + frame_idx) AS DOUBLE) AS dominant_hz,
       round(16 * (k + frame_idx) + 1e-9, 4) AS centroid_hz
FROM m, f WHERE j % 10 <> 9
"""


QUERIES.append(Q("q322_audio_frame_features", q322, Q322_ORACLE))


# --- Q324: rule-based sentence segmentation -------------------------------------------------
def q324(spark, sf_dir):
    """Sentence segmentation (operators/text.py::split_sentences, r14
    wave 7 — the unit the C4 gate/packing/span-dedup count in):
    maximal non-terminal runs ending in [.!?]+, trimmed, min-2-chars,
    trailing fragment measured but not emitted. Runs on the REAL
    documents text plus an injected tail fragment — the oracle
    restates the exact rule set over the same strings (pure regex,
    engine-portable by construction). Map-only."""
    from parquet_on_fhir_spark.operators.text import split_sentences

    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(". Second bit! And an unterminated tail"),
            ).alias("text"),
        )
    )
    return split_sentences(d, min_chars=2)


Q324_ORACLE = """
WITH d AS (
  SELECT doc_id,
         text || '. Second bit! And an unterminated tail' AS text
  FROM documents WHERE doc_id < 300
),
s AS (
  SELECT doc_id, text,
         list_filter(
           list_transform(regexp_extract_all(text, '[^.!?]+[.!?]+'),
                          x -> trim(x)),
           x -> length(x) >= 2) AS sents,
         CAST(length(text) - length(array_to_string(
             regexp_extract_all(text, '[^.!?]+[.!?]+'), '')) AS INT)
           AS tail_len
  FROM d
)
SELECT doc_id,
       CAST(generate_subscripts(sents, 1) - 1 AS INT) AS sent_idx,
       unnest(sents) AS sentence,
       CAST(length(unnest(sents)) AS INT) AS n_chars,
       tail_len
FROM s
"""


QUERIES.append(Q("q324_sentence_segmentation", q324, Q324_ORACLE))


# --- Q326: Crawl-delay-aware politeness scheduling ------------------------------------------
def q326(spark, sf_dir):
    """Robots Crawl-delay threaded into frontier scheduling (r14 wave
    7 — closes the compliance→scheduling loop): per-host delays
    extracted by operators/robots.py::crawl_delays (first directive
    wins, fractional seconds, clamp at max, default when absent),
    broadcast-joined onto the frontier, and politeness_schedule's
    per-row delay column prices each host's ETA ladder. 7 hosts cycle
    delay shapes (plain, fractional, clamped, missing, malformed);
    300 urls as in q311 — all closed form."""
    from parquet_on_fhir_spark.operators.frontier import politeness_schedule
    from parquet_on_fhir_spark.operators.robots import crawl_delays

    robots = local_df(spark, 
        [
            ("h0", "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n"),
            ("h1", "crawl-delay: 0.5\n"),
            ("h2", "Crawl-delay: 99999\n"),          # clamps to 60s
            ("h3", "User-agent: *\nDisallow:\n"),     # absent -> default
            ("h4", "Crawl-delay: oops\n"),            # malformed -> default
            ("h5", "Crawl-delay: 3\nCrawl-delay: 9\n"),  # first wins
            ("h6", "  CRAWL-DELAY :  1.25  \n"),
        ],
        "host string, robots_txt string",
    )
    delays = crawl_delays(robots, default_ms=1000)
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    frontier = d.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias(
            "host"
        ),
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".ex/p/"), F.col("doc_id"),
        ).alias("url"),
        (F.col("doc_id") % 10).cast("int").alias("priority"),
    ).join(F.broadcast(delays), "host")
    out = politeness_schedule(
        frontier, delay_ms_col="delay_ms", per_host_cap=5
    )
    return out.select("doc_id", "host", "priority", "slot", "eta_ms")


Q326_ORACLE = """
WITH f AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
         'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.ex/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         CAST(doc_id % 10 AS INT) AS priority,
         CASE doc_id % 7 WHEN 0 THEN 2000 WHEN 1 THEN 500
              WHEN 2 THEN 60000 WHEN 3 THEN 1000 WHEN 4 THEN 1000
              WHEN 5 THEN 3000 ELSE 1250 END AS delay_ms
  FROM documents WHERE doc_id < 300
),
s AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY host ORDER BY priority DESC, url) AS INT) AS slot
  FROM f
)
SELECT doc_id, host, priority, slot,
       CAST((slot - 1) * delay_ms AS BIGINT) AS eta_ms
FROM s WHERE slot <= 5
"""


QUERIES.append(Q("q326_crawl_delay_schedule", q326, Q326_ORACLE))


# --- Q327: HTML link extraction (outlink edges with resolution) -----------------------------
def q327(spark, sf_dir):
    """Outlink extraction (operators/html.py::extract_links, r15 —
    the edge that closes the crawl loop: fetched page → <a href>
    edges → frontier): relative resolution against the page URL,
    first-<base href> override, fragment strip, non-http(s) scheme
    drop (javascript:/mailto:), rel tokenization with nofollow
    detection, anchor text across nested inline tags — one
    mapInPandas pass riding the page scan, no shuffle. Four template
    classes by doc_id%4 (absolute+rel attr / relative path / base
    href+NoFollow / multi-link with dropped schemes) over 200 pages
    on 3 hosts, so every emitted edge is closed form."""
    from parquet_on_fhir_spark.operators.html import extract_links

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    did = F.col("doc_id").cast("string")
    n = (F.col("doc_id") % 3).cast("string")
    k = F.col("doc_id") % 4
    src = F.concat(
        F.lit("https://h"), n, F.lit(".ex/dir/page"), did, F.lit(".html")
    )
    html = (
        F.when(
            k == 0,
            F.concat(
                F.lit('<html><body><a href="https://EXT.ex/a/'), did,
                F.lit('?utm_source=x&id=7#f" rel="external help">'
                      'Read more here</a></body></html>'),
            ),
        )
        .when(
            k == 1,
            F.concat(
                F.lit("<p><a href='sub/p"), did,
                F.lit(".html'>More <b>info</b> now</a></p>"),
            ),
        )
        .when(
            k == 2,
            F.concat(
                F.lit('<base href="https://cdn.ex/b/"><a href="x'), did,
                F.lit('.html" rel="NoFollow">x link</a>'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('<a href="/top'), did,
                F.lit('">top</a><a href="mailto:a@b.c">mail</a>'
                      '<a href="../up.html">up</a>'
                      '<a href="javascript:void(0)">js</a>'),
            )
        )
    )
    pages = d.select(
        "doc_id", src.alias("src_url"), html.alias("html")
    )
    return extract_links(pages, url_col="src_url").select(
        "doc_id", "src_url", "seq", "dst_url", "anchor", "rel", "nofollow"
    )


# The oracle restates each template's resolved edges closed-form.
Q327_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 4 AS k,
         CAST(doc_id % 3 AS VARCHAR) AS n,
         CAST(doc_id AS VARCHAR) AS s
  FROM documents WHERE doc_id < 200
),
base AS (
  SELECT *,
    'https://h' || n || '.ex/dir/page' || s || '.html' AS src_url
  FROM d
)
SELECT doc_id, src_url, CAST(0 AS INT) AS seq,
       CASE k
         WHEN 0 THEN 'https://EXT.ex/a/' || s || '?utm_source=x&id=7'
         WHEN 1 THEN 'https://h' || n || '.ex/dir/sub/p' || s || '.html'
         WHEN 2 THEN 'https://cdn.ex/b/x' || s || '.html'
         ELSE 'https://h' || n || '.ex/top' || s
       END AS dst_url,
       CASE k WHEN 0 THEN 'Read more here' WHEN 1 THEN 'More info now'
              WHEN 2 THEN 'x link' ELSE 'top' END AS anchor,
       CASE k WHEN 0 THEN 'external help' WHEN 2 THEN 'nofollow'
       END AS rel,
       k = 2 AS nofollow
FROM base
UNION ALL
SELECT doc_id, src_url, CAST(1 AS INT) AS seq,
       'https://h' || n || '.ex/up.html' AS dst_url,
       'up' AS anchor, CAST(NULL AS VARCHAR) AS rel, FALSE AS nofollow
FROM base WHERE k = 3
"""


QUERIES.append(Q("q327_link_extraction", q327, Q327_ORACLE))


# --- Q328: the closed crawl loop (links ∪ sitemap → canon → dedup → budget → schedule) ------
def q328(spark, sf_dir):
    """The composed discovery round-trip (r15 — the r14 verdict's
    missing link, now end-to-end on ENGINE-produced edges): fetched
    pages → extract_links (relative+absolute resolution, nofollow and
    javascript: edges dropped from the follow set) → canonicalize_url
    (host case, tracking params, fragments) → inlink-count priority ∪
    sitemap discoveries → anti-join the already-crawled set →
    per-host demand → Hamilton budget (60 slots) → Crawl-delay-aware
    politeness schedule truncated to each host's allocation.

    Plan shape at 100 TB: link extraction rides the page scan
    (mapInPandas, no shuffle); priority is one map-side-combined hash
    aggregate on canonical dst; the anti-join and delay joins are
    broadcastable (crawled-set bloom/partition pruning in a real
    recrawl); budget is the no-SinglePartition Hamilton plan; the
    schedule windows by host with the salted cap available for hot
    hosts. 120 pages on 3 hosts + one sitemap; every number below is
    closed form (40 next-links per host, 10 external URLs at inlink
    12, prev-links all die against the crawled set, hub is nofollow,
    js is scheme-dropped; budget 60 over demand 41/40/40/10 →
    19/18/18/5)."""
    from parquet_on_fhir_spark.operators.curation import canonicalize_url
    from parquet_on_fhir_spark.operators.frontier import (
        allocate_crawl_budget,
        politeness_schedule,
    )
    from parquet_on_fhir_spark.operators.html import extract_links
    from parquet_on_fhir_spark.operators.robots import (
        crawl_delays,
        parse_sitemap,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    did = F.col("doc_id").cast("string")
    kk = (F.col("doc_id") % 3).cast("string")
    pid = F.greatest(F.col("doc_id") - 1, F.lit(0))
    src = F.concat(
        F.lit("https://h"), kk, F.lit(".ex/d/"), did, F.lit(".html")
    )
    html = F.concat(
        F.lit('<html><body><a href="https://h'),
        (pid % 3).cast("string"), F.lit(".ex/d/"), pid.cast("string"),
        F.lit('.html">prev page</a><a href="/n/'),
        (F.col("doc_id") + 1).cast("string"),
        F.lit('.html">next page</a><a href="https://EXT.ex/e/'),
        (F.col("doc_id") % 10).cast("string"),
        F.lit('?utm_source=x#frag">external site</a>'
              '<a href="/hub.html" rel="nofollow">hub</a>'
              '<a href="javascript:void(0)">js</a></body></html>'),
    )
    # ONE scan task for the 120-page fixture (r16, guide §4/§6): the
    # documents scan splits into ~33 file partitions, and mapInPandas
    # launches a Python worker round-trip per partition — ~0.4 s/task
    # of pure boundary cost for at most 4 rows each (measured 12.6 s
    # of task time per run). The fixture is pinned to 120 pages at
    # any sf, so single-partition is its right layout; a real crawl
    # feeds extract_links full-sized scan partitions instead.
    pages = d.select("doc_id", src.alias("src_url"), html.alias("html")).coalesce(1)

    links = extract_links(pages, url_col="src_url")
    follow = links.filter(~F.col("nofollow")).select(
        canonicalize_url(F.col("dst_url")).alias("url")
    )
    inlinks = follow.groupBy("url").agg(
        F.count("*").cast("int").alias("n_in")
    )
    sitemaps = local_df(spark, 
        [
            (
                "h0.ex",
                "<urlset><url><loc>https://h0.ex/n/4.html</loc></url>"
                "<url><loc>https://h0.ex/s/only.html</loc></url>"
                "</urlset>",
            )
        ],
        "host string, sitemap_xml string",
    )
    sm = parse_sitemap(sitemaps).select(
        canonicalize_url(F.col("loc")).alias("url"),
        F.lit(0).alias("n_in"),
    )
    cand = (
        inlinks.unionByName(sm)
        .groupBy("url")
        .agg(F.sum("n_in").cast("int").alias("priority"))
    )
    crawled = pages.select(
        canonicalize_url(F.col("src_url")).alias("url")
    ).distinct()
    frontier = cand.join(crawled, "url", "left_anti").withColumn(
        "host", F.regexp_extract("url", r"^https?://([^/]+)", 1)
    )
    # The frontier fans out to three consumers (demand → budget's own
    # multi-pass plan, the delay join, the schedule); materialize it
    # once so the page-scan → extract_links chain doesn't recompute
    # per action. At 100 TB this is the standard persist point of a
    # crawl round: the frontier is tiny relative to the pages that
    # produced it (URLs, not bodies).
    frontier = frontier.localCheckpoint(eager=True)

    demand = frontier.groupBy("host").agg(F.count("*").alias("n_urls"))
    # the budget checkpoints its bucketed frame lazily, so the final
    # action computes the whole Hamilton plan once
    alloc = allocate_crawl_budget(demand, 60)

    robots = local_df(spark, 
        [
            ("h0.ex", "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n"),
            ("h1.ex", "Crawl-delay: 0.5\n"),
            ("h2.ex", "User-agent: *\nDisallow:\n"),  # absent -> default
            # ext.ex has no robots.txt at all -> coalesce default
        ],
        "host string, robots_txt string",
    )
    delays = crawl_delays(robots, default_ms=1000)
    fr = frontier.join(F.broadcast(delays), "host", "left").withColumn(
        "delay_ms", F.coalesce(F.col("delay_ms"), F.lit(1000))
    )
    sched = politeness_schedule(fr, delay_ms_col="delay_ms")
    out = sched.join(
        F.broadcast(alloc.select("host", "allocated")), "host"
    ).filter(F.col("slot") <= F.col("allocated"))
    return out.select("host", "url", "priority", "slot", "eta_ms")


# The oracle re-derives every stage: the link set (prev/next/external;
# hub is nofollow and js is scheme-dropped, so neither enters), the
# canonical forms, the sitemap union, the crawled-set anti-join, the
# Hamilton apportionment (q312's SQL), and the delay-priced schedule.
Q328_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 3 AS kk,
         CASE WHEN doc_id = 0 THEN 0 ELSE doc_id - 1 END AS pid
  FROM documents WHERE doc_id < 120
),
links AS (
  SELECT 'https://h' || CAST(pid % 3 AS VARCHAR) || '.ex/d/'
         || CAST(pid AS VARCHAR) || '.html' AS url FROM d
  UNION ALL
  SELECT 'https://h' || CAST(kk AS VARCHAR) || '.ex/n/'
         || CAST(doc_id + 1 AS VARCHAR) || '.html' FROM d
  UNION ALL
  SELECT 'https://ext.ex/e/' || CAST(doc_id % 10 AS VARCHAR) FROM d
),
inl AS (SELECT url, count(*) AS n_in FROM links GROUP BY url),
sm(url, n_in) AS (
  VALUES ('https://h0.ex/n/4.html', 0), ('https://h0.ex/s/only.html', 0)
),
merged AS (
  SELECT url, CAST(sum(n_in) AS INT) AS priority
  FROM (SELECT * FROM inl UNION ALL SELECT * FROM sm) GROUP BY url
),
crawled AS (
  SELECT 'https://h' || CAST(kk AS VARCHAR) || '.ex/d/'
         || CAST(doc_id AS VARCHAR) || '.html' AS url FROM d
),
f AS (
  SELECT url, priority,
         regexp_extract(url, '^https?://([^/]+)', 1) AS host
  FROM merged WHERE url NOT IN (SELECT url FROM crawled)
),
dem AS (SELECT host, count(*) AS n_urls FROM f GROUP BY host),
t2 AS (SELECT sum(n_urls) AS D FROM dem),
q AS (
  SELECT host, n_urls,
         floor(60 * CAST(n_urls AS DOUBLE) / D) AS q,
         60 * CAST(n_urls AS DOUBLE) / D
           - floor(60 * CAST(n_urls AS DOUBLE) / D) AS rem
  FROM dem, t2
),
l AS (SELECT 60 - sum(q) AS leftover FROM q),
r AS (
  SELECT host, n_urls, q,
         row_number() OVER (ORDER BY rem DESC, n_urls DESC, host) AS rk
  FROM q
),
alloc AS (
  SELECT host,
         CAST(least(CAST(n_urls AS BIGINT),
                    CAST(q AS BIGINT)
                    + CASE WHEN rk <= (SELECT leftover FROM l)
                           THEN 1 ELSE 0 END) AS BIGINT) AS allocated
  FROM r
),
s AS (
  SELECT f.*,
         CAST(row_number() OVER (
           PARTITION BY host ORDER BY priority DESC, url) AS INT) AS slot,
         CASE host WHEN 'h0.ex' THEN 2000 WHEN 'h1.ex' THEN 500
              ELSE 1000 END AS delay_ms
  FROM f
)
SELECT s.host, s.url, s.priority, s.slot,
       CAST((s.slot - 1) * s.delay_ms AS BIGINT) AS eta_ms
FROM s JOIN alloc ON s.host = alloc.host
WHERE s.slot <= alloc.allocated
"""


QUERIES.append(Q("q328_crawl_loop", q328, Q328_ORACLE))


# --- Q329: WARC revisit records (cross-crawl digest dedup) ----------------------------------
def q329(spark, sf_dir):
    """WARC revisit resolution (operators/warc.py::revisit_resolve,
    r15 — ISO 28500 §6.7.2 / WARC 1.1 identical-payload-digest
    profile, the crawl-native incremental dedup every recrawl
    pipeline reads): revisit records carry a WARC-Payload-Digest
    pointing at a prior capture instead of re-storing the body; the
    resolver folds the response side to ONE digest dictionary row per
    distinct payload (map-side-combined hash agg, min_by(date, uri)
    canonical pick) and equi-joins it onto the revisits — the archive
    payloads never move. 150 archives (odd ids member-gzipped): one
    response each in 30 digest groups, a resolvable revisit every 3rd
    archive, a dangling-digest revisit every 5th — resolution,
    rec_idx, bytes_saved all closed form."""
    from parquet_on_fhir_spark.operators.warc import (
        build_warc,
        revisit_resolve,
        warc_records,
    )

    prof = ("http://netpreserve.org/warc/1.1/revisit/"
            "identical-payload-digest")

    def make(i: int) -> bytearray:
        m = i % 30
        body = b"HTTP/1.1 200 OK\r\n\r\n" + (b"payload-%d " % m) * 3
        recs = [(
            "response", f"https://s.ex/p/{m}/v{i}",
            "2026-08-01T00:00:00Z", body,
            {"WARC-Payload-Digest": f"sha1:D{m}"},
        )]
        if i % 3 == 0:
            recs.append((
                "revisit", f"https://s.ex/r/{i}",
                "2026-08-02T00:00:00Z", b"",
                {"WARC-Payload-Digest": f"sha1:D{m}",
                 "WARC-Refers-To-Target-URI": f"https://s.ex/p/{m}/v{m}",
                 "WARC-Profile": prof},
            ))
        if i % 5 == 4:
            recs.append((
                "revisit", f"https://s.ex/rx/{i}",
                "2026-08-02T00:00:00Z", b"",
                {"WARC-Payload-Digest": f"sha1:X{i}"},
            ))
        return bytearray(build_warc(recs, gzip_members=(i % 2 == 1)))

    payloads = [(i, make(i)) for i in range(150)]
    pay = local_df(spark, payloads, "i INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 150).cast("int") == F.col("i")
    ).select(F.col("doc_id").alias("media_id"), "content")
    return revisit_resolve(warc_records(media)).select(
        "media_id", "rec_idx", "revisit_uri", "payload_digest",
        "refers_to_uri", "original_uri", "original_length",
        "original_found", "bytes_saved",
    )


# The oracle re-derives the digest dictionary (min canonical pick)
# and the revisit join from the same closed-form archive contents.
Q329_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 30 AS m FROM documents WHERE doc_id < 150
),
resp AS (
  SELECT doc_id, 'sha1:D' || CAST(m AS VARCHAR) AS digest,
         'https://s.ex/p/' || CAST(m AS VARCHAR) || '/v'
           || CAST(doc_id AS VARCHAR) AS uri,
         CAST(19 + 3 * (CASE WHEN m < 10 THEN 10 ELSE 11 END)
              AS BIGINT) AS clen
  FROM d
),
orig AS (
  SELECT digest, min(uri) AS original_uri,
         min(clen) AS original_length
  FROM resp GROUP BY digest
),
rev AS (
  SELECT doc_id, CAST(1 AS INT) AS rec_idx,
         'https://s.ex/r/' || CAST(doc_id AS VARCHAR) AS revisit_uri,
         'sha1:D' || CAST(m AS VARCHAR) AS digest,
         'https://s.ex/p/' || CAST(m AS VARCHAR) || '/v'
           || CAST(m AS VARCHAR) AS refers_to_uri
  FROM d WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id,
         CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT),
         'https://s.ex/rx/' || CAST(doc_id AS VARCHAR),
         'sha1:X' || CAST(doc_id AS VARCHAR),
         CAST(NULL AS VARCHAR)
  FROM d WHERE doc_id % 5 = 4
)
SELECT r.doc_id AS media_id, r.rec_idx, r.revisit_uri,
       r.digest AS payload_digest, r.refers_to_uri,
       o.original_uri, o.original_length,
       o.original_uri IS NOT NULL AS original_found,
       CAST(coalesce(o.original_length, 0) AS BIGINT) AS bytes_saved
FROM rev r LEFT JOIN orig o ON r.digest = o.digest
"""


QUERIES.append(Q("q329_warc_revisit", q329, Q329_ORACLE))


# --- Q330: crawl -> rank (PageRank over the engine-extracted host graph) --------------------
def q330(spark, sf_dir):
    """The crawl loop feeding the ranker (r15): extract_links over
    fetched pages → host-level edge projection (self-loops dropped,
    distinct pairs) → pagerank (operators/graph.py — 5 power
    iterations, dangling-mass redistribution; hub.ex is a genuine
    dangling sink here). With q328 this completes the discovery →
    prioritization story on ENGINE-produced edges: 180 pages on 6
    hosts, a next-chain h(k)→h(k+1), an always-linked dangling hub,
    and even pages linking home to h0 (the asymmetry the rank must
    reflect) — the host graph is closed form, so the oracle reuses
    q138's unrolled-CTE PageRank over the same derived edge set. At
    100 TB: link extraction rides the page scan; the host graph is a
    distinct over (src_host, dst_host) — orders of magnitude smaller
    than the edge list; each power iteration is one shuffle keyed by
    host."""
    from parquet_on_fhir_spark.operators.graph import pagerank
    from parquet_on_fhir_spark.operators.html import extract_links
    from parquet_on_fhir_spark.suite.common import d4

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 180)
    did = F.col("doc_id").cast("string")
    k = F.col("doc_id") % 6
    src = F.concat(
        F.lit("https://h"), k.cast("string"), F.lit(".ex/d/"), did,
        F.lit(".html"),
    )
    html = F.concat(
        F.lit('<a href="https://h'), ((k + 1) % 6).cast("string"),
        F.lit(".ex/n/"), (F.col("doc_id") + 1).cast("string"),
        F.lit('.html">next</a><a href="https://hub.ex/x'), did,
        F.lit('">hub</a>'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit('<a href="https://h0.ex/">home</a>'),
        ).otherwise(F.lit("")),
    )
    pages = d.select("doc_id", src.alias("src_url"), html.alias("html"))
    host = lambda c: F.regexp_extract(c, r"^https?://([^/]+)", 1)  # noqa: E731
    edges = (
        extract_links(pages, url_col="src_url")
        .select(
            host(F.col("src_url")).alias("src"),
            host(F.col("dst_url")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    out = pagerank(edges, iterations=5, damping=0.85)
    return out.select("node", d4(F.col("rank") * 1000).alias("rank_k"))


def _q330_oracle() -> str:
    from parquet_on_fhir_spark.suite.relational import _pagerank_oracle

    edge_cte = (
        "d AS (SELECT doc_id, doc_id % 6 AS k "
        "FROM documents WHERE doc_id < 180),\n"
        "raw AS (\n"
        "  SELECT 'h' || CAST(k AS VARCHAR) || '.ex' AS u,\n"
        "         'h' || CAST((k + 1) % 6 AS VARCHAR) || '.ex' AS v FROM d\n"
        "  UNION ALL\n"
        "  SELECT 'h' || CAST(k AS VARCHAR) || '.ex', 'hub.ex' FROM d\n"
        "  UNION ALL\n"
        "  SELECT 'h' || CAST(k AS VARCHAR) || '.ex', 'h0.ex' FROM d\n"
        "  WHERE doc_id % 2 = 0\n"
        "),\n"
        "e AS (SELECT DISTINCT u, v FROM raw WHERE u <> v)"
    )
    return _pagerank_oracle(edge_cte=edge_cte)


QUERIES.append(Q("q330_crawl_rank", q330, _q330_oracle()))


# --- Q287: BPE tokenizer apply (encode) -----------------------------------------------
#: fixed literal merge chain (training order) — forms `table</w>` and
#: `scan</w>` over the corpus vocabulary; the SAME list is inlined in
#: the oracle below, so the whole encode is hash-checkable end-to-end.
_Q287_MERGES = [
    ("a", "b"),
    ("e", "</w>"),
    ("t", "ab"),
    ("tab", "l"),
    ("tabl", "e</w>"),
    ("s", "c"),
    ("sc", "a"),
    ("sca", "n</w>"),
]


def q287(spark, sf_dir):
    """BPE tokenizer APPLY (operators/text.py::bpe_encode, r12 wave 3
    — the other half of q277's training loop): a fixed 8-merge chain
    tokenizes every document; per-doc token counts + fertility are
    what mixture weighting / packing / cost estimation consume. The
    corpus is aggregated ONCE to the distinct-word frame, the merge
    chain is one composed Catalyst projection over that
    vocabulary-sized frame, and the counts broadcast back — the 100 TB
    posture. The oracle reruns the SAME greedy leftmost-non-overlap
    chain per word in DuckDB via the space-doubling RE2 form (RE2 has
    no lookbehind), proving the application semantics, not just the
    counts."""
    from parquet_on_fhir_spark.operators.text import bpe_encode

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    out = bpe_encode(d, _Q287_MERGES)
    return out.select(
        "doc_id",
        "n_words",
        "n_tokens",
        d4(F.col("fertility")).alias("fertility"),
    )


def _q287_oracle() -> str:
    import re as _re

    expr = "array_to_string(string_split(w, ''), ' ') || ' </w>'"
    # NOTE: the char-join above then merge chain below; each merge is
    # the space-doubling leftmost-non-overlap form validated in tests
    for left, right in _Q287_MERGES:
        pat = " " + _re.escape(left) + "  " + _re.escape(right) + " "
        rep = " " + left + right + " "
        expr = (
            "trim(regexp_replace(regexp_replace(' ' || replace("
            + expr
            + ", ' ', '  ') || ' ', '"
            + pat.replace("'", "''")
            + "', '"
            + rep.replace("'", "''")
            + "', 'g'), ' +', ' ', 'g'))"
        )
    return f"""
WITH words AS (
  SELECT doc_id, unnest(list_filter(
           string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
           x -> x <> '')) AS w
  FROM documents
),
vocab AS (SELECT DISTINCT w FROM words),
tok AS (
  SELECT w, len(string_split({expr}, ' ')) AS wt FROM vocab
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(wt) AS BIGINT) AS n_tokens
  FROM words JOIN tok USING (w) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_words, 0) AS n_words,
       coalesce(p.n_tokens, 0) AS n_tokens,
       CASE WHEN p.n_words > 0 THEN
         round(CAST(p.n_tokens AS DOUBLE) / p.n_words + 1e-9, 4)
       END AS fertility
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


QUERIES.append(Q("q287_bpe_encode", q287, _q287_oracle()))


# --- Q289: baseline TIFF real decode --------------------------------------------------
def q289(spark, sf_dir):
    """operators/multimodal.py::decode_tiff end-to-end (r12 wave 3):
    200 genuine TIFF files — the document-scan format of record —
    8x8 two-tone images with REAL IFD walks; every even g is
    PackBits-compressed (runs compress, so the codec path actually
    executes). Same broadcast plan + closed-form oracle shape as
    q270/q284; 16-bit/tiled/LZW TIFFs refuse to the decode_real
    seam."""
    import numpy as np

    from parquet_on_fhir_spark.operators.multimodal import (
        encode_tiff,
        extract_features,
        numpy_features,
    )

    def make(g: int) -> bytearray:
        img = np.empty((8, 8, 3), dtype=np.uint8)
        img[:4] = g
        img[4:] = 255 - g
        return bytearray(encode_tiff(img, packbits=(g % 2 == 0)))

    payloads = [(g, make(g)) for g in range(28, 228)]
    pay = local_df(spark, payloads, "g INT, content BINARY")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.join(
        F.broadcast(pay), (F.col("doc_id") % 200 + 28).cast("int") == F.col("g")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("image/tiff").alias("mime"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, codec=numpy_features)
    return feats.select(
        "media_id",
        F.size("feat").alias("feat_dim"),
        F.round(F.element_at("feat", 1), 4).alias("f_width"),
        F.round(F.element_at("feat", 2), 4).alias("f_height"),
        d4(F.element_at("feat", 3)).alias("lum_00"),
        d4(F.element_at("feat", 34)).alias("lum_mid"),
        d4(F.element_at("feat", 66)).alias("lum_77"),
    )


Q289_ORACLE = """
SELECT doc_id AS media_id,
       66 AS feat_dim,
       CAST(8.0 AS DOUBLE) AS f_width,
       CAST(8.0 AS DOUBLE) AS f_height,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_00,
       round((doc_id % 200 + 28) / 255.0 + 1e-9, 4) AS lum_mid,
       round((255 - (doc_id % 200 + 28)) / 255.0 + 1e-9, 4) AS lum_77
FROM documents
WHERE doc_id < 200
"""


QUERIES.append(Q("q289_tiff_real_decode", q289, Q289_ORACLE))


# --- Q290: PII audit with Luhn validation ---------------------------------------------
def q290(spark, sf_dir):
    """Luhn-validated PII audit (operators/curation.py::luhn_check,
    r12 wave 3): documents planted with 16-digit card-number
    candidates — some passing the ISO/IEC 7812 checksum, some one
    digit off — are audited for candidate vs VALIDATED counts; the
    checksum is the precision layer that separates a real card-number
    leak from phone-number/order-id noise (only ~1 in 10 random digit
    strings passes). Map-only Catalyst end-to-end: regexp extraction
    + a per-candidate reverse/transform/aggregate fold, no UDF — at
    100 TB the audit rides the corpus scan. The oracle reruns the
    FULL Luhn fold per candidate in DuckDB (list_transform over digit
    positions), not the planted truth table."""
    from parquet_on_fhir_spark.operators.curation import luhn_check

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(" pay 4539578763621486 card 5500005555555559"),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.lit(" pay 4539578763621487 ref 1234567890123456"),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    cands = F.expr(r"regexp_extract_all(text, '\\b([0-9]{16})\\b', 1)")
    out = d.select(
        "doc_id",
        F.size(cands).alias("n_candidates"),
        F.size(F.filter(cands, lambda c: luhn_check(c))).alias("n_valid"),
    )
    return out


Q290_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 3 = 0
             THEN ' pay 4539578763621486 card 5500005555555559'
           WHEN doc_id % 3 = 1
             THEN ' pay 4539578763621487 ref 1234567890123456'
           ELSE '' END AS text
  FROM documents
),
c AS (
  SELECT doc_id, regexp_extract_all(text, '\b([0-9]{16})\b', 1) AS cands
  FROM d
)
SELECT doc_id,
       CAST(len(cands) AS INT) AS n_candidates,
       CAST(len(list_filter(cands, x ->
         list_sum(list_transform(range(0, 16), i ->
           CASE WHEN i % 2 = 1 THEN
             CASE WHEN (ascii(substr(reverse(x), CAST(i + 1 AS INT), 1)) - 48) * 2 > 9
                  THEN (ascii(substr(reverse(x), CAST(i + 1 AS INT), 1)) - 48) * 2 - 9
                  ELSE (ascii(substr(reverse(x), CAST(i + 1 AS INT), 1)) - 48) * 2 END
           ELSE ascii(substr(reverse(x), CAST(i + 1 AS INT), 1)) - 48 END
         )) % 10 = 0)) AS INT) AS n_valid
FROM c
"""


QUERIES.append(Q("q290_pii_luhn_audit", q290, Q290_ORACLE))
