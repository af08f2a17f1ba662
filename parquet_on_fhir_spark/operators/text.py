"""Text-analysis operators for training-data pipelines
(SURVEY.md §2B Q71-Q74): tokenization, language ID, quality scoring,
token counting, document fingerprinting.

Everything is a Catalyst column expression — these run over every
document of a 100 TB corpus, so the hot path must stay in whole-stage
codegen (no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from parquet_on_fhir_spark.session import local_rows_df

# Tiny per-language stopword marker sets for the n-gram/stopword-ratio
# language heuristic. Real pipelines would use fastText/CLD3; the
# heuristic keeps the operator dependency-free and demonstrates the
# Spark shape (score-per-language → greatest → argmax).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "a", "in", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def tokens(text_col: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization (lowercased)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(c), pattern)


def token_count(text_col: Column | str) -> Column:
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: Column | str) -> Column:
    """BPE-flavored token estimate: word-piece count where a word of n
    chars contributes ceil(n/4) pieces (the common ~4 chars/token rule),
    plus punctuation runs. Pure expression; good enough for budget
    estimation jobs."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(F.lower(c), r"\s+")
    pieces = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("int")
    )
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", ""))
    return (pieces + punct).cast("long")


def stopword_ratio(text_col: Column | str, lang: str = "en") -> Column:
    tk = tokens(text_col)
    markers = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
    n_stop = F.size(F.filter(tk, lambda x: F.array_contains(markers, x)))
    return F.when(F.size(tk) > 0, n_stop / F.size(tk)).otherwise(F.lit(0.0))


def lang_scores(text_col: Column | str) -> dict[str, Column]:
    """Marker-hit-count per language (higher = more likely)."""
    tk = tokens(text_col)
    out = {}
    for lang, words in _LANG_MARKERS.items():
        markers = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(tk, lambda x: F.array_contains(markers, x)))
    return out


def detect_language(text_col: Column | str) -> Column:
    """Argmax language over marker scores; 'und' when no marker hits.
    Deterministic tie-break: (score, lang) struct-ordered, so equal
    scores pick the lexicographically-last language — stable across
    engines and runs."""
    scores = lang_scores(text_col)
    pairs = F.array(
        *[
            F.struct(score.alias("score"), F.lit(lang).alias("lang"))
            for lang, score in sorted(scores.items())
        ]
    )
    top = F.sort_array(pairs, asc=False)[0]
    return F.when(top["score"] > 0, top["lang"]).otherwise(F.lit("und"))


def punct_ratio(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_punct = F.length(F.regexp_replace(c, r"[^\p{Punct}]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def mean_word_length(text_col: Column | str) -> Column:
    tk = tokens(text_col)
    total = F.aggregate(tk, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(tk) > 0, total / F.size(tk)).otherwise(F.lit(0.0))


def quality_score(text_col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: reasonable length, low punct
    density, sane mean word length, some stopwords. Mirrors the
    Gopher/C4-style rule filters as one scorable expression."""
    n_tok = token_count(text_col).cast("double")
    len_score = F.least(n_tok / 50.0, F.lit(1.0))
    punct_score = F.greatest(F.lit(0.0), 1.0 - punct_ratio(text_col) * 10.0)
    mwl = mean_word_length(text_col)
    mwl_score = F.when((mwl >= 2.5) & (mwl <= 10.0), 1.0).otherwise(0.3)
    stop_score = F.least(stopword_ratio(text_col) * 5.0, F.lit(1.0))
    return (len_score * 0.4 + punct_score * 0.2 + mwl_score * 0.2 + stop_score * 0.2)


def rolling_fingerprint(
    text_col: Column | str, window: int = 8, hash_family: str = "xxhash64"
) -> Column:
    """Deterministic document fingerprint: min of rolling-window token
    hashes (winnowing-style). Robust to small edits away from the
    minimum-hash window; pure expression. ``hash_family="md5_60"``
    (dedup.md5_60) makes the fingerprint cross-engine verifiable."""
    from parquet_on_fhir_spark.operators.dedup import md5_60

    tk = tokens(text_col)
    n = F.size(tk)
    idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    hash_fn = F.xxhash64 if hash_family == "xxhash64" else md5_60
    win_hashes = F.transform(
        idx, lambda i: hash_fn(F.concat_ws(" ", F.slice(tk, i + 1, window)))
    )
    return F.array_min(win_hashes)


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 512,
    stride: int = 384,
):
    """Split documents into overlapping character windows (RAG / context-
    window preprocessing): chunk i covers 1-based offsets
    ``[1 + i*stride, 1 + i*stride + size)``; the chunk count is the
    smallest n covering every character (always ≥ 1, so empty docs keep
    one empty chunk and no row silently disappears).

    Map-only — a ``sequence`` + ``explode`` per row, ``substring`` on the
    original column — so it adds ZERO shuffles and chunk rows inherit the
    parent's partitioning (a downstream groupBy(doc_id) stays local until
    its own exchange).  Integer arithmetic only: ``ceil((len-size)/
    stride)`` is computed as ``(extra + stride - 1) div stride`` so Spark
    and any SQL oracle agree exactly.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    if stride > size:
        raise ValueError(
            "stride > size leaves un-covered gaps between chunks; use "
            "stride <= size (stride == size for non-overlapping)"
        )
    length = F.length(F.col(text_col))
    extra = F.greatest(length - size, F.lit(0))
    n_extra = F.floor((extra + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    start = F.lit(1) + F.col("chunk_id") * stride
    return (
        df.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_extra)))
        .withColumn("chunk_start", start)
        .withColumn("chunk_text", F.col(text_col).substr(start, F.lit(size)))
        .withColumn("chunk_len", F.length("chunk_text"))
    )


def bm25_scores(
    df,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 ranked retrieval against a term list (Robertson/Walker,
    Lucene's +1 idf variant so weights stay positive):

        score(d) = Σ_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                       · tf/(tf + k1·(1 - b + b·len_d/avgdl))

    Raises on an empty ``query_terms`` (an all-zero result would be
    indistinguishable from a no-match query).

    Shuffle discipline: per-(doc, term) tf counts come from an explode
    FILTERED to the query terms (an IN over a literal list — the corpus
    shrinks to matching tokens before any exchange); N and avgdl ride as
    a broadcast 1-row crossJoin; per-term df is a ``query_terms``-row
    aggregate, broadcast back.  Document text itself never shuffles, and
    there is no driver-side action.  Output: one row per document with
    ≥1 matching term: (id, score).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    doc_len = F.size(F.filter(words, lambda w: w != ""))
    stats = df.select(doc_len.alias("__len")).agg(
        F.count("*").alias("__n_docs"), F.avg("__len").alias("__avgdl")
    )
    # Doc length rides through the filtered explode, so the only corpus
    # shuffle contains matching tokens — no second full-corpus join.
    tf = (
        df.select(F.col(id_col), doc_len.alias("__len"), F.explode(words).alias("__t"))
        .filter(F.col("__t").isin(*query_terms))
        .groupBy(id_col, "__t")
        .agg(F.count("*").alias("__tf"), F.first("__len").alias("__len"))
    )
    dfreq = tf.groupBy("__t").agg(F.count("*").alias("__df"))
    idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .select(
            "__t",
            F.log(
                1
                + (F.col("__n_docs") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
            ).alias("__idf"),
            "__avgdl",
        )
    )
    return (
        tf.join(F.broadcast(idf), "__t")
        .select(
            F.col(id_col),
            (
                F.col("__idf")
                * F.col("__tf")
                / (
                    F.col("__tf")
                    + k1 * (1 - b + b * F.col("__len") / F.col("__avgdl"))
                )
            ).alias("__term_score"),
        )
        .groupBy(id_col)
        .agg(F.sum("__term_score").alias("bm25"))
    )


def profile_table(df, columns: list[str] | None = None, exact_distinct: bool = True):
    """Per-column data-quality profile in ONE aggregate pass: null count,
    distinct count, lexical min/max — the ANALYZE/data-audit primitive a
    pipeline runs before trusting a new drop of data.

    ``exact_distinct=False`` switches to ``approx_count_distinct`` (HLL,
    mergeable, no expand) — the right tier at 100 TB where a multi-column
    exact distinct costs one Expand pass per column; exact is the
    verifiable default for audits at validation scale.

    The wide 1-row aggregate is pivoted to long form (one row per column)
    by exploding an array of structs — no second pass, no driver collect.
    """
    cols = columns or df.columns
    if not cols:
        raise ValueError("profile_table needs at least one column")
    distinct_of = F.countDistinct if exact_distinct else F.approx_count_distinct
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"),
            distinct_of(F.col(c)).alias(f"__distinct_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__distinct_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


def frequent_ngrams(
    df,
    text_col: str = "text",
    group_col: str = "source",
    n: int = 3,
    k: int = 10,
):
    """Top-k most frequent word n-grams per group — the boilerplate /
    template detector (repeated footers, navigation chrome, license
    blurbs surface as high-count n-grams within a source).

    Plan: map-side n-gram explode → hash aggregate with partial combine
    (shuffle rows ≈ distinct (group, gram) pairs, NOT corpus size) →
    per-group top-k via window over the already-aggregated counts.
    Deterministic tie-break (count desc, gram asc) so results are
    engine- and layout-stable. Output: (group, gram, n_occurrences,
    rank).
    """
    from pyspark.sql import Window

    from parquet_on_fhir_spark.operators.curation import _word_ngrams

    grams = df.select(
        F.col(group_col).alias("group"),
        F.explode(_word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    counts = grams.groupBy("group", "gram").agg(F.count("*").alias("n_occurrences"))
    w = Window.partitionBy("group").orderBy(
        F.desc("n_occurrences"), F.asc("gram")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def dedup_lines(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
):
    """Line-level cross-document deduplication (the RefinedWeb /
    MassiveText cleanup stage): drop every line that appears verbatim in
    ``min_docs`` or more distinct documents — boilerplate, navigation
    text, repeated headers — and reassemble each document from its
    surviving lines in order.

    100 TB shape: the counting side shuffles only (sha2(line), doc_id)
    rows — 40 bytes, never line text — into a hash aggregate whose
    distinct-doc count marks duplicate line hashes. Surviving lines then
    shuffle ONCE keyed by doc_id for ordered reassembly (unavoidable:
    reconstruction needs a document's lines co-located; the shuffle
    carries only KEPT lines, already smaller than the input by exactly
    the boilerplate mass). No driver collect; no all-pairs anything.

    Output: (id_col, text_col cleaned, n_lines_kept, n_lines_removed).
    Documents whose every line was boilerplate survive with empty text —
    callers filter on n_lines_kept if they want them gone.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line_h", F.sha2(F.col("line"), 256))

    dup_hashes = (
        lines.groupBy("line_h")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line_h")
    )
    kept = lines.join(dup_hashes, "line_h", "left_anti")
    n_total = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).alias("__n_lines"),
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("line")))
            ).alias("__ordered"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                "\n", F.transform(F.col("__ordered"), lambda s: s["line"])
            ).alias(text_col),
            F.size(F.col("__ordered")).alias("n_lines_kept"),
        )
    )
    # left join from totals so all-boilerplate docs come back (empty text)
    return (
        n_total.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
            (F.col("__n_lines") - F.coalesce(F.col("n_lines_kept"), F.lit(0))).alias(
                "n_lines_removed"
            ),
        )
    )


def check_expectations(df, rules: dict[str, "Column"]):
    """Data-quality expectation check (the Great-Expectations-style
    contract a pipeline runs before trusting a new data drop): each
    rule is a boolean Column that every row SHOULD satisfy; the report
    counts violations per rule in ONE aggregate pass over the table
    (no per-rule scans), pivoted to long form by exploding an array of
    structs — same single-pass shape as :func:`profile_table`.

    Output: (rule, n_rows, n_violations, pass_rate DOUBLE, ok BOOLEAN
    — true iff zero violations). NULL rule results count as violations
    (an unknowable expectation is a failed one).
    """
    if not rules:
        raise ValueError("check_expectations needs at least one rule")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules.items():
        aggs.append(
            F.count(F.when(~F.coalesce(cond, F.lit(False)), 1)).alias(
                f"__viol_{name}"
            )
        )
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("__n").alias("n_rows"),
                F.col(f"__viol_{name}").alias("n_violations"),
            )
            for name in rules
        ]
    )
    return (
        wide.select(F.explode(rows).alias("e"))
        .select("e.*")
        .withColumn(
            "pass_rate",
            F.when(
                F.col("n_rows") > 0,
                (F.col("n_rows") - F.col("n_violations"))
                / F.col("n_rows").cast("double"),
            ).otherwise(F.lit(1.0)),
        )
        .withColumn("ok", F.col("n_violations") == 0)
    )


def bpe_pair_counts(df, text_col: str = "text", top_k: int = 50):
    """Adjacent character-pair frequencies within words — the counting
    inner loop of a BPE merge round (Sennrich et al. 2016, "Neural
    Machine Translation of Rare Words with Subword Units"): the most
    frequent pair is the next merge a tokenizer-training run would
    apply.

    Pairs are built MAP-SIDE with nested higher-order expressions
    (split → per-word substring windows → flatten); the only shuffle is
    the pair-count hash aggregate, which ships (pair, partial-count)
    after map-side combine — never the corpus text. Top-k via
    TakeOrderedAndProject (count desc, pair asc for determinism).
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    pairs = F.flatten(
        F.transform(
            words,
            lambda w: F.when(
                F.length(w) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length(w) - 1),
                    lambda i: w.substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(top_k)
    )


def unigram_entropy(
    df: DataFrame,
    text_col: str,
    key_cols: list[str] | None = None,
    term_dp: int | None = None,
) -> DataFrame:
    """Shannon entropy (nats) of each group's unigram distribution,
    plus type/token counts — the lexical-diversity fingerprint that
    separates boilerplate-heavy sources from natural prose in a
    training mix (low entropy = repetitive vocabulary).

    Plan: whitespace-token explode (map-side, linear in tokens) → one
    (keys, token) hash aggregate → one (keys) aggregate folding
    −Σ p·ln p from the per-token counts — two shuffles total, both
    keyed; the vocabulary frame is the only intermediate and entropy
    is computed from counts WITHOUT materializing probabilities
    (H = ln N − Σ c·ln c / N, one pass, numerically stable).

    ``term_dp`` rounds each ln(c) term (and the final ln N) to that
    many decimal places before the fold (12 dp is the repo
    convention) so per-term libm differences cannot accumulate across
    the vocab-sized sum when H is compared across engines.

    Output: *keys, n_tokens, n_types, entropy.
    """
    keys = key_cols or []
    toks = df.select(
        *keys, F.explode(F.split(F.col(text_col), r"\s+")).alias("__tok")
    ).filter(F.col("__tok") != "")
    counts = toks.groupBy(*keys, "__tok").agg(F.count("*").alias("__c"))
    ln_tot, ln_c = F.log(F.sum("__c")), F.log("__c")
    if term_dp is not None:
        ln_tot, ln_c = F.round(ln_tot, term_dp), F.round(ln_c, term_dp)
    return counts.groupBy(*keys).agg(
        F.sum("__c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        (
            ln_tot - F.sum(F.col("__c") * ln_c) / F.sum("__c")
        ).alias("entropy"),
    )


def schema_diff(df_a: "DataFrame", df_b: "DataFrame") -> "DataFrame":
    """Column-level schema diff between two frames — the pre-merge /
    pre-union audit: which columns were added, removed, or changed
    type. Pure metadata (no data scan, no job); returns a DataFrame so
    it composes with the expectation/report operators.

    Output: (column, type_a, type_b, status) with status in
    {added, removed, type_changed, unchanged}.
    """
    spark = df_a.sparkSession
    a = {f.name: f.dataType.simpleString() for f in df_a.schema.fields}
    b = {f.name: f.dataType.simpleString() for f in df_b.schema.fields}
    rows = []
    for name in sorted(set(a) | set(b)):
        ta, tb = a.get(name), b.get(name)
        status = (
            "added"
            if ta is None
            else "removed"
            if tb is None
            else "unchanged"
            if ta == tb
            else "type_changed"
        )
        rows.append((name, ta, tb, status))
    return local_rows_df(
        spark, rows, "column string, type_a string, type_b string, status string"
    )


def repeated_ngram_fraction(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
):
    """Per-document duplicate word-n-gram fraction — the repetition
    quality signal from the Gopher filtering rules (Rae et al. 2021,
    arXiv:2112.11446 Table A1: documents whose n-grams are dominated
    by repeats are templates/chaff): ``(total n-grams − distinct
    n-grams) / total n-grams``, i.e. the fraction of n-gram slots
    occupied by a repeat of an earlier n-gram (count-based variant).

    Plan (the :func:`frequent_ngrams` shape): map-side n-gram explode
    (``_word_ngrams`` — one nested expression, no UDF) → hash
    aggregate on (doc, gram) with partial combine → per-doc recount.
    Shuffle rows ≈ distinct (doc, gram) pairs; the text column itself
    never shuffles. Documents shorter than ``n`` words yield no
    n-grams and are OMITTED from the output (explode drops empty gram
    arrays) — callers that need every document left-join back to the
    id frame, as q225 does (round-9 ADVICE docstring fix).

    Output: (id_col, n_ngrams, n_distinct, dup_fraction).
    """
    from parquet_on_fhir_spark.operators.curation import _word_ngrams

    grams = df.select(
        F.col(id_col),
        F.explode(_word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    per = grams.groupBy(id_col, "gram").agg(F.count("*").alias("__c"))
    doc = per.groupBy(id_col).agg(
        F.sum("__c").alias("n_ngrams"),
        F.count("*").alias("n_distinct"),
    )
    return doc.select(
        id_col,
        "n_ngrams",
        "n_distinct",
        (
            (F.col("n_ngrams") - F.col("n_distinct")).cast("double")
            / F.col("n_ngrams").cast("double")
        ).alias("dup_fraction"),
    )


def source_ngram_overlap(
    df: "DataFrame",
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
):
    """Pairwise n-gram Jaccard overlap between document groups
    (sources): |grams(A) ∩ grams(B)| / |grams(A) ∪ grams(B)| over the
    DISTINCT n-gram vocabulary of each group — the corpus-leakage /
    syndication audit between sources (complements
    :func:`repeated_ngram_fraction` within docs and the exact
    cross-source duplicate audit: overlap shows up here even when no
    document is an exact copy).

    Plan (ONE corpus scan): map-side n-gram explode → one (gram)
    hash aggregate to per-gram GROUP SETS (``collect_set`` bounded by
    K groups per gram — never document lists) — lazily
    localCheckpointed so the sizes branch and the pair branch reuse
    the materialized frame instead of re-scanning the corpus (the
    first formulation scanned text 4×; PLANS.md). Sizes come from one
    explode of the sets; shared counts from the within-set pair
    explode with ``group_a < group_b``. Shuffle volume ≈ the distinct
    gram vocabulary, never the corpus; the pair/size frames are
    K-bounded broadcasts.

    Output: one row per unordered pair WITH at least one shared gram
    (zero-overlap pairs carry no audit signal and are omitted) —
    (group_a, group_b, grams_a, grams_b, shared, jaccard).
    """
    from parquet_on_fhir_spark.operators.curation import _word_ngrams

    # distinct FIRST (codegen hash aggregate over the corpus-sized
    # explode — collect_set straight off the explode trips
    # ObjectHashAggregate's sort-based fallback at >128 grams per task
    # and sorted 22M rows in the ×30 probe), then the set collection
    # runs over the already-deduped vocabulary×K frame
    per_gram = (
        df.select(
            F.col(group_col).alias("group"),
            F.explode(_word_ngrams(F.col(text_col), n)).alias("gram"),
        )
        .distinct()
        .groupBy("gram")
        .agg(F.collect_set("group").alias("__gs"))
        .localCheckpoint(eager=False)
    )
    sizes = (
        per_gram.select(F.explode("__gs").alias("group"))
        .groupBy("group")
        .agg(F.count("*").alias("n_grams"))
    )
    shared = (
        per_gram.select(
            F.explode("__gs").alias("group_a"), F.col("__gs")
        )
        .select("group_a", F.explode("__gs").alias("group_b"))
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.join(
            F.broadcast(sizes.withColumnsRenamed(
                {"group": "group_a", "n_grams": "grams_a"}
            )),
            "group_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed(
                {"group": "group_b", "n_grams": "grams_b"}
            )),
            "group_b",
        )
    )
    union = F.col("grams_a") + F.col("grams_b") - F.col("shared")
    return out.select(
        "group_a",
        "group_b",
        "grams_a",
        "grams_b",
        "shared",
        (F.col("shared").cast("double") / union.cast("double")).alias(
            "jaccard"
        ),
    )


def vocab_richness(
    df: "DataFrame",
    text_col: str = "text",
    group_col: str | None = None,
):
    """Vocabulary richness and coverage estimates from the token
    frequency spectrum: distinct vocabulary D, hapax/dis legomena
    counts (F1, F2), the Chao1 lower-bound richness estimate
    D + F1·(F1−1)/(2·(F2+1)) (the bias-corrected form, defined even at
    F2=0) and Good-Turing coverage 1 − F1/N — "how much of this
    corpus's true vocabulary have we actually seen", the
    diminishing-returns audit for corpus growth.

    Plan: one (token) hash aggregate with map-side combine (shuffle ≈
    vocabulary), one K-row spectrum aggregate over it; with
    ``group_col`` both keys include the group and the output is one
    row per group. All counts integral; the two estimate divisions
    are the only double ops.

    Output: (group?,) n_tokens, vocab, f1, f2, chao1, coverage.
    """
    keys = [group_col] if group_col else []
    counts = (
        df.select(
            *keys, F.explode(tokens(F.col(text_col))).alias("__tok")
        )
        .groupBy(*keys, "__tok")
        .agg(F.count("*").alias("__c"))
    )
    agg = counts.groupBy(*keys).agg(
        F.sum("__c").alias("n_tokens"),
        F.count("*").alias("vocab"),
        F.count(F.when(F.col("__c") == 1, 1)).alias("f1"),
        F.count(F.when(F.col("__c") == 2, 1)).alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    chao1 = F.col("vocab").cast("double") + f1 * (f1 - 1.0) / (
        2.0 * (F.col("f2").cast("double") + 1.0)
    )
    coverage = F.when(
        F.col("n_tokens") > 0,
        1.0 - f1 / F.col("n_tokens").cast("double"),
    )
    return agg.select(
        *keys,
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        chao1.alias("chao1"),
        coverage.alias("coverage"),
    )


def ngram_novelty(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    batch_width: int = 100,
):
    """N-gram novelty curve over ingestion order: batch the corpus by
    ``floor(id / batch_width)`` (monotone ids = arrival order) and
    report, per batch, the fraction of n-gram OCCURRENCES whose gram
    was never seen in any earlier batch — the saturation signal a
    crawl/ingest pipeline watches to decide when a source is mined
    out (novelty → 0 means new data repeats the old corpus), and the
    dual of the within-doc Gopher repetition rule
    (:func:`repeated_ngram_fraction`).

    Plan (ONE corpus scan): map-side n-gram explode → one (batch,
    gram) hash aggregate with partial combine → per-gram first-seen
    batch via a second gram-keyed aggregate over the ALREADY-REDUCED
    (batch, gram) frame (shuffle rows = distinct (batch, gram) pairs,
    never occurrences) → K-batch recount. No window, no self-join;
    the text column never shuffles.

    Output: (batch, occurrences, new_occurrences, distinct_grams,
    new_distinct_grams, novelty_rate) — novelty_rate =
    new_occurrences / occurrences; batch 0 is 1.0 by construction.
    """
    from parquet_on_fhir_spark.operators.curation import _word_ngrams

    grams = df.select(
        F.floor(F.col(id_col) / batch_width).alias("batch"),
        F.explode(_word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    per = grams.groupBy("batch", "gram").agg(F.count("*").alias("__c"))
    # per-gram first-seen as a WINDOW over the reduced frame (r15):
    # the former groupBy("gram") + join-back referenced ``per`` twice,
    # and without an explicit cache that re-ran the gram explode + the
    # (batch, gram) aggregate — the expensive corpus pass — a second
    # time. min() over a gram-partitioned window is one shuffle of the
    # already-reduced pairs and scans the explode exactly once.
    from pyspark.sql import Window

    tagged = per.withColumn(
        "__fb", F.min("batch").over(Window.partitionBy("gram"))
    )
    is_new = (F.col("batch") == F.col("__fb")).cast("int")
    out = tagged.groupBy("batch").agg(
        F.sum("__c").alias("occurrences"),
        F.sum(F.col("__c") * is_new).alias("new_occurrences"),
        F.count("*").alias("distinct_grams"),
        F.sum(is_new.cast("long")).alias("new_distinct_grams"),
    )
    return out.withColumn(
        "novelty_rate",
        F.col("new_occurrences").cast("double")
        / F.col("occurrences").cast("double"),
    )


def script_profile(
    df: "DataFrame",
    group_col: str = "source",
    text_col: str = "text",
):
    """Per-group Unicode script/char-class census: counts of Latin
    letters, digits, whitespace and CJK-ideograph characters (explicit
    BMP range U+4E00–U+9FFF — spelled as a literal class so the same
    semantics are expressible in any regex dialect) plus the leftover
    bucket — the pre-training corpus audit that catches mislabeled
    languages, mojibake floods and markup-heavy sources before
    tokenizer training sees them (a 'de' source that is 40% CJK is a
    pipeline bug, not data).

    Pure JVM-side expressions (length-of-regexp_replace per class —
    no UDF, no explode) folded map-side into one K-row hash aggregate;
    the text column never shuffles.

    Output: (group, n_docs, chars, latin, digit, space, cjk, other,
    latin_frac, cjk_frac).
    """
    c = F.col(text_col)

    def cnt(cls: str):
        return F.length(F.regexp_replace(c, cls, ""))

    total = F.length(c)
    latin = total - cnt("[A-Za-z]")
    digit = total - cnt("[0-9]")
    space = total - cnt("[ \\t\\n\\r]")
    cjk = total - cnt("[\\x{4e00}-\\x{9fff}]")
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").alias("n_docs"),
        F.sum(total.cast("long")).alias("chars"),
        F.sum(latin.cast("long")).alias("latin"),
        F.sum(digit.cast("long")).alias("digit"),
        F.sum(space.cast("long")).alias("space"),
        F.sum(cjk.cast("long")).alias("cjk"),
    )
    other = (
        F.col("chars")
        - F.col("latin")
        - F.col("digit")
        - F.col("space")
        - F.col("cjk")
    )
    frac = lambda col: F.when(  # noqa: E731
        F.col("chars") > 0,
        F.col(col).cast("double") / F.col("chars").cast("double"),
    )
    return per.select(
        "group",
        "n_docs",
        "chars",
        "latin",
        "digit",
        "space",
        "cjk",
        other.alias("other"),
        frac("latin").alias("latin_frac"),
        frac("cjk").alias("cjk_frac"),
    )


def heaps_law(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_width: int = 100,
    term_dp: int = 12,
):
    """Heaps'-law vocabulary-growth fit V(T) ≈ K·T^β over ingestion
    order: cumulative (tokens seen, distinct vocabulary) points per
    id-ordered batch, then the log-log OLS closed form — the scaling
    exponent a crawl pipeline extrapolates to answer "how much new
    vocabulary does the next 10× of this source buy?" (β → 0 = mined
    out; English corpora sit near 0.5). Complements the per-batch
    novelty RATE (:func:`ngram_novelty`, whose unigram frame this
    reuses) with the fitted growth LAW.

    Plan: the one-scan novelty machinery reduces the corpus to a
    K-batch frame; the cumulative window and the 5-sum OLS fold run
    over those K rows (batch-cardinality-sized, the q173 zipf_slope
    shape — the single-partition window is over K batches, never
    data). ``term_dp`` quantizes each ln term before summing (the
    cross-engine transcendental convention).

    Output: 1 row — (n_points, tokens_total, vocab_total, beta, k).
    """
    from pyspark.sql import Window

    curve = ngram_novelty(df, id_col, text_col, 1, batch_width)
    w = (
        Window.orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pts = curve.select(
        F.sum("occurrences").over(w).alias("__T"),
        F.sum("new_distinct_grams").over(w).alias("__V"),
    ).filter((F.col("__T") > 0) & (F.col("__V") > 0))
    x = F.round(F.ln(F.col("__T").cast("double")), term_dp)
    y = F.round(F.ln(F.col("__V").cast("double")), term_dp)
    s = pts.agg(
        F.count("*").cast("long").alias("n_points"),
        F.max("__T").cast("long").alias("tokens_total"),
        F.max("__V").cast("long").alias("vocab_total"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("n_points").cast("double")
    beta = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / (
        n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    return s.select(
        "n_points",
        "tokens_total",
        "vocab_total",
        beta.alias("beta"),
        F.exp((F.col("__sy") - beta * F.col("__sx")) / n).alias("k"),
    )



def bpe_train_merges(
    df,
    text_col: str = "text",
    rounds: int = 10,
    min_len: int = 2,
):
    """Train the first ``rounds`` BPE merges (Sennrich et al. 2016)
    over a corpus - the tokenizer-training loop itself, not just one
    round's pair counts (:func:`bpe_pair_counts`).

    The corpus is touched EXACTLY ONCE: one hash aggregate builds the
    distinct-word frequency table (the standard BPE trick - training
    state is vocabulary-sized, not corpus-sized). Each round then runs
    on that table: adjacent-pair counts weighted by word frequency ->
    the argmax pair (count desc, pair asc - deterministic) -> merge
    applied to every word via ``regexp_replace`` (leftmost
    non-overlapping, exactly BPE's greedy left-to-right application;
    symbols are regex-escaped). Words start as space-joined characters
    with the ``</w>`` end-of-word marker so merges can capture
    suffixes. ``rounds`` driver iterations = ``rounds`` tiny jobs over
    the vocab frame, lineage cut each round.

    Iterative argmax is not SQL-restatable -> rows-only; verified
    against an independent pure-python BPE in tests. Output: one row
    per merge - (round, left, right, merged, pair_count).
    """
    import re as _re

    words = (
        df.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w")
        )
        .filter(F.length("w") >= min_len)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # "hello" -> "h e l l o </w>" (split("") yields empty edge tokens;
    # filter them)
    vocab = words.select(
        F.concat_ws(
            " ",
            F.concat(
                F.filter(F.split("w", ""), lambda c: F.length(c) > 0),
                F.array(F.lit("</w>")),
            ),
        ).alias("sym"),
        "freq",
    )
    merges = []
    for rnd in range(rounds):
        toks = F.split(F.col("sym"), " ")
        # fully-merged single-symbol words have no pairs: clamp the
        # index sequence then filter (sequence(0,-1) would descend)
        idx = F.filter(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
            lambda i: i <= F.size(toks) - 2,
        )
        pairs = F.transform(
            idx,
            lambda i: F.struct(
                toks[i].alias("l"), toks[i + 1].alias("r")
            ),
        )
        top = (
            vocab.select(F.explode(pairs).alias("p"), "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, count = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((rnd, left, right, left + right, count))
        pat = (
            "(?<=^| )"
            + _re.escape(left)
            + " "
            + _re.escape(right)
            + "(?=$| )"
        )
        repl = (left + right).replace("\\", "\\\\").replace("$", "\\$")
        vocab = vocab.select(
            F.regexp_replace("sym", pat, repl).alias("sym"), "freq"
        )
        vocab = vocab.localCheckpoint(eager=False)
    return local_rows_df(
        df.sparkSession,
        merges,
        "round int, left string, right string, merged string, "
        "pair_count long",
    )


def unicode_normalization_audit(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "NFC",
):
    """Unicode normalization audit — the crawl-cleaning pass that
    finds text whose bytes differ from its canonical form (decomposed
    accents, compatibility ligatures, width variants): mixed
    normalization makes equal-looking strings hash differently, which
    silently defeats exact dedup and token counting.

    Spark has no built-in normalizer, so this is a vectorized
    Arrow-batched pandas pass over ``unicodedata.normalize`` —
    deliberately the slow path ONLY for the normalize call itself;
    everything downstream (grouping, rates) is JVM. ``form`` is one
    of NFC/NFKC/NFD/NFKD. Output: (id, changed, len_before,
    len_after) with lengths in code points.
    """
    import unicodedata

    import pandas as pd

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def batches(it):
        for pdf in it:
            texts = pdf[text_col]
            normed = texts.map(
                lambda t: unicodedata.normalize(form, t)
                if t is not None
                else None
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "changed": [
                        None if t is None else t != n
                        for t, n in zip(texts, normed)
                    ],
                    "len_before": [
                        None if t is None else len(t) for t in texts
                    ],
                    "len_after": [
                        None if n is None else len(n) for n in normed
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        batches,
        schema=(
            f"{id_col} long, changed boolean, len_before int, "
            "len_after int"
        ),
    )


def bpe_encode(
    df,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Apply a TRAINED ordered BPE merge list to a corpus — the
    tokenizer-apply half of the loop :func:`bpe_train_merges` trains:
    per-document token counts are what mixture weighting, sequence
    packing and cost estimation all consume, and fertility
    (tokens/word) is the standard tokenizer-fit metric.

    Scalable shape (same trick as training): the corpus is touched
    ONCE — one hash aggregate to the DISTINCT-WORD frame — and the
    K merges run as one composed Catalyst projection over that
    vocabulary-sized frame (chained ``regexp_replace``, leftmost
    non-overlapping = BPE's greedy application; lookarounds keep the
    space delimiters unconsumed).  The per-word token counts then
    broadcast-join back onto the exploded corpus (vocabulary ≪
    corpus — the 100 TB posture), and one per-doc aggregate sums
    them.  Tokens-per-word for a FIXED merge list is a pure function
    of the word, so the whole operator is SQL-restatable (the oracle
    uses the space-doubling form of the same chain, since RE2 lacks
    lookbehind).

    ``merges``: ordered (left, right) symbol pairs, training order
    (symbols may include the ``</w>`` end-of-word marker).

    Output: one row per input row — (id, n_words, n_tokens,
    fertility); empty/whitespace docs get 0/0/NULL.
    """
    import re as _re

    words = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda w: F.length(w) > 0,
            )
        ).alias("w"),
    )
    vocab = words.select("w").distinct()
    sym = F.concat_ws(
        " ",
        F.concat(
            F.filter(F.split("w", ""), lambda c: F.length(c) > 0),
            F.array(F.lit("</w>")),
        ),
    )
    for left, right in merges:
        pat = (
            "(?<=^| )" + _re.escape(left) + " " + _re.escape(right)
            + "(?=$| )"
        )
        repl = (left + right).replace("\\", "\\\\").replace("$", "\\$")
        sym = F.regexp_replace(sym, pat, repl)
    counts = vocab.select("w", F.size(F.split(sym, " ")).alias("__wt"))
    per_doc = (
        words.join(F.broadcast(counts), "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("__wt").alias("n_tokens"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.when(
                F.col("n_words") > 0,
                F.col("n_tokens").cast("double")
                / F.col("n_words").cast("double"),
            ).alias("fertility"),
        )
    )


def split_sentences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """Rule-based sentence segmentation (r14 wave 7) — the unit the
    C4 sentence gate, sequence packing, and span-level dedup all
    count in: a sentence is a maximal run of non-terminal characters
    followed by one or more terminals (``. ! ?``), whitespace-trimmed,
    dropped when shorter than ``min_chars``; text after the last
    terminal is a FRAGMENT and is not emitted (its length is the
    doc-level ``tail_len`` audit column). Deliberately a closed-form
    rule set, not an NLP model — deterministic and portable to any
    regex engine, which is what lets the oracle restate it. PURE
    Catalyst: regexp_extract_all + transform/filter + posexplode,
    map-only. Output: (id, sent_idx, sentence, n_chars, tail_len)."""
    sents = F.expr(
        f"filter(transform(regexp_extract_all({text_col}, "
        f"'[^.!?]+[.!?]+', 0), x -> trim(x)), "
        f"x -> length(x) >= {int(min_chars)})"
    )
    tail = (
        F.length(text_col)
        - F.length(
            F.array_join(
                F.expr(
                    f"regexp_extract_all({text_col}, '[^.!?]+[.!?]+', 0)"
                ),
                "",
            )
        )
    ).cast("int")
    return (
        df.select(
            F.col(id_col),
            F.posexplode(sents).alias("sent_idx", "sentence"),
            tail.alias("tail_len"),
        )
        .withColumn("n_chars", F.length("sentence").cast("int"))
        .select(id_col, "sent_idx", "sentence", "n_chars", "tail_len")
    )
