"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — each a pure
Catalyst plan (regex + arithmetic, no UDF) so it scales as an
embarrassingly parallel single pass and hash-matches the DuckDB oracle.

Shared hashing convention (both engines): ``hash40(s)`` = first 10 hex
chars of md5 as a 40-bit integer — overflow-safe for the (a*x+b) & mask
minhash family in text_dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_RE = r"\s+"
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def hash40(c: Column) -> Column:
    """40-bit integer from md5 hex prefix (same value as the DuckDB
    mirror's ``CAST('0x' || substr(md5(x),1,10) AS UBIGINT)``)."""
    return F.conv(F.substring(F.md5(c), 1, 10), 16, 10).cast("bigint")


def hash40_sql(expr: str) -> str:
    return f"CAST(CAST(concat('0x', substr(md5({expr}), 1, 10)) AS UBIGINT) AS BIGINT)"


def tokens(c: Column) -> Column:
    return F.filter(F.split(c, TOKEN_RE), lambda t: t != "")


def token_stats(corpus: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count +
    char count."""
    return corpus.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens_ws"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)).alias(
            "n_tokens_bpe"
        ),
        F.length("text").alias("n_chars"),
    )


def quality_counts(text_col: Column) -> dict[str, Column]:
    """The shared per-doc counting columns every quality operator builds
    on (ONE definition for quality_score, gopher_quality_filter and
    quality_gate — a threshold or formula change edits exactly one
    builder plus the oracles)."""
    toks = tokens(text_col)
    return {
        "toks": toks,
        "n_words": F.size(toks),
        "n_chars": F.length(text_col),
        "n_word_chars": F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)),
        "n_alpha": F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))),
        "n_punct": F.size(F.regexp_extract_all(text_col, F.lit("[^a-z0-9 ]"), 0)),
        "n_stop": F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))),
    }


def quality_score_col(c: dict[str, Column]) -> Column:
    """Composite quality score in [0,1], NULL for empty/whitespace-only
    docs — the divisions are GUARDED (an unguarded n/0 is a hard error
    under the ANSI-on driver session; the DuckDB oracles mirror the same
    CASE so both engines emit NULL)."""
    raw = (
        F.lit(0.4) * F.least(F.lit(1.0), c["n_words"] / F.lit(400.0))
        + F.lit(0.3) * (F.lit(1.0) - c["n_punct"] / c["n_chars"])
        + F.lit(0.3) * F.least(F.lit(1.0), (c["n_stop"] / c["n_words"]) * F.lit(5.0))
    )
    return F.when((c["n_words"] > 0) & (c["n_chars"] > 0), F.round(raw, 6))


def gopher_rules(c: dict[str, Column]) -> dict[str, Column]:
    """The four Gopher structural rules (Rae et al. 2021 §A1.1) as
    boolean Columns over :func:`quality_counts` — integer comparisons
    only, shared by gopher_quality_filter and quality_gate."""
    return {
        "word_count": (c["n_words"] >= GOPHER_MIN_WORDS)
        & (c["n_words"] <= GOPHER_MAX_WORDS),
        "mean_word_len": (c["n_word_chars"] >= 3 * c["n_words"])
        & (c["n_word_chars"] <= 10 * c["n_words"]),
        "alpha_ratio": 5 * c["n_alpha"] >= 4 * c["n_words"],
        "stopwords": c["n_stop"] >= 2,
    }


def quality_score(corpus: DataFrame) -> DataFrame:
    """Deterministic quality heuristic: length, punctuation ratio, stopword
    ratio -> score in [0,1]. Formula is identical expression-for-expression
    with the oracle so double arithmetic agrees bit-for-bit; ratios and
    score are NULL for empty/whitespace-only docs (guarded divisions —
    unguarded they hard-error under the ANSI-on driver session)."""
    c = quality_counts(F.col("text"))
    return corpus.select(
        "doc_id",
        c["n_words"].alias("n_tokens"),
        F.when(c["n_chars"] > 0, F.round(c["n_punct"] / c["n_chars"], 6)).alias(
            "punct_ratio"
        ),
        F.when(c["n_words"] > 0, F.round(c["n_stop"] / c["n_words"], 6)).alias(
            "stopword_ratio"
        ),
        quality_score_col(c).alias("quality_score"),
    )


def _lang_scores(text_col: Column) -> dict[str, Column]:
    toks = tokens(text_col)
    n = F.size(toks)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))) / n
        for lang, words in STOPWORDS.items()
    }


def lang_pred_col(text_col: Column) -> Column:
    """The argmax language prediction as one Column — shared by lang_id
    and the confusion-matrix diagnostic."""
    scores = _lang_scores(text_col)
    best = F.greatest(*scores.values())
    return (
        F.when(best <= 0, "und")
        .when(scores["en"] == best, "en")
        .when(scores["de"] == best, "de")
        .otherwise("fr")
    )


def lang_id(corpus: DataFrame) -> DataFrame:
    """Stopword-profile language ID (n-gram heuristic family): fraction of
    tokens hitting each language's profile, argmax wins, 'und' if nothing
    matches."""
    scores = _lang_scores(F.col("text"))
    best = F.greatest(*scores.values())
    pred = (
        F.when(best <= 0, "und")
        .when(scores["en"] == best, "en")
        .when(scores["de"] == best, "de")
        .otherwise("fr")
    )
    return corpus.select(
        "doc_id",
        F.round(scores["en"], 6).alias("score_en"),
        F.round(scores["de"], 6).alias("score_de"),
        F.round(scores["fr"], 6).alias("score_fr"),
        pred.alias("lang_pred"),
    )


def corpus_clean(
    corpus: DataFrame, lang: str = "en", min_quality: float = 0.45
) -> DataFrame:
    """Composed training-data cleaning pipeline: language filter +
    quality-score threshold + exact dedup, the shape a 100 TB corpus
    prep job actually runs.

    One narrow scan projection computes tokens ONCE and derives language
    scores, the quality heuristic, and the content hash from the shared
    array (no per-metric re-scan); the only shuffle is the final
    hash-dedup, done with window functions over text_hash (row_number
    keeps the lowest doc_id; count(*) records the burst size). Filters
    run before the shuffle, so at scale the exchange carries only the
    surviving slice.
    """
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit("[^a-z0-9 ]"), 0))
    scores = {
        lg: F.size(F.filter(toks, lambda t: t.isin(*words))) / n_tokens
        for lg, words in STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = (
        F.when(best <= 0, "und")
        .when(scores["en"] == best, "en")
        .when(scores["de"] == best, "de")
        .otherwise("fr")
    )
    quality = F.round(
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens / F.lit(400.0))
        + F.lit(0.3) * (F.lit(1.0) - n_punct / n_chars)
        + F.lit(0.3) * F.least(F.lit(1.0), (scores["en"]) * F.lit(5.0)),
        6,
    )
    enriched = corpus.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        quality.alias("quality_score"),
        pred.alias("lang_pred"),
        F.md5("text").alias("text_hash"),
    )
    kept = enriched.filter(
        (F.col("lang_pred") == lang) & (F.col("quality_score") >= min_quality)
    )
    w = Window.partitionBy("text_hash")
    wo = w.orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(wo))
        .withColumn("dup_count", F.count("*").over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "n_tokens", "quality_score", "text_hash", "dup_count"
        )
    )


def fingerprint(corpus: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text plus the minimum
    40-bit 3-gram shingle hash (rolling-hash-style content signature usable
    as a cheap near-dup prefilter)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    # Token array materialized ONCE per row: inside an interpreted
    # higher-order lambda a raw tokens(text) sub-tree is re-evaluated per
    # element_at (the re-tokenization trap text_dedup.shingle_array
    # documents).
    toks = F.col("__toks")
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(n - 3, F.lit(0))),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, (i + 1).cast("int")),
            F.element_at(toks, (i + 2).cast("int")),
            F.element_at(toks, (i + 3).cast("int")),
        ),
    )
    min_shingle = F.array_min(
        F.transform(shingles, lambda s: hash40(s))
    )
    return corpus.select(
        "doc_id", "text", tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.md5(norm).alias("fingerprint_md5"),
        min_shingle.alias("min_shingle_hash"),
    )


def chunk_tokens(
    corpus: DataFrame, chunk_size: int = 32, overlap: int = 8
) -> DataFrame:
    """Fixed-size token chunking with overlap — the context-packing step of
    an LLM training pipeline (documents -> training-window-sized pieces).

    Chunk k covers tokens [k*stride, k*stride + chunk_size) with
    stride = chunk_size - overlap; the last chunk starts at the smallest
    multiple of stride that still reaches the tail, so every token lands in
    at least one chunk and consecutive chunks share ``overlap`` tokens.

    Scale: a narrow projection + explode — no shuffle, fan-out bounded by
    ~n_tokens/stride per row; the per-chunk slice is computed JVM-side
    (whole-stage codegen), so 100 TB of documents chunk in one
    embarrassingly parallel pass.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    c, s = chunk_size, chunk_size - overlap
    toks = tokens(F.col("text"))
    n = F.size(toks)
    k_max = (
        F.when(n <= c, F.lit(0))
        .otherwise(F.floor((n - c + s - 1) / F.lit(s)))
        .cast("bigint")
    )
    exploded = corpus.select(
        "doc_id", toks.alias("__toks"), k_max.alias("__k_max")
    ).select(
        "doc_id",
        "__toks",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("__k_max"))
        ).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("__toks"), (F.col("chunk_idx") * s + 1).cast("int"), c
    )
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).cast("bigint").alias("n_tokens_chunk"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


# PII patterns shared (verbatim) with the DuckDB oracle: simple classes +
# bounded quantifiers behave identically under Java regex and RE2.
EMAIL_RE = "[a-z0-9]+@[a-z0-9.]+[a-z0-9]"
LONGNUM_RE = "[0-9]{7,}"


def pii_inject(corpus: DataFrame) -> DataFrame:
    """Deterministic PII fixture: the synthetic corpus carries no
    addresses/numbers, so the scrub operator injects them reproducibly
    (doc_id % 5 -> an email, doc_id % 11 -> a 9-digit id), mirrored
    expression-for-expression in the oracle CTE."""
    return corpus.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" ref "),
                    F.lpad(F.col("doc_id").cast("string"), 9, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )


def pii_scrub(corpus: DataFrame) -> DataFrame:
    """PII redaction: emails then long digit runs replaced by typed
    placeholders, with per-document hit counts (the audit trail a
    training-data pipeline keeps).

    Emails are redacted first and digit runs counted on the email-redacted
    text, so digits inside an address are never double-counted. Pure
    Catalyst regex pass — no UDF, no shuffle.
    """
    src = pii_inject(corpus)
    with_email = src.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>").alias("__c1"),
    )
    return with_email.select(
        "doc_id",
        "n_emails",
        F.size(F.regexp_extract_all(F.col("__c1"), F.lit(LONGNUM_RE), 0))
        .cast("long")
        .alias("n_longnums"),
        F.regexp_replace(F.col("__c1"), LONGNUM_RE, "<NUM>").alias("clean_text"),
    )


def _grams(toks, n: int):
    """Array of space-joined n-grams of the token array (empty when the
    doc has fewer than n tokens)."""
    size = F.size(toks)
    seq = F.sequence(F.lit(1), size - (n - 1))
    return F.when(
        size >= n,
        F.transform(
            seq,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(corpus: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction
    of 2-gram occurrences taken by the single most frequent 2-gram, and
    the fraction of 3-gram occurrences whose 3-gram appears more than
    once (Rae et al. 2021's repetition filters, the standard
    pretraining-corpus quality gate).

    Scale shape: ONE explode of tagged n-grams -> hash agg on
    (doc_id, n, gram) -> hash agg on doc_id. Both aggs partial-combine
    map-side and the keys carry doc_id, so there is no skew pileup and no
    per-document state larger than its gram counts. All outputs are
    ratios of integers — no float drift against the oracle.
    """
    toks = F.col("__toks")  # materialized once — the re-tokenization trap
    tagged = F.concat(
        F.transform(_grams(toks, 2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("g"))),
        F.transform(_grams(toks, 3), lambda g: F.struct(F.lit(3).alias("n"), g.alias("g"))),
    )
    grams = (
        corpus.select("doc_id", tokens(F.col("text")).alias("__toks"))
        .select("doc_id", F.explode(tagged).alias("t"))
        .select("doc_id", F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    )
    counts = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    two = F.col("n") == 2
    three = F.col("n") == 3
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum(F.when(two, F.col("c"))).alias("n_bigrams"),
            F.max(F.when(two, F.col("c"))).alias("top_bigram_count"),
            F.sum(F.when(three, F.col("c"))).alias("__n_tri"),
            F.sum(F.when(three & (F.col("c") > 1), F.col("c"))).alias("__dup_tri"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "top_bigram_count",
            F.round(F.col("top_bigram_count") / F.col("n_bigrams"), 6).alias(
                "top_bigram_frac"
            ),
            F.round(
                F.coalesce(F.col("__dup_tri"), F.lit(0)) / F.col("__n_tri"), 6
            ).alias("dup_trigram_frac"),
        )
    )


def vocab_topk(corpus: DataFrame, k: int = 200) -> DataFrame:
    """Corpus vocabulary: the k most frequent tokens with total and
    document frequencies — the vocabulary-building pass of a tokenizer
    training pipeline.

    Deterministic order: (total_count DESC, token ASC) — token is unique
    per group, so the LIMIT is a total order. Spark plans this as
    TakeOrderedAndProject: per-partition top-k then a merge of k-row
    heaps, never a full sort of the vocabulary.
    """
    toks = corpus.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.countDistinct("doc_id").alias("doc_count"),
        )
        .orderBy(F.col("total_count").desc(), "token")
        .limit(k)
    )


def tfidf_topk(corpus: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k keywords by tf-idf (keyword-extraction /
    relevance-weighting pass): tf = count/doc_len, idf = ln(N/df),
    ranked by (round(tfidf, 6) DESC, token ASC) so the cut is stable even
    when two scores agree to 6 decimals.

    Scale shape: gram counts hash-agg on (doc_id, token); doc lengths via
    a window over the same partitioning (no second shuffle); document
    frequencies hash-agg on token; the tf x idf join shuffles on token
    (fact-fact at corpus scale — a 100 TB corpus has a vocabulary too
    large to broadcast); N arrives via a one-row broadcast. round() on
    both engines before ranking keeps the float comparison stable.
    """
    tok = corpus.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    tc = tc.withColumn("n_tok", F.sum("c").over(Window.partitionBy("doc_id")))
    df_counts = tc.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = corpus.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tc.join(df_counts, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                (F.col("c") / F.col("n_tok"))
                * F.log(F.col("n_docs") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "rank", "tfidf")
    )


SAMPLE_RATES = {"en": 0.5, "de": 0.2, "fr": 0.2, "und": 0.05}


def sample_stratified(
    corpus: DataFrame, rates: dict[str, float] | None = None
) -> DataFrame:
    """Deterministic stratified downsample: per-language keep rates applied
    via a content-independent hash key (the language-rebalancing step of a
    training-data mix).

    ``key = hash40('smp_' || doc_id) / 2^40`` is uniform in [0, 1) and
    identical in both engines (shared hash40 convention, and division by a
    power of two is exact in doubles), so keep/drop decisions — not just
    rates — are reproducible across engine, oracle, and reruns. Output:
    (doc_id, lang_pred, sample_key).

    Scale: one narrow projection + filter over the lang-scored corpus — no
    shuffle, no RNG state; resampling with a different mix is a pure
    re-filter, which is why hash-sampling (not rand()) is the production
    shape for corpus mixing.
    """
    rates = rates or SAMPLE_RATES
    scored = lang_id(corpus)
    key = hash40(
        F.concat(F.lit("smp_"), F.col("doc_id").cast("string"))
    ) / F.lit(float(1 << 40))
    rate = F.when(F.col("lang_pred") == "en", rates["en"])
    for lang in ("de", "fr"):
        rate = rate.when(F.col("lang_pred") == lang, rates[lang])
    rate = rate.otherwise(rates["und"])
    return (
        scored.withColumn("__key", key)
        .filter(F.col("__key") < rate)
        .select(
            "doc_id", "lang_pred", F.round(F.col("__key"), 6).alias("sample_key")
        )
    )


SAMPLE_K_PER_GROUP = 25


def sample_fixed_per_group(
    documents: DataFrame, k: int = SAMPLE_K_PER_GROUP, group: str = "source"
) -> DataFrame:
    """Deterministic fixed-SIZE per-group sample — the reservoir-sampling
    primitive next to :func:`sample_stratified`'s fixed-RATE filter:
    exactly ``min(k, |group|)`` docs per group, chosen by rank over a
    content-independent hash key, so the sample is uniform-ish,
    engine-reproducible, and STABLE under corpus growth in other groups
    (a classic reservoir reshuffles on every insert; the hash-rank
    sample of a group changes only when that group changes).

    Scale: one shuffle on the group key; the ``row_number() <= k``
    filter compiles to WindowGroupLimit (Spark >= 3.5 pushes per-
    partition top-k heaps map-side), so a 100 TB corpus never sorts a
    whole group — plan-gated with the other rank-k cuts."""
    from pyspark.sql.window import Window

    key = hash40(F.concat(F.lit("res_"), F.col("doc_id").cast("string")))
    w = Window.partitionBy(group).orderBy(key.asc(), F.col("doc_id").asc())
    return (
        documents.select("doc_id", group, key.alias("rk"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .select("doc_id", group, "sample_rank")
    )


def corpus_mix_report(documents: DataFrame) -> DataFrame:
    """Corpus-mix report over the raw documents table: doc counts, char
    volume, and mean doc length at (source, lang), per-source, and
    grand-total levels — ONE ``ROLLUP`` pass (shared map-side partial
    agg), the mix dashboard every training-data pipeline keeps.

    ``level`` is ``grouping_id()``, bit-identical to ANSI/DuckDB
    ``GROUPING(source, lang)``. The mean divides two exact integers in
    double, so the report is drift-free across engines.
    """
    return (
        documents.rollup("source", "lang")
        .agg(
            F.grouping_id().alias("level"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "source",
            "lang",
            "level",
            "n_docs",
            "total_chars",
            F.round(F.col("total_chars") / F.col("n_docs"), 6).alias("mean_chars"),
        )
    )


LANGS = ["en", "de", "fr", "und"]


def lang_source_pivot(documents: DataFrame) -> DataFrame:
    """Pivoted corpus report: one row per source, one doc-count column per
    language (the wide-format mix table a dashboard consumes).

    ``pivot`` with an EXPLICIT value list: Catalyst turns it into a single
    hash agg of conditional counts — one shuffle on source, no
    values-discovery pre-pass (an unlisted pivot would first scan for the
    distinct languages).
    """
    return (
        documents.groupBy("source")
        .pivot("lang", LANGS)
        .agg(F.count(F.lit(1)))
        .select(
            "source",
            *[F.coalesce(F.col(lg), F.lit(0)).alias(f"n_{lg}") for lg in LANGS],
        )
    )


def lang_pivot_unpivot(documents: DataFrame) -> DataFrame:
    """Melt (UNPIVOT) the wide per-source language counts back to long
    form via ``stack`` — the inverse of :func:`lang_source_pivot`,
    completing the pivot family (§2.8-adjacent reshaping). ``stack`` is a
    generator expression (no shuffle beyond the pivot's own agg); zero
    counts are kept so the long form is the full source x lang grid."""
    wide = lang_source_pivot(documents)
    pairs = ", ".join(f"'{lg}', n_{lg}" for lg in LANGS)
    return wide.select(
        "source",
        F.expr(f"stack({len(LANGS)}, {pairs}) AS (lang, n_docs)"),
    )


def quality_top_fraction(corpus: DataFrame, keep_frac: float = 0.6) -> DataFrame:
    """Rank-based quality filtering: keep the top ``keep_frac`` of
    documents BY QUALITY RANK within each predicted language (the
    budget-driven form of corpus filtering — an absolute threshold drifts
    as the mix changes; a rank cut spends a fixed token budget).

    percent_rank over (lang, quality desc, doc_id) — doc_id tie-break
    makes the cut total, so the kept set is partitioning- and
    engine-independent. One shuffle on lang_pred; at 100 TB the same cut
    runs as a per-language quantile estimate + filter, declared here via
    the exact window form.
    """
    scored = quality_score(corpus).join(
        lang_id(corpus).select("doc_id", "lang_pred"), "doc_id"
    )
    w = Window.partitionBy("lang_pred").orderBy(
        F.col("quality_score").desc(), "doc_id"
    )
    return (
        scored.withColumn("q_rank", F.percent_rank().over(w))
        .filter(F.col("q_rank") <= keep_frac)
        .select(
            "doc_id", "lang_pred", "quality_score",
            F.round("q_rank", 6).alias("q_rank"),
        )
    )


def quality_top_quantile(corpus: DataFrame, keep_frac: float = 0.6) -> DataFrame:
    """Quantile-threshold twin of :func:`quality_top_fraction` — the form
    that survives extreme per-language skew.

    The rank cut sorts every language partition (percent_rank window); one
    dominant language concentrates that sort on one shuffle partition. This
    twin instead computes the per-language (1 - keep_frac) order statistic
    with an AGGREGATE (no window sort), broadcasts the tiny per-language
    threshold table, and keeps docs scoring at-or-above it — two hash aggs
    + a broadcast-join filter, skew-immune. Kept set may differ from the
    rank cut only at tied/interpolated boundary scores (documented trade).

    ``percentile`` here is Spark's exact interpolated order statistic
    (== DuckDB quantile_cont, so the entry hash-matches); at 100 TB swap
    in approx_percentile's t-digest — same plan shape, bounded memory.
    """
    scored = quality_score(corpus).join(
        lang_id(corpus).select("doc_id", "lang_pred"), "doc_id"
    )
    p = 1.0 - keep_frac
    thr = scored.groupBy("lang_pred").agg(
        F.round(F.expr(f"percentile(quality_score, {p})"), 6).alias("q_thr")
    )
    return (
        scored.join(F.broadcast(thr), "lang_pred")
        .filter(F.col("quality_score") >= F.col("q_thr"))
        .select("doc_id", "lang_pred", "quality_score", "q_thr")
    )


def unigram_lm_score(corpus: DataFrame) -> DataFrame:
    """Unigram language-model scoring (the CCNet-style perplexity-proxy
    quality signal): each document's mean token log-probability under the
    corpus's own unigram distribution — low scores flag outlier/garbage
    documents for the training mix.

    Determinism across engines: a float sum's value depends on
    accumulation order, so per-token ln(p) is first quantized to integer
    MICRO-nats (round(ln(p) * 1e6) as bigint); the per-document sum is
    then exact integer arithmetic — order-independent — and only the
    final mean divides back to double. Token probabilities come from one
    hash agg over the exploded corpus; the doc join shuffles on token
    (vocabulary-sized side, not broadcastable at corpus scale).
    """
    tok = corpus.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    totals = tok.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    logp = vocab.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(F.log(F.col("tf") / F.col("n_total")) * 1e6)
        .cast("bigint")
        .alias("logp_micro"),
    )
    return (
        tc.join(logp, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("logp_micro")).alias("__sum_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("__sum_micro") / F.col("n_tokens") / F.lit(1e6), 6).alias(
                "mean_logp"
            ),
        )
    )


def bigram_lm_score(corpus: DataFrame) -> DataFrame:
    """Bigram language-model scoring — the next CCNet rung above
    :func:`unigram_lm_score`: each document's mean conditional
    log-probability ln P(w2|w1) = ln(c(w1,w2)/c(w1,*)) under the corpus's
    own bigram counts (self-scoring, so no unseen-bigram zeros and no
    smoothing parameter to pick).

    Same determinism contract as the unigram form: per-bigram ln(p)
    quantized to integer micro-nats, per-doc sums exact integer
    arithmetic, one final division. Two vocabulary-key shuffles (bigram
    counts, doc-bigram join) — the same shape text_bigram_pmi_topk
    already pays; docs with fewer than 2 tokens have no bigrams and are
    excluded (documented).
    """
    base = corpus.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i.cast("int")).alias("a"),
                    F.element_at(F.col("t"), (i + 1).cast("int")).alias("b"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    c_ab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    c_a = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    logp = c_ab.join(c_a, "a").select(
        "a",
        "b",
        F.round(F.log(F.col("c_ab") / F.col("c_a")) * 1e6)
        .cast("bigint")
        .alias("logp_micro"),
    )
    dc = pairs.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("c"))
    return (
        dc.join(logp, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("logp_micro")).alias("__sum_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("__sum_micro") / F.col("n_bigrams") / F.lit(1e6), 6
            ).alias("mean_logp"),
        )
    )


def bigram_pmi_topk(
    corpus: DataFrame, k: int = 50, min_count: int = 5
) -> DataFrame:
    """Collocation extraction: top-k adjacent token pairs by pointwise
    mutual information, PMI = ln(c_ab * N / (c_a * c_b)) — the phrase
    mining pass of a tokenizer/vocabulary pipeline (word2vec-style phrase
    joining).

    Ranking is on the 6-decimal rounded PMI with an (a, b) tie-break, so
    the TakeOrdered cut is total and engine-stable. Shapes: one explode +
    hash agg for bigram counts, one for unigrams; the two count joins
    shuffle on the token key (vocabulary-scale sides); N arrives via a
    one-row broadcast; the final cut is per-partition top-k heaps.
    """
    toks = F.col("__toks")  # materialized once — the re-tokenization trap
    size = F.size(toks)
    pairs_arr = F.when(
        size >= 2,
        F.transform(
            F.sequence(F.lit(1), size - 1),
            lambda i: F.struct(
                F.element_at(toks, i.cast("int")).alias("a"),
                F.element_at(toks, (i + 1).cast("int")).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pairs = (
        corpus.select(tokens(F.col("text")).alias("__toks"))
        .select(F.explode(pairs_arr).alias("p"))
        .select("p.a", "p.b")
    )
    c_ab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = pairs.select(F.col("a").alias("t")).unionAll(
        pairs.select(F.col("b").alias("t"))
    )
    # Unigram counts in bigram positions: each token's occurrences as a
    # left or right neighbor — the standard PMI denominator convention.
    c_t = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c_t"))
    n_total = pairs.groupBy().agg(F.count(F.lit(1)).alias("n_pairs"))
    scored = (
        c_ab.filter(F.col("c_ab") >= min_count)
        .join(c_t.select(F.col("t").alias("a"), F.col("c_t").alias("c_a")), "a")
        .join(c_t.select(F.col("t").alias("b"), F.col("c_t").alias("c_b")), "b")
        .crossJoin(F.broadcast(n_total))
        .select(
            "a",
            "b",
            "c_ab",
            # Convention: counts normalized by bigram total N and position
            # totals 2N -> constant offset vs other PMI conventions, which
            # cannot change the ranking.
            F.round(
                F.log(
                    F.col("c_ab") * F.lit(4.0) * F.col("n_pairs")
                    / (F.col("c_a") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "a", "b").limit(k)


SHARD_BUDGET = 4096  # tokens per training shard
PACK_BUCKET = 256    # doc_ids per prefix-sum bucket


def shard_pack(
    corpus: DataFrame, budget: int = SHARD_BUDGET, bucket_width: int = PACK_BUCKET
) -> DataFrame:
    """Token-budget shard packing — the training-data sharding step: docs
    in deterministic doc_id order are laid head-to-tail and each is
    assigned the shard its first token lands in (shard = start_offset
    DIV budget, the greedy sequential packing a sequence-packing loader
    performs).

    Scale shape — a TWO-LEVEL distributed prefix sum, never a global
    single-partition window: docs bucket by ``doc_id DIV bucket_width``;
    (1) the intra-bucket running sum is a window PARTITIONED by bucket
    (parallel across buckets); (2) bucket subtotals aggregate to one row
    per bucket and prefix-sum over that small relation (the only
    single-partition exchange touches ~N/bucket_width rows, and
    bucket_width is chosen so that stays driver-trivial at any N);
    (3) the per-bucket base offsets broadcast-join back. The pattern is
    the standard parallel scan decomposition (Blelloch); a naive
    ``Window.orderBy(doc_id)`` with no partition key would funnel the
    full corpus through one task.

    Output: (doc_id, n_tokens, start_offset, shard_id), all exact ints.
    """
    t = corpus.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        (F.col("doc_id").cast("bigint") - F.col("doc_id").cast("bigint") % bucket_width).alias(
            "bucket"
        ),
    )
    w_intra = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = t.withColumn("run_in_bucket", F.sum("n_tokens").over(w_intra))
    totals = t.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_total"))
    w_buckets = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("bucket_total").over(w_buckets), F.lit(0)).alias(
            "bucket_base"
        ),
    )
    return (
        intra.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("bucket_base") + F.col("run_in_bucket") - F.col("n_tokens")).alias(
                "start_offset"
            ),
        )
        .withColumn("shard_id", F.expr(f"start_offset DIV {budget}"))
    )


GOPHER_MIN_WORDS = 10  # paper uses 50; the synthetic docs are short
GOPHER_MAX_WORDS = 100_000


def gopher_quality_filter(corpus: DataFrame) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021 §A1.1, as reused by
    MassiveText/Dolma/FineWeb): per-doc boolean rules, all expressed as
    INTEGER comparisons so both engines agree bit-for-bit (e.g. the
    mean-word-length band 3..10 is ``3*n_words <= n_word_chars <=
    10*n_words``, never a float division). Single projection over the
    corpus — embarrassingly parallel, no shuffle at any scale.

    Rules kept (the ones meaningful on the synthetic corpus): word count
    in [10, 100k]; mean word length in [3, 10]; >= 80% of words purely
    alphabetic; >= 2 stopwords. Output: per-rule booleans + overall pass.
    """
    c = quality_counts(F.col("text"))
    r = gopher_rules(c)
    return corpus.select(
        "doc_id",
        c["n_words"].cast("bigint").alias("n_words"),
        r["word_count"].alias("pass_word_count"),
        r["mean_word_len"].alias("pass_mean_word_len"),
        r["alpha_ratio"].alias("pass_alpha_ratio"),
        r["stopwords"].alias("pass_stopwords"),
        (
            r["word_count"] & r["mean_word_len"] & r["alpha_ratio"] & r["stopwords"]
        ).alias("pass_all"),
    )


# Target mixture weights (tenths) for the mixture sampler — the
# data-mixing stage: downsample over-represented languages so the kept
# corpus approaches these char-budget proportions (upsampling is out of
# scope: rates cap at 1).
MIX_WEIGHTS = {"en": 4, "de": 2, "es": 2, "fr": 1, "zh": 1}


def sample_mixture(documents: DataFrame) -> DataFrame:
    """Deterministic mixture sampling (the Pile/ROOTS-style data-mixing
    stage): compute per-language char budgets, find the largest total
    budget B the binding language allows (B = min_s chars_s*10 DIV w_s),
    then keep each doc iff hash40(doc_id) mod 1e6 < the language's ppm
    rate. Everything is BIGINT floor arithmetic — both engines agree
    bit-for-bit — and the sampling key is the md5-backed hash40, so the
    kept set is a pure function of doc_id, independent of partitioning,
    ordering, or engine.

    Plan shape: one tiny per-lang agg, a 1-row budget agg broadcast back,
    a broadcast join onto the corpus, one filter — the corpus itself is
    touched by exactly one scan + one filter at any scale.
    """
    return apply_mixture(documents, mixture_rates(documents))


def mixture_rates(documents: DataFrame) -> DataFrame:
    """The sampling POLICY artifact: (lang, sample_ppm). A tiny per-lang
    agg + 1-row budget agg — in the live pipeline this is the static side
    of a stream-static join."""
    w = F.coalesce(
        *[
            F.when(F.col("lang") == lg, F.lit(wt))
            for lg, wt in MIX_WEIGHTS.items()
        ],
        F.lit(1),
    )
    per = (
        documents.groupBy("lang")
        .agg(F.sum("n_chars").alias("chars_s"))
        .withColumn("w", w)
    )
    budget = per.select(
        F.min(F.expr("chars_s * 10 DIV w")).alias("budget")
    )
    return per.crossJoin(F.broadcast(budget)).select(
        "lang",
        F.expr("(w * budget DIV 10) * 1000000 DIV chars_s").alias("sample_ppm"),
    )


def apply_mixture(docs: DataFrame, rates: DataFrame) -> DataFrame:
    """Stateless policy application (shared by the batch entry and the
    streaming ingestion twin): broadcast rate join + hash-threshold keep."""
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(
            hash40(F.col("doc_id").cast("string")) % 1_000_000
            < F.col("sample_ppm")
        )
        .select("doc_id", "lang", "n_chars", "sample_ppm")
    )


# --- round 7: retrieval + corpus-planning operators --------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ["data", "model", "quality"]  # fixed benchmark query terms


def bm25_topk(docs: DataFrame, query: list[str] | None = None, k: int = 20) -> DataFrame:
    """BM25 retrieval over the documents table (Robertson/Sparck Jones;
    the Lucene ``(1 + ln((N - df + 0.5)/(df + 0.5)))``-free variant using
    the classic ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf) — the scoring
    pass of a corpus search / contamination-lookup service.

    Scale shape: ONE explode + hash agg produces per-(doc, term) tf for
    the query terms only (the filter on the exploded token stream pushes
    the tiny term list into the scan side, so the shuffle carries
    |docs| x |query| rows at most); doc lengths ride the same exploded
    pass; N / avgdl / df are a 1-row + |query|-row bounded artifact
    broadcast back. Per-term scores are quantized to integer MICRO-units
    before the per-doc sum (float-order-proof, same convention as the LM
    scores), then one global top-k (TakeOrderedAndProject shape).

    Output: (doc_id, n_terms_hit, score, rank) — ties broken by doc_id.
    """
    agg = bm25_scores(docs, query).select(
        "doc_id",
        "n_terms_hit",
        F.round(F.col("bm25_micro") / F.lit(1e6), 6).alias("score"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "n_terms_hit", "score", "rank")
    )


def bm25_scores(docs: DataFrame, query: list[str] | None = None) -> DataFrame:
    """Raw per-doc BM25 hit scores for the query terms — the shared
    scoring pass behind :func:`bm25_topk` and the hybrid retrieval
    entry. Output: (doc_id, n_terms_hit, bm25_micro), docs with no term
    hit absent."""
    q = [t.lower() for t in (query or BM25_QUERY)]
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = tok.filter(F.col("token").isin(q))
    tf = hits.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "token",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                )
                * 1e6
            )
            .cast("bigint")
            .alias("s_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.sum("s_micro").cast("bigint").alias("bm25_micro"),
    )


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    LANGUAGE, split documents into head/middle/tail terciles by their
    unigram-LM mean log-probability — the standard corpus-quality
    partition a pretraining mix samples from (head oversampled, tail
    dropped or down-weighted).

    The LM score is :func:`unigram_lm_score` (integer micro-nat sums,
    float-order-proof); the tercile is an ``ntile(3)`` window PARTITIONED
    by lang (parallel across languages; each language's ordering is one
    in-partition sort, not a global one), ties broken by doc_id. The
    doc_id join of score x lang is fact-fact (both sides the corpus).
    """
    scored = unigram_lm_score(docs.select("doc_id", "text"))
    j = scored.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.col("mean_logp").desc(), F.col("doc_id"))
    t = j.withColumn("tercile", F.ntile(3).over(w))
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        "mean_logp",
        "tercile",
        F.when(F.col("tercile") == 1, F.lit("head"))
        .when(F.col("tercile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def token_length_histogram(docs: DataFrame) -> DataFrame:
    """Sequence-length planning histogram: per language, the distribution
    of document token counts in power-of-two buckets — what a packing /
    curriculum scheduler consults before choosing context length and
    shard budget. Bucket = floor(log2(n_tokens)) computed EXACTLY via the
    binary-representation length (``length(bin(n)) - 1``), never float
    log (no boundary misassignment at 2^k), empty docs in bucket -1.
    One projection + one hash agg; scales as a single pass."""
    t = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    bucket = F.when(F.col("n_tokens") <= 0, F.lit(-1)).otherwise(
        (F.length(F.bin(F.col("n_tokens"))) - 1).cast("bigint")
    )
    return (
        t.withColumn("len_bucket", bucket)
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


QUALITY_GATE_MIN_SCORE = 0.5


def quality_gate(docs: DataFrame) -> DataFrame:
    """Composed keep/drop gate — the single decision column a curation
    pipeline materializes before sampling: Gopher structural rules first
    (Rae et al. 2021 §A1.1, integer comparisons only), then the
    continuous quality-score threshold, with ``reject_reason`` = the
    FIRST failing rule (audit trail: reason histograms show which rule
    does the cutting on each slice).

    One projection over (doc_id, text, lang) — all rules and the score
    are computed in the same pass (no joins between rule families), so
    the gate costs exactly one corpus scan at any scale, same as
    :func:`gopher_quality_filter`. Rules and score come from the SHARED
    builders (:func:`quality_counts` / :func:`gopher_rules` /
    :func:`quality_score_col`), so the three quality operators cannot
    drift apart. The score is NULL for empty docs (guarded divisions);
    such docs always fail the word_count rule first, so the low_quality
    comparison never consults a NULL score.
    """
    c = quality_counts(F.col("text"))
    r = gopher_rules(c)
    score = quality_score_col(c)
    reason = (
        F.when(~r["word_count"], F.lit("word_count"))
        .when(~r["mean_word_len"], F.lit("mean_word_len"))
        .when(~r["alpha_ratio"], F.lit("alpha_ratio"))
        .when(~r["stopwords"], F.lit("stopwords"))
        .when(score < F.lit(QUALITY_GATE_MIN_SCORE), F.lit("low_quality"))
    )
    return docs.select(
        "doc_id",
        "lang",
        c["n_words"].cast("bigint").alias("n_words"),
        score.alias("quality_score"),
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
    )


# fastText-style hashed-ngram linear classifier (Joulin et al. 2016;
# the CCNet / LLaMA "quality classifier" shape): unigram + bigram
# features hashed into FT_BUCKETS, a linear weight per bucket, score =
# sum of feature weights. Weights here are derived deterministically
# from the bucket id via the shared hash40 (a stand-in for a trained
# weight vector — the PLAN is the product: at 100 TB the real weights
# arrive as one broadcast literal array and the shape is identical).
FT_BUCKETS = 4096
FT_W_MOD = 2001  # weight(b) = hash40('w_' || b) % 2001 - 1000, in [-1000, 1000]


def _ft_weight(feature: Column) -> Column:
    """Integer micro-unit weight of one feature string: hash the feature
    into a bucket (the fastText hashing trick), hash the bucket id into a
    deterministic pseudo-weight."""
    bucket = hash40(feature) % FT_BUCKETS
    return hash40(F.concat(F.lit("w_"), bucket.cast("string"))) % FT_W_MOD - 1000


def _ft_feats(text_col: Column) -> Column:
    """The shared fastText feature array: unigrams + space-joined
    bigrams (hashed downstream into FT_BUCKETS)."""
    toks = tokens(text_col)
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def fasttext_score(docs: DataFrame) -> DataFrame:
    """Per-doc linear classifier score over hashed unigram+bigram
    features — zero shuffle, zero explode: the feature arrays, bucket
    hashes, and weight sum all live inside ONE projection (aggregate()
    over the token array), so the classifier costs exactly one corpus
    scan at any scale. All-integer micro-unit arithmetic -> the score is
    engine- and partitioning-independent.

    The weights here are hash-derived pseudo-weights (the STRUCTURAL
    twin); the trained form is :func:`fasttext_fit` +
    :func:`fasttext_score_trained`.
    """
    feats = _ft_feats(F.col("text"))
    score_sum = F.aggregate(
        feats,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + _ft_weight(t),
    )
    # Two-step select: the md5-per-feature fold materializes ONCE, then
    # label_keep reads the column (interpreted HOFs have no
    # common-subexpression sharing — referencing score_sum twice in one
    # projection would run the whole fold twice per row).
    return docs.select(
        "doc_id",
        "lang",
        F.size(feats).cast("bigint").alias("n_feats"),
        score_sum.alias("score_sum"),
    ).select(
        "doc_id",
        "lang",
        "n_feats",
        "score_sum",
        (F.col("score_sum") > 0).cast("int").alias("label_keep"),
    )


def _gopher_pass(text_col: Column) -> Column:
    """The composed Gopher pass/fail boolean — the weak label the
    trainable classifier fits against (gopher-pass = positive)."""
    r = gopher_rules(quality_counts(text_col))
    return (
        r["word_count"] & r["mean_word_len"] & r["alpha_ratio"] & r["stopwords"]
    )


def fasttext_fit(docs: DataFrame) -> DataFrame:
    """One-pass distributed fit of the hashed linear classifier:
    per-bucket Naive-Bayes log-odds from Gopher-pass/fail WEAK labels
    (the fastText supervised recipe with rule-based labels, the
    CCNet/FineWeb bootstrap posture).

    w(b) = ln((n_pos_b + 1)/(N_pos + B)) - ln((n_neg_b + 1)/(N_neg + B)),
    in integer micro-units with every ln running on an exact integer, so
    both engines agree bit-for-bit (the LM-score convention). Plan: one
    feature explode + one hash agg to <= FT_BUCKETS rows; the totals
    window runs over that bounded frame, never the corpus.
    """
    # Two-step select (the interpreted-HOF lesson, explode edition):
    # ExtractGenerator hoists sibling expressions ABOVE the Generate, so
    # a gopher fold written next to explode() would re-evaluate per
    # FEATURE INSTANCE (measured 44 s at sf0.1). Materialize the weak
    # label as a plain column first; the upper project then carries a
    # cheap reference per exploded row (0.9 s).
    labeled = docs.select(
        _gopher_pass(F.col("text")).alias("pos"), "text"
    )
    fe = labeled.select(
        "pos", F.explode(_ft_feats(F.col("text"))).alias("t")
    ).select(
        "pos", (hash40(F.col("t")) % FT_BUCKETS).alias("bucket")
    )
    agg = fe.groupBy("bucket").agg(
        F.sum(F.col("pos").cast("bigint")).cast("bigint").alias("n_pos"),
        F.sum((~F.col("pos")).cast("bigint")).cast("bigint").alias("n_neg"),
    )
    w_tot = Window.partitionBy()  # over the <= FT_BUCKETS-row frame
    np_t = F.sum("n_pos").over(w_tot)
    nn_t = F.sum("n_neg").over(w_tot)
    return agg.select(
        "bucket",
        "n_pos",
        "n_neg",
        F.round(
            (
                F.log(F.col("n_pos") + 1)
                - F.log(np_t + FT_BUCKETS)
                - F.log(F.col("n_neg") + 1)
                + F.log(nn_t + FT_BUCKETS)
            )
            * 1e6
        )
        .cast("bigint")
        .alias("w_micro"),
    )


def _ft_score_cols(
    docs: DataFrame,
    weights: list[int],
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """(doc_id, lang, n_feats, score_micro[, extra...]) under a dense
    weight vector — the shared zero-shuffle scoring projection (one array
    literal, one fold; the two-step select is the interpreted-HOF CSE
    lesson: the fold materializes once, downstream columns read it).
    ``extra`` columns (e.g. the weak label, also a pure function of text)
    ride the SAME projection so consumers never pay a doc_id self-join."""
    w_arr = F.lit(weights)
    feats = _ft_feats(F.col("text"))
    score = F.aggregate(
        feats,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.element_at(w_arr, (hash40(t) % FT_BUCKETS + 1).cast("int")),
    )
    return docs.select(
        "doc_id",
        "lang",
        F.size(feats).cast("bigint").alias("n_feats"),
        score.alias("score_micro"),
        *[c.alias(n) for n, c in (extra or {}).items()],
    )


def fit_model(docs: DataFrame, cache_key: tuple = ()) -> tuple[list[int], int]:
    """The trained model as a bounded driver-side artifact: (dense
    FT_BUCKETS-long micro-unit weight vector, decision bias). Unseen
    buckets get the smoothed prior ln((N_neg+B)/(N_pos+B)).

    The bias calibrates the imbalanced weak labels (a raw ``sum > 0``
    cut predicts the majority class): it is the midpoint of the two
    classes' mean per-FEATURE scores — per-doc mean = score DIV n_feats
    (truncating integer division on BOTH engines), per-class averages in
    one bounded 2-row agg, midpoint floored from exact-integer inputs so
    Python, Spark and DuckDB produce the identical integer.

    Collects are <= FT_BUCKETS rows + 2 rows; memoized per (session,
    plan, params) in the simsearch artifact session table, so the fit +
    score entries in one session pay the fit once."""
    from . import simsearch

    def build() -> tuple[list[int], int]:
        import math

        rows = fasttext_fit(docs).collect()
        np_t = sum(r.n_pos for r in rows)
        nn_t = sum(r.n_neg for r in rows)
        default = round(
            (math.log(nn_t + FT_BUCKETS) - math.log(np_t + FT_BUCKETS)) * 1e6
        )
        dense = [default] * FT_BUCKETS
        for r in rows:
            dense[r.bucket] = r.w_micro
        # Calibration pass: per-class mean of per-doc mean-feature scores
        # (the weak label rides the scoring projection — no self-join).
        per_class = {
            r.pos: (r.s, r.c)
            for r in _ft_score_cols(
                docs, dense, extra={"pos": _gopher_pass(F.col("text"))}
            )
            .filter(F.col("n_feats") > 0)
            .select(
                "pos",
                F.expr("score_micro DIV n_feats").alias("m"),
            )
            .groupBy("pos")
            .agg(
                F.sum("m").cast("bigint").alias("s"),
                F.count(F.lit(1)).cast("bigint").alias("c"),
            )
            .collect()
        }
        if True not in per_class or False not in per_class:
            return dense, 0  # degenerate single-class corpus: raw cut
        sp, cp = per_class[True]
        sn, cn = per_class[False]
        bias = math.floor(
            (float(sp) / float(cp) + float(sn) / float(cn)) / 2
        )
        return dense, bias

    return simsearch._artifact(
        docs.sparkSession, docs, "ft_model", cache_key, build
    )


def fit_weights_dense(docs: DataFrame, cache_key: tuple = ()) -> list[int]:
    return fit_model(docs, cache_key)[0]


def fasttext_score_trained(
    docs: DataFrame, model: tuple[list[int], int] | None = None
) -> DataFrame:
    """Score with the TRAINED model (self-trained on ``docs``'s own
    Gopher weak labels unless an explicit (weights, bias) is passed):
    same zero-shuffle one-projection shape as :func:`fasttext_score`,
    with the model riding the plan as ONE dense array literal + one bias
    literal (the Bloom-words posture — a 4096-int broadcast-sized
    artifact, never a join). label_keep compares the per-feature mean
    score against the calibrated bias via an integer cross-multiply
    (score > bias * n_feats), so no division touches the hot path."""
    if model is None:
        model = fit_model(docs)
    weights, bias = model
    return _ft_score_cols(docs, weights).select(
        "doc_id",
        "lang",
        "n_feats",
        "score_micro",
        (F.col("score_micro") > F.lit(bias) * F.col("n_feats"))
        .cast("int")
        .alias("label_keep"),
    )


def fasttext_calibration(
    docs: DataFrame, model: tuple[list[int], int] | None = None
) -> DataFrame:
    """Per-language calibration table for the trained classifier: how
    often the learned label agrees with the Gopher weak label it was
    trained on, sliced by ``lang`` — the drift/QA report a team keeps
    next to any weak-supervision classifier (a language whose agreement
    sags is where the rules and the model disagree and a human looks).

    Both the prediction and the weak label are pure functions of text,
    so the whole table is ONE scoring projection + one |langs|-row agg —
    no self-join, no second corpus scan."""
    if model is None:
        model = fit_model(docs)
    weights, bias = model
    scored = _ft_score_cols(
        docs, weights, extra={"pos": _gopher_pass(F.col("text"))}
    ).select(
        "lang",
        (F.col("score_micro") > F.lit(bias) * F.col("n_feats"))
        .cast("int")
        .alias("pred"),
        F.col("pos").cast("int").alias("weak"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("pred").cast("bigint").alias("n_pred_keep"),
            F.sum("weak").cast("bigint").alias("n_weak_pass"),
            F.sum((F.col("pred") == F.col("weak")).cast("int"))
            .cast("bigint")
            .alias("n_agree"),
        )
        .select(
            "lang",
            "n_docs",
            "n_pred_keep",
            "n_weak_pass",
            "n_agree",
            F.expr("n_agree * 1000000 DIV n_docs").alias("agree_ppm"),
        )
    )


OOV_VOCAB_K = 200


def oov_rate(corpus: DataFrame, v: int = OOV_VOCAB_K) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus's own top-``v``
    vocabulary — the tokenizer-coverage diagnostic run before committing
    a vocab (docs with high OOV ppm are the ones a tokenizer will
    shred into bytes).

    The vocabulary is the bounded artifact (``v`` rows, the vocab_topk
    cut), broadcast into a left join against the exploded tokens; one
    shuffle for the per-doc re-agg. Docs with zero tokens have no rows to
    aggregate and drop out — same on both engines."""
    vocab = vocab_topk(corpus, v).select(
        "token", F.lit(1).alias("__in_vocab")
    )
    tok = corpus.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 DIV n_tokens").alias("oov_ppm"),
        )
    )


def packing_stats(corpus: DataFrame, budget: int = SHARD_BUDGET) -> DataFrame:
    """Per-shard packing efficiency over :func:`shard_pack`'s assignment:
    docs, tokens, and fill ppm against the token budget — the report that
    tells a training run how much sequence padding it is about to pay.
    A doc is charged to the shard its FIRST token lands in (the greedy
    packer's rule), so interior shards can exceed budget by at most one
    doc's tail; the fill column makes that overhang visible.

    One bounded re-agg over the packing output: |shards| rows."""
    return (
        shard_pack(corpus, budget)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select(
            "shard_id",
            "n_docs",
            "n_tokens",
            F.expr(f"n_tokens * 1000000 DIV {budget}").alias("fill_ppm"),
        )
    )


MIX_PLAN_BUDGET_TENTHS = 5  # plan for a corpus half the current token count


def mix_planner(docs: DataFrame) -> DataFrame:
    """Quality-greedy domain mix planner (the budget-allocation half of a
    DoReMi-style mixing pass, with measured quality standing in for the
    learned domain weights): rank sources by mean quality, walk the
    ranking granting each source its full token count until the global
    budget (half the corpus) runs out, give the marginal source the
    remainder, and emit per-source sampling ppm.

    Every step is integer arithmetic over the |sources|-row frame: the
    corpus is touched by exactly one scan + one per-source agg; ranking,
    cumulative grant and ppm are windows over sources. The multiplies
    run in decimal(38,0) (the source_stats overflow posture)."""
    c = quality_counts(F.col("text"))
    # round BEFORE the bigint cast: Spark's double->bigint cast truncates
    # while DuckDB's rounds, so the explicit round (positive scores:
    # HALF_UP == half-away-from-zero) is what makes the micro value
    # engine-identical.
    q_micro = F.coalesce(
        F.round(quality_score_col(c) * 1e6).cast("bigint"), F.lit(-1)
    )
    per = (
        docs.select(
            "source",
            F.size(tokens(F.col("text"))).cast("bigint").alias("n_toks"),
            q_micro.alias("q_micro"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.sum("q_micro").cast("bigint").alias("q_sum"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("q_sum DIV n_docs").cast("bigint").alias("q_micro_avg"),
        )
    )
    w_rank = Window.orderBy(F.col("q_micro_avg").desc(), "source")
    w_all = Window.partitionBy()
    ranked = per.select(
        "*",
        F.row_number().over(w_rank).alias("rank"),
        F.sum("n_tokens").over(w_all).alias("__total"),
        F.coalesce(
            F.sum("n_tokens").over(
                Window.orderBy(F.col("q_micro_avg").desc(), "source").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("__cum_before"),
    )
    budget = F.expr(
        f"CAST(__total AS DECIMAL(38,0)) * {MIX_PLAN_BUDGET_TENTHS} DIV 10"
    )
    take = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("n_tokens"), (budget - F.col("__cum_before")).cast("bigint")),
    )
    return ranked.select(
        "source",
        "n_docs",
        "n_tokens",
        "q_micro_avg",
        "rank",
        take.alias("take_tokens"),
    ).select(
        "*",
        F.expr(
            "CAST(take_tokens AS DECIMAL(38,0)) * 1000000 DIV n_tokens"
        ).alias("sample_ppm"),
    )


def source_stats(docs: DataFrame) -> DataFrame:
    """Per-source corpus health report — the per-domain accounting table
    every crawl curation pass maintains (docs, tokens, exact-dup rate,
    language spread, share of the corpus token budget).

    Two-level aggregation: (source, text_hash) partial counts first (the
    wide shuffle, map-side combined), then the per-source rollup plus a
    window total for the corpus share — the window runs over the
    per-source frame (|sources| rows), never the corpus. Language spread
    joins in from its own tiny agg. Everything lands as BIGINT / ppm
    integers so both engines agree bit-for-bit."""
    per_text = (
        docs.select(
            "source",
            F.md5(F.col("text")).alias("text_hash"),
            F.size(tokens(F.col("text"))).cast("bigint").alias("n_toks"),
        )
        .groupBy("source", "text_hash")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("n_toks").alias("tok_sum"),
        )
    )
    per_source = per_text.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct_texts"),
        (F.sum("c") - F.count(F.lit(1))).cast("bigint").alias("n_dup_docs"),
        F.sum("tok_sum").cast("bigint").alias("total_tokens"),
    )
    langs = docs.groupBy("source").agg(
        F.countDistinct("lang").alias("n_langs")
    )
    return (
        per_source.join(langs, "source")
        .select(
            "source",
            "n_docs",
            "n_distinct_texts",
            "n_dup_docs",
            F.expr("n_dup_docs * 1000000 DIV n_docs").alias("dup_ppm"),
            "total_tokens",
            # The share multiply runs in decimal(38,0): BIGINT
            # total_tokens * 1e6 overflows int64 once the corpus holds
            # ~9.2e12 tokens (well under 100 TB of text), and the ANSI-on
            # session turns that into a hard error — the same overflow
            # class sinks.zorder_write routes through decimal.
            F.expr(
                "CAST(total_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV sum(CAST(total_tokens AS DECIMAL(38,0))) OVER ()"
            ).alias("token_share_ppm"),
            F.col("n_langs").cast("bigint").alias("n_langs"),
        )
    )


# Deterministic held-out split (train/val/test): hash-keyed so membership
# is a pure function of doc_id — stable across reruns, partitionings and
# engines, and any doc's split is computable without a lookup table.
SPLIT_TEST_PPM = 10_000  # 1%
SPLIT_VAL_PPM = 10_000  # 1%


def leakage_safe_split(docs: DataFrame) -> DataFrame:
    """Held-out split keyed on the CONTENT hash, not the doc id: exact
    clones land in the same split by construction, so an eval set can
    never contain a verbatim copy of a training document — the
    train/test-leakage failure mode a doc_id-keyed split
    (:func:`train_val_test_split`) cannot prevent on a deduplicated-late
    corpus. Same thresholds as the id-keyed split; still one projection,
    zero shuffle, membership a pure function of text."""
    key = (
        hash40(F.concat(F.lit("split_"), F.md5(F.col("text")))) % 1_000_000
    )
    split = (
        F.when(key < SPLIT_TEST_PPM, F.lit("test"))
        .when(key < SPLIT_TEST_PPM + SPLIT_VAL_PPM, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_hash"),
        key.alias("split_key"),
        split.alias("split"),
    )


def train_val_test_split(docs: DataFrame) -> DataFrame:
    """Per-doc split assignment — one projection, zero shuffle. The key
    is salted ('split_' prefix) so it is independent of every other
    hash40 decision keyed on doc_id (e.g. the mixture keep threshold);
    correlated splits would leak the sampling policy into the held-out
    sets."""
    key = (
        hash40(F.concat(F.lit("split_"), F.col("doc_id").cast("string")))
        % 1_000_000
    )
    split = (
        F.when(key < SPLIT_TEST_PPM, F.lit("test"))
        .when(key < SPLIT_TEST_PPM + SPLIT_VAL_PPM, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.select(
        "doc_id", "lang", key.alias("split_key"), split.alias("split")
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID quality diagnostic: the (true lang, predicted lang)
    confusion matrix with per-truth share — how often the classifier
    mislabels each language (the calibration table a curation team reads
    before trusting per-language budgets). Zero joins: truth and
    prediction live in the same row, so this is one projection + one
    hash agg + a window over the |langs x preds| matrix."""
    t = docs.select("lang", lang_pred_col(F.col("text")).alias("lang_pred"))
    m = t.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    return m.select(
        "lang",
        "lang_pred",
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CAST(n * 1000000 DIV sum(n) OVER (PARTITION BY lang) AS BIGINT)"
        ).alias("share_ppm"),
    )


def quality_reasons_by_source(docs: DataFrame) -> DataFrame:
    """Curation audit table: which gate rule does the cutting on each
    source — the reject_reason histogram per source slice the composed
    quality gate exists to feed. Same single-projection rule builders as
    :func:`quality_gate` (no drift possible), one hash agg, a window
    over the |sources x reasons| frame for the ppm share."""
    c = quality_counts(F.col("text"))
    r = gopher_rules(c)
    score = quality_score_col(c)
    reason = (
        F.when(~r["word_count"], F.lit("word_count"))
        .when(~r["mean_word_len"], F.lit("mean_word_len"))
        .when(~r["alpha_ratio"], F.lit("alpha_ratio"))
        .when(~r["stopwords"], F.lit("stopwords"))
        .when(score < F.lit(QUALITY_GATE_MIN_SCORE), F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    t = docs.select("source", reason.alias("reason"))
    m = t.groupBy("source", "reason").agg(F.count(F.lit(1)).alias("n"))
    return m.select(
        "source",
        "reason",
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CAST(n * 1000000 DIV sum(n) OVER (PARTITION BY source) AS BIGINT)"
        ).alias("share_ppm"),
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-doc Shannon character entropy in integer micro-nats — the
    randomness/garbage detector (binary blobs and key dumps score high,
    natural text ~2.5-4.5 nats, repeated filler near 0) a curation pass
    runs beside the Gopher rules.

    H = ln(n) - sum(c * ln c)/n over exact character counts, so the
    doubles fed to ln are identical integers on both engines and the
    micro-round matches bit-for-bit (the LM-score convention). One
    char explode + two hash aggs keyed by doc_id — no skew beyond a
    doc's own alphabet.

    Unicode note: ``F.split(text, '')`` is code-POINT-safe on this
    engine (Java regex zero-width splits cannot land inside a surrogate
    pair), so non-BMP characters stay whole and match DuckDB's
    per-character ``string_split`` — pinned on an astral-plane string by
    ``test_char_entropy_astral_parity``."""
    chars = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), ""), lambda c: c != "")
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_chars"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("_clc"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_distinct_chars",
            F.round(
                (F.log(F.col("n_chars")) - F.col("_clc") / F.col("n_chars"))
                * 1e6
            )
            .cast("bigint")
            .alias("entropy_micro_nats"),
        )
    )


# --- DSIR: Data Selection via Importance Resampling (Xie et al. 2023) --------
# The domain-matching data-selection pass a pretraining pipeline runs
# after dedup/quality: score every raw document by how much more likely
# its hashed n-gram features are under a TARGET domain than under the
# raw pool, then keep the top fraction. Same hashed-feature machinery
# as fasttext_fit (per-bucket counts, every ln on an exact integer,
# micro-nat quantization) but with an unsupervised target/raw split and
# a per-document importance WEIGHT instead of a classifier.

DSIR_BUCKETS = 4096
DSIR_TARGET_LANG = "en"  # the target-domain slice for the fixtures
DSIR_QUANTILE = 0.75  # keep the top quarter by importance weight


def dsir_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, dsir_weight_micro) — importance weight in integer
    micro-nats: weight(d) = sum over token instances of
    ln p_target(bucket) - ln p_raw(bucket), add-one smoothed over
    ``DSIR_BUCKETS`` hashed unigram buckets.

    Scale shape: one token explode -> one hash agg to <= DSIR_BUCKETS
    rows; the totals are a 1-row broadcast; the per-bucket log-ratio
    joins back as a broadcast and the per-doc sum is the ONE data-sized
    shuffle (doc_id). The log-ratio is quantized per BUCKET (<= 4096
    roundings), so the per-document sum is exact integer arithmetic —
    order-independent across engines and partitionings (the LM-score
    convention)."""
    fe = docs.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).alias("tgt"),
        F.explode(tokens(F.col("text"))).alias("t"),
    ).select(
        "doc_id", "tgt", (hash40(F.col("t")) % DSIR_BUCKETS).alias("bucket")
    )
    stats = fe.groupBy("bucket").agg(
        F.sum(F.col("tgt").cast("bigint")).alias("n_tgt"),
        F.count(F.lit(1)).alias("n_raw"),
    )
    totals = stats.agg(
        F.sum("n_tgt").alias("nt"), F.sum("n_raw").alias("nr")
    )
    lr = (
        stats.crossJoin(F.broadcast(totals))  # 1-row artifact
        .select(
            "bucket",
            F.round(
                (
                    F.log(F.col("n_tgt") + 1)
                    - F.log(F.col("nt") + DSIR_BUCKETS)
                    - F.log(F.col("n_raw") + 1)
                    + F.log(F.col("nr") + DSIR_BUCKETS)
                )
                * 1e6
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )
    return (
        fe.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("lr_micro").alias("dsir_weight_micro"))
    )


def dsir_select(docs: DataFrame) -> DataFrame:
    """DSIR selection report: every document with its importance weight
    and a ``selected`` flag for the top ``1 - DSIR_QUANTILE`` fraction.
    The cut is the quantile-threshold pattern (exact percentile
    aggregate -> 1-row broadcast -> one projection; Spark percentile ==
    DuckDB quantile_cont, the pinned parity) — no global sort, no
    unpartitioned window, same skew-immunity argument as
    text_quality_top_quantile. Token-less documents carry weight 0 and
    participate in the threshold like everything else."""
    w = (
        docs.select("doc_id", "lang", "source")
        .join(dsir_weights(docs), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.coalesce(F.col("dsir_weight_micro"), F.lit(0))
            .cast("bigint")
            .alias("dsir_weight_micro"),
        )
    )
    thr = w.agg(
        F.expr(
            f"percentile(dsir_weight_micro, {DSIR_QUANTILE})"
        ).alias("thr")
    )
    return w.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "lang",
        "source",
        "dsir_weight_micro",
        (F.col("dsir_weight_micro") >= F.col("thr")).cast("int").alias("selected"),
    )


# --- deterministic global shuffle (training-order randomization) -------------

SHUFFLE_EPOCH_SALT = "epoch-0"  # vary per epoch for a fresh permutation
SHUFFLE_N_SHARDS = 8


def shuffle_shards(
    corpus: DataFrame,
    salt: str = SHUFFLE_EPOCH_SALT,
    n_shards: int = SHUFFLE_N_SHARDS,
) -> DataFrame:
    """Deterministic global shuffle into training shards — the
    randomize-example-order pass every LLM training run needs, as a
    reproducible permutation instead of an unseedable shuffle: each doc
    gets a pseudo-random key h = hash40(salt || doc_id), its shard is
    h % n_shards, and its position within the shard is the h-order rank
    (doc_id tie-break for totality). Changing ``salt`` re-permutes the
    whole corpus (one string per epoch); re-running with the same salt
    reproduces the same order bit-for-bit — resumable training.

    Scale shape: ONE hash-partition shuffle on the shard key + an
    in-partition sort (the terasort recipe) — rank is a
    Window.partitionBy(shard) row_number, never a global sort; shards
    are statistically balanced by the uniform hash (|corpus|/n_shards
    +- sqrt), so no shard becomes a straggler task."""
    h = hash40(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    keyed = corpus.select("doc_id", h.alias("h")).select(
        "doc_id", "h", (F.col("h") % n_shards).cast("int").alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# --- passage-level duplication audit -----------------------------------------

CHUNK_DUP_SIZE = 32  # non-overlapping training-window grain


def chunk_dup_stats(corpus: DataFrame, chunk_size: int = CHUNK_DUP_SIZE) -> DataFrame:
    """Passage-level duplication audit (the RefinedWeb/C4 curation
    signal): chunk every document into NON-overlapping training-window
    token pieces (:func:`chunk_tokens` with overlap 0 — the grain a
    packer actually emits), hash each chunk, and per document report how
    many of its chunks also occur in at least one OTHER document.
    Doc-level dedup cannot see boilerplate shared across
    otherwise-distinct pages, and the n-gram span op works at a finer
    grain than a training window — this is the per-document
    "how much of it is recycled passages" number a quality funnel cuts
    on.

    Scale shape: the chunker is a shuffle-free explode; sharedness is
    one hash agg on the chunk hash (count of distinct docs per hash —
    bounded two-level agg) joined back on the SAME hash key (partition
    reuse, no extra exchange class), then one doc_id agg. dup share in
    exact integer ppm."""
    chunks = chunk_tokens(corpus, chunk_size=chunk_size, overlap=0).select(
        "doc_id", F.md5(F.col("chunk_text")).alias("h")
    )
    docs_per_hash = chunks.groupBy("h").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(docs_per_hash, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            F.expr("n_shared_chunks * 1000000 DIV n_chunks").alias(
                "chunk_dup_ppm"
            ),
        )
    )


# keep-first instance encoding: doc_id * CHUNK_INST_BASE + chunk_idx.
# Exact while chunk_idx < CHUNK_INST_BASE (1e6 chunks x 32 tokens = a
# 32M-token document bound) and doc_id < 2^63 / 1e6 (~9.2e12) — both
# documented corpus contracts, far above any real page.
CHUNK_INST_BASE = 1_000_000


def chunk_dedup_rewrite(
    corpus: DataFrame, chunk_size: int = CHUNK_DUP_SIZE
) -> DataFrame:
    """Corpus-wide keep-first passage dedup + document REWRITE (the
    C4/RefinedWeb curation action the audit :func:`chunk_dup_stats`
    only measures): chunk every document into non-overlapping
    training-window pieces, keep exactly the FIRST instance of every
    distinct chunk corpus-wide (first = smallest (doc_id, chunk_idx),
    encoded as one bigint so the arbitration is a plain MIN), drop the
    rest, and reassemble each document from its surviving chunks in
    order. Returns per doc: kept/dropped accounting and the rewritten
    text ('' when every passage was recycled from earlier docs — the
    row survives so the funnel can count fully-boilerplate pages).

    Scale shape: shuffle-free explode -> one hash agg on the chunk hash
    (map-side-combinable MIN — never a collect_list of instances) ->
    join back on the SAME hash key (partition reuse) -> one doc_id agg
    whose per-group state is bounded by the document's own length (the
    reassembly list is the document). Keep-first across the whole
    corpus is a global property with no global sort anywhere.
    """
    chunks = chunk_tokens(corpus, chunk_size=chunk_size, overlap=0).select(
        "doc_id",
        "chunk_idx",
        "chunk_text",
        F.md5(F.col("chunk_text")).alias("h"),
        (F.col("doc_id") * CHUNK_INST_BASE + F.col("chunk_idx")).alias(
            "inst"
        ),
    )
    first = chunks.groupBy("h").agg(F.min("inst").alias("first_inst"))
    tagged = chunks.join(first, "h").withColumn(
        "kept", F.col("inst") == F.col("first_inst")
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"),
                                F.struct("chunk_idx", "chunk_text"),
                            )
                        )
                    ),
                    lambda x: x["chunk_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            (F.col("n_chunks") - F.col("n_kept"))
            .cast("bigint")
            .alias("n_dropped"),
            "clean_text",
        )
    )


# Per-token-uniform document sampling: P(keep doc) = min(1, n_tokens/CAP),
# so every TOKEN in the corpus has the same chance its document survives
# — the unbiased way to cut a token budget when sampling whole documents
# (uniform doc sampling over-represents short docs' tokens). CAP is the
# length at which documents are always kept.
TOKEN_WEIGHT_CAP = 96


def sample_token_weighted(
    corpus: DataFrame, cap: int = TOKEN_WEIGHT_CAP
) -> DataFrame:
    """Length-proportional (token-weighted) Bernoulli document sample,
    integer-exact: keep iff ``hash40('tws_'||doc_id) * cap <
    n_tokens * 2^40`` — both sides bigint, no float probability ever
    computed, so engine and oracle agree on every keep/drop decision
    (not just the rate). Distinct from :func:`sample_stratified`
    (discrete per-group rates) and :func:`sample_mixture` (per-source
    char budgets): the weight here is a per-document CONTINUOUS value,
    the shape quality-proportional sampling takes at scale (swap
    n_tokens for any non-negative integer score).

    Scale: one projection + filter, no shuffle, no RNG state;
    re-weighting is a pure re-filter.
    """
    n_tok = F.size(tokens(F.col("text")))
    key = hash40(F.concat(F.lit("tws_"), F.col("doc_id").cast("string")))
    return (
        corpus.select(
            "doc_id",
            n_tok.cast("bigint").alias("n_tokens"),
            key.alias("sample_key"),
        )
        .filter(
            F.col("sample_key") * F.lit(cap)
            < F.col("n_tokens") * F.lit(1 << 40)
        )
    )
