"""Training-data ops B: BPE, retrieval, classifiers, sampling.

Split out of the monolithic api.py in round 12 — REGISTRATION ORDER
is preserved by the import order in registry/__init__.py; the
order-drift and driver-window gates (tests/test_driver_order.py)
verify it.
"""

from __future__ import annotations

from ._core import DataFrame, SparkSession, register, register_fixture  # noqa: F401
from .m03_joins import tables_mod  # noqa: F401
from .m06_training_text import (  # noqa: F401
    _CORPUS,
    _SHINGLES_CTE,
    _SHINGLE_LIST,
    _STOP_EN,
    _TOKS,
    _corpus,
    _csql,
    _emb,
    _emb_corpus,
    bpe,
    retrieval_op,
    simsearch,
    tables,
    text_analysis,
    text_dedup,
)
from ..session import scratch_dir  # noqa: E402

# BPE tokenizer induction (Sennrich 2016): merge learning on the bounded
# word-frequency table (hash-green since r13 — the full fit replays in
# DuckDB via bpe.merges_sql(); determinism + hand-computed merge sequence
# additionally pinned in tests/test_training_ops.py) and the distributed
# encode pass applying the learned merges corpus-wide (rows-only by
# design: the apply side is Python mapInPandas).
# Mixture sampling (data mixing): per-language char budgets -> binding-
# language total budget -> deterministic hash40 keep thresholds, all
# BIGINT floor arithmetic.
_MIX_W_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{lg}' THEN {wt}" for lg, wt in text_analysis.MIX_WEIGHTS.items())
    + " ELSE 1 END"
)
register(
    "corpus_sample_mixture",
    lambda spark, sf: text_analysis.sample_mixture(
        tables.load(spark, sf, "documents")
    ),
    f"""WITH per AS (
  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS chars_s, {_MIX_W_CASE} AS w
  FROM documents GROUP BY lang
),
b AS (SELECT min(chars_s * 10 // w) AS budget FROM per),
rates AS (
  SELECT lang, (w * budget // 10) * 1000000 // chars_s AS sample_ppm
  FROM per, b
)
SELECT d.doc_id, d.lang, d.n_chars, r.sample_ppm
FROM documents d JOIN rates r USING (lang)
WHERE {text_analysis.hash40_sql("CAST(d.doc_id AS VARCHAR)")} % 1000000
      < r.sample_ppm""",
)

# Contrastive training-pair mining: (anchor, positive, hard-negative)
# triplets — positive = exact NN, negatives = the close-but-not-nearest
# rank band (ANCE/DPR-style). EXACT baseline: pytest-only recall fixture
# since r8 (its scored pass is an unbounded crossJoin); the registered
# shape is simsearch_hard_negatives_ivf.
register_fixture(
    "simsearch_hard_negatives",
    lambda spark, sf: simsearch.hard_negative_triplets(_emb(spark, sf)),
    """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
ranked AS (
  SELECT q_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM (SELECT q_id, vec_id AS neighbor_id,
               round(list_cosine_similarity(qv, embedding::DOUBLE[]), 4)
                 AS cosine_sim
        FROM q CROSS JOIN embeddings WHERE q_id <> vec_id)
),
pos AS (SELECT q_id, neighbor_id AS pos_id, cosine_sim AS pos_sim
        FROM ranked WHERE rank = 1)
SELECT r.q_id, p.pos_id, p.pos_sim, r.neighbor_id AS neg_id,
       r.cosine_sim AS neg_sim, r.rank AS neg_rank
FROM ranked r JOIN pos p USING (q_id)
WHERE r.rank BETWEEN 11 AND 20""",
)

# The same miner riding the IVF index: candidate generation via the
# probed-cell bucket equi-join, band selection unchanged — the per-
# training-run shape (the exact fixture above is the one-time oracle
# baseline, pytest-only). Approximate vs FLAT truth (overlap + no-
# cartesian gates in pytest) but HASH-GREEN since r13 vs an oracle
# replaying the same IVF path (simsearch.ivf_candidates_sql, nprobe 12)
# with the identical band selection.
register(
    "simsearch_hard_negatives_ivf",
    lambda spark, sf: simsearch.hard_negative_triplets_ivf(_emb(spark, sf)),
    f"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS embedding
             FROM embeddings),
{simsearch.ivf_candidates_sql("emb", nprobe=12)},
ranked AS (
  SELECT q_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM cand
),
pos AS (SELECT q_id, neighbor_id AS pos_id, cosine_sim AS pos_sim
        FROM ranked WHERE rank = 1)
SELECT r.q_id, p.pos_id, p.pos_sim, r.neighbor_id AS neg_id,
       r.cosine_sim AS neg_sim, CAST(r.rank AS INTEGER) AS neg_rank
FROM ranked r JOIN pos p USING (q_id)
WHERE r.rank BETWEEN 11 AND 20""",
)

# SemDeDup (Abbas 2023): within-k-means-cluster greedy cosine dedup over
# the clone-expanded embedding corpus — rows-only (greedy sequential keep
# inside applyInPandas; clone-recall + determinism gates in pytest).
register(
    "dedup_embedding_semdedup",
    lambda spark, sf: simsearch.semdedup(_emb_corpus(spark, sf)),
)

# r13: hash-green — the oracle re-derives the WHOLE fit (word count ->
# bounded top-vocab_cap slice -> 24-step greedy merge loop) in DuckDB as
# a MATERIALIZED CTE chain; see bpe.merges_sql(). Nothing from the Spark
# fit is embedded, so this is a fully independent replay (stronger than
# the r12 embedded-artifact pattern).
register(
    "tokenizer_bpe_merges",
    lambda spark, sf: bpe.bpe_merges(_corpus(spark, sf)),
    _csql(bpe.merges_sql()),
)
# r13: hash-green — the oracle re-derives the merge table AND replays
# the encode pass (learned merges applied per distinct corpus word as a
# rank-ordered replace chain, joined to each doc's token multiset); see
# bpe.encode_sql(). The Spark side stays the scale path (Arrow
# mapInPandas, per-batch word cache).
register(
    "text_bpe_tokenize",
    lambda spark, sf: bpe.encode(_corpus(spark, sf)),
    _csql(bpe.encode_sql()),
)

# Token-budget shard packing (training-data sharding): greedy sequential
# layout in doc_id order via a TWO-LEVEL distributed prefix sum (the
# Blelloch scan decomposition) — never a global single-partition window.
_SHARD_PACK_SQL = f"""SELECT doc_id, n_tokens,
                   CAST(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens AS BIGINT) AS start_offset,
                   CAST((sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) // {text_analysis.SHARD_BUDGET} AS BIGINT)
                       AS shard_id
            FROM (SELECT doc_id,
                         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                  FROM corpus)"""

register(
    "corpus_shard_pack",
    lambda spark, sf: text_analysis.shard_pack(_corpus(spark, sf)),
    _csql(_SHARD_PACK_SQL),
)

# Deterministic global shuffle (r10): reproducible training-order
# permutation — shard by a salted hash, rank within shard by the hash
# (terasort shape: one hash shuffle + in-partition sort, no global
# sort). Same salt -> bit-identical order (resumable training); new
# salt -> fresh epoch permutation.
register(
    "corpus_shuffle_shards",
    lambda spark, sf: text_analysis.shuffle_shards(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id,
       CAST(h % {text_analysis.SHUFFLE_N_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
            PARTITION BY h % {text_analysis.SHUFFLE_N_SHARDS}
            ORDER BY h, doc_id) AS BIGINT) AS pos
FROM (SELECT doc_id,
             {text_analysis.hash40_sql(
                 "concat('" + text_analysis.SHUFFLE_EPOCH_SALT
                 + ":', CAST(doc_id AS VARCHAR))")} AS h
      FROM corpus)"""
    ),
)


# The product step after the packing arithmetic: write one JSONL file per
# shard directory (sinks.write_shards) and read the shards back — the
# on-disk layout a training loader mounts. The doc_id join of text x pack
# is fact-fact (both sides are the corpus; SMJ is the plan we want).
def _sink_corpus_shards(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import sinks

    base = scratch_dir(spark, "corpus_shards")
    pack = text_analysis.shard_pack(_corpus(spark, sf))
    sinks.write_shards(_corpus(spark, sf).join(pack, "doc_id"), base)
    return spark.read.schema(
        "doc_id bigint, text string, n_tokens bigint, "
        "start_offset bigint, shard_id bigint"
    ).json(base).select("doc_id", "text", "n_tokens", "start_offset", "shard_id")


register(
    "sink_corpus_shards_roundtrip",
    _sink_corpus_shards,
    _csql(
        f"""SELECT c.doc_id, c.text, p.n_tokens, p.start_offset, p.shard_id
            FROM corpus c JOIN ({_SHARD_PACK_SQL}) p ON c.doc_id = p.doc_id"""
    ),
)

# BM25 retrieval over the documents table (corpus search / contamination
# lookup): one explode + hash agg for tf over the query terms only,
# bounded df/N/avgdl artifacts broadcast back, per-term scores in integer
# micro-units (float-order-proof), one global top-k.
_BM25_TERMS = "(" + ", ".join(f"'{t}'" for t in text_analysis.BM25_QUERY) + ")"

# Shared BM25 scoring CTE chain (tok -> dl -> stats -> tf -> dft -> s):
# one definition behind both the BM25 entry and the hybrid fusion entry.
_BM25_S_CTES = f"""tok AS (SELECT doc_id, UNNEST({_TOKS}) AS token FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
       WHERE token IN {_BM25_TERMS} GROUP BY 1, 2),
dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
s AS (SELECT tf.doc_id,
             CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                  * (tf * {text_analysis.BM25_K1 + 1.0!r})
                  / (tf + {text_analysis.BM25_K1!r}
                     * ({1.0 - text_analysis.BM25_B!r}
                        + {text_analysis.BM25_B!r} * dl / avgdl))
                  * 1e6) AS BIGINT) AS s_micro
      FROM tf JOIN dft USING (token) JOIN dl USING (doc_id), stats)"""
register(
    "text_bm25_topk",
    lambda spark, sf: text_analysis.bm25_topk(
        tables.load(spark, sf, "documents")
    ),
    f"""WITH {_BM25_S_CTES}
SELECT doc_id, n_terms_hit, score,
       row_number() OVER (ORDER BY score DESC, doc_id) AS rank
FROM (SELECT doc_id, count(*) AS n_terms_hit,
             round(CAST(sum(s_micro) AS BIGINT) / 1e6, 6) AS score
      FROM s GROUP BY doc_id)
QUALIFY rank <= 20""",
)

# Hybrid sparse+dense retrieval: BM25 micro-units fused with cosine
# micro-units against the pinned query embedding — the production
# search shape (keyword recall + semantic similarity), one dense
# projection + the shared BM25 pass + one global top-k.
register(
    "retrieval_hybrid_topk",
    lambda spark, sf: retrieval_op.hybrid_topk(
        tables.load(spark, sf, "documents"), _emb(spark, sf)
    ),
    f"""WITH {_BM25_S_CTES},
sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
              CAST(sum(s_micro) AS BIGINT) AS bm25_micro
       FROM s GROUP BY doc_id),
dense AS (SELECT vec_id AS doc_id,
                 CAST(round(round(list_cosine_similarity(
                          embedding::DOUBLE[],
                          (SELECT embedding::DOUBLE[] FROM embeddings
                           WHERE vec_id = {retrieval_op.HYBRID_QUERY_VEC_ID})),
                      4) * 10000) AS BIGINT) * 100 AS cos_micro
          FROM embeddings),
fused AS (SELECT d.doc_id,
                 coalesce(n_terms_hit, 0) AS n_terms_hit,
                 coalesce(bm25_micro, 0) AS bm25_micro,
                 cos_micro,
                 coalesce(bm25_micro, 0) + cos_micro AS combined_micro
          FROM dense d LEFT JOIN sp USING (doc_id))
SELECT doc_id, n_terms_hit, bm25_micro, cos_micro, combined_micro,
       row_number() OVER (ORDER BY combined_micro DESC, doc_id) AS rank
FROM fused
QUALIFY rank <= 20""",
)

# CCNet perplexity bucketing: per-language head/middle/tail terciles of
# the unigram-LM score — the corpus-quality partition a pretraining mix
# samples from.
register(
    "corpus_perplexity_buckets",
    lambda spark, sf: text_analysis.perplexity_buckets(
        tables.load(spark, sf, "documents")
    ),
    f"""WITH tok AS (SELECT doc_id, UNNEST({_TOKS}) AS token FROM documents),
tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
tot AS (SELECT count(*) AS n_total FROM tok),
lp AS (SELECT token, CAST(round(ln(count(*) / (SELECT n_total FROM tot)) * 1e6)
                          AS BIGINT) AS logp_micro
       FROM tok GROUP BY token),
sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              round(CAST(sum(c * logp_micro) AS DOUBLE) / sum(c) / 1e6, 6)
                  AS mean_logp
       FROM tc JOIN lp USING (token) GROUP BY doc_id)
SELECT doc_id, lang, n_tokens, mean_logp, tercile,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS ppl_bucket
FROM (SELECT d.doc_id, d.lang, sc.n_tokens, sc.mean_logp,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY sc.mean_logp DESC, d.doc_id) AS tercile
      FROM sc JOIN documents d USING (doc_id))""",
)

# Sequence-length planning histogram: per-language power-of-two buckets
# of document token counts; bucket via binary-representation length
# (exact), never float log2.
register(
    "corpus_token_length_histogram",
    lambda spark, sf: text_analysis.token_length_histogram(
        tables.load(spark, sf, "documents")
    ),
    f"""WITH t AS (SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
             FROM documents)
SELECT lang,
       CASE WHEN n_tokens <= 0 THEN CAST(-1 AS BIGINT)
            ELSE length(bin(n_tokens)) - 1 END AS len_bucket,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens
FROM t GROUP BY 1, 2""",
)

# Johnson-Lindenstrauss random projection 64 -> 16 dims (shuffle-width
# reduction before sketching/ANN): deterministic md5-derived matrix as
# one literal on BOTH engines; digest covers all components as integer
# micro-units.
_PROJ_LIT = "[" + ", ".join(
    "[" + ", ".join(repr(float(v)) for v in row) + "]"
    for row in simsearch.proj_weights()
) + "]"
register(
    "embedding_random_projection",
    lambda spark, sf: simsearch.random_projection(_emb(spark, sf)),
    f"""WITH p AS (
    SELECT vec_id,
           list_transform({_PROJ_LIT},
                          w -> list_dot_product(embedding::DOUBLE[], w)) AS d
    FROM embeddings)
SELECT vec_id,
       round(d[1], 6) AS p0,
       round(d[9], 6) AS p8,
       round(d[16], 6) AS p15,
       md5(array_to_string(
           list_transform(d, x -> CAST(CAST(round(x * 1e6) AS BIGINT)
                                       AS VARCHAR)), ',')) AS p_digest
FROM p""",
)

# Corpus-health duplicate-n-gram rate per source slice (Gopher/Dolma
# duplicate-text diagnostic): occurrences vs distinct shingles.
register(
    "corpus_dup_ngram_rate",
    lambda spark, sf: text_dedup.dup_ngram_rate(
        tables_mod.load(spark, sf, "documents")
    ),
    f"""WITH occ AS (
    SELECT source, UNNEST({_SHINGLE_LIST}) AS shingle FROM documents
),
per AS (SELECT source, shingle, count(*) AS c FROM occ GROUP BY 1, 2)
SELECT source,
       CAST(sum(c) AS BIGINT) AS total_ngrams,
       count(*) AS distinct_ngrams,
       round((CAST(sum(c) AS BIGINT) - count(*)) / CAST(sum(c) AS BIGINT), 6)
           AS dup_rate,
       max(c) AS max_ngram_count
FROM per GROUP BY source""",
)

# Composed keep/drop curation gate: Gopher structural rules then the
# quality-score threshold in ONE projection, reject_reason = first
# failing rule (the audit column a curation pipeline materializes).
register(
    "corpus_quality_gate",
    lambda spark, sf: text_analysis.quality_gate(
        tables.load(spark, sf, "documents")
    ),
    f"""SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
       quality_score,
       (reject_reason IS NULL) AS keep,
       reject_reason
FROM (SELECT doc_id, lang, n_words, quality_score,
             CASE
               WHEN NOT (n_words >= {text_analysis.GOPHER_MIN_WORDS}
                         AND n_words <= {text_analysis.GOPHER_MAX_WORDS})
                 THEN 'word_count'
               WHEN NOT (n_word_chars >= 3 * n_words
                         AND n_word_chars <= 10 * n_words)
                 THEN 'mean_word_len'
               WHEN NOT (5 * n_alpha >= 4 * n_words) THEN 'alpha_ratio'
               WHEN NOT (n_stop >= 2) THEN 'stopwords'
               WHEN quality_score < {text_analysis.QUALITY_GATE_MIN_SCORE!r}
                 THEN 'low_quality'
             END AS reject_reason
      FROM (SELECT doc_id, lang, n_words, n_word_chars, n_alpha, n_stop,
                   CASE WHEN n_words > 0 AND n_chars > 0 THEN
                   round(0.4 * least(1.0, n_words / 400.0)
                         + 0.3 * (1.0 - n_punct / n_chars)
                         + 0.3 * least(1.0, (n_stop / n_words) * 5.0), 6)
                   END AS quality_score
            FROM (SELECT doc_id, lang,
                         len({_TOKS}) AS n_words,
                         length(text) AS n_chars,
                         coalesce(list_sum(list_transform({_TOKS},
                             x -> length(x))), 0) AS n_word_chars,
                         len(list_filter({_TOKS},
                             x -> regexp_matches(x, '^[a-z]+$'))) AS n_alpha,
                         len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
                         len(list_filter({_TOKS}, t -> t IN {_STOP_EN}))
                             AS n_stop
                  FROM documents)))""",
)

# Per-doc n-gram novelty rate ("new text" diagnostic): fraction of a
# doc's distinct shingles whose corpus-wide first appearance is this doc
# — flags stitched-from-seen-text docs no pairwise dup catches.
register(
    "corpus_ngram_novelty",
    lambda spark, sf: text_dedup.ngram_novelty(_corpus(spark, sf)),
    f"""WITH {_CORPUS}, {_SHINGLES_CTE},
fst AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
SELECT doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) / count(*), 6) AS novelty_rate
FROM sh JOIN fst USING (shingle) GROUP BY doc_id""",
)

# fastText-style hashed-ngram linear classifier (Joulin et al. 2016; the
# CCNet quality-classifier shape): unigram+bigram features hashed into
# 4096 buckets, deterministic per-bucket micro-unit weights, score = one
# aggregate() inside a single projection — zero shuffle, zero explode.
_FT_BUCKET = f"{text_analysis.hash40_sql('t')} % {text_analysis.FT_BUCKETS}"
_FT_WEIGHT = (
    text_analysis.hash40_sql(f"concat('w_', CAST({_FT_BUCKET} AS VARCHAR))")
    + f" % {text_analysis.FT_W_MOD} - 1000"
)
register(
    "text_fasttext_score",
    lambda spark, sf: text_analysis.fasttext_score(
        tables.load(spark, sf, "documents")
    ),
    f"""WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
f AS (SELECT doc_id, lang,
             toks || list_transform(range(1, greatest(len(toks), 1)),
                                    i -> toks[i] || ' ' || toks[i + 1]) AS feats
      FROM t)
SELECT doc_id, lang,
       CAST(len(feats) AS BIGINT) AS n_feats,
       CAST(coalesce(list_sum(list_transform(feats, t -> {_FT_WEIGHT})), 0)
            AS BIGINT) AS score_sum,
       CAST(CAST(coalesce(list_sum(list_transform(feats, t -> {_FT_WEIGHT})),
                          0) AS BIGINT) > 0 AS INT) AS label_keep
FROM f""",
)

# The TRAINED twin of the classifier pair: one-pass NB log-odds fit from
# Gopher-pass/fail weak labels (feature explode -> <= FT_BUCKETS-row hash
# agg; the totals window runs over that bounded frame). Full oracle: every
# ln runs on an exact integer on both engines.
register(
    "text_fasttext_fit",
    lambda spark, sf: text_analysis.fasttext_fit(
        tables.load(spark, sf, "documents")
    ),
    f"""WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
lbl AS (SELECT doc_id,
               toks || list_transform(range(1, greatest(len(toks), 1)),
                                      i -> toks[i] || ' ' || toks[i + 1]) AS feats,
               (len(toks) >= 10 AND len(toks) <= 100000
                AND coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                      >= 3 * len(toks)
                AND coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                      <= 10 * len(toks)
                AND 5 * len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
                      >= 4 * len(toks)
                AND len(list_filter(toks,
                        x -> list_contains(['the','a','of','and','to'], x))) >= 2) AS pos
        FROM t),
fe AS (SELECT CAST(pos AS INT) AS pos,
              CAST(CAST(concat('0x', substr(md5(t), 1, 10)) AS UBIGINT) AS BIGINT) % 4096 AS bucket
       FROM (SELECT pos, UNNEST(feats) AS t FROM lbl)),
agg AS (SELECT bucket, CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(1 - pos) AS BIGINT) AS n_neg
        FROM fe GROUP BY bucket)
SELECT bucket, n_pos, n_neg,
       CAST(round((ln(n_pos + 1) - ln(sum(n_pos) OVER () + 4096)
                   - ln(n_neg + 1) + ln(sum(n_neg) OVER () + 4096)) * 1e6)
            AS BIGINT) AS w_micro
FROM agg""",
)

# DSIR (Xie et al. 2023): hashed-unigram importance weights of the raw
# pool against the target-domain slice, top-quarter selection by exact
# percentile threshold (no global sort). Every ln runs on an exact
# integer; the per-bucket log-ratio is quantized to micro-nats BEFORE
# the per-doc sum, so both engines sum identical integers.
register(
    "corpus_dsir_select",
    lambda spark, sf: text_analysis.dsir_select(
        tables.load(spark, sf, "documents")
    ),
    f"""WITH t AS (SELECT doc_id, lang, source,
                   CAST(lang = '{text_analysis.DSIR_TARGET_LANG}' AS INT) AS tgt,
                   {_TOKS} AS toks
              FROM documents),
fe AS (SELECT doc_id, tgt,
              {text_analysis.hash40_sql('tok')} % {text_analysis.DSIR_BUCKETS}
                AS bucket
       FROM (SELECT doc_id, tgt, UNNEST(toks) AS tok FROM t)),
agg AS (SELECT bucket, CAST(sum(tgt) AS BIGINT) AS n_tgt,
               CAST(count(*) AS BIGINT) AS n_raw
        FROM fe GROUP BY bucket),
lr AS (SELECT bucket,
              CAST(round((ln(n_tgt + 1)
                          - ln((SELECT sum(n_tgt) FROM agg)
                               + {text_analysis.DSIR_BUCKETS})
                          - ln(n_raw + 1)
                          + ln((SELECT sum(n_raw) FROM agg)
                               + {text_analysis.DSIR_BUCKETS})) * 1e6)
                   AS BIGINT) AS lr_micro
       FROM agg),
w AS (SELECT t.doc_id, t.lang, t.source,
             CAST(coalesce(s.wm, 0) AS BIGINT) AS dsir_weight_micro
      FROM t LEFT JOIN (SELECT doc_id, sum(lr_micro) AS wm
                        FROM fe JOIN lr USING (bucket)
                        GROUP BY doc_id) s ON t.doc_id = s.doc_id)
SELECT doc_id, lang, source, dsir_weight_micro,
       CAST(dsir_weight_micro >=
            (SELECT quantile_cont(dsir_weight_micro,
                                  {text_analysis.DSIR_QUANTILE}) FROM w)
            AS INT) AS selected
FROM w""",
)

# Scoring with the trained weights: the model rides the Spark plan as one
# dense 4096-int array literal (bounded broadcast artifact, memoized per
# session); the oracle recomputes the same fit inline and scores via a
# bucket join — self-trained on the same corpus, so the smoothed default
# weight never fires here (its unseen-bucket path is pinned in pytest).
# Shared oracle CTE chain for the TRAINED classifier family: tokenize ->
# features + Gopher weak label -> bucketed counts -> log-odds weights ->
# per-doc score (scm) -> calibrated bias. Used by the score and the
# calibration oracles so the two can never drift.
_FT_TRAINED_CTES = f"""WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
f AS (SELECT doc_id, lang,
             toks || list_transform(range(1, greatest(len(toks), 1)),
                                      i -> toks[i] || ' ' || toks[i + 1]) AS feats,
             (len(toks) >= 10 AND len(toks) <= 100000
                AND coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                      >= 3 * len(toks)
                AND coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                      <= 10 * len(toks)
                AND 5 * len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
                      >= 4 * len(toks)
                AND len(list_filter(toks,
                        x -> list_contains(['the','a','of','and','to'], x))) >= 2) AS pos
      FROM t),
fb AS (SELECT doc_id, CAST(pos AS INT) AS pos,
              CAST(CAST(concat('0x', substr(md5(t), 1, 10)) AS UBIGINT) AS BIGINT) % 4096 AS bucket
       FROM (SELECT doc_id, pos, UNNEST(feats) AS t FROM f)),
agg AS (SELECT bucket, CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(1 - pos) AS BIGINT) AS n_neg
        FROM fb GROUP BY bucket),
tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS np, CAST(sum(n_neg) AS BIGINT) AS nn
        FROM agg),
w AS (SELECT bucket,
             CAST(round((ln(n_pos + 1) - ln(np + 4096)
                         - ln(n_neg + 1) + ln(nn + 4096)) * 1e6) AS BIGINT) AS w
      FROM agg, tot),
sc AS (SELECT fb.doc_id, CAST(sum(w.w) AS BIGINT) AS score
       FROM fb JOIN w USING (bucket) GROUP BY fb.doc_id),
scm AS (SELECT f.doc_id, f.lang, f.pos,
               CAST(len(f.feats) AS BIGINT) AS n_feats,
               CAST(coalesce(sc.score, 0) AS BIGINT) AS score_micro
        FROM f LEFT JOIN sc USING (doc_id)),
cls AS (SELECT pos, CAST(sum(score_micro // n_feats) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS c
        FROM scm WHERE n_feats > 0 GROUP BY pos),
bias AS (SELECT coalesce(
           (SELECT CAST(floor((CAST(p.s AS DOUBLE) / CAST(p.c AS DOUBLE)
                               + CAST(n.s AS DOUBLE) / CAST(n.c AS DOUBLE))
                              / 2) AS BIGINT)
            FROM (SELECT s, c FROM cls WHERE pos) p,
                 (SELECT s, c FROM cls WHERE NOT pos) n),
           0) AS b)"""

register(
    "text_fasttext_score_trained",
    lambda spark, sf: text_analysis.fasttext_score_trained(
        tables.load(spark, sf, "documents")
    ),
    _FT_TRAINED_CTES
    + """
SELECT doc_id, lang, n_feats, score_micro,
       CAST(score_micro > bias.b * n_feats AS INT) AS label_keep
FROM scm, bias""",
)

# Per-language calibration table for the trained classifier: agreement
# with the Gopher weak labels sliced by lang — one scoring projection +
# one |langs|-row agg on the Spark side (the weak label rides the same
# projection, no self-join).
register(
    "text_fasttext_calibration",
    lambda spark, sf: text_analysis.fasttext_calibration(
        tables.load(spark, sf, "documents")
    ),
    _FT_TRAINED_CTES
    + """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(score_micro > bias.b * n_feats AS INT)) AS BIGINT)
         AS n_pred_keep,
       CAST(sum(CAST(pos AS INT)) AS BIGINT) AS n_weak_pass,
       CAST(sum(CAST((score_micro > bias.b * n_feats) = pos AS INT))
            AS BIGINT) AS n_agree,
       CAST(CAST(sum(CAST((score_micro > bias.b * n_feats) = pos AS INT))
                 AS BIGINT) * 1000000 // count(*) AS BIGINT) AS agree_ppm
FROM scm, bias GROUP BY lang""",
)

# Tokenizer vocabulary coverage: per-doc OOV ppm against the corpus's own
# top-200 vocab (the vocab_topk cut, a bounded broadcast artifact).
register(
    "text_oov_rate",
    lambda spark, sf: text_analysis.oov_rate(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000 // count(*) AS BIGINT) AS oov_ppm
FROM (SELECT doc_id, UNNEST({_TOKS}) AS token FROM corpus) t
LEFT JOIN (SELECT token FROM (
             SELECT token, count(*) AS c
             FROM (SELECT UNNEST({_TOKS}) AS token FROM corpus)
             GROUP BY token ORDER BY c DESC, token
             LIMIT {text_analysis.OOV_VOCAB_K})) v USING (token)
GROUP BY doc_id"""
    ),
)

# Packing-efficiency report over the shard_pack assignment: per-shard
# docs / tokens / fill ppm against the token budget (|shards| rows).
register(
    "corpus_packing_stats",
    lambda spark, sf: text_analysis.packing_stats(_corpus(spark, sf)),
    _csql(
        f"""SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(CAST(sum(n_tokens) AS BIGINT) * 1000000
            // {text_analysis.SHARD_BUDGET} AS BIGINT) AS fill_ppm
FROM ({_SHARD_PACK_SQL})
GROUP BY shard_id"""
    ),
)

# Quality-greedy domain mix planner: rank sources by mean quality, grant
# token budgets down the ranking until half the corpus is allocated, emit
# per-source sampling ppm. Windows over the |sources| frame only.
register(
    "corpus_mix_planner",
    lambda spark, sf: text_analysis.mix_planner(
        tables.load(spark, sf, "documents")
    ),
    f"""WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         CAST(CAST(sum(q_micro) AS BIGINT) // count(*) AS BIGINT)
           AS q_micro_avg
  FROM (SELECT source, len(toks) AS n_toks,
               coalesce(CAST(round((CASE WHEN n_tokens > 0 AND n_chars > 0 THEN
                     round(0.4 * least(1.0, n_tokens / 400.0)
                           + 0.3 * (1.0 - n_punct / n_chars)
                           + 0.3 * least(1.0, (n_stop / n_tokens) * 5.0), 6)
                END) * 1e6) AS BIGINT), -1) AS q_micro
        FROM (SELECT source,
                     len({_TOKS}) AS n_tokens,
                     length(text) AS n_chars,
                     len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
                     len(list_filter({_TOKS}, t -> t IN {_STOP_EN})) AS n_stop,
                     {_TOKS} AS toks
              FROM documents))
  GROUP BY source),
r AS (SELECT *,
             row_number() OVER (ORDER BY q_micro_avg DESC, source) AS rank,
             CAST(sum(n_tokens) OVER () AS HUGEINT) AS total,
             coalesce(sum(n_tokens) OVER (ORDER BY q_micro_avg DESC, source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM per),
g AS (SELECT source, n_docs, n_tokens, q_micro_avg, rank,
             CAST(greatest(0, least(n_tokens,
                  total * {text_analysis.MIX_PLAN_BUDGET_TENTHS} // 10
                  - cum_before)) AS BIGINT) AS take_tokens
      FROM r)
SELECT source, n_docs, n_tokens, q_micro_avg, rank, take_tokens,
       CAST(CAST(take_tokens AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
         AS sample_ppm
FROM g""",
)

