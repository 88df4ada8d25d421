"""Training-data ops A: corpus fragments, text dedup, roundtrip sinks.

Split out of the monolithic api.py in round 12 — REGISTRATION ORDER
is preserved by the import order in registry/__init__.py; the
order-drift and driver-window gates (tests/test_driver_order.py)
verify it.
"""

from __future__ import annotations

from ._core import DataFrame, SparkSession, _memo_df, register  # noqa: F401

# --- training-data ops: text dedup / analysis / simsearch / multimodal -------

from ..operators import bpe, multimodal, simsearch, text_analysis, text_dedup  # noqa: E402
from ..operators import funnel as funnel_op  # noqa: E402
from ..operators import retrieval as retrieval_op  # noqa: E402
from ..operators import snapshot as snapshot_op  # noqa: E402
from ..session import scratch_dir  # noqa: E402
from ..sources import corpus as corpus_mod  # noqa: E402
from ..sources import tables  # noqa: E402


def _corpus(spark: SparkSession, sf: str) -> DataFrame:
    # Memoized like the DWD facts: ~12 text/dedup entries share this tiny
    # expanded corpus; persisting it once removes a parquet scan + union
    # per entry (at 100 TB the corpus is a table, not a derivation).
    return _memo_df(spark, "text_corpus", sf, lambda: corpus_mod.corpus(spark, sf))


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return tables.load(spark, sf, "embeddings")


def _emb_corpus(spark: SparkSession, sf: str) -> DataFrame:
    # Memoized like _corpus: the expanded (clone-synthesized) embedding
    # corpus is shared by the cosine-pair entry and the cluster closure;
    # persisting it once removes a scan + union per use.
    return _memo_df(
        spark, "emb_corpus", sf, lambda: corpus_mod.emb_corpus(spark, sf)
    )


_H40 = text_analysis.hash40_sql
_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"
_STOP_EN = "('the', 'a', 'of', 'and', 'to')"

_CORPUS = corpus_mod.CORPUS_SQL.strip()


def _csql(body: str) -> str:
    return f"WITH {_CORPUS}\n{body}"


register(
    "text_token_stats",
    lambda spark, sf: text_analysis.token_stats(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id,
                   len({_TOKS}) AS n_tokens_ws,
                   len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens_bpe,
                   length(text) AS n_chars
            FROM corpus"""
    ),
)

register(
    "text_quality_score",
    lambda spark, sf: text_analysis.quality_score(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id, n_tokens,
                   CASE WHEN n_chars > 0
                        THEN round(n_punct / n_chars, 6) END AS punct_ratio,
                   CASE WHEN n_tokens > 0
                        THEN round(n_stop / n_tokens, 6) END AS stopword_ratio,
                   CASE WHEN n_tokens > 0 AND n_chars > 0 THEN
                   round(0.4 * least(1.0, n_tokens / 400.0)
                         + 0.3 * (1.0 - n_punct / n_chars)
                         + 0.3 * least(1.0, (n_stop / n_tokens) * 5.0), 6)
                   END AS quality_score
            FROM (SELECT doc_id,
                         len({_TOKS}) AS n_tokens,
                         length(text) AS n_chars,
                         len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
                         len(list_filter({_TOKS}, t -> t IN {_STOP_EN})) AS n_stop
                  FROM corpus)"""
    ),
)

register(
    "text_lang_id",
    lambda spark, sf: text_analysis.lang_id(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id,
                   round(se, 6) AS score_en, round(sd, 6) AS score_de,
                   round(sf2, 6) AS score_fr,
                   CASE WHEN greatest(se, sd, sf2) <= 0 THEN 'und'
                        WHEN se = greatest(se, sd, sf2) THEN 'en'
                        WHEN sd = greatest(se, sd, sf2) THEN 'de'
                        ELSE 'fr' END AS lang_pred
            FROM (SELECT doc_id,
                         len(list_filter({_TOKS}, t -> t IN {_STOP_EN})) / len({_TOKS}) AS se,
                         len(list_filter({_TOKS}, t -> t IN ('der','die','das','und','ist'))) / len({_TOKS}) AS sd,
                         len(list_filter({_TOKS}, t -> t IN ('le','la','et','les','des'))) / len({_TOKS}) AS sf2
                  FROM corpus)"""
    ),
)

register(
    "text_corpus_clean",
    lambda spark, sf: text_analysis.corpus_clean(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id, n_tokens, quality_score, text_hash, dup_count
            FROM (SELECT *,
                         row_number() OVER (PARTITION BY text_hash
                                            ORDER BY doc_id) AS rn,
                         count(*) OVER (PARTITION BY text_hash) AS dup_count
                  FROM (SELECT doc_id, n_tokens,
                               round(0.4 * least(1.0, n_tokens / 400.0)
                                     + 0.3 * (1.0 - n_punct / n_chars)
                                     + 0.3 * least(1.0, se * 5.0), 6)
                                   AS quality_score,
                               CASE WHEN greatest(se, sd, sf2) <= 0 THEN 'und'
                                    WHEN se = greatest(se, sd, sf2) THEN 'en'
                                    WHEN sd = greatest(se, sd, sf2) THEN 'de'
                                    ELSE 'fr' END AS lang_pred,
                               md5(text) AS text_hash
                        FROM (SELECT doc_id, text,
                                     len({_TOKS}) AS n_tokens,
                                     length(text) AS n_chars,
                                     len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
                                     len(list_filter({_TOKS}, t -> t IN {_STOP_EN})) / len({_TOKS}) AS se,
                                     len(list_filter({_TOKS}, t -> t IN ('der','die','das','und','ist'))) / len({_TOKS}) AS sd,
                                     len(list_filter({_TOKS}, t -> t IN ('le','la','et','les','des'))) / len({_TOKS}) AS sf2
                              FROM corpus))
                  WHERE lang_pred = 'en' AND quality_score >= 0.45)
            WHERE rn = 1"""
    ),
)

# LLM-pipeline packing: fixed-size token chunks with overlap (chunk 32,
# stride 24). DuckDB list slicing is 1-based inclusive-end and clamps, the
# exact semantics of Spark's slice(arr, start, length).
register(
    "text_chunk_tokens",
    lambda spark, sf: text_analysis.chunk_tokens(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id, g.k AS chunk_idx,
                   CAST(len(toks[k*24+1 : k*24+32]) AS BIGINT) AS n_tokens_chunk,
                   array_to_string(toks[k*24+1 : k*24+32], ' ') AS chunk_text
            FROM (SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM corpus)
            CROSS JOIN LATERAL (
                SELECT UNNEST(generate_series(0,
                    CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END)) AS k
            ) g"""
    ),
)

# Passage-level duplication audit (r10): non-overlapping chunk hashes,
# sharedness = chunk hash seen in >= 2 distinct docs, per-doc ppm.
_CD = text_analysis.CHUNK_DUP_SIZE
register(
    "corpus_chunk_dup_stats",
    lambda spark, sf: text_analysis.chunk_dup_stats(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks,
       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS chunk_dup_ppm
FROM (
  SELECT c.doc_id, c.h, d.n_docs
  FROM (SELECT doc_id,
               md5(array_to_string(toks[k*{_CD}+1 : k*{_CD}+{_CD}], ' ')) AS h
        FROM (SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM corpus)
        CROSS JOIN LATERAL (
            SELECT UNNEST(generate_series(0,
                CASE WHEN n <= {_CD} THEN 0
                     ELSE (n - 1) // {_CD} END)) AS k) g) c
  JOIN (SELECT h, count(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id,
                     md5(array_to_string(toks[k*{_CD}+1 : k*{_CD}+{_CD}], ' ')) AS h
              FROM (SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n
                    FROM corpus)
              CROSS JOIN LATERAL (
                  SELECT UNNEST(generate_series(0,
                      CASE WHEN n <= {_CD} THEN 0
                           ELSE (n - 1) // {_CD} END)) AS k) g)
        GROUP BY h) d ON c.h = d.h)
GROUP BY doc_id""",
    ),
)

# The rewrite half of the passage audit: corpus-wide keep-first chunk
# dedup + per-doc reassembly. first-instance arbitration = MIN over the
# (doc_id, chunk_idx) encoding, identical in both engines.
register(
    "corpus_chunk_dedup_rewrite",
    lambda spark, sf: text_analysis.chunk_dedup_rewrite(_corpus(spark, sf)),
    _csql(
        f""", ck AS (
  SELECT doc_id, k AS chunk_idx,
         array_to_string(toks[k*{_CD}+1 : k*{_CD}+{_CD}], ' ') AS chunk_text
  FROM (SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM corpus)
  CROSS JOIN LATERAL (
      SELECT UNNEST(generate_series(0,
          CASE WHEN n <= {_CD} THEN 0
               ELSE (n - 1) // {_CD} END)) AS k) g),
inst AS (
  SELECT doc_id, chunk_idx, chunk_text, md5(chunk_text) AS h,
         doc_id * {text_analysis.CHUNK_INST_BASE} + chunk_idx AS inst
  FROM ck),
firsts AS (SELECT h, min(inst) AS first_inst FROM inst GROUP BY h)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN inst = first_inst THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(count(*) - sum(CASE WHEN inst = first_inst THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       coalesce(string_agg(CASE WHEN inst = first_inst THEN chunk_text END,
                           ' ' ORDER BY chunk_idx), '') AS clean_text
FROM inst JOIN firsts USING (h)
GROUP BY doc_id"""
    ),
)

# Per-token-uniform document sampling: integer-exact length-proportional
# Bernoulli keep (every token equally likely to have its doc survive).
_TWS_H = text_analysis.hash40_sql("concat('tws_', CAST(doc_id AS VARCHAR))")

register(
    "corpus_sample_token_weighted",
    lambda spark, sf: text_analysis.sample_token_weighted(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       {_TWS_H} AS sample_key
FROM corpus
WHERE {_TWS_H} * {text_analysis.TOKEN_WEIGHT_CAP}
      < CAST(len({_TOKS}) AS BIGINT) * {1 << 40}"""
    ),
)

register(
    "text_pii_scrub",
    lambda spark, sf: text_analysis.pii_scrub(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id, n_emails,
                   CAST(len(regexp_extract_all(c1, '{text_analysis.LONGNUM_RE}')) AS BIGINT) AS n_longnums,
                   regexp_replace(c1, '{text_analysis.LONGNUM_RE}', '<NUM>', 'g') AS clean_text
            FROM (SELECT doc_id,
                         CAST(len(regexp_extract_all(text, '{text_analysis.EMAIL_RE}')) AS BIGINT) AS n_emails,
                         regexp_replace(text, '{text_analysis.EMAIL_RE}', '<EMAIL>', 'g') AS c1
                  FROM (SELECT doc_id,
                               text
                               || CASE WHEN doc_id % 5 = 0
                                       THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
                                       ELSE '' END
                               || CASE WHEN doc_id % 11 = 0
                                       THEN ' ref ' || lpad(CAST(doc_id AS VARCHAR), 9, '0')
                                       ELSE '' END AS text
                        FROM corpus))"""
    ),
)

_SHINGLE_LIST = (
    f"list_transform(generate_series(0, greatest(len({_TOKS}) - 3, 0)), "
    f"i -> concat_ws(' ', {_TOKS}[i + 1], {_TOKS}[i + 2], {_TOKS}[i + 3]))"
)

register(
    "text_fingerprint",
    lambda spark, sf: text_analysis.fingerprint(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint_md5,
                   list_aggregate(list_transform({_SHINGLE_LIST}, s -> {_H40('s')}), 'min') AS min_shingle_hash
            FROM corpus"""
    ),
)

register(
    "dedup_exact",
    lambda spark, sf: text_dedup.dedup_exact(_corpus(spark, sf)),
    _csql(
        """SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
                  count(*) AS dup_count
           FROM corpus GROUP BY 1"""
    ),
)

_SHINGLES_CTE = f"""
sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM (SELECT doc_id, UNNEST(list_distinct({_SHINGLE_LIST})) AS shingle
          FROM corpus)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
exact_pairs AS (
    SELECT c.a, c.b,
           round(c.n_common / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard
    FROM (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          GROUP BY 1, 2) c
    JOIN sizes sa ON c.a = sa.doc_id
    JOIN sizes sb ON c.b = sb.doc_id
    WHERE round(c.n_common / (sa.n_sh + sb.n_sh - c.n_common), 6) >= 0.5
)
"""

# Capped variant of the shingle index: shingles with document frequency
# above text_dedup.MAX_SHINGLE_DF are stop-shingles, dropped BEFORE sizing
# and joining (mirrors ngram_jaccard_pairs' guard against the k^2
# candidate blowup of a ubiquitous shingle). Used by dedup_ngram_jaccard
# and the cluster closure built on its pairs; the MinHash/SimHash oracles
# keep the uncapped `sh`/`exact_pairs` their Spark twins use.
_SHINGLES_CAPPED_CTE = f"""
shc AS (
    SELECT sh.doc_id, sh.shingle FROM sh
    JOIN (SELECT shingle FROM sh GROUP BY shingle
          HAVING count(*) <= {text_dedup.MAX_SHINGLE_DF}) ok
      USING (shingle)
),
sizes_c AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
exact_pairs_capped AS (
    SELECT c.a, c.b,
           round(c.n_common / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard
    FROM (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
          FROM shc x JOIN shc y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          GROUP BY 1, 2) c
    JOIN sizes_c sa ON c.a = sa.doc_id
    JOIN sizes_c sb ON c.b = sb.doc_id
    WHERE round(c.n_common / (sa.n_sh + sb.n_sh - c.n_common), 6) >= 0.5
)
"""

def _capped_postings(spark: SparkSession, sf: str) -> DataFrame:
    # The capped shingle inverted index — ONE shuffle shared by Jaccard,
    # containment and edit-distance (each would otherwise rebuild it).
    return _memo_df(
        spark,
        "capped_postings",
        sf,
        lambda: text_dedup.capped_postings(_corpus(spark, sf)),
    )


def _ngram_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # Shared by the pair-emitting entry AND the cluster closure; the
    # shingle self-join is the expensive part, so compute it once per
    # session (in production the pair set is a materialized table the
    # closure job consumes).
    return _memo_df(
        spark,
        "ngram_pairs",
        sf,
        lambda: text_dedup.ngram_jaccard_pairs(
            _corpus(spark, sf), postings=_capped_postings(spark, sf)
        ),
    )


register(
    "dedup_ngram_jaccard",
    _ngram_pairs,
    f"WITH {_CORPUS}, {_SHINGLES_CTE}, {_SHINGLES_CAPPED_CTE}"
    " SELECT a, b, jaccard FROM exact_pairs_capped",
)

_MINHASH_MIN = ", ".join(
    f"min(({a} * x + {b}) & {text_dedup.MASK40}) AS m{i}"
    for i, (a, b) in enumerate(text_dedup.MINHASH_AB)
)
_BANDS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {j} AS band, md5(concat_ws(',', m{4*j}, m{4*j+1}, m{4*j+2}, m{4*j+3})) AS v FROM sig"
    for j in range(4)
)

register(
    "dedup_minhash_lsh",
    lambda spark, sf: text_dedup.minhash_lsh_pairs(_corpus(spark, sf)),
    f"""WITH {_CORPUS}, {_SHINGLES_CTE},
sig AS (
    SELECT doc_id, {_MINHASH_MIN}
    FROM (SELECT doc_id, {_H40('shingle')} AS x FROM sh)
    GROUP BY doc_id
),
banded AS (
{_BANDS}
),
bkeep AS (
    SELECT band, v FROM banded GROUP BY band, v
    HAVING count(*) <= {text_dedup.MAX_BAND_BUCKET}
),
cands AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM banded x JOIN banded y
      ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
    JOIN bkeep k ON x.band = k.band AND x.v = k.v
)
SELECT c.a, c.b, e.jaccard FROM cands c JOIN exact_pairs e ON c.a = e.a AND c.b = e.b""",
)

_SIM_SUMS = ", ".join(
    f"sum(2 * ((x >> {i}) & 1) - 1) AS s{i}" for i in range(40)
)
_SIM_VALUE = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END * {1 << i})"
    for i in range(40)
)

register(
    "dedup_simhash",
    lambda spark, sf: text_dedup.simhash_pairs(_corpus(spark, sf)),
    f"""WITH {_CORPUS}, {_SHINGLES_CTE},
sums AS (
    SELECT doc_id, {_SIM_SUMS}
    FROM (SELECT doc_id, {_H40('shingle')} AS x FROM sh)
    GROUP BY doc_id
),
sig AS (SELECT doc_id, {_SIM_VALUE} AS simhash FROM sums),
banded AS (
    SELECT doc_id, simhash, g.band, (simhash >> (10 * g.band)) & 1023 AS v
    FROM sig CROSS JOIN LATERAL (SELECT UNNEST(generate_series(0, 3)) AS band) g
),
bkeep AS (
    SELECT band, v FROM banded GROUP BY band, v
    HAVING count(*) <= {text_dedup.MAX_BAND_BUCKET}
),
cands AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS ha, y.simhash AS hb
    FROM banded x JOIN banded y
      ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
    JOIN bkeep k ON x.band = k.band AND x.v = k.v
)
SELECT a, b, bit_count(xor(ha, hb)) AS hamming
FROM cands WHERE bit_count(xor(ha, hb)) <= 3""",
)

# Transitive closure of the near-dup pairs: connected components ->
# one kept doc per cluster. Oracle = recursive min-label reachability
# (min id reaching v == component minimum).
register(
    "dedup_cluster_keep",
    lambda spark, sf: text_dedup.dedup_clusters(
        _corpus(spark, sf), _ngram_pairs(spark, sf)
    ),
    f"""WITH RECURSIVE {_CORPUS}, {_SHINGLES_CTE}, {_SHINGLES_CAPPED_CTE},
edges AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM exact_pairs_capped
    UNION ALL
    SELECT b AS src, a AS dst FROM exact_pairs_capped
),
reach(v, l) AS (
    SELECT doc_id, doc_id FROM corpus
    UNION
    SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v
)
SELECT v AS doc_id, min(l) AS cluster_id,
       CAST(v = min(l) AS INT) AS keep
FROM reach GROUP BY v""",
)

# Benchmark decontamination: n-gram overlap against the held-out slice.
_DECON_N = text_dedup.DECON_N
_BM = text_dedup.BENCH_MOD
_SHINGLE_LIST_N = (
    f"list_transform(generate_series(0, greatest(len({_TOKS}) - {_DECON_N}, 0)), "
    "i -> concat_ws(' ', "
    + ", ".join(f"{_TOKS}[i + {j + 1}]" for j in range(_DECON_N))
    + "))"
)

register(
    "decontaminate_ngram",
    lambda spark, sf: text_dedup.decontaminate(_corpus(spark, sf)),
    f"""WITH {_CORPUS},
shn AS (
    SELECT doc_id, UNNEST(list_distinct({_SHINGLE_LIST_N})) AS shingle
    FROM corpus
),
bench AS (
    SELECT DISTINCT shingle FROM shn
    WHERE doc_id % {_BM} = 0 AND doc_id < 1000000
),
hits AS (
    SELECT s.doc_id, count(*) AS n_overlap
    FROM shn s JOIN bench b USING (shingle)
    WHERE NOT (s.doc_id % {_BM} = 0 AND s.doc_id < 1000000)
    GROUP BY s.doc_id
)
SELECT c.doc_id, coalesce(h.n_overlap, 0) AS n_overlap,
       CAST(coalesce(h.n_overlap, 0) > 0 AS INT) AS contaminated
FROM (SELECT doc_id FROM corpus
      WHERE NOT (doc_id % {_BM} = 0 AND doc_id < 1000000)) c
LEFT JOIN hits h USING (doc_id)""",
)

# Incremental (cross-corpus) dedup: flag each incoming doc against the
# existing base without re-deduplicating the base — the ingestion shape.
register(
    "dedup_incremental",
    lambda spark, sf: text_dedup.dedup_incremental(
        _corpus(spark, sf), _ngram_pairs(spark, sf)
    ),
    f"""WITH {_CORPUS}, {_SHINGLES_CTE}, {_SHINGLES_CAPPED_CTE},
base_h AS (SELECT md5(text) AS h, min(doc_id) AS exact_dup_of
           FROM corpus WHERE doc_id < {text_dedup.INCREMENTAL_BASE_MAX}
           GROUP BY 1),
inc AS (SELECT doc_id, md5(text) AS h FROM corpus
        WHERE doc_id >= {text_dedup.INCREMENTAL_BASE_MAX}),
near AS (SELECT b AS doc_id, min(a) AS near_dup_of
         FROM exact_pairs_capped
         WHERE a < {text_dedup.INCREMENTAL_BASE_MAX}
           AND b >= {text_dedup.INCREMENTAL_BASE_MAX}
         GROUP BY b)
SELECT i.doc_id,
       coalesce(bh.exact_dup_of, nr.near_dup_of) AS dup_of,
       CASE WHEN bh.exact_dup_of IS NOT NULL THEN 'exact'
            WHEN nr.near_dup_of IS NOT NULL THEN 'near'
            ELSE 'new' END AS match_type
FROM inc i
LEFT JOIN base_h bh USING (h)
LEFT JOIN near nr USING (doc_id)""",
)

# Asymmetric shingle containment |A n B| / |A| — the quotation /
# boilerplate-embedding dedup measure Jaccard misses when |B| >> |A|.
register(
    "dedup_containment",
    lambda spark, sf: text_dedup.containment_pairs(
        _corpus(spark, sf), postings=_capped_postings(spark, sf)
    ),
    f"""WITH {_CORPUS}, {_SHINGLES_CTE}, {_SHINGLES_CAPPED_CTE},
cont_c AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
           FROM shc x JOIN shc y
             ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
cont_j AS (SELECT c.a, c.b, c.n_common, sa.n_sh AS na, sb.n_sh AS nb
           FROM cont_c c
           JOIN sizes_c sa ON c.a = sa.doc_id
           JOIN sizes_c sb ON c.b = sb.doc_id),
cont_d AS (SELECT a AS inner_doc, b AS outer_doc,
                  round(n_common / na, 6) AS containment FROM cont_j
           UNION ALL
           SELECT b, a, round(n_common / nb, 6) FROM cont_j)
SELECT inner_doc, outer_doc, containment
FROM cont_d WHERE containment >= 0.8""",
)

# Character-level fuzzy dedup: Levenshtein verify over the capped-index
# candidate pairs (>= 8 shared shingles) — the staged filter->verify
# shape; catches intra-token edits Jaccard/MinHash miss.
register(
    "dedup_edit_distance",
    lambda spark, sf: text_dedup.edit_distance_pairs(
        _corpus(spark, sf), postings=_capped_postings(spark, sf)
    ),
    f"""WITH {_CORPUS}, {_SHINGLES_CTE}, {_SHINGLES_CAPPED_CTE},
ed_c AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
         FROM shc x JOIN shc y
           ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         GROUP BY 1, 2
         HAVING count(*) >= {text_dedup.EDIT_MIN_COMMON})
SELECT c.a, c.b, levenshtein(ca.text, cb.text) AS edit_distance
FROM ed_c c
JOIN corpus ca ON c.a = ca.doc_id
JOIN corpus cb ON c.b = cb.doc_id
WHERE levenshtein(ca.text, cb.text) <= 32""",
)

_SPANS_CTE = f"""
spans AS (
    SELECT doc_id, substr(text, CAST(pos AS INTEGER), {text_dedup.SPAN_LEN}) AS span
    FROM (SELECT doc_id, text,
            unnest(generate_series(1,
                greatest(1, length(text) - {text_dedup.SPAN_LEN - 1}),
                {text_dedup.SPAN_STRIDE})) AS pos
          FROM corpus)
)"""

# Exact-substring dedup signal (Lee et al. 2022 ExactSubstr, distributed
# as window->group-by-span): per doc, how many of its fixed-length char
# windows occur verbatim in another doc.
register(
    "dedup_substring_spans",
    lambda spark, sf: text_dedup.substring_span_stats(_corpus(spark, sf)),
    f"""WITH {_CORPUS}, {_SPANS_CTE},
sd AS (SELECT span, doc_id, count(*) AS n_occ FROM spans GROUP BY 1, 2),
sd2 AS (SELECT *, count(*) OVER (PARTITION BY span) AS n_docs FROM sd)
SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END) AS BIGINT)
         AS n_dup_spans
FROM sd2 GROUP BY doc_id""",
)

# Memorization audit twin: the 20 most widely-duplicated verbatim spans.
register(
    "corpus_span_hotlist",
    lambda spark, sf: text_dedup.span_hotlist(_corpus(spark, sf)),
    f"""WITH {_CORPUS}, {_SPANS_CTE}
SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
FROM spans GROUP BY span
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, span
LIMIT 20""",
)

# Gopher-style rule filter (Rae et al. 2021 §A1.1): per-doc boolean
# quality rules as pure integer comparisons (no float division anywhere,
# so both engines agree bit-for-bit).
register(
    "text_gopher_filter",
    lambda spark, sf: text_analysis.gopher_quality_filter(_corpus(spark, sf)),
    _csql(
        f"""SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       (n_words >= {text_analysis.GOPHER_MIN_WORDS}
        AND n_words <= {text_analysis.GOPHER_MAX_WORDS}) AS pass_word_count,
       (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words)
         AS pass_mean_word_len,
       (5 * n_alpha >= 4 * n_words) AS pass_alpha_ratio,
       (n_stop >= 2) AS pass_stopwords,
       ((n_words >= {text_analysis.GOPHER_MIN_WORDS}
         AND n_words <= {text_analysis.GOPHER_MAX_WORDS})
        AND (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words)
        AND (5 * n_alpha >= 4 * n_words) AND (n_stop >= 2)) AS pass_all
FROM (SELECT doc_id, len(toks) AS n_words,
             coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
               AS n_word_chars,
             len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
               AS n_alpha,
             len(list_filter(toks,
                 x -> list_contains(['the','a','of','and','to'], x)))
               AS n_stop
      FROM (SELECT doc_id, {_TOKS} AS toks FROM corpus))"""
    ),
)

# JSONL corpus roundtrip: training corpora ship as lang-partitioned
# JSONL; write-side repartition(lang) is the same small-file guard as the
# DWS sink, read-side passes the schema explicitly (at 100 TB schema
# inference is a full extra pass over the data).
def _sink_corpus_jsonl(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    base = scratch_dir(spark, "corpus_jsonl_rt")
    docs = tables.load(spark, sf, "documents")
    (
        docs.repartition(F.col("lang"))
        .write.mode("overwrite")
        .partitionBy("lang")
        .json(base)
    )
    return spark.read.schema(
        "doc_id bigint, text string, source string, n_chars bigint, lang string"
    ).json(base).select("doc_id", "text", "lang", "source", "n_chars")


register(
    "sink_corpus_jsonl_roundtrip",
    _sink_corpus_jsonl,
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)


# ORC roundtrip: the other columnar format Spark ships natively (a
# warehouse migrating from Hive serves ORC). Same content contract as
# the parquet/JSONL sinks; zstd like a production table. Explicit
# read-side schema (no inference pass over the files).
def _sink_corpus_orc(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    base = scratch_dir(spark, "corpus_orc_rt")
    docs = tables.load(spark, sf, "documents")
    (
        docs.repartition(F.col("lang"))
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("lang")
        .orc(base)
    )
    return spark.read.schema(
        "doc_id bigint, text string, source string, n_chars bigint, lang string"
    ).orc(base).select("doc_id", "text", "lang", "source", "n_chars")


register(
    "sink_corpus_orc_roundtrip",
    _sink_corpus_orc,
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)


# CSV roundtrip: the interchange format data actually arrives in —
# documents carry embedded quotes/newlines-free synthetic text, but the
# writer still quotes and escapes so the contract (escaped header-ful
# multiline-safe CSV) is exercised; explicit schema + mode FAILFAST so a
# malformed row is an error, never a silent null row.
def _sink_corpus_csv(spark: SparkSession, sf: str) -> DataFrame:
    base = scratch_dir(spark, "corpus_csv_rt")
    docs = tables.load(spark, sf, "documents")
    (
        docs.coalesce(8)
        .write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(base)
    )
    return (
        spark.read.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("header", "true")
        .option("escape", '"')
        .option("mode", "FAILFAST")
        .csv(base)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


register(
    "sink_corpus_csv_roundtrip",
    _sink_corpus_csv,
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)

# Table maintenance: size-targeted small-file compaction. Fragmented
# ingest (64 files) compacted to ceil(bytes/target) files; content must
# round-trip exactly.
def _sink_corpus_compact(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import sinks

    src = scratch_dir(spark, "corpus_frag")
    dst = scratch_dir(spark, "corpus_compact")
    docs = tables.load(spark, sf, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(src)
    return sinks.compact_parquet(spark, src, dst, target_bytes=256 << 10).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


register(
    "sink_corpus_compacted_roundtrip",
    _sink_corpus_compact,
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)


# Partition-scoped upsert (pre-Delta lakehouse MERGE): only the updated
# rows' partition directories are rewritten (dynamic overwrite); the
# final table must equal base-with-updates-applied.
def _sink_corpus_upsert(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import sinks

    base = scratch_dir(spark, "corpus_upsert")
    docs = tables.load(spark, sf, "documents")
    (
        docs.repartition(F.col("source"))
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(base)
    )
    # source is doc_id % 20, so "half of src3" is doc_id % 40 == 3 (an
    # even-doc_id predicate would be vacuously empty on src3).
    updates = docs.filter(F.col("doc_id") % 40 == 3).withColumn(
        "n_chars", F.col("n_chars") + F.lit(1000)
    )
    sinks.upsert_partitioned(spark, base, updates, "source")
    return spark.read.parquet(base).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


register(
    "sink_corpus_partition_upsert",
    _sink_corpus_upsert,
    """SELECT doc_id, text, lang, source,
       CASE WHEN doc_id % 40 = 3
            THEN n_chars + 1000 ELSE n_chars END AS n_chars
FROM documents""",
)

# Z-order (Morton) clustered layout: footer min/max stats stay tight on
# BOTH cluster columns, so a point filter on either skips most files —
# the multi-dimensional data-skipping layout; skipping ratio pinned by
# tests/test_training_ops.py::test_zorder_data_skipping.
def _sink_events_zorder(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import sinks

    base = scratch_dir(spark, "events_zorder")
    e = tables.load(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        "value",
    )
    sinks.zorder_write(e, base, "user_id", "ts_ms")
    target = e.agg(F.min("user_id")).first()[0]
    return spark.read.parquet(base).filter(F.col("user_id") == F.lit(target))


register(
    "sink_events_zorder_read",
    _sink_events_zorder,
    """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value
FROM events WHERE user_id = (SELECT min(user_id) FROM events)""",
)

