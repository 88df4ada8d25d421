"""Property-based tests (hypothesis) for the deterministic pure-Python
kernels, plus seeded random-graph checks of the cluster closure against a
union-find reference implementation."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_realtime_datawarehouse_v3_spark.functions import tokenize as tk

from .conftest import SF_SMOKE


# --- FMM segmenter ----------------------------------------------------------

_DICTSET = set(tk.CJK_DICT)
_MAXLEN = max(map(len, tk.CJK_DICT))

# Text over the dictionary's alphabet plus out-of-dictionary chars — the
# regime the segmenter actually runs in.
_cjk_alphabet = sorted({ch for w in tk.CJK_DICT for ch in w}) + list("湖海abc ")


@given(st.text(alphabet=_cjk_alphabet, max_size=60))
@settings(max_examples=200, deadline=None)
def test_fmm_reconstructs_input(text):
    """Segmentation is a partition of the input: concatenating the tokens
    reproduces the text exactly (no char lost, duplicated, or reordered)."""
    assert "".join(tk._fmm(text, _DICTSET, _MAXLEN)) == text


@given(st.text(alphabet=_cjk_alphabet, max_size=60))
@settings(max_examples=200, deadline=None)
def test_fmm_tokens_are_dict_words_or_single_chars(text):
    for tok in tk._fmm(text, _DICTSET, _MAXLEN):
        assert tok in _DICTSET or len(tok) == 1


@given(st.text(alphabet=_cjk_alphabet, max_size=40))
@settings(max_examples=100, deadline=None)
def test_fmm_greedy_longest(text):
    """At every emission point the chosen token is the LONGEST dictionary
    word prefixing the remainder (greedy maximum matching)."""
    toks = tk._fmm(text, _DICTSET, _MAXLEN)
    rest = text
    for tok in toks:
        for length in range(min(_MAXLEN, len(rest)), len(tok), -1):
            assert rest[:length] not in _DICTSET, (rest, tok)
        rest = rest[len(tok):]


# --- BPE inference ----------------------------------------------------------

_RANKS = {pair: i for i, pair in enumerate(tk.BPE_MERGES)}


@given(st.text(alphabet="abcdefghinoprstu", min_size=1, max_size=20))
@settings(max_examples=200, deadline=None)
def test_bpe_word_reconstructs(word):
    """BPE merges never lose characters: concatenated parts == word."""
    assert "".join(tk._bpe_word(word, _RANKS)) == word


@given(st.text(alphabet="abcdefghinoprstu", min_size=1, max_size=20))
@settings(max_examples=200, deadline=None)
def test_bpe_no_remaining_merge(word):
    """On termination no adjacent pair is still mergeable."""
    parts = tk._bpe_word(word, _RANKS)
    for x, y in zip(parts, parts[1:]):
        assert (x, y) not in _RANKS, parts


# --- cluster closure vs union-find reference --------------------------------


def _union_find_clusters(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label representative per node
    return {v: min(u for u in range(n_nodes) if find(u) == find(v)) for v in range(n_nodes)}


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_cluster_closure_matches_union_find(spark, seed):
    """Large-star/small-star on a seeded random graph must produce exactly
    the components (with min-id labels) a union-find reference computes."""
    import pyspark.sql.functions as F

    from flink_realtime_datawarehouse_v3_spark.operators import text_dedup

    rng = random.Random(seed)
    n = 40
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(5, 35))
        }
    )
    expected = _union_find_clusters(n, edges)
    pairs = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges], "a long, b long, jaccard double"
    )
    corpus = spark.range(n).select(F.col("id").alias("doc_id"))
    got = {
        r.doc_id: r.cluster_id
        for r in text_dedup.dedup_clusters(corpus, pairs).collect()
    }
    assert got == expected


def test_bucket_of_deterministic_and_ranged(spark):
    """Upsert bucketing invariants: every bucket id lands in [0, N), the
    assignment is a pure function of the key (stable across partitionings
    and repeated evaluation), and keys spread over more than one bucket."""
    from pyspark.sql import functions as F

    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    df = spark.range(500).select(F.col("id").cast("string").alias("k"))
    a = {r.k: r.b for r in df.select("k", upsert_table.bucket_of(["k"]).alias("b")).collect()}
    b = {
        r.k: r.b
        for r in df.repartition(7)
        .select("k", upsert_table.bucket_of(["k"]).alias("b"))
        .collect()
    }
    assert a == b
    assert all(0 <= v < upsert_table.N_UPSERT_BUCKETS for v in a.values())
    assert len(set(a.values())) > 1


def test_mix_planner_budget_invariants(spark):
    """Allocation invariants of the quality-greedy planner: grants are
    within [0, n_tokens], the total grant equals min(budget, corpus),
    and grants are monotone down the quality ranking (a lower-ranked
    source can only be granted if every better-ranked one got its full
    ask)."""
    from flink_realtime_datawarehouse_v3_spark.operators import text_analysis as ta
    from flink_realtime_datawarehouse_v3_spark.sources import tables

    docs = tables.load(spark, SF_SMOKE, "documents")
    rows = sorted(ta.mix_planner(docs).collect(), key=lambda r: r.rank)
    total = sum(r.n_tokens for r in rows)
    budget = total * ta.MIX_PLAN_BUDGET_TENTHS // 10
    assert all(0 <= r.take_tokens <= r.n_tokens for r in rows)
    assert sum(r.take_tokens for r in rows) == min(budget, total)
    partial_seen = False
    for r in rows:
        if partial_seen:
            assert r.take_tokens == 0, r
        if r.take_tokens < r.n_tokens:
            partial_seen = True
        assert 0 <= r.sample_ppm <= 1_000_000


def test_value_ewma_bounds(spark):
    """EWMA convexity: every smoothed value lies within the [min, max] of
    the bucket means that contributed to it (a weighted average cannot
    leave the hull); buckets with no history equal their own mean."""
    from flink_realtime_datawarehouse_v3_spark.operators import analytics
    from flink_realtime_datawarehouse_v3_spark.sources import tables

    events = tables.load(spark, SF_SMOKE, "events")
    rows = analytics.value_ewma(events).collect()
    assert rows
    series: dict = {}
    for r in rows:
        series.setdefault(r.event_type, {})[r.bucket] = r.mean_micro
    w = analytics.EWMA_WINDOW
    for r in rows:
        hist = [
            series[r.event_type][b]
            for b in range(r.bucket - w + 1, r.bucket + 1)
            if b in series[r.event_type]
        ]
        # +/-1 micro of integer-division slack per contributing term
        assert min(hist) - w <= r.ewma_micro <= max(hist) + w, (r, hist)
        if len(hist) == 1:
            assert r.ewma_micro == r.mean_micro


@given(
    s_cnt=st.integers(min_value=4, max_value=5000),
    p=st.integers(min_value=1, max_value=10**9),
)
@settings(max_examples=300, deadline=None)
def test_partsupp_stride_gives_distinct_suppliers(s_cnt, p):
    """The synthesized partsupp assignment (sources/synth.py) must give
    every part PS_PER_PART DISTINCT suppliers in 1..|supplier| for ANY
    supplier count >= 4 — the invariant the docstring argues
    (3*(S DIV 4) < S); hypothesis sweeps the argument instead of
    trusting it. A collision would silently 4x-duplicate rows through
    Q9's composite-key join."""
    supps = {(p + i * (s_cnt // 4)) % s_cnt + 1 for i in range(4)}
    assert len(supps) == 4
    assert all(1 <= s <= s_cnt for s in supps)


# --- zone-map pruning (r11) --------------------------------------------------

_FILE_VALUES = st.lists(
    st.lists(st.integers(-50, 50), min_size=0, max_size=8),
    min_size=1,
    max_size=6,
)


@given(files=_FILE_VALUES, lo=st.integers(-60, 60), span=st.integers(0, 40))
@settings(max_examples=200, deadline=None)
def test_zonemap_candidates_never_skip_needed_file(files, lo, span):
    """The pruning soundness invariant a wrong zone map would break
    silently: for ANY per-file contents and ANY query range, every file
    holding at least one in-range value is among the candidates (a
    skipped-but-needed file loses rows — the failure mode the hash gate
    would catch only for the ranges it happens to query). Files without
    stats (empty) must always be kept; files outside the range may be
    kept (file-granular maps overapproximate) but boundary-disjoint
    ones must be skipped."""
    from flink_realtime_datawarehouse_v3_spark.streaming.upsert_table import (
        zonemap_candidates,
    )

    hi = lo + span
    names = [f"part-{i}.parquet" for i in range(len(files))]
    zm = {
        n: ([min(v), max(v)] if v else None)
        for n, v in zip(names, files)
    }
    manifest = {"files": names, "zone_maps": {"ts": zm}}
    cand = set(zonemap_candidates(manifest, "ts", lo, hi))
    for n, vals in zip(names, files):
        if any(lo <= v <= hi for v in vals):
            assert n in cand, (n, vals, lo, hi)  # soundness: never skipped
        if not vals:
            assert n in cand  # no stats -> must keep
        elif max(vals) < lo or min(vals) > hi:
            assert n not in cand  # tight maps: disjoint file is skipped
    # a column with no zone maps at all -> full scan
    assert zonemap_candidates({"files": names}, "ts", lo, hi) == names
