"""Similarity search over the embeddings table (array<float>, 64-dim).

- :func:`cosine_topk` — brute-force exact top-k per query vector. The
  baseline; O(|Q| x |V|) but fully JVM-side (zip_with/aggregate, no UDF).
- :func:`ivf_topk` — IVF-style approximate variant: deterministic centroid
  subset, vectors assigned to nearest centroid, queries probe the nprobe
  nearest buckets. The 100 TB path: the bucket join replaces the full cross
  product; recall checked against the brute-force baseline in tests.
- :func:`cosine_near_dup_pairs` — random-hyperplane LSH bucketing over
  sign bits, then exact cosine verify: embedding near-dup detection.

Cosine values are rounded to 4 decimals and ranked with (sim, vec_id)
tie-breaks so results are stable across engines/summation orders.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import get_or_build, session_table

# Session table (:mod:`..session`) for trained index artifacts (centroid
# lists, PQ codebooks): plain Python values keyed by the INPUT PLAN's
# semanticHash plus every training parameter, so a hit is provably the
# same deterministic computation. ivf_topk / ivfpq_topk / semdedup share
# the coarse quantizer; pq_topk / ivfpq_topk share codebooks — without the
# memo each entry repays the sample-collect + Lloyd fit.
_ARTIFACTS: dict = session_table()


def _artifact(spark, df: DataFrame, tag: str, params: tuple, build):
    # Inputs are assumed immutable per session — semanticHash covers the
    # PLAN, not file contents — which a session-table reset re-establishes
    # between sweeps.
    return get_or_build(_ARTIFACTS, spark, (df.semanticHash(), tag, params), build)


def _dvec(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _queries(embeddings: DataFrame, every: int = 100) -> DataFrame:
    return embeddings.filter(F.col("vec_id") % every == 0).select(
        F.col("vec_id").alias("q_id"), _dvec(F.col("embedding")).alias("q_vec")
    )


def cosine_topk(embeddings: DataFrame, k: int = 10, every: int = 100) -> DataFrame:
    """Exact top-k cosine neighbors for each query (vec_id % every == 0);
    self-matches excluded. Output: q_id, neighbor_id, rank, cosine_sim."""
    q = _queries(embeddings, every)
    v = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), _dvec(F.col("embedding")).alias("v_vec")
    )
    scored = q.crossJoin(v).filter(F.col("q_id") != F.col("neighbor_id")).select(
        "q_id",
        "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("v_vec")), 4).alias("cosine_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


SAMPLE_CAP = 256_000


KMEANS_Q = 1_000  # milli quantization of the fit sample (int64-exact Lloyd)
KMEANS_SCORE_SCALE = 1_000  # assignment-score resolution (see _kmeans_score)


def _fit_kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 54,
    sample_every: int = 3,
    iters: int = 10,
    sample_cap: int = SAMPLE_CAP,
) -> list[list[float]]:
    """Seeded k-means fit on a deterministic BOUNDED sample (driver-side
    Lloyd iterations; the IVF index-build step) — INTEGER-EXACT since
    r12 so an independent engine (the DuckDB oracle) rebuilds
    bit-identical centroids from the same parquet:

    - each sample vector is milli-quantized element-wise,
      ``vq[i] = floor(v[i] * 1000 + 0.5)`` (int64; no summation in the
      quantization step, so IEEE float multiply determinism is the only
      float fact used — identical in numpy and SQL);
    - assignment uses the scale-invariant integer score
      ``sign(d) * (d*d*SCALE div dot(c,c))`` with ``d = dot(vq, c)``
      (all int64, worst case |d| = 64e6 -> d*d*SCALE = 4.1e18 < 2^63;
      ties -> lowest centroid id) — cross-multiplied cosine ordering,
      no sqrt, no float sums;
    - the update is an element-wise integer mean with truncating
      division; empty cells keep their previous centroid.

    Returned centroids are the integer millis as (exactly representable)
    doubles — cosine is scale-invariant, so downstream float scoring
    (:func:`_ivf_assignments`, probes, ADC pre-ranking) is unchanged.

    100 TB posture: an IVF coarse quantizer is always fit on a bounded
    sample (FAISS trains on ~256k vectors regardless of corpus size), so
    a driver-side fit over a deterministic capped sample is the honest
    production shape — ``sample_cap`` bounds what reaches the driver no
    matter the corpus size; the full corpus only pays the broadcast
    assignment join. Determinism: sample = first ``sample_cap`` rows of
    vec_id % sample_every == 0 ordered by vec_id, init = evenly spaced
    sample rows (pure-integer index arithmetic), integer Lloyd steps.
    The DuckDB replica of this exact procedure is
    ``flink_realtime_datawarehouse_v3_spark.api``'s ``_KMEANS_FIT_SQL``;
    parity is driver-hash-gated via embedding_ivf_cell_stats and
    simsearch_range_search.
    """
    import numpy as np

    rows = (
        embeddings.filter(F.col("vec_id") % sample_every == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_cap)
        .collect()
    )
    if not rows:
        raise ValueError("kmeans_centroids: empty training sample")
    v = np.array([r.embedding for r in rows], dtype=np.float64)
    x = np.floor(v * KMEANS_Q + 0.5).astype(np.int64)
    # sqrt(N) coarse-quantizer sizing (the standard IVF rule): caps bucket
    # size ~sqrt(N) so probe cost ~ nprobe * sqrt(N) rows per query, while
    # keeping buckets populated at small scale factors. Estimated corpus
    # size saturates once the cap kicks in — beyond that the caller's
    # n_centroids is the operative bound. Clamp to the sample size so the
    # evenly-spaced init never duplicates a row.
    n_centroids = max(4, min(n_centroids, int(round((len(x) * sample_every) ** 0.5))))
    n_centroids = min(n_centroids, len(x))
    init_idx = [
        ((len(x) - 1) * k) // (n_centroids - 1) if n_centroids > 1 else 0
        for k in range(n_centroids)
    ]
    cen = x[init_idx].copy()  # int64 millis
    for _ in range(iters):
        assign = _kmeans_assign(x, cen)
        for j in range(n_centroids):
            members = x[assign == j]
            if len(members):
                s = members.sum(axis=0)  # int64-exact
                cen[j] = np.sign(s) * (np.abs(s) // len(members))
    return [[float(c) for c in row] for row in cen]


def _sql_iscore(d: str, n: str) -> str:
    """The integer assignment score as DuckDB SQL over named operands —
    textual twin of :data:`_ISCORE_SQL` / :func:`_kmeans_assign`."""
    s = KMEANS_SCORE_SCALE
    return (
        f"CASE WHEN {d} < 0 THEN -(({d} * {d} * {s}) // {n}) "
        f"ELSE ({d} * {d} * {s}) // {n} END"
    )


def _sql_idot(a: str, b: str) -> str:
    """Exact int64 dot product of two BIGINT[] as DuckDB SQL: the cast
    to DOUBLE[] is exact (every product <= 334k, every partial sum
    <= 6.4e7 — all integers < 2^53, so the double dot product is exact
    regardless of accumulation order or FMA), and the final CAST back
    is of an integral double."""
    return (
        f"CAST(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) AS BIGINT)"
    )


IVF_QUANT_SQL = (
    "list_transform({col}::DOUBLE[], x -> "
    f"CAST(floor(x * {KMEANS_Q} + 0.5) AS BIGINT))"
)


def ivf_fit_sql(
    emb_cte: str = "emb",
    sample_every: int = 3,
    iters: int = 10,
    sample_cap: int = SAMPLE_CAP,
) -> str:
    """DuckDB CTE chain that rebuilds :func:`_fit_kmeans_centroids`
    BIT-FOR-BIT from the same parquet — the literal-injection move that
    flips the IVF registry entries from rows-only to hash-green (the
    count-min-sketch precedent: a trained artifact crosses engines when
    every fit step is exact integer arithmetic).

    Input: a prior CTE ``emb_cte`` with columns (vec_id, embedding
    DOUBLE[]). Output: appendable CTE text (no leading WITH) ending in
    ``cen_final(c_id, cq BIGINT[], c_vec DOUBLE[])`` — the fitted
    centroids. Each Lloyd iteration is one unrolled assign/update CTE
    pair; all arithmetic is int64 (see the fit's docstring for the
    overflow budget), so there is no float-ordering freedom for the
    engines to disagree on."""
    e = emb_cte
    q = IVF_QUANT_SQL.format(col="embedding")
    # AS MATERIALIZED everywhere a CTE is referenced more than once:
    # DuckDB inlines plain CTEs, and __cen{i} feeds both __asg{i+1} and
    # __cen{i+1} — un-materialized, the 10-iteration chain expands
    # 2^iters subtrees and never finishes.
    parts = [
        f"""__samp AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ri, {q} AS vq
    FROM (SELECT vec_id, embedding FROM {e} WHERE vec_id % {sample_every} = 0
          ORDER BY vec_id LIMIT {sample_cap})
)""",
        f"""__par AS MATERIALIZED (
    SELECT L, LEAST(GREATEST(4, LEAST(nd, CAST(round(sqrt(L * {sample_every})) AS BIGINT))), L) AS nc
    FROM (SELECT (SELECT count(*) FROM __samp) AS L,
                 GREATEST(4, CAST(round(sqrt((SELECT count(*) FROM {e}))) AS BIGINT)) AS nd)
)""",
        """__cen0 AS MATERIALIZED (
    SELECT kk.k AS c_id, s.vq AS c
    FROM __par p, LATERAL (SELECT unnest(range(p.nc)) AS k) kk
    JOIN __samp s ON s.ri = CASE WHEN p.nc > 1
                                 THEN ((p.L - 1) * kk.k) // (p.nc - 1)
                                 ELSE 0 END
)""",
    ]
    for i in range(1, iters + 1):
        d = _sql_idot("s.vq", "c.c")
        n = f"GREATEST({_sql_idot('c.c', 'c.c')}, 1)"
        parts.append(
            f"""__asg{i} AS MATERIALIZED (
    SELECT s.ri, s.vq, c.c_id,
           {_sql_iscore(d, n)} AS score
    FROM __samp s CROSS JOIN __cen{i - 1} c
    QUALIFY row_number() OVER (PARTITION BY s.ri
                               ORDER BY score DESC, c.c_id) = 1
)""",
        )
        parts.append(
            f"""__newc{i} AS MATERIALIZED (
    SELECT c_id,
           list(CASE WHEN s < 0 THEN -((-s) // cnt) ELSE s // cnt END
                ORDER BY pos) AS c
    FROM (SELECT a.c_id, u.pos, CAST(sum(u.val) AS BIGINT) AS s,
                 count(*) AS cnt
          FROM __asg{i} a,
               LATERAL (SELECT unnest(a.vq) AS val,
                               unnest(generate_series(1, len(a.vq))) AS pos) u
          GROUP BY a.c_id, u.pos)
    GROUP BY c_id
)""",
        )
        parts.append(
            f"""__cen{i} AS MATERIALIZED (
    SELECT p.c_id, coalesce(n.c, p.c) AS c
    FROM __cen{i - 1} p LEFT JOIN __newc{i} n USING (c_id)
)""",
        )
    parts.append(
        f"""cen_final AS MATERIALIZED (
    SELECT c_id, c AS cq, c::DOUBLE[] AS c_vec FROM __cen{iters}
)""",
    )
    return ",\n".join(parts)


def ivf_assign_sql(
    vec_cte: str, id_col: str = "vec_id", vq_col: str = "vq"
) -> str:
    """One CTE body assigning every row of ``vec_cte`` (which must carry
    ``id_col`` and a quantized ``vq_col``) to its integer-score-nearest
    ``cen_final`` centroid — the DuckDB twin of
    :func:`_ivf_assignments` / the probe ranking. SELECTs every
    ``vec_cte`` column plus c_id and rn (callers filter rn = 1 for
    assignment or rn <= nprobe for probes)."""
    d = _sql_idot(f"v.{vq_col}", "c.cq")
    n = f"GREATEST({_sql_idot('c.cq', 'c.cq')}, 1)"
    return f"""
    SELECT v.*, c.c_id,
           row_number() OVER (PARTITION BY v.{id_col}
                              ORDER BY {_sql_iscore(d, n)} DESC, c.c_id) AS rn
    FROM {vec_cte} v CROSS JOIN cen_final c
"""


def ivf_candidates_sql(
    emb_cte: str = "emb", every: int = 100, nprobe: int = 8
) -> str:
    """CTE chain replaying the FULL IVF search path in DuckDB — fit
    (:func:`ivf_fit_sql`), integer-score assignment, integer-score probe
    choice, and exact ``round(cosine, 4)`` only inside probed cells —
    ending in ``cand(q_id, neighbor_id, cosine_sim)``: the DuckDB twin of
    :func:`_ivf_scored`. The r13 flip lever for the top-k / hard-negative
    / streaming-serve entries: with the fit and cell choice integer-exact
    (r12) the candidate SET is deterministic, and the one float op is the
    proven per-pair rounded cosine (verified bit-identical over every
    probed pair at sf0.01 — 937/937). Appendable after a prior CTE
    ``emb_cte`` with (vec_id, embedding DOUBLE[]); no leading WITH."""
    q = IVF_QUANT_SQL.format(col="embedding")
    return f"""{ivf_fit_sql(emb_cte)},
vv AS (SELECT vec_id, embedding, {q} AS vq FROM {emb_cte}),
assigned AS (SELECT vec_id AS neighbor_id, embedding AS v_vec,
                    c_id AS bucket
             FROM ({ivf_assign_sql("vv")}) WHERE rn = 1),
qv AS (SELECT vec_id AS q_id, embedding AS q_vec, vq FROM vv
       WHERE vec_id % {every} = 0),
probes AS (SELECT q_id, q_vec, c_id AS bucket
           FROM ({ivf_assign_sql("qv", id_col="q_id")})
           WHERE rn <= {nprobe}),
cand AS (SELECT DISTINCT p.q_id, a.neighbor_id,
                round(list_cosine_similarity(p.q_vec, a.v_vec), 4)
                    AS cosine_sim
         FROM probes p JOIN assigned a USING (bucket)
         WHERE p.q_id <> a.neighbor_id)"""


def _sql_il2(a: str, b: str) -> str:
    """Exact int64 squared L2 of two BIGINT[] as DuckDB SQL via the
    integer identity ||a-b||^2 = a.a - 2 a.b + b.b (each dot exact per
    :func:`_sql_idot`'s argument: micro-unit products <= 1.3e12,
    8-element sums <= 1.1e13 — integers < 2^53, so the double-valued dot
    is exact in any accumulation order)."""
    return (
        f"({_sql_idot(a, a)} - 2 * {_sql_idot(a, b)} + {_sql_idot(b, b)})"
    )


def pq_unit_sql(vq: str = "vq") -> str:
    """DuckDB twin of :func:`_uvq` over an existing milli-quantized
    BIGINT[] column: micro-unit int64 vector. GREATEST(n2, 1) folds the
    zero-vector case to floor(0.5) = 0 per element — the same value the
    Spark/numpy twins produce."""
    n2 = f"GREATEST(CAST(list_dot_product({vq}::DOUBLE[], {vq}::DOUBLE[]) AS BIGINT), 1)"
    return (
        f"list_transform({vq}, q -> CAST(floor("
        f"q * {UNIT_Q}.0 / sqrt(({n2})::DOUBLE) + 0.5) AS BIGINT))"
    )


def pq_fit_sql(
    m: int = 8,
    k: int = 16,
    dsub: int = 8,
    emb_cte: str = "emb",
    sample_every: int = 3,
    iters: int = 10,
    sample_cap: int = SAMPLE_CAP,
) -> str:
    """DuckDB CTE chain rebuilding :func:`_fit_pq_codebooks` BIT-FOR-BIT
    from the same parquet — the r13 extension of :func:`ivf_fit_sql` to
    the PQ codebooks: micro-unit quantized sample, per-subspace int64
    Lloyd (exact squared-L2 assignment via :func:`_sql_il2`, ties ->
    lowest centroid id, truncating-division integer means, empty cells
    keep their centroid). All ``m`` subspaces iterate TOGETHER (one
    assign/update CTE pair per Lloyd step, grouped by subspace), so the
    chain stays ``O(iters)`` CTEs, not ``O(m * iters)``. Ends in
    ``pq_books(s, c_id, c BIGINT[])``. Appendable after ``emb_cte``
    (vec_id, embedding DOUBLE[]); no leading WITH."""
    q = IVF_QUANT_SQL.format(col="embedding")
    parts = [
        f"""__psamp AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ri,
           {pq_unit_sql("vq")} AS u
    FROM (SELECT vec_id, {q} AS vq
          FROM (SELECT vec_id, embedding FROM {emb_cte}
                WHERE vec_id % {sample_every} = 0
                ORDER BY vec_id LIMIT {sample_cap}))
)""",
        f"""__ppar AS MATERIALIZED (
    SELECT count(*) AS L, LEAST({k}, count(*)) AS kk FROM __psamp
)""",
        f"""__psub AS MATERIALIZED (
    SELECT ri, ss.s AS s, list_slice(u, ss.s * {dsub} + 1, ss.s * {dsub} + {dsub}) AS x
    FROM __psamp, (SELECT unnest(range({m})) AS s) ss
)""",
        """__pcen0 AS MATERIALIZED (
    SELECT t.s, kk.j AS c_id, t.x AS c
    FROM __ppar p,
         LATERAL (SELECT unnest(range(p.kk)) AS j) kk
    JOIN __psub t ON t.ri = CASE WHEN p.kk > 1
                                 THEN ((p.L - 1) * kk.j) // (p.kk - 1)
                                 ELSE 0 END
)""",
    ]
    for i in range(1, iters + 1):
        d2 = _sql_il2("t.x", "c.c")
        parts.append(
            f"""__pasg{i} AS MATERIALIZED (
    SELECT t.ri, t.s, t.x, c.c_id
    FROM __psub t JOIN __pcen{i - 1} c USING (s)
    QUALIFY row_number() OVER (PARTITION BY t.ri, t.s
                               ORDER BY {d2} ASC, c.c_id) = 1
)"""
        )
        parts.append(
            f"""__pnewc{i} AS MATERIALIZED (
    SELECT s, c_id,
           list(CASE WHEN sm < 0 THEN -((-sm) // cnt) ELSE sm // cnt END
                ORDER BY pos) AS c
    FROM (SELECT a.s, a.c_id, u.pos, CAST(sum(u.val) AS BIGINT) AS sm,
                 count(*) AS cnt
          FROM __pasg{i} a,
               LATERAL (SELECT unnest(a.x) AS val,
                               unnest(generate_series(1, len(a.x))) AS pos) u
          GROUP BY a.s, a.c_id, u.pos)
    GROUP BY s, c_id
)"""
        )
        parts.append(
            f"""__pcen{i} AS MATERIALIZED (
    SELECT p.s, p.c_id, coalesce(n.c, p.c) AS c
    FROM __pcen{i - 1} p LEFT JOIN __pnewc{i} n USING (s, c_id)
)"""
        )
    parts.append(
        f"""pq_books AS MATERIALIZED (
    SELECT s, c_id, c FROM __pcen{iters}
)"""
    )
    return ",\n".join(parts)


def _kmeans_assign(x, cen):
    """argmax_j of the integer assignment score (ties -> lowest j).
    score(v, c) = sign(dot(v,c)) * (dot(v,c)^2 * SCALE div dot(c,c)) —
    the cross-multiplied, sqrt-free cosine ordering, exact in int64."""
    import numpy as np

    d = x @ cen.T  # int64-exact
    nc = np.maximum((cen * cen).sum(axis=1), 1)  # guard all-zero cell
    score = np.sign(d) * ((d * d * KMEANS_SCORE_SCALE) // nc[None, :])
    return score.argmax(axis=1)


def derived_centroids(embeddings: DataFrame, n_centroids: int | None) -> int:
    """sqrt(N) coarse-quantizer sizing from an ACTUAL corpus count (the
    memoized count is one columnless scan — index-build cost). A constant
    centroid count would make every 'bounded at nprobe/n_cells' claim
    false at scale: cells grow linearly with the corpus and the probed
    scan degrades back toward |Q| x |V|. Callers may still pass an
    explicit n_centroids (tests, tuning); None means derive."""
    if n_centroids is not None:
        return n_centroids
    n = _artifact(
        embeddings.sparkSession, embeddings, "count", (), embeddings.count
    )
    return max(4, int(round(n ** 0.5)))


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int | None = None,
    sample_every: int = 3,
    iters: int = 10,
    sample_cap: int = SAMPLE_CAP,
) -> list[list[float]]:
    """Memoized front of :func:`_fit_kmeans_centroids` (same session +
    same input plan + same params -> the fit runs once). ``n_centroids``
    defaults to the sqrt(N) derivation of :func:`derived_centroids`."""
    n_centroids = derived_centroids(embeddings, n_centroids)
    return _artifact(
        embeddings.sparkSession,
        embeddings,
        "kmeans",
        (n_centroids, sample_every, iters, sample_cap),
        lambda: _fit_kmeans_centroids(
            embeddings, n_centroids, sample_every, iters, sample_cap
        ),
    )


def _ivq(col: Column) -> Column:
    """Milli-quantized int64 vector, element-wise floor(x*1000 + 0.5) —
    the SAME quantization the integer k-means fit applies to its sample
    (:data:`KMEANS_Q`), so assignment scoring below is exact int64
    arithmetic an independent engine reproduces bit-for-bit. The cast to
    double FIRST matters: float32 * 1000 in float32 rounds differently
    than the double multiply both numpy and DuckDB perform."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * KMEANS_Q + F.lit(0.5))
    )


_ISCORE_SQL = (
    "CASE WHEN __d < 0 THEN -((__d * __d * {s}) DIV __n) "
    "ELSE (__d * __d * {s}) DIV __n END"
).format(s=KMEANS_SCORE_SCALE)


def _with_iscore(df: DataFrame, vq: str, cq: str) -> DataFrame:
    """Append ``__score``: the integer assignment score
    sign(d) * (d^2 * SCALE DIV dot(c,c)) with d = dot(vq, cq) — the
    sqrt-free cross-multiplied cosine ordering of :func:`_kmeans_assign`,
    exact in int64 (worst case |d| = 64e6 -> d^2*SCALE = 4.1e18 < 2^63).
    Ties are broken by the caller's ORDER BY c_id."""
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        df.withColumn("__d", dot(vq, cq))
        .withColumn("__n", F.greatest(dot(cq, cq), F.lit(1).cast("long")))
        .withColumn("__score", F.expr(_ISCORE_SQL))
        .drop("__d", "__n")
    )


def _cen_q(cen: DataFrame) -> DataFrame:
    """Centroid frame with the int64 twin of c_vec appended (centroids
    are integral doubles since the r12 integer fit, so the cast is
    exact)."""
    return cen.withColumn(
        "cq", F.transform("c_vec", lambda x: x.cast("long"))
    )


def _ivf_assignments(embeddings: DataFrame, cen: DataFrame) -> DataFrame:
    """(neighbor_id, v_vec, bucket): every vector assigned to its nearest
    coarse centroid — broadcast centroids, one bounded
    BroadcastNestedLoopJoin + a per-vector window (frame = n_centroids
    rows). Shared by the IVF candidate generator and the index health
    report. Nearest = argmax of the INTEGER assignment score (r12) over
    the milli-quantized vector — the same exact arithmetic as the fit,
    so the full index build (fit + assignment) is reproducible by the
    DuckDB oracle with zero float-ordering risk; the float v_vec rides
    along for the exact per-pair cosine the search path reports."""
    v = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        _dvec(F.col("embedding")).alias("v_vec"),
        _ivq(F.col("embedding")).alias("vq"),
    )
    va = _with_iscore(
        v.crossJoin(F.broadcast(_cen_q(cen))), "vq", "cq"
    ).select("neighbor_id", "v_vec", "c_id", "__score")
    wv = Window.partitionBy("neighbor_id").orderBy(
        F.col("__score").desc(), F.col("c_id")
    )
    return (
        va.withColumn("rn", F.row_number().over(wv)).filter(F.col("rn") == 1)
        .select("neighbor_id", "v_vec", F.col("c_id").alias("bucket"))
    )


def _ivf_scored(
    embeddings: DataFrame, every: int, n_centroids: int | None, nprobe: int
) -> DataFrame:
    """(q_id, neighbor_id, cosine_sim) for every query x candidate pair
    the IVF index admits: vectors assigned to their nearest centroid
    (broadcast assignment join), queries probing their nprobe nearest
    cells, exact cosine only inside the probed buckets. The bucket
    EQUI-join replaces the |Q| x |V| cross product — the shared candidate
    generator behind :func:`ivf_topk` and
    :func:`hard_negative_triplets_ivf`."""
    spark = embeddings.sparkSession
    cen = spark.createDataFrame(
        [(j, c) for j, c in enumerate(kmeans_centroids(embeddings, n_centroids))],
        "c_id int, c_vec array<double>",
    )
    assigned = _ivf_assignments(embeddings, cen)
    q = _queries(embeddings, every)
    return _ivf_candidates(q, cen, assigned, nprobe)


def _ivf_candidates(
    q: DataFrame, cen: DataFrame, assigned: DataFrame, nprobe: int = 8
) -> DataFrame:
    """(q_id, neighbor_id, cosine_sim) for a QUERY SET against a built
    index (centroids + assignments) — the serving-side half of the IVF
    search, shared by the batch entries and the online (stream-static)
    serving pipeline, where ``q`` is one micro-batch of queries."""
    # probe: nprobe nearest centroids per query — same integer score as
    # the assignment side (r12), so probed-cell choice is exactly
    # reproducible cross-engine.
    qc = _with_iscore(
        q.withColumn("qq", _ivq(F.col("q_vec")))
        .crossJoin(F.broadcast(_cen_q(cen))),
        "qq",
        "cq",
    ).select("q_id", "q_vec", "c_id", F.col("__score").alias("sim"))
    wq = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq)).filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", F.col("c_id").alias("bucket"))
    )
    return (
        probes.join(assigned, "bucket")
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select(
            "q_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("v_vec")), 4).alias("cosine_sim"),
        )
        .distinct()
    )


def ivf_index(
    embeddings: DataFrame, n_centroids: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments): the built IVF index as two DataFrames —
    what an online serving job materializes once at start-up and then
    probes per incoming query batch."""
    spark = embeddings.sparkSession
    cen = spark.createDataFrame(
        [(j, c) for j, c in enumerate(kmeans_centroids(embeddings, n_centroids))],
        "c_id int, c_vec array<double>",
    )
    return cen, _ivf_assignments(embeddings, cen)


def ivf_topk(
    embeddings: DataFrame, k: int = 10, every: int = 100,
    n_centroids: int | None = None, nprobe: int = 8,
) -> DataFrame:
    """IVF-bucketed approximate top-k.

    Centroids come from :func:`kmeans_centroids` (seeded sampled spherical
    k-means). Each vector is assigned to its nearest centroid (broadcast
    assignment join); each query probes its nprobe nearest centroid buckets,
    so the bucket equi-join replaces the |Q| x |V| cross product.
    """
    scored = _ivf_scored(embeddings, every, n_centroids, nprobe)
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Scalar (per-dimension min-max) int8 quantization of the embedding
    column — the storage-compression step of a vector index build (FAISS
    ScalarQuantizer posture: 4x smaller vectors, error bounded by the
    per-dim range / 255).

    Plan shape, fully distributed: per-dim min/max via posexplode + hash
    agg on the 64 dim positions; the 64 (min, max) pairs collapse to ONE
    row of two arrays that is broadcast back over the corpus (no
    driver-side collect — the stats stay in-plan), and each vector
    quantizes element-wise in whole-stage codegen. Output carries spot
    dims, an order-insensitive max-abs reconstruction error, and an md5
    digest of the full int vector so the driver hash covers every
    element without comparing raw arrays.
    """
    e = embeddings.select("vec_id", _dvec(F.col("embedding")).alias("v"))
    dims = (
        e.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    stats = dims.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s")
    ).select(
        F.transform("s", lambda s: s.mn).alias("mins"),
        F.transform("s", lambda s: s.mx).alias("maxs"),
    )
    q = F.transform(
        F.col("v"),
        lambda x, i: F.round(
            (x - F.element_at(F.col("mins"), i + 1))
            / (
                F.element_at(F.col("maxs"), i + 1)
                - F.element_at(F.col("mins"), i + 1)
            )
            * 255
        ).cast("int"),
    )
    deq = F.transform(
        F.col("q"),
        lambda qi, i: F.element_at(F.col("mins"), i + 1)
        + (qi / F.lit(255.0))
        * (
            F.element_at(F.col("maxs"), i + 1)
            - F.element_at(F.col("mins"), i + 1)
        ),
    )
    return (
        e.crossJoin(F.broadcast(stats))
        .withColumn("q", q)
        .select(
            "vec_id",
            F.element_at("q", 1).alias("q0"),
            F.element_at("q", 33).alias("q32"),
            F.element_at("q", 64).alias("q63"),
            F.md5(F.concat_ws(",", F.transform("q", lambda x: x.cast("string")))).alias(
                "q_digest"
            ),
            # max is order-insensitive, so the float reduction is
            # engine-stable (a sum would depend on fold order).
            F.round(
                F.array_max(F.zip_with(F.col("v"), deq, lambda x, d: F.abs(x - d))),
                6,
            ).alias("max_abs_err"),
        )
    )


def plane_weights(n_planes: int = 12, dims: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1): weight of
    plane j, dimension d = (md5-prefix-40bit('hp_j_d') / 2^40) * 2 - 1.
    Computed driver-side so the identical double literals appear in the
    Spark plan AND the DuckDB oracle SQL."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"hp_{j}_{d}".encode()).hexdigest()[:10], 16)
            / float(1 << 40)
            * 2
            - 1
            for d in range(dims)
        ]
        for j in range(n_planes)
    ]


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    n_planes: int = 12,
    threshold: float = 0.97,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane sign-bit LSH bucket, then
    exact cosine verify >= threshold. Vectors agreeing on every sign bit
    land in one bucket; the bucket equi-join replaces the |V|^2 cross
    product (the 100 TB path), and only bucket-mates pay the exact cosine.

    Clone-mass guard: N identical (or sign-identical) vectors share the
    ONE bucket, so the self-join on it is O(N^2) — buckets larger than
    ``max_band_bucket`` (default ``text_dedup.MAX_BAND_BUCKET``) are
    dropped first via the same pre-aggregated hot-key anti-join as the
    text band paths (run exact dedup on the vectors first; cap mirrored
    in the DuckDB oracle)."""
    from .text_dedup import MAX_BAND_BUCKET, drop_hot_buckets

    if max_band_bucket is None:
        max_band_bucket = MAX_BAND_BUCKET
    v = embeddings.select(F.col("vec_id"), _dvec(F.col("embedding")).alias("vec"))
    bucket = None
    for j, weights in enumerate(plane_weights(n_planes)):
        w_arr = F.array(*[F.lit(w) for w in weights])
        bit = F.when(_dot(F.col("vec"), w_arr) > 0, F.lit(1).cast("bigint")).otherwise(
            0
        ) * F.lit(1 << j).cast("bigint")
        bucket = bit if bucket is None else bucket + bit
    # Checkpoint the bucketed frame: the hot-bucket counts branch and
    # the pair self-join would otherwise EACH recompute the 12
    # hyperplane dot products per vector (no shuffle below this point,
    # so Spark has no exchange to reuse across the two branches).
    bucketed = drop_hot_buckets(
        v.withColumn("bucket", bucket).localCheckpoint(),
        ("bucket",),
        max_band_bucket,
    )
    a = bucketed.select(F.col("vec_id").alias("a"), F.col("vec").alias("va"), "bucket")
    b = bucketed.select(F.col("vec_id").alias("b"), F.col("vec").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cosine_sim")
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# --- product quantization (FAISS PQ posture) --------------------------------

PQ_M = 8  # subspaces: 64 dims -> 8 slices of 8
PQ_K = 16  # centroids per subspace (4-bit codes)


def _fit_pq_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    sample_every: int = 3,
    iters: int = 10,
    sample_cap: int = SAMPLE_CAP,
) -> list[list[list[int]]]:
    """Per-subspace L2 k-means on the deterministic bounded sample (the PQ
    codebook training step; same bounded-sample posture as
    :func:`kmeans_centroids` — nothing driver-side scales with the
    corpus). Vectors are unit-normalized so ADC L2 ranking matches cosine
    ranking (||q-v||^2 = 2 - 2cos on the unit sphere).

    INTEGER-EXACT since r13 (the r12 IVF-fit move applied to PQ): the
    sample is micro-quantized on the unit sphere (:func:`_uvq` — the only
    float facts used are element-wise IEEE multiply/divide/sqrt, never a
    float sum), Lloyd runs in int64 (exact squared-L2 assignment, ties ->
    lowest centroid id, truncating-division integer means, empty cells
    keep their centroid), so the DuckDB oracle (:func:`pq_fit_sql`)
    rebuilds bit-identical codebooks from the same parquet and every
    downstream step (encode argmin, distance tables, ADC sums) is exact
    integer arithmetic with zero float-ordering freedom.
    Returns codebooks[m][k][d_sub] as int64 micro-unit values."""
    import numpy as np

    rows = (
        embeddings.filter(F.col("vec_id") % sample_every == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_cap)
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks: empty training sample")
    v = np.array([r.embedding for r in rows], dtype=np.float64)
    vq = np.floor(v * KMEANS_Q + 0.5).astype(np.int64)
    n2 = (vq * vq).sum(axis=1)  # int64-exact
    safe = np.sqrt(np.maximum(n2, 1).astype(np.float64))
    u = np.where(
        (n2 == 0)[:, None],
        0,
        np.floor(vq.astype(np.float64) * UNIT_Q / safe[:, None] + 0.5),
    ).astype(np.int64)
    d = u.shape[1]
    dsub = d // m
    books = []
    for s in range(m):
        xs = u[:, s * dsub : (s + 1) * dsub]
        k_eff = min(k, len(xs))
        init_idx = [
            ((len(xs) - 1) * j) // (k_eff - 1) if k_eff > 1 else 0
            for j in range(k_eff)
        ]
        cen = xs[init_idx].copy()  # int64 micro-units
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cen[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # first-min: ties -> lowest id
            for j in range(k_eff):
                members = xs[assign == j]
                if len(members):
                    ssum = members.sum(axis=0)  # int64-exact
                    cen[j] = np.sign(ssum) * (np.abs(ssum) // len(members))
        books.append([[int(c) for c in row] for row in cen])
    return books


def pq_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    sample_every: int = 3,
    iters: int = 10,
    sample_cap: int = SAMPLE_CAP,
) -> list[list[list[int]]]:
    """Memoized front of :func:`_fit_pq_codebooks`."""
    return _artifact(
        embeddings.sparkSession,
        embeddings,
        "pq",
        (m, k, sample_every, iters, sample_cap),
        lambda: _fit_pq_codebooks(
            embeddings, m, k, sample_every, iters, sample_cap
        ),
    )


def _unit(col: Column) -> Column:
    n = _norm(col)
    return F.transform(col, lambda x: x / n)


UNIT_Q = 1_000_000  # micro quantization of the unit-normalized vector (r13)


def _let(val: Column, body) -> Column:
    """Poor-man's let-binding: bind ``val`` to a lambda variable so it is
    evaluated ONCE per enclosing evaluation no matter how many times (or
    how deep inside other lambdas) ``body`` references it — Spark SQL has
    no first-class ``let``; transforming a 1-element array is the
    standard workaround. This matters twice over: higher-order functions
    evaluate interpreted (outside whole-stage codegen), and
    CollapseProject happily inlines a single-textual-reference alias into
    a lambda body, where iteration re-evaluates it per element — the
    combination turned the 240-row ivfpq probe stage into ~1.2e9
    interpreted ops (measured 67 s vs 5 s at sf0.1) before r13 bound the
    query vector with this."""
    return F.element_at(F.transform(F.array(val), body), 1)


def _uvq(col: Column) -> Column:
    """Micro-quantized UNIT vector as int64 — the r13 lever that makes the
    whole PQ path (fit, encode, distance tables, ADC ranking) exact
    integer arithmetic, the same move r12 made for the IVF coarse
    quantizer: ``u[i] = floor(vq[i] * 1e6 / sqrt(n2) + 0.5)`` where
    ``vq`` is the milli-quantized raw vector (:func:`_ivq`) and
    ``n2 = dot(vq, vq)``.

    Deterministic cross-engine because no float SUMMATION feeds any
    element: n2 is an exact int64 (every product and partial sum
    < 2^53, so even a double-valued dot is exact regardless of fold
    order), sqrt of an exactly-represented value is IEEE
    correctly-rounded, and the remaining multiply/divide/floor are
    element-wise. numpy (the fit), Spark (encode/search), and DuckDB
    (the oracle) reproduce every element bit-for-bit."""
    # vq and n2 are let-bound (see :func:`_let`): inlined, n2 (itself an
    # aggregate over vq) would be re-evaluated per OUTPUT ELEMENT and vq
    # per reference — O(d^2) interpreted ops per evaluation instead of
    # O(d).
    return _let(
        _ivq(col),
        lambda vq: _let(
            F.aggregate(
                F.zip_with(vq, vq, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
            lambda n2: F.transform(
                vq,
                lambda q: F.when(n2 == 0, F.lit(0).cast("long")).otherwise(
                    F.floor(
                        q.cast("double") * UNIT_Q / F.sqrt(n2.cast("double"))
                        + F.lit(0.5)
                    )
                ),
            ),
        ),
    )


def _il2(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 distance of two bigint vectors (micro-unit
    subvectors: |diff| <= ~2e6, squares <= 4e12, dsub-sums <= 3.2e13 —
    far inside int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _books_literal(books: list) -> Column:
    """Codebooks as ONE array<array<array<bigint>>> literal built from a
    single SQL string (per-element F.lit = one py4j call each; the single
    expr parses once and rides as one constant). Int64 micro-unit values
    since the r13 integer-exact fit."""
    lit = "array(" + ",".join(
        "array(" + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in cen) + ")"
            for cen in book
        ) + ")"
        for book in books
    ) + ")"
    return F.expr(lit)


def pq_encode(embeddings: DataFrame, books: list) -> DataFrame:
    """(vec_id, v, code array<int>): per subspace, the index of the
    nearest codebook centroid (argmin of the EXACT int64 squared L2 over
    the micro-unit vector since r13; ties -> lowest index via the first
    array_position match). Pure Catalyst, and deliberately a COMPACT
    expression tree: the codebooks ride as one literal and the m x k
    argmin is two nested ``transform``s — the naive m*k expansion of
    distance subtrees compiled to a ~MiB task binary whose codegen time
    dominated small-SF wall time."""
    dsub = len(books[0][0])
    v = embeddings.select(
        "vec_id",
        _unit(_dvec(F.col("embedding"))).alias("v"),
        _uvq(F.col("embedding")).alias("uq"),
    )

    def code_for(book: Column, s: Column) -> Column:
        dists = F.transform(
            book,
            lambda cen: _il2(
                F.slice(F.col("uq"), s * F.lit(dsub) + 1, F.lit(dsub)), cen
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    return v.select(
        "vec_id", "v", F.transform(_books_literal(books), code_for).alias("code")
    )


def _dt_tables(uqv: Column, books: list) -> Column:
    """Per-query ADC distance table (array[m] of array[k] of EXACT int64
    squared L2 over the micro-unit query vector, r13) as a SMALL
    expression tree: the codebooks ride as ONE array literal (built from
    a single SQL string — per-element F.lit would be one py4j call each)
    and the m x k loop is two nested ``transform``s. The naive expansion
    (m*k separate distance sub-trees) compiled to a ~2 MiB task binary
    and dominated wall time at small SF."""
    dsub = len(books[0][0])
    bcol = _books_literal(books)
    # uqv let-bound: referenced from inside the m x k lambda nest, so an
    # inlined expression (CollapseProject folds single-reference aliases
    # into lambda bodies) would be re-evaluated per (subspace, centroid).
    return _let(
        uqv,
        lambda uq: F.transform(
            bcol,
            lambda book, s: F.transform(
                book,
                lambda cen: _il2(
                    F.slice(uq, s * F.lit(dsub) + 1, F.lit(dsub)), cen
                ),
            ),
        ),
    )


def pq_topk(
    embeddings: DataFrame,
    k: int = 10,
    every: int = 100,
    candidates: int = 50,
) -> DataFrame:
    """PQ asymmetric-distance top-k: queries keep exact (normalized)
    vectors; database vectors are represented ONLY by their m nibble
    codes. Each query precomputes its m x 16 distance table to the
    codebooks (broadcast, one row per query); the approximate distance to
    a database vector is the sum of m table lookups — the scan touches 8
    ints per vector instead of 64 doubles (the PQ memory/bandwidth win).
    The ``candidates`` best by ADC are re-ranked exactly; top-k returned.

    Deterministic end-to-end (integer-exact codebooks, int64 ADC sums,
    tie-breaks on ids) — but its flat ADC scan is an unbounded crossJoin,
    so it stays a pytest-only recall reference; the registered (and since
    r13 hash-green) PQ shape is :func:`ivfpq_topk`.
    """
    books = pq_codebooks(embeddings)
    m = len(books)
    coded = pq_encode(embeddings, books).select("vec_id", "code")
    q = _queries(embeddings, every)
    # per-query distance tables: array[m] of array[k] of exact int64.
    # ``uq`` MUST be a materialized column, not an inline expression:
    # ``_dt_tables`` references the query vector once per (subspace,
    # centroid) = m*k times, and CollapseProject would otherwise inline
    # the whole _uvq subtree (itself an aggregate over 64 elements) into
    # every reference — measured 67 s vs 5 s at sf0.1 for ivfpq_topk.
    # As a named multi-referenced non-cheap alias it is evaluated once
    # per row (the same materialize-first pattern as pq_encode's ``uq``).
    qt = (
        q.withColumn("uq", _uvq(F.col("q_vec")))
        .withColumn("dt", _dt_tables(F.col("uq"), books))
        .select("q_id", "q_vec", "dt")
    )
    # ADC scan: sum of m table lookups per (query, code) pair.
    scanned = (
        qt.crossJoin(coded)
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "q_vec",
            F.col("vec_id").alias("neighbor_id"),
            _adc(F.col("dt"), F.col("code"), m).alias("adc"),
        )
    )
    wc = Window.partitionBy("q_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    cands = (
        scanned.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= candidates)
        .select("q_id", "q_vec", "neighbor_id")
    )
    # exact re-rank of the candidate set only
    v = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        _dvec(F.col("embedding")).alias("v_vec"),
    )
    rescored = cands.join(v, "neighbor_id").select(
        "q_id",
        "neighbor_id",
        # raw-vector cosine (scale-invariant == the unit-sphere value):
        # the exact expression the hash-green cosine entries share.
        F.round(cosine(F.col("q_vec"), F.col("v_vec")), 4).alias("cosine_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


def _adc(dt_col: Column, code_col: Column, m: int) -> Column:
    """ADC distance: sum of m (subspace -> code) lookups in the query's
    distance table. Pure element_at chain — whole-stage codegen."""
    adc = None
    for s in range(m):
        term = F.element_at(
            F.element_at(dt_col, s + 1), F.element_at(code_col, s + 1) + 1
        )
        adc = term if adc is None else adc + term
    return adc


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = 10,
    every: int = 100,
    n_centroids: int | None = None,
    nprobe: int = 12,
    candidates: int = 80,
) -> DataFrame:
    """IVF x PQ composed top-k — the terminal 100 TB ANN shape: IVF cell
    pruning bounds WHICH vectors are scanned, PQ codes bound the BYTES per
    scanned vector.

    Index build (both on bounded samples, nothing driver-side scales with
    the corpus): a coarse quantizer from :func:`kmeans_centroids` and PQ
    codebooks from :func:`pq_codebooks`. Codes are over the normalized
    vector directly (FAISS ``IndexIVFPQ`` with ``by_residual=False``) —
    residual encoding would need per-cell codebook shifts; the flat
    variant keeps the distance table per-QUERY only, which is what lets
    the probe join stay a pure bucket equi-join.

    Scan: each database vector carries (bucket, code) — 1 int + m
    nibbles. Each query probes its ``nprobe`` nearest cells; the ADC scan
    is the ``bucket`` EQUI-JOIN of probes x coded vectors (no cross
    product anywhere — the plan gate in tests/test_training_ops.py
    asserts no CartesianProduct). Best ``candidates`` by ADC re-rank
    exactly; top-k returned. HASH-GREEN since r13 (same contract as
    ivf_topk): the PQ fit is integer-exact (:func:`_fit_pq_codebooks`),
    cell assignment/probing use the r12 integer score, ADC sums are
    int64 — the DuckDB oracle replays fit + encode + scan bit-for-bit,
    and the only float op is the proven per-pair round(cosine, 4)
    re-rank. Recall vs the FLAT baseline stays pinned in pytest.

    Defaults probe wider than plain IVF (nprobe 12, candidates 80): the
    composition stacks two approximations (cell pruning x code
    distortion), and the FAISS-standard way to buy the recall back is
    more probes — the scan stays bounded at nprobe/n_cells of the corpus.
    """
    spark = embeddings.sparkSession
    books = pq_codebooks(embeddings)
    m = len(books)
    cen = spark.createDataFrame(
        [(j, c) for j, c in enumerate(kmeans_centroids(embeddings, n_centroids))],
        "c_id int, c_vec array<double>",
    )
    # db side: IVF cell + PQ code per vector (the stored index posture:
    # the raw vector is NOT carried into the scan). Cell choice uses the
    # INTEGER assignment score since r13 — the same exact arithmetic as
    # ivf_topk's index build, so the oracle replays it bit-for-bit.
    coded = _ivf_assignments(embeddings, cen).select(
        "neighbor_id", "bucket"
    ).join(
        pq_encode(embeddings, books).select(
            F.col("vec_id").alias("neighbor_id"), "code"
        ),
        "neighbor_id",
    )
    # query side: nprobe nearest cells (integer probe score) + per-query
    # exact-int64 ADC distance table over the micro-unit query vector.
    q = _queries(embeddings, every)
    qc = _with_iscore(
        q.withColumn("qq", _ivq(F.col("q_vec"))).crossJoin(
            F.broadcast(_cen_q(cen))
        ),
        "qq",
        "cq",
    ).select("q_id", "q_vec", "c_id", F.col("__score").alias("sim"))
    wq = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    # ``uq`` materialized first (NOT inlined into _dt_tables): the
    # distance table references the query vector m*k = 128 times, and an
    # inline _uvq subtree (itself aggregate-bearing) would be re-evaluated
    # per reference — measured 67 s vs 5 s at sf0.1 for this entry. As a
    # named non-cheap alias CollapseProject keeps it one-eval-per-row
    # (same pattern as pq_encode's ``uq``).
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", F.col("c_id").alias("bucket"))
        .withColumn("uq", _uvq(F.col("q_vec")))
        .withColumn("dt", _dt_tables(F.col("uq"), books))
        .drop("uq")
    )
    # ADC scan gated by the probed cells: bucket equi-join, not a cross.
    scanned = (
        probes.join(coded, "bucket")
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "q_vec", "neighbor_id", _adc(F.col("dt"), F.col("code"), m).alias("adc"))
    )
    wc = Window.partitionBy("q_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    cands = (
        scanned.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= candidates)
        .select("q_id", "q_vec", "neighbor_id")
    )
    ve = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), _dvec(F.col("embedding")).alias("v_vec")
    )
    rescored = cands.join(ve, "neighbor_id").select(
        "q_id",
        "neighbor_id",
        # raw-vector cosine (scale-invariant == the unit-sphere value):
        # the proven cross-engine expression of the hash-green entries.
        F.round(cosine(F.col("q_vec"), F.col("v_vec")), 4).alias("cosine_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


SEMDEDUP_THRESHOLD = 0.95


def semdedup(
    embeddings: DataFrame,
    n_centroids: int | None = None,
    threshold: float = SEMDEDUP_THRESHOLD,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): k-means the embedding
    space with the SAME bounded-sample coarse quantizer as IVF, then
    inside each cluster greedily drop vectors whose cosine to an
    already-kept vector exceeds ``threshold``.

    Scale shape: the quadratic pass is confined to one cluster at a time
    (``applyInPandas`` per bucket), and ``n_centroids`` defaults to
    sqrt(N) DERIVED from an actual corpus count — not a constant — so the
    expected cluster size stays ~sqrt(N) and the per-cluster O(c^2) pass
    grows as O(N) total, not O(N^2) (a constant centroid count would let
    cluster sizes grow linearly with the corpus; the sqrt-bound is pinned
    by tests/test_training_ops.py::test_semdedup_bucket_sqrt_bound at two
    SFs). The count is one columnless scan — index-build cost, same
    posture as the quantizer's own training sample. Greedy order is
    vec_id-ascending, so the result is deterministic and independent of
    partitioning. The paper's own formulation is exactly this
    within-cluster pairwise pass — the clustering IS the guard against
    corpus-quadratic work.

    Output: (vec_id, bucket, keep, dup_of) — dup_of is the kept vector
    that shadowed a dropped one, NULL for kept rows.
    """
    import pandas as pd

    spark = embeddings.sparkSession
    n_centroids = derived_centroids(embeddings, n_centroids)
    cen = spark.createDataFrame(
        [(j, c) for j, c in enumerate(kmeans_centroids(embeddings, n_centroids))],
        "c_id int, c_vec array<double>",
    )
    v = embeddings.select("vec_id", _dvec(F.col("embedding")).alias("v_vec"))
    va = v.crossJoin(F.broadcast(cen)).select(
        "vec_id",
        "v_vec",
        "c_id",
        F.round(cosine(F.col("v_vec"), F.col("c_vec")), 4).alias("sim"),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    assigned = (
        va.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v_vec", F.col("c_id").alias("bucket"))
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        x = np.array(list(pdf["v_vec"]), dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        kept_idx: list[int] = []
        keep = np.ones(len(pdf), dtype=bool)
        dup_of = np.full(len(pdf), -1, dtype=np.int64)
        for i in range(len(pdf)):
            if kept_idx:
                sims = x[kept_idx] @ x[i]
                j = int(sims.argmax())
                if sims[j] > threshold:
                    keep[i] = False
                    dup_of[i] = pdf["vec_id"].iloc[kept_idx[j]]
                    continue
            kept_idx.append(i)
        out = pdf[["vec_id", "bucket"]].copy()
        out["keep"] = keep
        out["dup_of"] = pd.array(
            [None if d < 0 else int(d) for d in dup_of], dtype="Int64"
        )
        return out

    return assigned.groupBy("bucket").applyInPandas(
        dedup_cluster, "vec_id bigint, bucket int, keep boolean, dup_of bigint"
    )


def hard_negative_triplets(
    embeddings: DataFrame,
    every: int = 100,
    neg_lo: int = 11,
    neg_hi: int = 20,
) -> DataFrame:
    """Contrastive training-pair mining: for each anchor query, the
    (anchor, positive, hard-negative) triplets an embedding-model
    trainer consumes — positive = exact nearest neighbor, hard negatives
    = the close-but-not-nearest band (ranks ``neg_lo``..``neg_hi``),
    which is where the training signal lives (easy negatives are
    uninformative; the band is the standard ANCE/DPR-style choice).

    One scored pass + ONE rank window; the positive is pulled alongside
    the band rows by a same-partition window max (no second shuffle, no
    self-join). Exact ranking here is the documented baseline shape (like
    :func:`cosine_topk`); at 100 TB the ranked pass rides the IVF index
    instead — the banding/join logic is unchanged.

    Output: (q_id, pos_id, pos_sim, neg_id, neg_sim, neg_rank).
    """
    q = _queries(embeddings, every)
    v = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), _dvec(F.col("embedding")).alias("v_vec")
    )
    scored = (
        q.crossJoin(v)
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select(
            "q_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("v_vec")), 4).alias("cosine_sim"),
        )
    )
    return _triplets_from_scored(scored, neg_lo, neg_hi)


def _triplets_from_scored(
    scored: DataFrame, neg_lo: int, neg_hi: int
) -> DataFrame:
    """Band selection shared by the exact and IVF-gated miners: one rank
    window over the scored candidates, positive pulled alongside the band
    rows by a same-partition window max (no second shuffle, no
    self-join)."""
    wr = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(wr)).filter(
        (F.col("rank") == 1)
        | ((F.col("rank") >= neg_lo) & (F.col("rank") <= neg_hi))
    )
    wq = Window.partitionBy("q_id")
    return (
        ranked.withColumn(
            "pos_id",
            F.max(F.when(F.col("rank") == 1, F.col("neighbor_id"))).over(wq),
        )
        .withColumn(
            "pos_sim",
            F.max(F.when(F.col("rank") == 1, F.col("cosine_sim"))).over(wq),
        )
        .filter(F.col("rank") >= neg_lo)
        .select(
            "q_id",
            "pos_id",
            "pos_sim",
            F.col("neighbor_id").alias("neg_id"),
            F.col("cosine_sim").alias("neg_sim"),
            F.col("rank").alias("neg_rank"),
        )
    )


def hard_negative_triplets_ivf(
    embeddings: DataFrame,
    every: int = 100,
    neg_lo: int = 11,
    neg_hi: int = 20,
    n_centroids: int | None = None,
    nprobe: int = 12,
) -> DataFrame:
    """Hard-negative mining riding the IVF index — the 100 TB shape of
    :func:`hard_negative_triplets`: candidate generation is the IVF
    bucket EQUI-join (:func:`_ivf_scored` — exact cosine only inside the
    ``nprobe`` probed cells), then the identical band selection. No
    |Q| x |V| cross product anywhere (plan-gated: no CartesianProduct /
    BroadcastNestedLoopJoin beyond the broadcast centroid assignment).

    Triplet mining runs per training iteration, so unlike the one-time
    exact baseline this is the variant a trainer actually schedules.
    Probes are wider than plain top-k IVF (nprobe 12): the negative band
    sits at ranks ``neg_lo``..``neg_hi``, deeper into the neighbor list
    than rank 1, and recall at depth is bought with probes — the scan
    stays bounded at nprobe/n_cells of the corpus. Overlap vs the exact
    miner at equal budget is pinned by
    tests/test_training_ops.py::test_hard_negatives_ivf_overlap.
    """
    scored = _ivf_scored(embeddings, every, n_centroids, nprobe)
    return _triplets_from_scored(scored, neg_lo, neg_hi)


# --- round 7: deterministic random projection --------------------------------

PROJ_DIMS = 16


def proj_weights(out_dims: int = PROJ_DIMS, dims: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random projection matrix in [-1, 1), same
    md5-prefix scheme as :func:`plane_weights` (key ``rp_j_d``) so the
    identical double literals appear in the Spark plan AND the DuckDB
    oracle SQL."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"rp_{j}_{d}".encode()).hexdigest()[:10], 16)
            / float(1 << 40)
            * 2
            - 1
            for d in range(dims)
        ]
        for j in range(out_dims)
    ]


def random_projection(embeddings: DataFrame, out_dims: int = PROJ_DIMS) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> ``out_dims`` dims —
    the dimensionality-reduction step before sketching/ANN when the
    embedding width itself is the bandwidth cost (a 4x narrower vector is
    a 4x cheaper shuffle in every downstream join).

    The projection matrix is a deterministic bounded artifact riding as
    ONE array<array<double>> literal (the same single-expr pattern as the
    PQ codebooks — per-element lit() would be one py4j call each); the
    projected vector is a nested ``transform``/``aggregate`` — pure
    Catalyst, whole-stage codegen, zero shuffle. Spot components are
    rounded to 6 decimals; the md5 digest covers every component as
    integer MICRO-units (round(x * 1e6) as bigint — double-to-string
    formatting is NOT engine-portable, int-to-string is), so the driver
    hash sees the full projected vector.

    Output: (vec_id, p0, p{mid}, p{last}, p_digest).
    """
    ws = proj_weights(out_dims)
    lit = "array(" + ",".join(
        "array(" + ",".join(repr(float(v)) for v in row) + ")" for row in ws
    ) + ")"
    v = embeddings.select("vec_id", _dvec(F.col("embedding")).alias("v"))
    dots = F.transform(F.expr(lit), lambda row: _dot(F.col("v"), row))
    mid, last = out_dims // 2, out_dims - 1
    return v.withColumn("d", dots).select(
        "vec_id",
        F.round(F.element_at("d", 1), 6).alias("p0"),
        F.round(F.element_at("d", mid + 1), 6).alias(f"p{mid}"),
        F.round(F.element_at("d", last + 1), 6).alias(f"p{last}"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    "d",
                    lambda x: F.round(x * 1e6).cast("bigint").cast("string"),
                ),
            )
        ).alias("p_digest"),
    )


def norm_stats(emb: DataFrame) -> DataFrame:
    """Per-label embedding-health report: count plus min/mean/max squared
    L2 norm in integer micro-units — the drift/outlier check an embedding
    pipeline runs before indexing (collapsed vectors, un-normalized
    batches, and dead labels all surface here). One projection (the norm
    is an in-array fold, no explode) + one hash agg; micro-unit BIGINTs
    make the result engine- and partitioning-independent."""
    norm2 = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    t = emb.select(
        "label", F.round(norm2 * 1e6).cast("bigint").alias("n2u")
    )
    return t.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("n2u").alias("min_norm2_micro"),
        F.max("n2u").alias("max_norm2_micro"),
        F.expr("CAST(sum(n2u) DIV count(1) AS BIGINT)").alias(
            "mean_norm2_micro"
        ),
    )


PCA_K = 2  # projected dimensions


def pca_fit(
    emb: DataFrame, sample_cap: int = SAMPLE_CAP
) -> tuple[list[list[float]], list[float], list[float]]:
    """PCA fit on a deterministic BOUNDED sample — the same posture as
    the IVF/PQ quantizer fits (FAISS trains transforms on ~256k vectors
    regardless of corpus size): vec_id-ordered sample collected once,
    covariance + eigh in numpy on the driver. Fixed row order -> fixed
    float summation order -> a bit-identical eigenbasis every run; each
    eigenvector's sign is pinned by making its largest-|.| component
    positive. (An exact distributed Gram via a decimal pair-explode was
    measured at ~13 s for 2k vectors at sf0.1 — the sampled fit is the
    production shape AND three orders of magnitude cheaper.)

    Returns (components[k][d], mean[d], explained_variance[k]).
    """
    import numpy as np

    rows = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_cap)
        .collect()
    )
    if not rows:
        raise ValueError("pca_fit: empty sample")
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    mean = x.mean(axis=0)
    xc = x - mean
    cov = (xc.T @ xc) / len(rows)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:PCA_K]
    comps, evs = [], []
    for idx in order:
        w = vecs[:, idx]
        w = w if w[int(np.argmax(np.abs(w)))] >= 0 else -w
        comps.append([float(v) for v in w])
        evs.append(float(vals[idx]))
    return comps, [float(m) for m in mean], evs


def pca_project(emb: DataFrame) -> DataFrame:
    """Project every embedding onto the top-k principal components —
    the spectral twin of the JL random projection (data-adapted axes vs
    oblivious ones). The fit is a session-memoized bounded artifact; the
    projection is one Catalyst pass (component matrix as ONE literal,
    dot products as in-array folds), outputs in integer micro-units so
    the result is engine- and partitioning-independent. Registered
    rows-only (eigen-decomposition is not single-query SQL); gated by
    the variance-dominance pytest."""
    comps, mean, evs = _artifact(
        emb.sparkSession, emb, "pca_fit", (PCA_K,), lambda: pca_fit(emb)
    )
    mean_lit = F.array(*[F.lit(m) for m in mean])
    centered = F.zip_with(
        F.col("embedding").cast("array<double>"),
        mean_lit,
        lambda x, m: x - m,
    )
    cols = [F.col("vec_id"), F.col("label")]
    for k, w in enumerate(comps):
        w_lit = F.array(*[F.lit(x) for x in w])
        proj = F.aggregate(
            F.zip_with(centered, w_lit, lambda x, ww: x * ww),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cols.append(
            F.round(proj * 1e6).cast("bigint").alias(f"pc{k}_micro")
        )
    return emb.select(*cols)


def ivf_cell_stats(
    embeddings: DataFrame, n_centroids: int | None = None
) -> DataFrame:
    """IVF index health report: per-cell population, corpus share, and
    imbalance versus the ideal uniform fill — the operational table that
    decides when the coarse quantizer needs a re-fit (a cell holding 10x
    its fair share makes every probe that hits it scan 10x the
    candidates).

    Rides the SAME assignment join as the search path
    (:func:`_ivf_assignments`, memoized centroids), so the report
    measures the index actually being probed. The stats agg is
    <= n_centroids rows; the share/balance windows run over that bounded
    frame, never the corpus. Rows-only entry (the centroid fit is not
    single-query SQL); invariants pinned in pytest."""
    spark = embeddings.sparkSession
    cen = spark.createDataFrame(
        [(j, c) for j, c in enumerate(kmeans_centroids(embeddings, n_centroids))],
        "c_id int, c_vec array<double>",
    )
    per = (
        _ivf_assignments(embeddings, cen)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )
    w_all = Window.partitionBy()  # <= n_centroids rows
    return per.select(
        F.col("bucket").cast("bigint").alias("cell_id"),
        "n_vecs",
        F.expr("n_vecs * 1000000 DIV sum(n_vecs) OVER ()").alias("share_ppm"),
        # balance = cell size / ideal uniform size, in ppm: 1e6 == fair.
        (
            F.col("n_vecs")
            * F.count(F.lit(1)).over(w_all)
            * F.lit(1_000_000)
            / F.sum("n_vecs").over(w_all)
        )
        .cast("bigint")
        .alias("balance_ppm"),
    )


RANGE_TAU = 0.8  # report all probed pairs with round(cosine,4) >= TAU
IVF_NPROBE_DEFAULT = 8  # shared by range_search and its oracle SQL


def range_search(
    embeddings: DataFrame,
    tau: float = RANGE_TAU,
    every: int = 100,
    n_centroids: int | None = None,
    nprobe: int = IVF_NPROBE_DEFAULT,
) -> DataFrame:
    """Radius (range) similarity search — the OTHER vector-search API
    beside top-k: every candidate within cosine >= tau of each query,
    however many there are (duplicate mining / recall-oriented retrieval
    wants the full ball, not a fixed k).

    Candidate generation rides the IVF probed-cell bucket equi-join
    (:func:`_ivf_scored`) — no cartesian; the tau cut is a filter on the
    already-bucketed pairs, so cost tracks the probed candidate count.
    Rows-only (approximate by construction); recall vs the exact ball is
    pinned in pytest against the pytest-only flat baseline."""
    scored = _ivf_scored(embeddings, every, n_centroids, nprobe)
    return scored.filter(F.col("cosine_sim") >= tau).select(
        "q_id", "neighbor_id", "cosine_sim"
    )
