"""Oracle-backed registry entries for similarity search
(operators.similarity) over the ``embeddings`` table.

The Spark fold (``aggregate`` over ``zip_with``) and DuckDB's
``list_sum`` perform the same left-to-right IEEE double op sequence,
so cosine similarities are bit-identical across engines (verified) and
the oracles check exact values and exact rankings — including for the
IVF approximate search, whose *algorithm* (deterministic centroids,
nearest-list assignment, nprobe probing) the SQL replays in full.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.operators.similarity import (
    cosine_neardup_pairs,
    exact_topk,
    ivf_topk,
)
from nsp_bolt_pipeline_spark.registry import query
from nsp_bolt_pipeline_spark.sources.readers import read_table

N_QUERIES = 10
K = 10
N_CENTROIDS = 16
NPROBE = 4
DIM = 64
NEARDUP_THRESHOLD = 0.35
#: id cap for the exact all-pairs ground truth (eval duty only): the
#: quadratic is O(GT_CAP²) regardless of corpus size — the scale paths
#: are the SRP-LSH banded entries.
GT_CAP = 256


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


@query(
    "ann_exact_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, vec_id, {_cos_sql("qv", "cv")} AS sim
        FROM q, c WHERE vec_id <> query_id
    )
    SELECT query_id, vec_id, sim, rnk FROM (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {K}
    """,
)
def q_ann_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < N_QUERIES)
    return exact_topk(emb, queries, k=K)


@query(
    "ann_exact_topk_arrow",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, vec_id,
               FLOOR({_cos_sql("qv", "cv")} * 1e6 + 0.5) / 1e6 AS sim
        FROM q, c WHERE vec_id <> query_id
    )
    SELECT query_id, vec_id, sim, rnk FROM (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {K}
    """,
)
def q_ann_exact_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as ann_exact_topk, scored by BLAS matmul inside
    Arrow-batched mapInPandas with partition-local top-k (rounded to
    6 decimals so BLAS reassociation cannot diverge from the oracle's
    left fold). The JVM-fold and Arrow paths are benched side by
    side."""
    from nsp_bolt_pipeline_spark.operators.similarity import (
        exact_topk_arrow,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < N_QUERIES)
    return exact_topk_arrow(emb, queries, k=K)


@query(
    "cosine_neardup_pairs",
    f"""
    WITH a AS (SELECT vec_id AS d1, embedding AS v1 FROM embeddings
               WHERE vec_id < {GT_CAP}),
    b AS (SELECT vec_id AS d2, embedding AS v2 FROM embeddings
          WHERE vec_id < {GT_CAP})
    SELECT d1, d2, sim FROM (
        SELECT d1, d2, {_cos_sql("v1", "v2")} AS sim
        FROM a, b WHERE d1 < d2
    ) WHERE sim >= {NEARDUP_THRESHOLD}
    """,
)
def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup ground truth over the capped id sample
    (vec_id < {GT_CAP}) — the eval anchor for the recall sweeps. The
    quadratic is bounded by the cap, never by corpus size; production
    near-dup runs the banded SRP-LSH entries."""
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(
        emb, threshold=NEARDUP_THRESHOLD, ground_truth_cap=GT_CAP
    )


from nsp_bolt_pipeline_spark.registry_clustering import (  # noqa: E402
    kmeans_ctes_sql,
)

#: Lloyd rounds for the trained coarse quantizer (2 = one mean update,
#: matching kmeans_ctes_sql's replay).
IVF_TRAIN_ROUNDS = 2


@query(
    "ann_ivf_topk",
    f"""
    WITH {kmeans_ctes_sql(N_CENTROIDS, DIM, "km_")},
    cent AS (SELECT cid, cv FROM km_upd),
    vecs AS (SELECT vec_id, embedding AS v FROM embeddings),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_cos_sql("v.v", "cent.cv")} DESC, cent.cid ASC
                   ) AS rn
            FROM vecs v, cent
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT query_id, qv, cid FROM (
            SELECT q.query_id, q.qv, cent.cid,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_cos_sql("q.qv", "cent.cv")} DESC, cent.cid ASC
                   ) AS prb
            FROM q, cent
        ) WHERE prb <= {NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id, {_cos_sql("p.qv", "vecs.v")} AS sim
        FROM probes p
        JOIN assign a USING (cid)
        JOIN vecs ON vecs.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, sim, rnk FROM (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {K}
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over k-means-TRAINED coarse lists: the quantizer is
    the Lloyd model (lowest-id seed, one round-6 mean update) rather
    than raw corpus vectors, so list occupancy follows the data
    distribution and recall at equal nprobe improves. The oracle
    replays the training chain (kmeans_ctes_sql) and the probe/score
    stages in lockstep."""
    emb, queries, cents = _ivf_inputs(spark, sf_dir)
    return ivf_topk(emb, queries, k=K, nprobe=NPROBE, centroids=cents)


#: trained-codebook memo keyed by (dataset fingerprint, k, dim,
#: rounds): a serving index trains its coarse quantizer offline and
#: freezes it between retrains — re-running Lloyd inside every query
#: invocation would bench training, not serving. The model is k rows
#: of doubles; the oracle replays the same deterministic training, so
#: memoization cannot change results. Fingerprint key + stale-entry
#: eviction: same contract as _PQ_CACHE below (round-6 advice).
_CENT_CACHE: dict[tuple, list] = {}


def trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nsp_bolt_pipeline_spark.operators.clustering import (
        lloyd_centroids_df,
    )
    from nsp_bolt_pipeline_spark.sources.readers import dataset_fingerprint

    fp = dataset_fingerprint(sf_dir, "embeddings")
    key = (fp, N_CENTROIDS, DIM, IVF_TRAIN_ROUNDS)
    if key not in _CENT_CACHE:
        for k in [
            k for k in _CENT_CACHE
            if k[0][0] == fp[0] and k[1:] == key[1:] and k != key
        ]:
            del _CENT_CACHE[k]
        emb = read_table(spark, sf_dir, "embeddings")
        _CENT_CACHE[key] = [
            (int(r["cid"]), [float(x) for x in r["cv"]])
            for r in lloyd_centroids_df(
                emb, k=N_CENTROIDS, dim=DIM, rounds=IVF_TRAIN_ROUNDS
            ).collect()
        ]
    return spark.createDataFrame(
        _CENT_CACHE[key], "cid long, cv array<double>"
    )


def _ivf_inputs(spark: SparkSession, sf_dir: str, spread: bool = True):
    from nsp_bolt_pipeline_spark.sources.readers import spread_small_scan

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < N_QUERIES)
    # the cosine-fold consumers spread an under-split scan (no-op at
    # scale); the query side stays on the raw scan (broadcast-sized
    # anyway). The IVF-PQ consumer opts out: its corpus pass is the
    # cheap code-assignment join, and the interleaved A/B showed the
    # extra exchange net-negative there (2.21 vs 2.52 median).
    if spread:
        emb = spread_small_scan(emb)
    return emb, queries, trained_centroids(spark, sf_dir)


# ---------------------------------------------------------------------------
# SRP-LSH bucketed near-dup: the oracle replays the whole algorithm —
# identical hyperplane literals, sign bits, band keys, candidate join,
# and exact-cosine rescore — so the result hash-matches bit-for-bit.
# ---------------------------------------------------------------------------

from nsp_bolt_pipeline_spark.operators.similarity import (  # noqa: E402
    srp_neardup_pairs,
    srp_planes,
)

SRP_PLANES = 64
SRP_BANDS = 8
_SRP_R = SRP_PLANES // SRP_BANDS


def _planes_values_sql() -> str:
    rows = []
    for j, h in enumerate(srp_planes(SRP_PLANES, DIM)):
        comps = ", ".join(repr(x) for x in h)
        rows.append(f"({j}, [{comps}])")
    return ",\n               ".join(rows)


def _srp_keys_ctes() -> str:
    """Shared CTE chain (vectors, hyperplane literals, sign bits,
    band keys) for every SRP oracle variant."""
    return f"""vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    planes AS (
        SELECT * FROM (VALUES
               {_planes_values_sql()}
        ) t(j, h)
    ),
    bits AS (
        SELECT vec_id, j,
               CASE WHEN list_sum(list_transform(range(1, {DIM} + 1),
                                  i -> v[i] * h[i])) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM vecs CROSS JOIN planes
    ),
    keys AS (
        SELECT vec_id, (j // {_SRP_R}) AS band,
               CAST(SUM(bit * (1 << (j % {_SRP_R}))) AS INTEGER) AS bkey
        FROM bits GROUP BY vec_id, (j // {_SRP_R})
    )"""


_SRP_RESCORE = f"""
    SELECT d1, d2, sim FROM (
        SELECT c.d1, c.d2, {_cos_sql("x.v", "y.v")} AS sim
        FROM cand c
        JOIN vecs x ON x.vec_id = c.d1
        JOIN vecs y ON y.vec_id = c.d2
    ) WHERE sim >= {NEARDUP_THRESHOLD}
    """


#: hot-bucket cap for the GUARDED SRP twins. Chosen so the STAR path
#: actually fires on the driver corpus (bucket df at sf0.01 tops out
#: at 11 with seven buckets above 8) while most buckets stay on the
#: exact all-pairs path; a production cap is O(1000).
SRP_GUARD_CAP = 8


def _srp_pairs_guarded_sql(*, multiprobe: bool = False) -> str:
    """Oracle replay of the SRP hot-bucket guard (``max_bucket_df``):
    per-bucket df + min-id representative; over-cap buckets emit STAR
    pairs through the representative (for multiprobe, one-bit-flip
    probes into hot buckets too), cold buckets keep the exact join;
    exact-cosine rescoring is unchanged."""
    flips = ", ".join(str(1 << i) for i in range(_SRP_R))
    if multiprobe:
        cold_cond = (
            f"(a.bkey = b.bkey OR xor(a.bkey, b.bkey) IN ({flips}))"
            " AND a.vec_id <> b.vec_id"
        )
        star_cond = f"(k.bkey = h.bkey OR xor(k.bkey, h.bkey) IN ({flips}))"
    else:
        cold_cond = "a.bkey = b.bkey AND a.vec_id < b.vec_id"
        star_cond = "k.bkey = h.bkey"
    # multiprobe probes from the FULL key set against the cold index
    # (mirrors the operator: the hot side of a mixed pair is absent
    # from the index, so the symmetric <> condition + LEAST/GREATEST
    # replaces the ordered join); non-multiprobe stays cold x cold
    a_src = "keys" if multiprobe else "cold"
    return f"""
    WITH {_srp_keys_ctes()},
    stats AS (
        SELECT band, bkey, COUNT(*) AS bdf, MIN(vec_id) AS rep
        FROM keys GROUP BY band, bkey
    ),
    hot AS (SELECT band, bkey, rep FROM stats WHERE bdf > {SRP_GUARD_CAP}),
    cold AS (
        SELECT k.* FROM keys k
        WHERE NOT EXISTS (
            SELECT 1 FROM hot h
            WHERE h.band = k.band AND h.bkey = k.bkey
        )
    ),
    cand AS (
        SELECT DISTINCT d1, d2 FROM (
            SELECT LEAST(a.vec_id, b.vec_id) AS d1,
                   GREATEST(a.vec_id, b.vec_id) AS d2
            FROM {a_src} a
            JOIN cold b ON a.band = b.band AND {cold_cond}
            UNION ALL
            SELECT LEAST(k.vec_id, h.rep) AS d1,
                   GREATEST(k.vec_id, h.rep) AS d2
            FROM keys k
            JOIN hot h ON k.band = h.band AND {star_cond}
            WHERE k.vec_id <> h.rep
        )
    )
    {_SRP_RESCORE}
    """


# NOTE (round 6): the UNGUARDED `srp_neardup_pairs` and
# `srp_multiprobe_pairs` entries were SUPERSEDED by their `_guarded`
# twins and removed. On clustered embedding corpora (any real one, and
# the scale generator's) bucket population grows with n and the
# within-bucket join is quadratic: both OOMed the 6 GiB JVM at the
# sf4.0 sweep while the guarded twins ran 19.6s / 68.1s. The guard is
# not a pathological-case backstop here but the load-bearing form (see
# q_srp_neardup_guarded); the unguarded srp_neardup_pairs FUNCTION
# remains the default (max_bucket_df=None) for bounded corpora, and
# the multi-probe shape (Lv et al. VLDB'07 — each band key also
# probes its one-bit-flip neighbors, a strict recall superset at
# identical index size) lives on in srp_multiprobe_guarded.


@query("srp_neardup_guarded", _srp_pairs_guarded_sql())
def q_srp_neardup_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE twin of srp_neardup_pairs with the hot-bucket guard ON
    (``max_bucket_df``). Unlike the MinHash twin — where hot bands are
    a pathological-family backstop — this guard is load-bearing for
    any CLUSTERED embedding corpus: each tight cluster concentrates
    into a handful of (band, key) buckets, so bucket size grows with
    the corpus and the within-bucket join is quadratic in n (the sf1.0
    scale sweep measured 3.3x join time for 2x rows). Over-cap buckets
    pair members through the bucket's min-id representative (linear);
    the oracle replays bucket df -> rep -> star ∪ cold all-pairs ->
    exact-cosine rescore end-to-end."""
    emb = read_table(spark, sf_dir, "embeddings")
    return srp_neardup_pairs(
        emb,
        threshold=NEARDUP_THRESHOLD,
        n_planes=SRP_PLANES,
        bands=SRP_BANDS,
        dim=DIM,
        max_bucket_df=SRP_GUARD_CAP,
    )


@query("srp_multiprobe_guarded", _srp_pairs_guarded_sql(multiprobe=True))
def q_srp_multiprobe_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket guard under multi-probe: one-bit-flip probes into an
    over-cap bucket collapse onto its representative too, and the cold
    join switches from the ordered a.d < b.d condition to a symmetric
    join with LEAST/GREATEST normalization — the hot side of a mixed
    hot/cold pair is no longer in the index, so discovery direction is
    forced and the ordered condition would drop pairs whose cold
    member has the smaller id (the oracle replays exactly this)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return srp_neardup_pairs(
        emb,
        threshold=NEARDUP_THRESHOLD,
        n_planes=SRP_PLANES,
        bands=SRP_BANDS,
        dim=DIM,
        multiprobe=True,
        max_bucket_df=SRP_GUARD_CAP,
    )


# ---------------------------------------------------------------------------
# Embedding near-dup governance, end to end: SRP-LSH candidates ->
# exact cosine rescore -> connected components -> canonical keeper.
# The candidates->verify composition (same shape as MinHash->Jaccard
# in neardup_clusters): the ALL-PAIRS cosine join appears nowhere in
# this plan — cosine_neardup_pairs keeps all-pairs as ground-truth /
# oracle duty only.
# ---------------------------------------------------------------------------


# NOTE (round 6): the UNGUARDED `cosine_neardup_clusters` entry
# (unguarded SRP candidates feeding the CC) was SUPERSEDED by the
# `_guarded` twin below and removed — it OOMed the 6 GiB JVM at the
# sf4.0 sweep while the guarded form ran 29.5s; the guard's STAR
# semantics are what make the composition linear on clustered
# corpora. cosine_neardup_pairs (capped all-pairs) remains the
# ground-truth verifier.


@query(
    "cosine_neardup_clusters_guarded",
    f"""
    WITH RECURSIVE
    edges AS (SELECT d1, d2 FROM ({_srp_pairs_guarded_sql()})),
    und AS (SELECT d1 AS a, d2 AS b FROM edges
            UNION ALL
            SELECT d2 AS a, d1 AS b FROM edges),
    walk(node, comp) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.b, w.comp FROM walk w JOIN und e ON w.node = e.a
    )
    SELECT node AS vec_id,
           MIN(comp) AS cluster_id,
           node = MIN(comp) AS keep
    FROM walk
    GROUP BY node
    """,
)
def q_cosine_neardup_clusters_guarded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCALE twin of cosine_neardup_clusters with the SRP hot-bucket
    guard ON — the clustering consumer is where the guard's STAR
    semantics earn their keep: within an over-cap bucket, members
    reach each other through the representative (CC connectivity
    preserved whenever the rep passes the exact-cosine threshold with
    both), so the edge set shrinks linearly while the components stay
    the dedup-meaningful ones. The unguarded form grew 3.1x for 2x
    rows on the clustered sf1.0 sweep and OOMed outright at sf4.0
    (superseded in round 6); this is the form a 100 TB
    embedding-dedup run would use. Oracle: guarded pair SQL composed
    into the same recursive-CTE reachability walk."""
    from nsp_bolt_pipeline_spark.operators.graph import dedup_clusters

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = srp_neardup_pairs(
        emb,
        threshold=NEARDUP_THRESHOLD,
        n_planes=SRP_PLANES,
        bands=SRP_BANDS,
        dim=DIM,
        max_bucket_df=SRP_GUARD_CAP,
    )
    return dedup_clusters(emb, pairs, id_col="vec_id")


# ---------------------------------------------------------------------------
# int8-quantized top-k: integer replay — scale, codes, dots, and ranks
# are all exactly reproducible, no float-fold caveats anywhere.
# ---------------------------------------------------------------------------

from nsp_bolt_pipeline_spark.operators.similarity import (  # noqa: E402
    quantized_topk,
)


@query(
    "ann_quantized_topk",
    f"""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    mx AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS maxabs
        FROM vecs
    ),
    qt AS (
        SELECT vec_id,
               CASE WHEN maxabs > 0
                    THEN list_transform(v, x -> CAST(floor(
                         x / (maxabs / 127.0) + 0.5) AS INTEGER))
                    ELSE list_transform(v, x -> 0) END AS qv
        FROM mx
    ),
    qn AS (
        SELECT vec_id, qv,
               list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qn2
        FROM qt
    ),
    q AS (SELECT vec_id AS query_id, qv AS qqv, qn2 AS qn2q
          FROM qn WHERE vec_id < {N_QUERIES} AND qn2 > 0),
    c AS (SELECT vec_id, qv AS cqv, qn2 AS qn2c FROM qn WHERE qn2 > 0),
    scored AS (
        SELECT query_id, vec_id,
               CAST(list_sum(list_transform(range(1, 65),
                    i -> CAST(qqv[i] AS BIGINT) * cqv[i])) AS DOUBLE)
                 / sqrt(CAST(qn2q * qn2c AS DOUBLE)) AS sim_q
        FROM q, c WHERE vec_id <> query_id
    )
    SELECT query_id, vec_id, sim_q, rnk FROM (
        SELECT query_id, vec_id, sim_q,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim_q DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {K}
    """,
)
def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < N_QUERIES)
    return quantized_topk(emb, queries, k=K)


# ---------------------------------------------------------------------------
# ANN evaluation harness: recall@k of the IVF path against the exact
# baseline, computed inside the engine. The oracle nests both
# entries' full oracle queries as derived tables — the evaluation is
# only trusted because both rankings already hash-match.
# ---------------------------------------------------------------------------

from nsp_bolt_pipeline_spark.registry import REGISTRY as _REGISTRY  # noqa: E402


def _ann_recall_sql() -> str:
    exact_sql = _REGISTRY["ann_exact_topk"][1]
    ivf_sql = _REGISTRY["ann_ivf_topk"][1]
    return f"""
    SELECT e.query_id,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.vec_id) AS DOUBLE) / {K} AS recall_at_k
    FROM ({exact_sql}) e
    LEFT JOIN ({ivf_sql}) a
      ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    GROUP BY e.query_id
    """


@query("ann_recall_eval", _ann_recall_sql())
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of IVF(nprobe={NPROBE}/{N_CENTROIDS} lists)
    vs brute force — the evaluation loop a production ANN deployment
    runs on a sampled query set to tune nprobe. Both rankings come
    from the already-oracled operators; the measurement is one
    (query_id, vec_id) join of two k-row-per-query frames."""
    emb, queries, cents = _ivf_inputs(spark, sf_dir)
    exact = exact_topk(emb, queries, k=K).alias("e")
    approx = ivf_topk(
        emb, queries, k=K, nprobe=NPROBE, centroids=cents
    ).alias("a")
    joined = exact.join(
        approx,
        (F.col("e.query_id") == F.col("a.query_id"))
        & (F.col("e.vec_id") == F.col("a.vec_id")),
        "left",
    )
    return joined.groupBy(F.col("e.query_id").alias("query_id")).agg(
        F.count(F.col("a.vec_id")).alias("n_hits"),
        (F.count(F.col("a.vec_id")).cast("double") / K).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (ADC): subspace codebooks trained with the
# deterministic one-round Lloyd conventions, vectors compressed to M
# codes, queries scored against the COMPRESSED corpus via a lookup
# table. The oracle replays the whole thing — subspace k-means,
# encoding, LUT build, ADC fold — in SQL.
# ---------------------------------------------------------------------------

PQ_M = 8
PQ_DSUB = DIM // PQ_M
PQ_KSUB = 16


def _pq_sqd_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {PQ_DSUB} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _pq_argmin_sql(sub: str, cents: str) -> str:
    return f"""
    SELECT vec_id, m, cid AS code FROM (
        SELECT s.vec_id, s.m, c.cid,
               row_number() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {_pq_sqd_sql("s.sv", "c.cv")} ASC, c.cid ASC
               ) AS rn
        FROM {sub} s JOIN {cents} c ON s.m = c.m
    ) WHERE rn = 1
    """


def _pq_mean_sql() -> str:
    comps = ", ".join(
        f"floor(avg(s.sv[{d + 1}]) * 1000000.0 + 0.5) / 1000000.0"
        for d in range(PQ_DSUB)
    )
    return f"[{comps}]"


def _pq_chain_sql() -> str:
    """The shared PQ replay prefix: subspace k-means, encoding, LUT
    build, query norms — everything before candidate scoring. Used by
    the flat ADC scan (ann_pq_topk) and the IVF-PQ composition."""
    return f"""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    sub AS (
        SELECT vec_id, m,
               list_slice(v, m * {PQ_DSUB} + 1, m * {PQ_DSUB} + {PQ_DSUB})
                   AS sv
        FROM vecs CROSS JOIN ms
    ),
    init AS (
        SELECT m, CAST(vec_id AS INT) AS cid, sv AS cv
        FROM sub WHERE vec_id < {PQ_KSUB}
    ),
    a1 AS ({_pq_argmin_sql("sub", "init")}),
    upd AS (
        SELECT i.m, i.cid, COALESCE(u.mv, i.cv) AS cv
        FROM init i LEFT JOIN (
            SELECT a.m, a.code AS cid, {_pq_mean_sql()} AS mv
            FROM a1 a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
            GROUP BY a.m, a.code
        ) u ON u.m = i.m AND u.cid = i.cid
    ),
    coded AS ({_pq_argmin_sql("sub", "upd")}),
    codes AS (
        SELECT vec_id, list(code ORDER BY m) AS codes
        FROM coded GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, v FROM vecs
          WHERE vec_id < {N_QUERIES}),
    qsub AS (
        SELECT query_id, m,
               list_slice(v, m * {PQ_DSUB} + 1, m * {PQ_DSUB} + {PQ_DSUB})
                   AS sv
        FROM q CROSS JOIN ms
    ),
    lutr AS (
        SELECT query_id, m, cid,
               list_sum(list_transform(range(1, {PQ_DSUB} + 1),
                   i -> sv[i] * cv[i])) AS pdot,
               list_sum(list_transform(range(1, {PQ_DSUB} + 1),
                   i -> cv[i] * cv[i])) AS n2
        FROM qsub JOIN upd USING (m)
    ),
    luts AS (
        SELECT query_id,
               list(pdot ORDER BY m, cid) AS ld,
               list(n2 ORDER BY m, cid) AS ln
        FROM lutr GROUP BY query_id
    ),
    qn AS (
        SELECT query_id,
               sqrt(list_sum(list_transform(range(1, {DIM} + 1),
                   i -> v[i] * v[i]))) AS qn
        FROM q
    )"""


_PQ_ADC_SIM = f"""
               list_sum(list_transform(range(0, {PQ_M}),
                   mi -> ld[mi * {PQ_KSUB} + codes[mi + 1] + 1]))
               / (qn.qn * sqrt(list_sum(list_transform(range(0, {PQ_M}),
                   mi -> ln[mi * {PQ_KSUB} + codes[mi + 1] + 1]))))
"""


def _pq_sql() -> str:
    return f"""{_pq_chain_sql()},
    scored AS (
        SELECT l.query_id, c.vec_id, {_PQ_ADC_SIM} AS sim
        FROM codes c
        CROSS JOIN luts l
        JOIN qn ON qn.query_id = l.query_id
        WHERE c.vec_id <> l.query_id
    )
    SELECT query_id, vec_id, sim, rnk FROM (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {K}
    """


#: frozen PQ codebook memo keyed by (dataset fingerprint, m, k_sub,
#: dim) — the
#: trained_centroids pattern: a serving index trains its subspace
#: codebooks offline and freezes them between retrains; re-running the
#: training pass (subspace Lloyd + two driver collects) inside every
#: query invocation benches training, not ADC serving. Training is
#: deterministic and the oracle replays it, so memoization cannot
#: change results. The fingerprint key (file count/bytes/mtime, see
#: sources.readers.dataset_fingerprint) means a dataset REGENERATED
#: under the same path trains fresh codebooks instead of serving the
#: stale model (round-6 advice); superseded fingerprints of the same
#: path are evicted, so the memo holds one model per (path, params)
#: and cannot grow unboundedly across regenerations.
_PQ_CACHE: dict[tuple, dict] = {}


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> dict:
    from nsp_bolt_pipeline_spark.operators.similarity import (
        pq_train_codebooks,
    )
    from nsp_bolt_pipeline_spark.sources.readers import dataset_fingerprint

    fp = dataset_fingerprint(sf_dir, "embeddings")
    key = (fp, PQ_M, PQ_KSUB, DIM)
    if key not in _PQ_CACHE:
        for k in [
            k for k in _PQ_CACHE
            if k[0][0] == fp[0] and k[1:] == key[1:] and k != key
        ]:
            del _PQ_CACHE[k]
        emb = read_table(spark, sf_dir, "embeddings")
        _PQ_CACHE[key] = pq_train_codebooks(
            emb, m=PQ_M, k_sub=PQ_KSUB, dim=DIM
        )
    return _PQ_CACHE[key]


@query("ann_pq_topk", _pq_sql())
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC cosine top-k over the PQ-compressed corpus: {PQ_M} subspace
    codebooks of {PQ_KSUB} centroids (32x compression vs float32),
    per-query lookup tables built engine-side and broadcast, corpus
    scanned once as (id, codes). The 100 TB memory path: full
    vectors appear only in training and LUT build, never in the
    scoring join."""
    from nsp_bolt_pipeline_spark.operators.similarity import pq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < N_QUERIES)
    return pq_topk(
        emb, queries, k=K, m=PQ_M, k_sub=PQ_KSUB, dim=DIM,
        codebooks=_pq_codebooks(spark, sf_dir),
    )


def _pq_recall_sql() -> str:
    exact_sql = _REGISTRY["ann_exact_topk"][1]
    return f"""
    SELECT e.query_id,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.vec_id) AS DOUBLE) / {K} AS recall_at_k
    FROM ({exact_sql}) e
    LEFT JOIN ({_pq_sql()}) a
      ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    GROUP BY e.query_id
    """


@query("ann_pq_recall_eval", _pq_recall_sql())
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the PQ/ADC path against brute force — the tuning
    loop that picks (M, K_SUB) for a target recall; one join of two
    k-row-per-query frames, both already oracle-pinned."""
    from nsp_bolt_pipeline_spark.operators.similarity import pq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < N_QUERIES)
    exact = exact_topk(emb, queries, k=K).alias("e")
    approx = pq_topk(
        emb, queries, k=K, m=PQ_M, k_sub=PQ_KSUB, dim=DIM,
        codebooks=_pq_codebooks(spark, sf_dir),
    ).alias("a")
    joined = exact.join(
        approx,
        (F.col("e.query_id") == F.col("a.query_id"))
        & (F.col("e.vec_id") == F.col("a.vec_id")),
        "left",
    )
    return joined.groupBy(F.col("e.query_id").alias("query_id")).agg(
        F.count(F.col("a.vec_id")).alias("n_hits"),
        (F.count(F.col("a.vec_id")).cast("double") / K).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse list pruning (WHICH vectors, nprobe/n_centroids of
# the corpus) composed with ADC scoring over codes (WHAT is read per
# vector, M bytes not dim floats) — the standard billion-vector
# serving layout. The oracle nests the PQ chain and the IVF
# probe/assignment replay.
# ---------------------------------------------------------------------------


def _ivfpq_sql() -> str:
    return f"""{_pq_chain_sql()},
    {kmeans_ctes_sql(N_CENTROIDS, DIM, "km_")},
    cent AS (SELECT cid AS ccid, cv FROM km_upd),
    assign AS (
        SELECT vec_id, ccid FROM (
            SELECT v.vec_id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_cos_sql("v.v", "cent.cv")} DESC,
                                cent.ccid ASC
                   ) AS rn
            FROM vecs v, cent
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, ccid FROM (
            SELECT q.query_id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_cos_sql("q.v", "cent.cv")} DESC,
                                cent.ccid ASC
                   ) AS prb
            FROM q, cent
        ) WHERE prb <= {NPROBE}
    ),
    scored AS (
        SELECT l.query_id, c.vec_id, {_PQ_ADC_SIM} AS sim
        FROM codes c
        JOIN assign a ON a.vec_id = c.vec_id
        JOIN probes p ON p.ccid = a.ccid
        JOIN luts l ON l.query_id = p.query_id
        JOIN qn ON qn.query_id = l.query_id
        WHERE c.vec_id <> l.query_id
    )
    SELECT query_id, vec_id, sim, rnk FROM (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {K}
    """


@query("ann_ivfpq_topk", _ivfpq_sql())
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving layout: probe {NPROBE}/{N_CENTROIDS} coarse
    lists, score only those candidates via the broadcast ADC lookup
    fold over {PQ_M} codes. Full vectors appear in training, the LUT
    build, and nowhere else."""
    from nsp_bolt_pipeline_spark.operators.similarity import ivfpq_topk

    emb, queries, cents = _ivf_inputs(spark, sf_dir, spread=False)
    return ivfpq_topk(
        emb,
        queries,
        k=K,
        m=PQ_M,
        k_sub=PQ_KSUB,
        dim=DIM,
        nprobe=NPROBE,
        centroids=cents,
        codebooks=_pq_codebooks(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# MMR diverse re-ranking: greedy relevance-vs-redundancy over the
# exact top-POOL candidate pool; the oracle unrolls every round (the
# kmeans/PCA replay pattern).
# ---------------------------------------------------------------------------

from nsp_bolt_pipeline_spark.operators.similarity import (  # noqa: E402
    MMR_LAMBDA,
    MMR_MU,
    mmr_topk,
)

MMR_QUERIES = 3
MMR_K = 5
MMR_POOL = 20


def _mmr_sql() -> str:
    lam, mu = repr(MMR_LAMBDA), repr(MMR_MU)
    parts = [
        f"""
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < {MMR_QUERIES}),
    c AS (SELECT vec_id, embedding AS cv FROM embeddings),
    cand AS (
        SELECT query_id, vec_id, sim, cv FROM (
            SELECT q.query_id, c.vec_id, {_cos_sql("q.qv", "c.cv")} AS sim,
                   c.cv,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_cos_sql("q.qv", "c.cv")} DESC, c.vec_id ASC
                   ) AS rnk
            FROM q JOIN c ON c.vec_id <> q.query_id
        ) WHERE rnk <= {MMR_POOL}
    ),
    sel1 AS (
        SELECT query_id, vec_id, 1 AS round, mmr_score FROM (
            SELECT query_id, vec_id, {lam} * sim AS mmr_score,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY {lam} * sim DESC, vec_id ASC
                   ) AS rn
            FROM cand
        ) WHERE rn = 1
    )"""
    ]
    for r in range(2, MMR_K + 1):
        prev = f"sel{r - 1}"
        parts.append(
            f"""
    pick{r} AS (
        SELECT query_id, vec_id, {r} AS round, mmr_score FROM (
            SELECT s.query_id, s.vec_id, s.mmr_score,
                   row_number() OVER (
                       PARTITION BY s.query_id
                       ORDER BY s.mmr_score DESC, s.vec_id ASC
                   ) AS rn
            FROM (
                SELECT x.query_id, x.vec_id,
                       {lam} * x.sim - {mu} * MAX({_cos_sql("x.cv", "sc.cv")})
                           AS mmr_score
                FROM cand x
                JOIN {prev} s0 ON s0.query_id = x.query_id
                JOIN cand sc ON sc.query_id = s0.query_id
                            AND sc.vec_id = s0.vec_id
                WHERE x.vec_id NOT IN (
                    SELECT vec_id FROM {prev} WHERE query_id = x.query_id
                )
                GROUP BY x.query_id, x.vec_id, x.sim
            ) s
        ) WHERE rn = 1
    ),
    sel{r} AS (
        SELECT * FROM {prev} UNION ALL SELECT * FROM pick{r}
    )"""
        )
    body = ",".join(parts)
    return f"""
    WITH {body}
    SELECT query_id, vec_id, CAST(round AS BIGINT) AS round, mmr_score
    FROM sel{MMR_K}
    """


@query("ann_mmr_rerank", _mmr_sql())
def q_ann_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-5 per query over the exact top-20 pool:
    greedy argmax of lam*relevance - mu*max-redundancy, ties to the
    smallest id. k rounds over the POOL (never the corpus); the
    oracle replays all five rounds."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < MMR_QUERIES)
    return mmr_topk(emb, queries, k=MMR_K, pool=MMR_POOL)


# ---------------------------------------------------------------------------
# Retrieval ranking quality: MRR@k / nDCG@k of the IVF ranking vs the
# exact ground truth, entirely in-engine. The nDCG discount table is
# integer micro-unit literals embedded identically in both plans (the
# HLL ln-table pattern) so DCG is an exact BIGINT sum; RR and nDCG are
# one IEEE division each.
# ---------------------------------------------------------------------------

import math  # noqa: E402

#: 1/log2(r+1) discounts in micro-units, rank 1..K — computed once in
#: Python, embedded as identical literals in BOTH engines' plans.
NDCG_DISC_MICRO = [round(1_000_000 / math.log2(r + 1)) for r in range(1, K + 1)]
_IDCG_MICRO = sum(NDCG_DISC_MICRO)


def _ranking_eval_sql() -> str:
    exact_sql = _REGISTRY["ann_exact_topk"][1]
    ivf_sql = _REGISTRY["ann_ivf_topk"][1]
    disc = ", ".join(str(d) for d in NDCG_DISC_MICRO)
    return f"""
    WITH e AS ({exact_sql}),
    a AS ({ivf_sql}),
    j AS (
        SELECT e.query_id, e.vec_id, a.rnk
        FROM e LEFT JOIN a
          ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    )
    SELECT query_id,
           CAST(COALESCE(MIN(rnk), 0) AS BIGINT) AS first_hit_rank,
           CASE WHEN MIN(rnk) IS NOT NULL THEN 1.0 / MIN(rnk)
                ELSE 0.0 END AS rr_at_k,
           CAST(SUM(COALESCE(([{disc}])[rnk], 0)) AS BIGINT) AS dcg_micro,
           CAST(SUM(COALESCE(([{disc}])[rnk], 0)) AS DOUBLE)
               / CAST({_IDCG_MICRO} AS DOUBLE) AS ndcg_at_k,
           CAST(COUNT(rnk) AS BIGINT) AS n_hits
    FROM j
    GROUP BY query_id
    """


@query("eval_retrieval_ranking", _ranking_eval_sql())
def q_eval_retrieval_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query first-hit rank, MRR@{K} reciprocal rank, DCG/nDCG@{K}
    (binary relevance = membership in the exact top-{K}), and hit
    count for the IVF(nprobe={NPROBE}) ranking — the ranking-quality
    twin of ann_recall_eval. Join size is O(queries x k); the corpus
    is never touched beyond the two already-oracled rankings."""
    from nsp_bolt_pipeline_spark.operators.evalmetrics import ranking_metrics
    from nsp_bolt_pipeline_spark.sources.readers import spread_small_scan

    emb, queries, cents = _ivf_inputs(spark, sf_dir)
    # both rankings score a per-row cosine fold over the corpus scan:
    # spread an under-split input first (no-op at scale)
    emb = spread_small_scan(emb)
    rel = exact_topk(emb, queries, k=K)
    sys = ivf_topk(emb, queries, k=K, nprobe=NPROBE, centroids=cents)
    return ranking_metrics(rel, sys, k=K, disc_micro=NDCG_DISC_MICRO)


# ---------------------------------------------------------------------------
# LSH recall-vs-threshold sweep: one pass over (ground-truth pairs
# LEFT JOIN recalled candidates) scored at several similarity cutoffs
# — the tuning curve that picks bands/planes for a target recall.
# Thresholds ride as literal doubles identical in both engines.
# ---------------------------------------------------------------------------

SWEEP_THRESHOLDS = [0.35, 0.45, 0.55, 0.65]


def _dedup_sweep_sql() -> str:
    # candidate side = the GUARDED generator (the production form
    # since round 6) — measuring ITS recall is the number that tunes
    # a real deployment, and the guard's hot-bucket star pairing is
    # part of the recall being measured
    truth = _REGISTRY["cosine_neardup_pairs"][1]
    cand = _REGISTRY["srp_neardup_guarded"][1]
    vals = ", ".join(f"({t!r})" for t in SWEEP_THRESHOLDS)
    return f"""
    WITH truth AS ({truth}),
    cand AS ({cand}),
    m AS (
        SELECT truth.d1, truth.d2, truth.sim,
               cand.d1 IS NOT NULL AS hit
        FROM truth LEFT JOIN cand USING (d1, d2)
    ),
    t AS (SELECT th FROM (VALUES {vals}) AS t(th))
    SELECT t.th AS threshold,
           CAST(SUM(CASE WHEN m.sim >= t.th THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(SUM(CASE WHEN m.hit AND m.sim >= t.th THEN 1 ELSE 0 END)
                AS BIGINT) AS n_recalled,
           CASE WHEN SUM(CASE WHEN m.sim >= t.th THEN 1 ELSE 0 END) > 0
                THEN CAST(SUM(CASE WHEN m.hit AND m.sim >= t.th
                              THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN m.sim >= t.th THEN 1 ELSE 0 END)
                          AS DOUBLE)
                ELSE 0.0 END AS recall
    FROM m, t
    GROUP BY t.th
    """


@query("dedup_threshold_sweep", _dedup_sweep_sql())
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the (guarded, production-form) SRP-LSH candidate set
    against exact all-pairs ground truth at {SWEEP_THRESHOLDS}
    cutoffs, in one join + one conditional aggregate — the S-curve measurement that tunes
    bands/planes for a target recall tier. Ground truth is the capped
    exact sample (vec_id < GT_CAP): recall is estimated on the sample,
    so the sweep's cost is O(cap²) + one banded candidate pass, never
    corpus-quadratic."""
    emb = read_table(spark, sf_dir, "embeddings")
    truth = cosine_neardup_pairs(
        emb, threshold=NEARDUP_THRESHOLD, ground_truth_cap=GT_CAP
    )
    cand = srp_neardup_pairs(
        emb,
        threshold=NEARDUP_THRESHOLD,
        n_planes=SRP_PLANES,
        bands=SRP_BANDS,
        dim=DIM,
        max_bucket_df=SRP_GUARD_CAP,
    ).select("d1", "d2", F.lit(True).alias("hit"))
    m = truth.join(cand, ["d1", "d2"], "left").select(
        "sim", F.coalesce(F.col("hit"), F.lit(False)).alias("hit")
    )
    ths = spark.createDataFrame(
        [(t,) for t in SWEEP_THRESHOLDS], "th double"
    )
    n_true = F.sum(F.when(F.col("sim") >= F.col("th"), 1).otherwise(0)).cast(
        "long"
    )
    n_rec = F.sum(
        F.when(F.col("hit") & (F.col("sim") >= F.col("th")), 1).otherwise(0)
    ).cast("long")
    return (
        m.crossJoin(F.broadcast(ths))
        .groupBy(F.col("th").alias("threshold"))
        .agg(
            n_true.alias("n_true"),
            n_rec.alias("n_recalled"),
            F.when(
                n_true > 0, n_rec.cast("double") / n_true.cast("double")
            ).otherwise(F.lit(0.0)).alias("recall"),
        )
    )
