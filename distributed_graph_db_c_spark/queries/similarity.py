"""Similarity-search queries over ``embeddings`` (SURVEY.md §2.3)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.vectors import dot_sql, norm2_seq
from ..operators.similarity import ann_topk, brute_force_topk, cosine_pairs
from ..registry import register
from ..sources.tables import load_table

EMBED_DIM = 64

# Same left-fold dot product as functions/vectors.py (list_reduce), so
# values are bit-identical.
_TOPK_SQL = f"""
WITH agg AS (
    SELECT e.vec_id,
           {dot_sql('e.embedding', 'q.qe')} AS dot,
           {dot_sql('e.embedding', 'e.embedding')} AS na,
           {dot_sql('q.qe', 'q.qe')} AS nb
    FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
)
SELECT vec_id, dot / (sqrt(na) * sqrt(nb)) AS cosine
FROM agg ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register("sim_topk_bruteforce", oracle=_TOPK_SQL)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbours of vec 0 — the ANN baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_id=0, top_k=10)


_NORMS_SQL = f"""
SELECT vec_id, sqrt({dot_sql('embedding', 'embedding')}) AS norm
FROM embeddings
"""


@register("sim_embedding_norms", oracle=_NORMS_SQL)
def sim_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", norm2_seq(F.col("embedding")).alias("norm"))


_PAIRS_SQL = f"""
WITH agg AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {dot_sql('a.embedding', 'b.embedding')} AS dot,
           {dot_sql('a.embedding', 'a.embedding')} AS na,
           {dot_sql('b.embedding', 'b.embedding')} AS nb
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, dot / (sqrt(na) * sqrt(nb)) AS cosine
FROM agg WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.45
"""


@register("sim_cosine_pairs", oracle=_PAIRS_SQL)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.45), exact all-pairs scoring.
    The oracle twin of the LSH-bucketed path; at 100 TB use ann/bucketing."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, threshold=0.45)


@register("sim_ann_lsh_topk", oracle=None)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 for vec 0 (rows-only check; recall
    vs brute force measured in pytest)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk(emb, query_id=0, dim=EMBED_DIM, top_k=10)


@register("sim_ann_multiprobe_topk", oracle=_TOPK_SQL)
def sim_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-1 multiprobe LSH top-10 for vec 0, fully hash-checked
    against the exact brute-force oracle: multiprobe recall is total on
    the gate corpus (pytest-pinned) and candidate scoring reuses the same
    left-fold cosine as the brute-force path, so the approximate plan
    (bucket-equijoin probe, NOT a corpus scan) produces the bit-identical
    top-k.  Planes are md5-derived — deterministic on every executor.

    CORPUS-CONTINGENT ORACLE: the exact oracle is valid only because
    multiprobe recall is empirically 1.0 on this gate corpus (pinned by
    test_ann_multiprobe_total_recall_at_gate_scale); a corpus, seed, or
    scale change that turns this gate red is a recall regression, not an
    oracle bug."""
    from ..operators.similarity import N_PLANES

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk(emb, query_id=0, dim=EMBED_DIM, top_k=10, multiprobe=N_PLANES)


_BATCH_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
agg AS (
    SELECT q.qid, e.vec_id,
           {dot_sql('e.embedding', 'q.qe')} AS dot,
           {dot_sql('e.embedding', 'e.embedding')} AS na,
           {dot_sql('q.qe', 'q.qe')} AS nb
    FROM embeddings e, q
    WHERE e.vec_id <> q.qid
),
scored AS (SELECT qid, vec_id, dot / (sqrt(na) * sqrt(nb)) AS cosine FROM agg),
ranked AS (
    SELECT qid, vec_id, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
    FROM scored
)
SELECT qid, vec_id, cosine FROM ranked WHERE rn <= 3
"""


@register("sim_ann_batch_topk", oracle=_BATCH_TOPK_SQL)
def sim_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: top-3 neighbours for query vectors 0-4 in ONE plan —
    bucket-equijoin candidates per query, per-qid window rank.  Fully
    hash-checked against the exact per-query brute-force oracle: with
    full Hamming-1 multiprobe, candidate recall covers every query's
    exact top-3 on the gate corpus (pytest-pinned in
    tests/test_dedup_similarity.py), and scoring reuses the same
    left-fold cosine, so the batch plan's output is bit-identical.

    CORPUS-CONTINGENT ORACLE, same contract as the other ANN gates: a
    corpus/seed/scale change that flips this red is recall loss on some
    query — diagnose with the pytest pin."""
    from ..operators.similarity import N_PLANES, ann_batch_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ann_batch_topk(emb, queries, dim=EMBED_DIM, top_k=3, multiprobe=N_PLANES)


@register("sim_ann_ivf_topk", oracle=_TOPK_SQL)
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-10 for vec 0, fully hash-checked
    against the exact brute-force oracle: at (n_cells=24, nprobe=16) IVF
    recall is total on the gate corpus (pytest-pinned in
    tests/test_dedup_similarity.py) and candidate scoring reuses the same
    left-fold cosine as the brute-force path, so the cell-pruned plan
    produces the bit-identical top-k.

    CORPUS-CONTINGENT ORACLE: the exact oracle holds because recall is
    empirically 1.0 on /root/testdata's near-orthogonal sf0.01 embeddings
    at this (n_cells, nprobe) — a corpus/seed/scale change that flips this
    gate red means IVF recall dropped below 1.0 there (diagnose with the
    pytest recall pin, not the oracle).  The high probe fraction (16/24)
    is what total recall costs on unclustered random vectors; clustered
    real-world embeddings keep recall with nprobe << n_cells."""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_id=0, top_k=10, n_cells=24, nprobe=16)


_CENTROID_SQL = """
WITH px AS (
  SELECT e.label, i.i AS dim_pos, e.embedding[i.i + 1] AS v
  FROM embeddings e
  JOIN (SELECT unnest(generate_series(0, 255)) AS i) i ON i.i < len(e.embedding))
SELECT CAST(label AS BIGINT) AS label,
       CAST(dim_pos AS BIGINT) AS dim_pos,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 8) AS centroid
FROM px GROUP BY 1, 2
"""


@register("sim_centroid_by_label", oracle=_CENTROID_SQL)
def sim_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (round 5) — the vector-averaging
    primitive under IVF training, class prototypes, and embedding-drift
    monitoring.  posexplode unpacks (label, dim_pos, component); the sum
    per (label, dim_pos) rides DECIMAL(20,10) — float32 components are
    exact at 10 fractional digits' rounding on both engines, and decimal
    addition is associative, so the sums are partitioning-invariant; the
    centroid is rounded to 8 decimals on both sides because a double on
    a decimal-quantum tie rounds differently per engine (observed: 1 of
    163k elements).  Output is long-form (label, dim_pos, centroid)
    rather than an array column: array-typed results break the driver's
    sort/hash canonicalizers, and long form feeds groupBy consumers
    directly.  Scale: one partial-agg shuffle of labels x dims rows —
    independent of the corpus row count."""
    emb = load_table(spark, sf_dir, "embeddings")
    px = emb.select("label", F.posexplode("embedding").alias("dim_pos", "v"))
    return (
        px.groupBy("label", "dim_pos")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("double").cast("decimal(20,10)")).alias("s"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("dim_pos").cast("long").alias("dim_pos"),
            "n",
            F.round(F.col("s").cast("double") / F.col("n"), 8).alias("centroid"),
        )
    )


def _q8_sql() -> str:
    """Generated 64-term SQL mirroring the Spark unpacked-column plan with
    the SAME left-associative expression order, so every double op is
    bit-identical."""
    v = [f"CAST(embedding[{k + 1}] AS DOUBLE)" for k in range(EMBED_DIM)]
    m = "GREATEST(" + ", ".join(f"abs({x})" for x in v) + ")"
    q = [f"round({x} * 127.0 / m)" for x in v]
    e2 = [f"(({x}) - (q{k} * m / 127.0)) * (({x}) - (q{k} * m / 127.0))"
          for k, x in enumerate(v)]
    mse_chain = e2[0]
    for t in e2[1:]:
        mse_chain = f"({mse_chain} + {t})"
    qsum = " + ".join(f"CAST(q{k} AS BIGINT)" for k in range(EMBED_DIM))
    qdefs = ", ".join(f"{expr} AS q{k}" for k, expr in enumerate(q))
    return f"""
WITH base AS (
  SELECT vec_id, label, embedding, {m} AS m
  FROM embeddings WHERE len(embedding) = {EMBED_DIM}),
nz AS (SELECT * FROM base WHERE m > 0),
qd AS (SELECT vec_id, label, embedding, m, {qdefs} FROM nz),
per AS (SELECT label,
               {qsum} AS q_sum,
               CAST({mse_chain} / {EMBED_DIM}.0 AS DECIMAL(38,12)) AS mse
        FROM qd)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(q_sum) AS BIGINT) AS q_checksum,
       CAST(CAST(SUM(mse) AS DECIMAL(38,12)) AS DOUBLE) / COUNT(*) AS avg_mse
FROM per GROUP BY label
"""


@register("sim_quantize_int8", oracle=_q8_sql())
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (round 5) — the embedding
    compression step an ANN serving/storage stack applies before
    indexing (4x smaller than float32, recall barely moves): scale =
    max|v|/127, q_k = round(v_k/scale), reconstruction error =
    mean((v_k - q_k*scale)^2).  Per label: vector count, integer
    checksum of all quantized codes (proves the exact code assignment),
    and average reconstruction MSE.

    Bit-exactness engineering: the whole computation is unpacked to 64
    codegen column expressions with a pinned left-associative reduction
    order, and the oracle's SQL is GENERATED with the same order —
    every double op is then IEEE-identical in both engines; the
    per-vector MSE rides DECIMAL(38,12) into the cross-row sum (scale
    chosen so the summed unscaled value stays under 2^53 — above that,
    DuckDB's int128->double path drifts 1 ulp from Java BigDecimal) so
    the label aggregate is partitioning- AND engine-independent.  No UDF, no HOF lambda:
    the plan is one map stage + one partial-agg groupBy — at 100 TB
    quantization is scan-speed."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = [F.col("embedding")[k].cast("double") for k in range(EMBED_DIM)]
    m = F.greatest(*[F.abs(x) for x in v])
    base = emb.filter(F.size("embedding") == EMBED_DIM).select(
        "vec_id", "label", *[v[k].alias(f"v{k}") for k in range(EMBED_DIM)], m.alias("m")
    ).filter(F.col("m") > 0)
    q = [F.round(F.col(f"v{k}") * 127.0 / F.col("m")) for k in range(EMBED_DIM)]
    qd = base.select(
        "vec_id", "label", "m",
        *[F.col(f"v{k}") for k in range(EMBED_DIM)],
        *[q[k].alias(f"q{k}") for k in range(EMBED_DIM)],
    )
    e2 = [
        (F.col(f"v{k}") - F.col(f"q{k}") * F.col("m") / 127.0)
        * (F.col(f"v{k}") - F.col(f"q{k}") * F.col("m") / 127.0)
        for k in range(EMBED_DIM)
    ]
    mse_chain = e2[0]
    for t in e2[1:]:
        mse_chain = mse_chain + t
    q_sum = F.col("q0").cast("long")
    for k in range(1, EMBED_DIM):
        q_sum = q_sum + F.col(f"q{k}").cast("long")
    per = qd.select(
        "label",
        q_sum.alias("q_sum"),
        (mse_chain / float(EMBED_DIM)).cast("decimal(38,12)").alias("mse"),
    )
    return per.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("q_sum").alias("q_checksum"),
        (F.sum("mse").cast("decimal(38,12)").cast("double") / F.count("*")).alias("avg_mse"),
    )


@register("sim_ann_ivf_persisted", oracle=_TOPK_SQL)
def sim_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED-INDEX IVF top-10 (round 6): the full index lifecycle —
    build (assignment scan + cell-partitioned parquet write + centroid
    table), then query the index FROM DISK with the `cell IN (probes)`
    filter pruning whole partition directories, so the probe reads
    nprobe/n_cells of the corpus bytes.  Same (n_cells=24, nprobe=16)
    operating point as sim_ann_ivf_topk, so the same CORPUS-CONTINGENT
    exact brute-force oracle applies (recall 1.0 on this corpus,
    pytest-pinned); what this gate adds over the in-memory one is the
    index round trip and the partition-pruned probe scan — at 100 TB
    the index is built once and queried for months, which makes
    persistence, not assignment, the operative surface."""
    from ..operators.similarity import ivf_build, ivf_query_persisted
    from ..streaming.sources import cleanup, scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    scratch = scratch_dir("ivfidx")
    try:
        ivf_build(emb, f"{scratch}/idx", n_cells=24)
        result = ivf_query_persisted(
            spark, f"{scratch}/idx", query_id=0, top_k=10, nprobe=16
        ).localCheckpoint(eager=True)
    finally:
        cleanup(scratch)
    return result


# -- round 8: PCA over the embedding corpus ----------------------------------

_COV_SQL = """
WITH e AS (SELECT list_transform(embedding,
                                 x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
                                           AS BIGINT)) AS w
           FROM embeddings),
idx AS (SELECT unnest(generate_series(0, 63)) AS i),
px AS (SELECT i.i AS dim_i, j.i AS dim_j,
              e.w[i.i + 1] AS wi, e.w[j.i + 1] AS wj
       FROM e, idx i, idx j WHERE i.i <= j.i),
agg AS (SELECT dim_i, dim_j, COUNT(*) AS n,
               SUM(wi) AS sx, SUM(wj) AS sy, SUM(wi * wj) AS sxy
        FROM px GROUP BY 1, 2)
SELECT CAST(dim_i AS BIGINT) AS dim_i, CAST(dim_j AS BIGINT) AS dim_j,
       CAST(n AS BIGINT) AS n,
       ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        / (n - 1)) / 1099511627776.0 AS cov
FROM agg
"""


@register("sim_covariance_matrix", oracle=_COV_SQL)
def sim_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVARIANCE MATRIX of the embedding corpus in one pass (round 8)
    — the summary under PCA, whitening, Mahalanobis gates, and drift
    monitors.  operators/pca.py: each partition emits exact integer
    moment sums of the 2^-20-quantized components (products block-summed
    where float64 is exact, accumulated in arbitrary-precision ints,
    shipped as strings so NO row count can overflow the transfer); the
    driver merges the bounded moment rows and evaluates the closed form
    ONCE on exact integers — bit-identical under any partitioning, which
    is what lets a DuckDB oracle replay the identical arithmetic.  NO
    final rounding: both engines perform the same IEEE ops on the same
    exact integers, so the doubles already match bitwise.  Scale: the
    corpus pass moves d + d(d+1)/2 integers per partition (d=64: 2,144
    values) — the sketch class; the d x d result is driver-tiny."""
    from ..operators.pca import (
        _SCALE,
        covariance_merge,
        covariance_moments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n, s, m = covariance_merge(covariance_moments(emb, dim=EMBED_DIM), dim=EMBED_DIM)
    import numpy as np

    iu = np.triu_indices(EMBED_DIM)
    rows = []
    for k in range(len(m)):
        i, j = int(iu[0][k]), int(iu[1][k])
        cov = ((float(m[k]) - float(s[i]) * float(s[j]) / n) / (n - 1)) / (
            _SCALE * _SCALE
        )
        rows.append((i, j, n, cov))
    return spark.createDataFrame(
        rows, "dim_i long, dim_j long, n long, cov double"
    )


@register("sim_pca_project", oracle=None)
def sim_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PCA lifecycle (round 8): one-pass exact covariance ->
    driver-side eigh of the 64x64 matrix (microseconds; components
    sign-normalized so the factorization is unique) -> distributed
    projection of every embedding onto the top-2 components as a pure
    codegen map stage (broadcast-as-literal weights, zero shuffle).
    Rows-only gate: the oracle would need the eigendecomposition;
    correctness is pytest-pinned against numpy PCA end-to-end plus a
    determinism re-run (tests/test_round8_properties.py)."""
    from ..operators.pca import (
        covariance_matrix,
        covariance_merge,
        covariance_moments,
        pca_components,
        pca_project,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n, s, m = covariance_merge(covariance_moments(emb, dim=EMBED_DIM), dim=EMBED_DIM)
    comps = pca_components(covariance_matrix(n, s, m, dim=EMBED_DIM), k=2)
    return pca_project(emb, comps)


# -- round 8: kNN gather-aggregate (message passing) -------------------------

_KNN_Q = 20
_KNN_K = 10

_KNN_GATHER_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_KNN_Q}),
scored AS (
  SELECT q.qid, e.vec_id,
         {dot_sql('e.embedding', 'q.qe')}
           / (sqrt({dot_sql('e.embedding', 'e.embedding')})
              * sqrt({dot_sql('q.qe', 'q.qe')})) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.qid),
ranked AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
  FROM scored),
nn AS (SELECT qid, vec_id FROM ranked WHERE rn <= {_KNN_K}),
px AS (
  SELECT nn.qid, i.i AS dim_pos, e.embedding[i.i + 1] AS v
  FROM nn JOIN embeddings e USING (vec_id)
  JOIN (SELECT unnest(generate_series(0, 255)) AS i) i ON i.i < len(e.embedding))
SELECT CAST(qid AS BIGINT) AS qid, CAST(dim_pos AS BIGINT) AS dim_pos,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       round(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
             / COUNT(*), 8) AS mean_v
FROM px GROUP BY 1, 2
"""


@register("sim_knn_gather_mean", oracle=_KNN_GATHER_SQL)
def sim_knn_gather_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN GATHER-AGGREGATE (round 8): for each of 20 query vectors,
    the per-dimension MEAN of its exact top-10 cosine neighbours — one
    message-passing layer over the kNN graph, the primitive under
    label propagation on embeddings, retrieval-augmented features, and
    GNN-style neighbourhood encoding (search -> gather -> aggregate in
    one plan).

    Scale shape: queries BROADCAST onto the corpus scan (scoring is
    embarrassingly parallel, no corpus shuffle); top-10 per query via
    the skew-proof two-stage partial top-k (a row_number window would
    funnel the whole scored stream into |queries| tasks); the gather
    is a slim (qid, vec_id) broadcast join back to the corpus; the
    per-dim mean rides the centroid gate's DECIMAL(20,10) ladder in
    long form — |queries| x dims rows through the final shuffle,
    independent of corpus size.  Cosines are the shared left-fold
    (bit-identical both engines), so the neighbour SETS match exactly
    and the means hash-match; at 100 TB the brute-force scorer swaps
    for the IVF/LSH candidate generators upstream, same gather tail."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..functions.vectors import cosine_seq

    q = emb.filter(F.col("vec_id") < _KNN_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_seq(F.col("embedding"), F.col("qvec")).alias("cosine"),
        )
    )
    item = F.struct((-F.col("cosine")).alias("neg_c"), F.col("vec_id").alias("vec_id"))
    local = (
        scored.withColumn("pid", F.spark_partition_id())
        .groupBy("qid", "pid")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, _KNN_K).alias("top"))
    )
    merged = (
        local.select("qid", F.explode("top").alias("it"))
        .groupBy("qid")
        .agg(F.slice(F.array_sort(F.collect_list("it")), 1, _KNN_K).alias("top"))
    )
    nn = merged.select("qid", F.explode("top").alias("it")).select(
        "qid", F.col("it.vec_id").alias("vec_id")
    )
    return _gather_mean(nn, emb)


def _gather_mean(nn: DataFrame, emb: DataFrame) -> DataFrame:
    """Shared gather tail: (qid, vec_id) neighbour lists -> per-dim
    decimal mean in long form.  Both the brute-force and the ANN-backed
    kNN gates end here — the scorer is the swappable half."""
    px = nn.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "qid", F.posexplode("embedding").alias("dim_pos", "v")
    )
    return (
        px.groupBy("qid", "dim_pos")
        .agg(
            F.count("*").alias("n_neighbors"),
            F.sum(F.col("v").cast("double").cast("decimal(20,10)")).alias("s"),
        )
        .select(
            F.col("qid").cast("long").alias("qid"),
            F.col("dim_pos").cast("long").alias("dim_pos"),
            "n_neighbors",
            F.round(F.col("s").cast("double") / F.col("n_neighbors"), 8).alias(
                "mean_v"
            ),
        )
    )


_KNN_ANN_TABLES = 12  # measured total top-10 recall at all three SFs


@register("sim_knn_gather_mean_ann", oracle=_KNN_GATHER_SQL)
def sim_knn_gather_mean_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of the message-passing layer (round 8): the same
    gather tail as sim_knn_gather_mean fed by the LSH BATCH ANN scorer
    (bucket-equijoin candidates, full Hamming-1 multiprobe, 12 tables)
    instead of the brute-force cross product — candidates come from
    bucket collisions, so scoring cost follows collision counts, not
    |queries| x |corpus|.

    CORPUS-CONTINGENT ORACLE, the standing ANN contract: with measured
    candidate recall 1.0 for every query's exact top-10 at sf0.001,
    sf0.01 AND sf0.1 (pytest-pinned equality with the brute-force gate),
    the neighbour sets — and therefore the decimal means — are
    bit-identical to the exact SQL.  A corpus/seed/scale change that
    flips this red is recall loss on some query; diagnose with the
    pytest pin."""
    from ..operators.similarity import N_PLANES, ann_batch_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ann = ann_batch_topk(
        emb,
        queries,
        dim=EMBED_DIM,
        top_k=_KNN_K,
        multiprobe=N_PLANES,
        n_tables=_KNN_ANN_TABLES,
    )
    return _gather_mean(ann.select("qid", "vec_id"), emb)


_KNN_IVF_CELLS = 24
_KNN_IVF_NPROBE = 8  # reads 1/3 of the cells: REAL pruning, recall pytest-pinned

# The IVF-RESTRICTED exact-kNN oracle: replays the index's entire
# deterministic construction in SQL — centroid choice (the 24 vectors
# with smallest md5(vec_id)), cosine argmax assignment, per-query probe
# ranking, exact top-10 WITHIN the probed cells, then the shared gather
# mean.  This validates the pruned-search semantics themselves at any
# nprobe, rather than depending on corpus-contingent total recall (on
# this corpus the exact top-10 spans ALL 24 cells for some queries —
# measured — so a total-recall operating point would mean no pruning at
# all).  Spark ranks cells/assignments via numpy (normalize-then-BLAS)
# while this SQL folds dot/(norm*norm) — different last-ulp rounding —
# so the oracle is exact only while no assignment or probe-boundary
# ranking sits within float noise; test_ivf_rankings_have_margin pins
# that gap at >= 1e-6 on this corpus, making the contingency explicit.
_KNN_IVF_SQL = f"""
WITH cents AS (
  SELECT cid, ce, crk FROM (
    SELECT vec_id AS cid, embedding AS ce,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crk
    FROM embeddings) WHERE crk <= {_KNN_IVF_CELLS}),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.crk AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_sql('e.embedding', 'c.ce')}
                                / (sqrt({dot_sql('e.embedding', 'e.embedding')})
                                   * sqrt({dot_sql('c.ce', 'c.ce')})) DESC, c.crk) AS rn
    FROM embeddings e, cents c) WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_KNN_Q}),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c.crk AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {dot_sql('q.qe', 'c.ce')}
                                / (sqrt({dot_sql('q.qe', 'q.qe')})
                                   * sqrt({dot_sql('c.ce', 'c.ce')})) DESC, c.crk) AS prk
    FROM q, cents c) WHERE prk <= {_KNN_IVF_NPROBE}),
scored AS (
  SELECT q.qid, e.vec_id,
         {dot_sql('e.embedding', 'q.qe')}
           / (sqrt({dot_sql('e.embedding', 'e.embedding')})
              * sqrt({dot_sql('q.qe', 'q.qe')})) AS cosine
  FROM embeddings e
  JOIN asgn a ON a.vec_id = e.vec_id
  JOIN probes p ON p.cell = a.cell
  JOIN q ON q.qid = p.qid
  WHERE e.vec_id <> q.qid),
ranked AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
  FROM scored),
nn AS (SELECT qid, vec_id FROM ranked WHERE rn <= {_KNN_K}),
px AS (
  SELECT nn.qid, i.i AS dim_pos, e.embedding[i.i + 1] AS v
  FROM nn JOIN embeddings e USING (vec_id)
  JOIN (SELECT unnest(generate_series(0, 255)) AS i) i ON i.i < len(e.embedding))
SELECT CAST(qid AS BIGINT) AS qid, CAST(dim_pos AS BIGINT) AS dim_pos,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       round(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
             / COUNT(*), 8) AS mean_v
FROM px GROUP BY 1, 2
"""


@register("sim_knn_gather_mean_ivf", oracle=_KNN_IVF_SQL)
def sim_knn_gather_mean_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISK-PRUNING form of the message-passing layer (round 9 —
    the banked r8 handoff candidate c): the same gather tail as
    sim_knn_gather_mean fed by the persisted-IVF batch scorer.  Where
    the LSH twin bounds SCORING work (candidates from bucket
    collisions), this one bounds DISK work: the index's inverted lists
    are parquet partitioned by cell, the 20 queries' probe plan reads
    ONLY the probed cell directories (partition pruning at file-listing
    level, pytest plan-pinned), and scoring touches ~nprobe/n_cells of
    the corpus bytes — the shape that matters when the corpus lives on
    100 TB of object storage and the index is built once, queried for
    months.

    Operating point (n_cells=24, nprobe=8): a third of the cells.  This
    is REAL pruning, so the result is NOT the exact top-10 — measured
    recall@10 vs the brute gate is mean 0.53/0.62/0.68 (min 0.2) at
    sf0.001/0.01/0.1, pytest-pinned — and the oracle is
    therefore the IVF-RESTRICTED exact search (see _KNN_IVF_SQL), which
    replays centroid choice, assignment, probe ranking, restricted
    top-10, and the gather mean in SQL: a full hash-match on the pruned
    semantics at any nprobe.  (A total-recall operating point would
    need nprobe=24 on this corpus — measured — i.e. no pruning: the
    exact form is sim_knn_gather_mean's job.)

    Index lifecycle is in-gate (build -> query -> drop) like
    sim_ann_ivf_persisted; the result is checkpointed before the
    scratch index is dropped."""
    from ..operators.similarity import ivf_batch_query_persisted, ivf_build
    from ..streaming.sources import cleanup, scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < _KNN_Q)
        .select(F.col("vec_id").alias("qid"), "embedding")
        .collect()
    )  # bounded: the 20-vector retrieval batch
    queries = [(r["qid"], list(r["embedding"])) for r in qrows]
    scratch = scratch_dir("ivfknn")
    try:
        ivf_build(emb, f"{scratch}/idx", n_cells=_KNN_IVF_CELLS)
        nn = ivf_batch_query_persisted(
            spark,
            f"{scratch}/idx",
            queries,
            top_k=_KNN_K,
            nprobe=_KNN_IVF_NPROBE,
        )
        result = _gather_mean(nn.select("qid", "vec_id"), emb).localCheckpoint(
            eager=True
        )
    finally:
        cleanup(scratch)
    return result


_APPEND_BASE_MOD = 5  # base corpus = vec_id % 5 <> 0 (80%); delta = the rest
_APPEND_CELLS = 24
_APPEND_NPROBE = 8
_APPEND_Q = 5
_APPEND_K = 3

def _ivf_oracle_sql(
    base_where: str, cells: int, nprobe: int, n_q: int, k: int
) -> str:
    """The frozen-quantizer IVF replay, parameterized (round 14 — one
    builder for every IVF lifecycle oracle so the shared arithmetic can
    never silently diverge between gates): centroid choice ranks md5
    over the ``base_where`` corpus (empty string = the full corpus,
    i.e. the fresh-build / post-retrain quantizer), while assignment,
    probe ranking and scoring run over the full maintained contents.
    A full hash-match proves the maintained index routed every vector
    exactly where a frozen-quantizer rebuild over that base would
    have."""
    return f"""
WITH cents AS (
  SELECT cid, ce, crk FROM (
    SELECT vec_id AS cid, embedding AS ce,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crk
    FROM embeddings {base_where})
  WHERE crk <= {cells}),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.crk AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_sql('e.embedding', 'c.ce')}
                                / (sqrt({dot_sql('e.embedding', 'e.embedding')})
                                   * sqrt({dot_sql('c.ce', 'c.ce')})) DESC, c.crk) AS rn
    FROM embeddings e, cents c) WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {n_q}),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c.crk AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {dot_sql('q.qe', 'c.ce')}
                                / (sqrt({dot_sql('q.qe', 'q.qe')})
                                   * sqrt({dot_sql('c.ce', 'c.ce')})) DESC, c.crk) AS prk
    FROM q, cents c) WHERE prk <= {nprobe}),
scored AS (
  SELECT q.qid, e.vec_id,
         {dot_sql('e.embedding', 'q.qe')}
           / (sqrt({dot_sql('e.embedding', 'e.embedding')})
              * sqrt({dot_sql('q.qe', 'q.qe')})) AS cosine
  FROM embeddings e
  JOIN asgn a ON a.vec_id = e.vec_id
  JOIN probes p ON p.cell = a.cell
  JOIN q ON q.qid = p.qid
  WHERE e.vec_id <> q.qid),
ranked AS (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
  FROM scored)
SELECT qid, vec_id, cosine FROM ranked WHERE rn <= {k}
"""


# The MAINTAINED-INDEX oracle: same replay structure as _KNN_IVF_SQL,
# with one change that IS the append semantics — centroid choice ranks
# md5 over the BASE corpus only (the quantizer is frozen at build time),
# while assignment/probe/scoring run over base ∪ delta (the maintained
# contents).  A full hash-match therefore proves the append routed every
# delta vector exactly where a frozen-quantizer rebuild would have.
_IVF_APPEND_SQL = _ivf_oracle_sql(
    f"WHERE vec_id % {_APPEND_BASE_MOD} <> 0",
    _APPEND_CELLS, _APPEND_NPROBE, _APPEND_Q, _APPEND_K,
)


@register("sim_ivf_index_append", oracle=_IVF_APPEND_SQL)
def sim_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX MAINTENANCE (round 10 — the banked r9 handoff
    candidate b): the full incremental lifecycle — build the persisted
    index on the BASE corpus (80% of vectors), ivf_append the 20% delta
    through the frozen quantizer and the claim-marker commit path, then
    batch-query the MAINTAINED index from disk with real pruning
    (nprobe=8 of 24 cells).  The missing lifecycle piece of a
    months-lived index: without it, every nightly embedding batch means
    a corpus-sized rebuild; with it, maintenance work is sized by the
    delta (one delta assignment scan + appends that touch only the
    receiving cell directories — pytest-pinned byte-for-byte on
    pre-existing files).

    The oracle replays the maintained index's whole deterministic
    construction in SQL (see _IVF_APPEND_SQL): centroids from the base
    corpus only — the frozen-quantizer semantics — assignment of
    base ∪ delta, probe ranking, and pruned top-3 per query.  The hash
    match is therefore the append-equals-frozen-rebuild proof the r9
    handoff asked for, at driver strength.  Retrain accounting: this
    delta is 25% of base, exactly the default retrain threshold — the
    returned audit and the persisted append_log flip retrain_due
    (pytest-pinned), the signal that the NEXT maintenance window should
    be an ivf_build rebuild, not another append.

    Same float-seam contingency as sim_knn_gather_mean_ivf: numpy
    normalize-then-BLAS vs SQL fold differ in last-ulp rounding, so the
    oracle is exact while no assignment or probe ranking sits inside
    float noise — test_ivf_append_rankings_have_margin pins that gap
    on this corpus."""
    from ..operators.similarity import ivf_append, ivf_batch_query_persisted, ivf_build
    from ..streaming.sources import cleanup, scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _APPEND_BASE_MOD != 0)
    delta = emb.filter(F.col("vec_id") % _APPEND_BASE_MOD == 0)
    qrows = (
        emb.filter(F.col("vec_id") < _APPEND_Q)
        .select(F.col("vec_id").alias("qid"), "embedding")
        .collect()
    )  # bounded: the 5-vector retrieval batch
    queries = [(r["qid"], list(r["embedding"])) for r in qrows]
    scratch = scratch_dir("ivfapp")
    try:
        ivf_build(base, f"{scratch}/idx", n_cells=_APPEND_CELLS)
        ivf_append(spark, f"{scratch}/idx", delta)
        result = ivf_batch_query_persisted(
            spark,
            f"{scratch}/idx",
            queries,
            top_k=_APPEND_K,
            nprobe=_APPEND_NPROBE,
        ).localCheckpoint(eager=True)
    finally:
        cleanup(scratch)
    return result


# The RETRAINED-index oracle: the same replay as _IVF_APPEND_SQL with
# the base filter REMOVED — after ivf_retrain_swap the quantizer is
# md5-seeded over the CURRENT (full) corpus, which is exactly the
# fresh-build construction; the swap's whole contract is that the
# served index is indistinguishable from that rebuild.
_IVF_RETRAIN_SQL = _ivf_oracle_sql(
    "", _APPEND_CELLS, _APPEND_NPROBE, _APPEND_Q, _APPEND_K
)


@register("sim_ivf_retrain_swap", oracle=_IVF_RETRAIN_SQL)
def sim_ivf_retrain_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF index lifecycle (round 10): build on the 80% base,
    ivf_append the 20% delta — the gate corpus sits exactly at the
    default retrain threshold, so
    the audit flips retrain_due — then act on the trigger:
    ivf_retrain_swap re-seeds the quantizer over the CURRENT corpus
    and publishes the rebuilt index as the NEXT numbered generation
    under the sibling commit claim (round 11: generation layout — the
    pointer flip replaced the in-place directory swap), and the batch
    query resolves and runs against the RETRAINED generation.

    The oracle replays the retrained construction: centroids over the
    full corpus — byte-for-byte the fresh-build rule — which is the
    swap's contract (served index ≡ rebuild; pytest additionally pins
    generation semantics: meta resets to the new corpus count, the
    append_log restarts, the PREVIOUS generation survives immutably
    for pinned readers until an explicit vacuum, and a retrain that
    fails pre-publish leaves the old generation answering
    identically).  Writer mutual exclusion append↔retrain is pinned
    in tests/test_round10_properties.py; readers no longer refuse
    during a retrain (tests/test_round11_properties.py pins the
    reader-during-swap old-generation result).  Float-seam
    contingency: the
    full-corpus 24-cell construction at nprobe=8 over qids<5 is inside
    the margins test_ivf_rankings_have_margin already pins (>= 1.8e-6
    observed; loud failure below 1e-9)."""
    from ..operators.similarity import (
        ivf_append,
        ivf_batch_query_persisted,
        ivf_build,
        ivf_retrain_swap,
    )
    from ..streaming.sources import cleanup, scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _APPEND_BASE_MOD != 0)
    delta = emb.filter(F.col("vec_id") % _APPEND_BASE_MOD == 0)
    qrows = (
        emb.filter(F.col("vec_id") < _APPEND_Q)
        .select(F.col("vec_id").alias("qid"), "embedding")
        .collect()
    )  # bounded: the 5-vector retrieval batch
    queries = [(r["qid"], list(r["embedding"])) for r in qrows]
    scratch = scratch_dir("ivfrts")
    try:
        ivf_build(base, f"{scratch}/idx", n_cells=_APPEND_CELLS)
        audit = ivf_append(spark, f"{scratch}/idx", delta)
        if not audit["retrain_due"]:  # loud even under python -O
            raise RuntimeError("gate corpus must trip the retrain trigger")
        ivf_retrain_swap(spark, f"{scratch}/idx", emb, n_cells=_APPEND_CELLS)
        result = ivf_batch_query_persisted(
            spark,
            f"{scratch}/idx",
            queries,
            top_k=_APPEND_K,
            nprobe=_APPEND_NPROBE,
        ).localCheckpoint(eager=True)
    finally:
        cleanup(scratch)
    return result


# The TIME-TRAVEL oracle: both generations' constructions replayed in
# one statement — generation 1 is the maintained (frozen-quantizer)
# index _IVF_APPEND_SQL describes, generation 2 the retrained
# (full-corpus) index _IVF_RETRAIN_SQL describes; the gate's whole
# claim is that BOTH answer simultaneously from one index path.
_IVF_TIME_TRAVEL_SQL = f"""
WITH g1 AS ({_IVF_APPEND_SQL}),
g2 AS ({_IVF_RETRAIN_SQL})
SELECT CAST(1 AS BIGINT) AS generation, qid, vec_id, cosine FROM g1
UNION ALL
SELECT CAST(2 AS BIGINT) AS generation, qid, vec_id, cosine FROM g2
"""


@register("sim_ivf_time_travel", oracle=_IVF_TIME_TRAVEL_SQL)
def sim_ivf_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX TIME TRAVEL (round 11): the oracle-gated form of the
    generation-versioned layout.  Lifecycle: build(base 80%) ->
    append(delta 20%, trips retrain_due) ->
    retrain_swap(full corpus) — then query the SAME index path at BOTH
    generations: ``generation=1`` pins the pre-retrain maintained index
    (frozen quantizer over base ∪ delta), ``generation=2`` the
    retrained one, each through the partition-pruned persisted batch
    path.  The reproducibility ask this answers: "re-score yesterday's
    retrieval run against the index AS IT WAS" — an A/B between index
    generations without re-building either, the read_version contract
    applied to ANN state.

    The oracle replays BOTH deterministic constructions in one
    statement (see _IVF_TIME_TRAVEL_SQL) — a full hash-match proves the
    published-generation directories answer exactly their respective
    constructions SIMULTANEOUSLY: the retrain publish did not disturb
    the old generation's bytes (the reader-during-swap pytest pins the
    same property for in-flight plans; this gate pins it at driver
    strength for explicitly pinned reads).  Same float-seam
    contingency and margins as the two parent gates (the SQLs are
    theirs verbatim).  At 100 TB: generations cost storage, not
    compute — old generations are plain immutable directories vacuumed
    on retention policy (ivf_vacuum_generations), and a pinned read
    prunes cells exactly like a current read."""
    from ..operators.similarity import (
        ivf_append,
        ivf_batch_query_persisted,
        ivf_build,
        ivf_retrain_swap,
    )
    from ..streaming.sources import cleanup, scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _APPEND_BASE_MOD != 0)
    delta = emb.filter(F.col("vec_id") % _APPEND_BASE_MOD == 0)
    qrows = (
        emb.filter(F.col("vec_id") < _APPEND_Q)
        .select(F.col("vec_id").alias("qid"), "embedding")
        .collect()
    )  # bounded: the 5-vector retrieval batch
    queries = [(r["qid"], list(r["embedding"])) for r in qrows]
    scratch = scratch_dir("ivftt")
    try:
        ivf_build(base, f"{scratch}/idx", n_cells=_APPEND_CELLS)
        audit = ivf_append(spark, f"{scratch}/idx", delta)
        # lifecycle invariants raise explicitly (ADVICE r11: bare
        # asserts strip under python -O and a silently wrong lifecycle
        # would reach the oracle as a confusing hash mismatch)
        if not audit["retrain_due"]:
            raise RuntimeError("gate corpus must trip the retrain trigger")
        new_gen = ivf_retrain_swap(
            spark, f"{scratch}/idx", emb, n_cells=_APPEND_CELLS
        )
        if new_gen != 2:
            raise RuntimeError(f"retrain must publish generation 2, got {new_gen}")
        legs = [
            ivf_batch_query_persisted(
                spark,
                f"{scratch}/idx",
                queries,
                top_k=_APPEND_K,
                nprobe=_APPEND_NPROBE,
                generation=g,
            ).select(
                F.lit(g).cast("long").alias("generation"),
                "qid",
                "vec_id",
                "cosine",
            )
            for g in (1, 2)
        ]
        result = legs[0].unionByName(legs[1]).localCheckpoint(eager=True)
    finally:
        cleanup(scratch)
    return result


@register("sim_kmeans_clusters", oracle=None)
def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-INTEGER k-means over the embedding corpus (round 9) — the
    clustering primitive under cluster-balanced sampling, SemDeDup-style
    cluster-then-dedup, and IVF quantizer training.  operators/kmeans.py:
    inputs quantize once to 2^-20 integers in codegen; ASSIGNMENT is
    exact int64 squared-euclidean argmin (ties to lowest index);
    CENTROID UPDATES merge per-partition arbitrary-precision integer
    sums on the driver and re-quantize with one integer rule — no float
    touches cross-iteration state, so the entire fixed point
    (assignments, centroids, inertia) is bit-identical under ANY
    partitioning, pinned at two partition counts and against a
    pure-Python replica of the same arithmetic.

    Rows-only BY DESIGN: an iterative fixpoint is not SQL-expressible
    (the k-core/BFS lane); correctness is the pytest differential +
    invariance pins (tests/test_round9_properties.py).  Scale shape:
    each Lloyd iteration is one scan emitting a k x d integer summary
    per partition (the sketch class); the driver merge is k-bounded;
    per-cluster output carries the exact membership-set checksum."""
    from ..operators.kmeans import kmeans_fit, kmeans_summary

    emb = load_table(spark, sf_dir, "embeddings")
    cents, _iters, _inertia = kmeans_fit(emb, k=8, dim=EMBED_DIM)
    return kmeans_summary(emb, cents)


_BALANCED_QUOTA = 32


@register("sample_cluster_balanced", oracle=None)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-BALANCED SAMPLING (round 9) — the curation step after
    clustering: an equal deterministic quota from every semantic
    cluster, so a fine-tuning mix can't be silently dominated by the
    corpus's densest region.  Composition: the exact-integer k-means
    fit (same k=8 operating point as sim_kmeans_clusters, so its
    partitioning-invariance pins carry over) -> per-cluster selection
    of the 32 members with smallest md5(vec_id) — content-hash
    membership, the hash_split discipline: stable under repartitioning,
    engines, and incremental corpus growth, never a seeded RNG.

    Scale shape: selection rides the skew-proof two-stage partial
    top-k (per-partition slice, then per-cluster merge — never a
    window over raw corpus rows), so the shuffle carries <= k x quota
    struct rows.  Rows-only BY DESIGN (the k-means fixpoint upstream);
    the pytest differential replicates fit + md5 ranking in pure
    Python and pins the output exactly; per-cluster output carries the
    exact sample-membership checksum."""
    from ..operators.kmeans import kmeans_assign, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cents, _iters, _inertia = kmeans_fit(emb, k=8, dim=EMBED_DIM)
    asg = kmeans_assign(emb, cents)
    item = F.struct(
        F.md5(F.col("vec_id").cast("string")).alias("h"),
        F.col("vec_id").alias("vec_id"),
    )
    counts = asg.groupBy("cluster").agg(F.count("*").alias("n_candidates"))
    local = (
        asg.withColumn("pid", F.spark_partition_id())
        .groupBy("cluster", "pid")
        .agg(
            F.slice(F.array_sort(F.collect_list(item)), 1, _BALANCED_QUOTA).alias("top"),
        )
    )
    merged = (
        local.select("cluster", F.explode("top").alias("it"))
        .groupBy("cluster")
        .agg(
            F.slice(
                F.array_sort(F.collect_list("it")), 1, _BALANCED_QUOTA
            ).alias("top"),
        )
    ).join(counts, "cluster")
    return merged.select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_candidates",
        F.size("top").cast("long").alias("n_sampled"),
        F.aggregate(
            "top", F.lit(0).cast("long"), lambda acc, x: acc + x["vec_id"]
        ).alias("sample_checksum"),
    )
