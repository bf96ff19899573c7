"""Similarity search over embeddings (SURVEY.md §2.3).

Two tiers, same contract:
- ``brute_force_topk`` / ``cosine_pairs``: exact cosine against every
  vector — O(n) per query / O(n^2) pairs.  The correctness baseline and
  the DuckDB-oracle path.
- ``lsh_bucket`` + ``ann_topk``: random-hyperplane LSH (16 deterministic
  planes -> 16-bit bucket).  Bucketing is a single vectorized pandas_udf
  (one numpy matmul per Arrow batch); candidate generation is a bucket
  equijoin, so a 100 TB index probes one bucket instead of scanning.
  The planes are derived from md5 of (plane, dim) — fixed forever, no RNG
  state, identical on every executor.
"""

from __future__ import annotations

import functools
import hashlib
import re as _re

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from ..functions.vectors import cosine_seq, norm2_seq

# Multi-table LSH: L independent tables of p hyperplanes each.  A table's
# bucket count is 2^p; more tables -> higher recall, more planes -> finer
# buckets.  (4, 8) suits ~10^3 vectors; a 100 TB index wants more planes
# (e.g. 16) so buckets stay small, plus more tables to hold recall.
N_PLANES = 4
N_TABLES = 8


@functools.lru_cache(maxsize=32)
def _planes(dim: int, n_planes: int = N_PLANES, n_tables: int = N_TABLES) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5), shape
    (n_tables * n_planes, dim) — md5-derived, no RNG state, identical on
    every executor forever.  Memoized (round 14 review): the nested
    Python md5 loop is tables*planes*dim digests (~786k at a
    24x32x1024 production sizing, seconds of driver time) for a pure
    function of its arguments, and the hot paths call it once per
    operator invocation; the cached array is frozen read-only so no
    caller can corrupt the shared copy."""
    vals = np.empty((n_tables * n_planes, dim))
    for p in range(n_tables * n_planes):
        for i in range(dim):
            h = hashlib.md5(f"plane:{p}:{i}".encode()).digest()
            vals[p, i] = int.from_bytes(h[:8], "big") / 2**64 - 0.5
    vals.flags.writeable = False
    return vals


def brute_force_topk(
    embeddings: DataFrame, query_id: int, top_k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k cosine neighbours of one stored vector."""
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    return (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            cosine_seq(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(top_k)
    )


def cosine_pairs(
    embeddings: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All pairs with cosine >= threshold (id_a < id_b) — exact O(n^2)
    scoring; the oracle for the LSH path."""
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_seq(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def with_lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add an array<long> ``buckets`` column (one bucket per LSH table) via
    one Arrow-batched numpy matmul per batch (the vectorized-UDF pattern;
    ~100x a row-at-a-time UDF)."""
    planes = _planes(dim, n_planes, n_tables)

    @pandas_udf("array<long>")
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # (batch, dim)
        signs = (m @ planes.T) > 0  # (batch, n_tables*n_planes)
        signs = signs.reshape(len(m), n_tables, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        buckets = signs @ weights  # (batch, n_tables)
        return pd.Series(list(buckets))

    return embeddings.withColumn("buckets", bucket_udf(F.col(vec_col)))


def lsh_bucket_table(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, table, bucket) — one row per (vector, LSH table); the
    join key for candidate generation."""
    b = with_lsh_buckets(embeddings, dim, n_planes, n_tables, id_col, vec_col)
    return b.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.posexplode("buckets").alias("table", "bucket"),
    )


def ann_topk(
    embeddings: DataFrame,
    query_id: int,
    dim: int,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    margin_ranked: bool = False,
) -> DataFrame:
    """Approximate top-k: score only vectors colliding with the query in
    >= 1 of the LSH tables.  Trades recall for a bucket-pruned scan;
    recall vs brute force measured in tests/test_dedup_similarity.py.

    ``multiprobe`` > 0 additionally probes, per table, ``multiprobe``
    buckets at Hamming distance 1 from the query's bucket — the standard
    way to buy recall WITHOUT more tables: the index stays the same size,
    only the broadcast query bucket list grows
    (n_tables x (1 + multiprobe) rows).  Which bits get flipped:

    - default: the first ``multiprobe`` sign bits (position order) —
      zero extra work, all plan-side.
    - ``margin_ranked=True``: the ``multiprobe`` bits whose hyperplanes
      the query is CLOSEST to (smallest |projection|) — those are the
      bits most likely to differ for a true near neighbour, so each
      probe buys more recall (classic multi-probe LSH ordering).  Costs
      one bounded driver-side fetch of the query vector (1 row, same as
      the IVF probe-selection pattern) to rank the margins."""
    bt = lsh_bucket_table(embeddings, dim, id_col=id_col, vec_col=vec_col)
    if multiprobe > 0 and margin_ranked:
        spark = embeddings.sparkSession
        qrow = embeddings.filter(F.col(id_col) == query_id).select(vec_col).head()
        qv = np.asarray(qrow[0], dtype=np.float64)
        planes = _planes(dim)
        proj = planes @ qv  # (n_tables * n_planes,)
        probe_rows = []
        for t in range(N_TABLES):
            margins = proj[t * N_PLANES : (t + 1) * N_PLANES]
            # identical sign convention to the bucketing UDF: bit b set iff
            # projection > 0
            base = int(sum(1 << b for b in range(N_PLANES) if margins[b] > 0))
            probe_rows.append((t, base))
            # kind="stable" (round 14 review): default introsort breaks
            # |margin| ties by internal partitioning order, which varies
            # across numpy versions — the same hazard _probe_cells
            # already pins; ties must flip the LOWEST bit first
            for b in np.argsort(np.abs(margins), kind="stable")[
                : min(multiprobe, N_PLANES)
            ]:
                probe_rows.append((t, base ^ (1 << int(b))))
        qvec = embeddings.filter(F.col(id_col) == query_id).select(
            F.col(vec_col).alias("_qvec")
        )
        q = (
            spark.createDataFrame(probe_rows, "table int, bucket long")
            .crossJoin(F.broadcast(qvec))
            .select("_qvec", "table", "bucket")
        )
    else:
        q = bt.filter(F.col("id") == query_id).select(
            F.col("vec").alias("_qvec"), "table", "bucket"
        )
        if multiprobe > 0:
            flips = F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << b))
                    for b in range(min(multiprobe, N_PLANES))
                ],
            )
            q = q.select(
                "_qvec", "table", F.explode(flips).alias("bucket")
            )
    candidates = (
        bt.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col("id") != query_id)
        .select("id", "vec", "_qvec")
        .dropDuplicates(["id"])
    )
    return (
        candidates.select(
            F.col("id").alias(id_col),
            cosine_seq(F.col("vec"), F.col("_qvec")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(top_k)
    )


def ann_batch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
) -> DataFrame:
    """Top-k neighbours for EVERY query vector in one plan — the
    production shape of ANN (a query batch amortizes the index build;
    :func:`ann_topk` is its single-query special case).

    ``queries`` is a (qid, qvec) DataFrame (typically a selection of the
    corpus or a broadcast-sized probe set).  Both sides are bucketed with
    the same deterministic planes; candidates come from the
    (table, bucket) equijoin — each query scores only its colliding
    vectors, never the corpus — and a per-qid window takes the top k
    (rank by cosine desc, id asc, same tie order as the exact path).
    ``multiprobe`` widens the query side's bucket list by the first
    ``multiprobe`` Hamming-1 flips per table, exactly as in
    :func:`ann_topk`.  ``n_planes``/``n_tables`` default to the pinned
    gate constants; large corpora should size them together via
    :func:`lsh_params_for` (recall holds only when probes and tables
    scale WITH the plane count — see the recall-sweep test)."""
    bt = lsh_bucket_table(
        embeddings, dim, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col,
    )
    qt = lsh_bucket_table(
        queries, dim, n_planes=n_planes, n_tables=n_tables,
        id_col="qid", vec_col="qvec",
    )
    q = qt.select(F.col("id").alias("qid"), F.col("vec").alias("_qvec"), "table", "bucket")
    if multiprobe > 0:
        q = q.select(
            "qid",
            "_qvec",
            "table",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << b))
                        for b in range(min(multiprobe, n_planes))
                    ],
                )
            ).alias("bucket"),
        )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        bt.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col("id") != F.col("qid"))
        .dropDuplicates(["qid", "id"])
        .select("qid", "id", cosine_seq(F.col("vec"), F.col("_qvec")).alias("cosine"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("qid", F.col("id").alias(id_col), "cosine")
    )


# Auto-sized LSH: target mean bucket occupancy.  Candidate volume per
# table is sum-over-buckets of occupancy^2 — with FIXED planes a 10x
# corpus makes buckets 10x fuller and candidates 100x (observed: the sf1
# spot run took 46x sf0.1's time at n_planes=4).  Holding occupancy
# constant instead (planes ~ log2(n / target)) keeps candidates ~linear
# in the corpus.
_TARGET_BUCKET_ROWS = 32
_MAX_PLANES = 24


def planes_for(n_rows: int) -> int:
    """Bucket-bit count for a corpus of ``n_rows``: smallest n_planes
    holding mean occupancy <= _TARGET_BUCKET_ROWS, floored at the pinned
    gate-scale N_PLANES (so small-corpus gates keep their exact-recall
    parameters) and capped at _MAX_PLANES."""
    import math

    if n_rows <= _TARGET_BUCKET_ROWS * (1 << N_PLANES):
        return N_PLANES
    return min(_MAX_PLANES, math.ceil(math.log2(n_rows / _TARGET_BUCKET_ROWS)))


# Recall-compensation caps for the auto-sized pairs path.  More planes
# (needed to keep buckets small as the corpus grows) shrink the
# per-table collision probability of a TRUE pair — r^P with
# r = 1 - theta/pi — so tables and probes must grow with P or recall
# silently collapses (observed: 8 tables at P=11 predicts ~0.20 recall
# at threshold 0.45 where the P=4 gate had ~1.0).  The caps bound the
# candidate-volume constant; when they bind, the achieved target is
# whatever ``lsh_params_for`` predicts — exposed, not hidden.
_MAX_TABLES = 32
_MAX_MULTIPROBE = 8
_RECALL_TARGET = 0.9


def lsh_params_for(
    n_rows: int,
    threshold: float,
    recall_target: float = _RECALL_TARGET,
    max_tables: int = _MAX_TABLES,
    max_multiprobe: int = _MAX_MULTIPROBE,
    min_multiprobe: int = 0,
) -> tuple[int, int, int, float]:
    """(n_planes, n_tables, multiprobe, predicted_recall) for an
    auto-sized ``cosine_lsh_pairs`` run over ``n_rows`` vectors.

    The model (standard random-hyperplane LSH analysis): a true pair at
    the threshold angle theta = acos(threshold) agrees on one plane with
    probability r = 1 - theta/pi, so one table of P planes collides with
    probability r^P, each of q multiprobe bit-flips adds (1-r) * r^(P-1),
    and L independent tables give recall 1 - (1 - p_table)^L.  Planes are
    fixed by the occupancy rule (:func:`planes_for` — the linearity knob).

    Growth order is TABLES FIRST, probes only once the table cap binds:
    candidate volume is linear in both knobs, but a table buys collision
    probability r^P per unit volume where a probe buys only
    (1-r) * r^(P-1) — smaller whenever r > 1/2, i.e. for every positive
    threshold.  (Measured at sf1, threshold 0.8: tables-first reaches the
    same >=0.9 target at ~1/3 the candidate volume of probes-first.)
    ``min_multiprobe`` floors q regardless (callers with an empirically
    recall-1.0 pinned probe setting keep their candidate superset).
    Worst case remains near-orthogonal corpora at near-random thresholds,
    where constant recall fundamentally costs n^(1+rho) and the caps bind
    — the predicted recall is returned, not hidden; dedup-grade
    thresholds >= 0.8 reach the target well inside the caps."""
    import math

    n_planes = planes_for(n_rows)
    r = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    r = max(r, 1e-9)

    def per_table(q: int) -> float:
        return (r**n_planes) * (1.0 + q * (1.0 - r) / r)

    def recall(q: int, tables: int) -> float:
        return 1.0 - (1.0 - min(per_table(q), 1.0)) ** tables

    q = min(min_multiprobe, n_planes)
    tables = N_TABLES
    while tables < max_tables and recall(q, tables) < recall_target:
        tables += 1
    q_cap = min(max_multiprobe, n_planes) if n_planes > N_PLANES else q
    while q < q_cap and recall(q, tables) < recall_target:
        q += 1
    return n_planes, tables, q, recall(q, tables)


def cosine_lsh_pairs(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_rows: int | None = None,
    buckets_df: DataFrame | None = None,
) -> DataFrame:
    """Pairs with cosine >= threshold via LSH bucketing — the scale twin
    of :func:`cosine_pairs` for the embedding NEAR-DUP problem (the
    pairs analogue of :func:`ann_topk`).

    ``buckets_df`` (round 16, guide §4 — the hs_df/sig_df sharing
    contract applied to the Arrow bucketing pass): a caller running
    several phases over the SAME frame may pass the
    :func:`with_lsh_buckets` output once instead of paying one
    JVM->Python->JVM round-trip per phase.  The caller GUARANTEES it
    was computed over ``embeddings`` with exactly the (n_planes,
    n_tables) this call resolves — the streaming handler checks the
    recorded index parameters against the batch sizing before sharing;
    a mismatched frame would silently corrupt candidate recall, which
    is why the default recomputes.

    RECALL MODEL (read this before trusting "all pairs"): precision is
    exact (every candidate is re-scored with the exact cosine), but
    candidate RECALL is probabilistic and depends on (n_planes,
    n_tables, multiprobe) — a true pair at angle theta collides in one
    table with probability (1-theta/pi)^n_planes, widened by multiprobe
    and amplified across tables; see :func:`lsh_params_for` for the
    closed form.  When ``n_planes`` is left None the corpus is counted
    (one Spark job — pass ``n_rows`` to skip it) and ALL THREE
    parameters are sized together: planes by the occupancy rule (keeps
    the bucket join linear in the corpus), then probes and tables grown
    to hold predicted recall >= 0.9 up to documented caps
    (_MAX_TABLES/_MAX_MULTIPROBE — near-orthogonal corpora at
    near-random thresholds can exhaust them; dedup-grade thresholds
    >= 0.8 stay well inside).  Fixing planes while tables stay at the
    gate default is the silent-recall-collapse trap this signature
    exists to prevent.

    Candidates = pairs sharing a bucket in >= 1 LSH table (a bucket
    self-equijoin, never an all-pairs cross join); ``multiprobe`` > 0
    additionally matches pairs whose buckets differ by one of the first
    ``multiprobe`` sign bits (one side's bucket list explodes
    x(1+multiprobe), the standard probe-side widening).  Each candidate
    pair is then scored with the same left-fold cosine as the exact path,
    so precision is exact by construction and only candidate recall is
    approximate.

    At a 100 TB corpus the self-equijoin shuffles on (table, bucket) and
    each bucket holds a tiny fraction of the corpus; the gate corpus
    (near-orthogonal random vectors, threshold near the random-cosine
    regime) is the worst case — real clustered embeddings at dedup-grade
    thresholds (>= 0.8) collide within far fewer, smaller buckets.

    Plan shape (the round-4 rewrite, ~8x faster at sf0.1): candidates
    are generated SLIM — (table, bucket, id) rows only, no vectors —
    so the n_tables x (1+multiprobe) redundancy and the dedup shuffle
    move 16-byte pairs, not ~1 KB vector payloads.  Vectors re-attach
    to the DISTINCT candidate pairs afterwards (two id-equijoins), and
    each survivor is scored once.  Candidate set, recall, and output
    are identical to the naive formulation; only the bytes moved drop
    by the vector width.

    Scoring is the UNPACKED-COLUMN dot product: each side arrives as
    ``dim`` float columns plus a precomputed scalar norm (a linear
    map-side transform of the vector table), and the cosine is a
    left-associated chain of 64 codegen multiplies/adds — bit-identical
    to :func:`cosine_seq`'s sequential fold (same float->double casts,
    same association order, 0.0 + x0 == x0) but inside whole-stage
    codegen instead of the interpreted higher-order ``aggregate``,
    which allocates per-row array objects.  ~3x on the scoring stage.

    Vector width is VALIDATED: the unpacked scoring indexes
    ``vec[0..dim)``, and a shorter vector would yield null products, a
    null cosine, and a silently dropped pair — so the norm expression
    raises loudly on any row whose array length != ``dim`` (embedded in
    a column the output needs, where pruning can't remove it)."""
    if n_planes is None:
        # one counting pass sizes bucket space to the corpus (skipped
        # when the caller passes n_rows); probes and tables scale WITH
        # the plane count so recall holds as the corpus grows
        if n_rows is None:
            n_rows = embeddings.count()
        n_planes, auto_tables, auto_probe, _pred = lsh_params_for(
            n_rows, threshold, min_multiprobe=multiprobe
        )
        if n_tables is None:
            n_tables = auto_tables
        multiprobe = max(multiprobe, auto_probe)
    if n_tables is None:
        n_tables = N_TABLES
    bkt = (
        buckets_df
        if buckets_df is not None
        else with_lsh_buckets(
            embeddings, dim, n_planes=n_planes, n_tables=n_tables,
            id_col=id_col, vec_col=vec_col,
        )
    )
    bt = bkt.select(
        F.col(id_col).alias("id"), F.posexplode("buckets").alias("table", "bucket")
    )
    a = bt.select(F.col("id").alias("id_a"), "table", "bucket")
    if multiprobe > 0:
        a = a.select(
            "id_a",
            "table",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << b))
                        for b in range(min(multiprobe, n_planes))
                    ],
                )
            ).alias("bucket"),
        )
    b = bt.select(F.col("id").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, on=["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    checked_norm = F.when(
        F.size(F.col(vec_col)) == dim, norm2_seq(F.col(vec_col))
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"cosine_lsh_pairs: {vec_col} width != {dim} for id "),
                F.col(id_col).cast("string"),
            )
        )
    )
    wa = embeddings.select(
        F.col(id_col).alias("id_a"),
        checked_norm.alias("_na"),
        *[F.col(vec_col)[i].alias(f"_a{i}") for i in range(dim)],
    )
    wb = embeddings.select(
        F.col(id_col).alias("id_b"),
        checked_norm.alias("_nb"),
        *[F.col(vec_col)[i].alias(f"_b{i}") for i in range(dim)],
    )
    dot = functools.reduce(
        lambda acc, t: acc + t,
        [
            F.col(f"_a{i}").cast("double") * F.col(f"_b{i}").cast("double")
            for i in range(dim)
        ],
    )
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_lsh_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """CROSS-corpus near-dup pairs (round 10): (id_a, id_b, cosine) for
    left x right pairs with cosine >= threshold — the decontamination
    shape ("which EVAL documents leak from the TRAIN corpus?"), where
    :func:`cosine_lsh_pairs` answers the within-corpus dedup question.

    Same recall model, same slim-candidates plan, same unpacked-column
    rescoring as the within-corpus op (see cosine_lsh_pairs — this is
    its two-frame form): both sides bucket under the SAME md5-derived
    planes, candidates come from a bucket equijoin between the frames
    (never a cross join), multiprobe widens the LEFT (query/eval) side,
    and every candidate is re-scored exactly, so precision is exact and
    only candidate recall is probabilistic.  Auto-sizing counts the
    UNION corpus (bucket occupancy sees both frames).  Callers own id
    disjointness across frames — a shared id would pair with itself at
    cosine 1.0, which for decontamination is exactly the right answer.

    At 100 TB the train side buckets once (in production: persist it —
    the minhash index pattern applies verbatim) and each eval batch
    shuffles only its own slim (table, bucket, id) rows into the join.

    Sizing-basis contingency (ADVICE r10): this one-shot path auto-sizes
    from left+right (the UNION corpus), while :func:`lsh_index_build`
    sizes from its TRAIN frame alone — near a planes_for boundary the
    two pick different (n_planes, n_tables) and their candidate recall
    can diverge even though both operate above the same threshold.
    Callers needing parameter parity pass the union count as
    ``n_rows`` to lsh_index_build (the build persists its sizing basis
    in ``{prefix}_meta.n_rows``, so the choice is reproducible either
    way); the incremental path always reproduces the INDEX's recorded
    parameters exactly — equivalence gates pin result equality at their
    operating points."""
    if n_planes is None:
        if n_rows is None:
            n_rows = left.count() + right.count()
        n_planes, auto_tables, auto_probe, _pred = lsh_params_for(
            n_rows, threshold, min_multiprobe=multiprobe
        )
        if n_tables is None:
            n_tables = auto_tables
        multiprobe = max(multiprobe, auto_probe)
    if n_tables is None:
        n_tables = N_TABLES
    la = with_lsh_buckets(
        left, dim, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col,
    ).select(
        F.col(id_col).alias("id_a"),
        F.posexplode("buckets").alias("table", "bucket"),
    )
    if multiprobe > 0:
        la = la.select(
            "id_a",
            "table",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << b))
                        for b in range(min(multiprobe, n_planes))
                    ],
                )
            ).alias("bucket"),
        )
    rb = with_lsh_buckets(
        right, dim, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col,
    ).select(
        F.col(id_col).alias("id_b"),
        F.posexplode("buckets").alias("table", "bucket"),
    )
    cand = (
        la.join(rb, on=["table", "bucket"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    def _unpacked(df: DataFrame, out_id: str, prefix: str, norm_alias: str):
        checked_norm = F.when(
            F.size(F.col(vec_col)) == dim, norm2_seq(F.col(vec_col))
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"cosine_lsh_cross_pairs: {vec_col} width != {dim}"
                        " for id "
                    ),
                    F.col(id_col).cast("string"),
                )
            )
        )
        return df.select(
            F.col(id_col).alias(out_id),
            checked_norm.alias(norm_alias),
            *[F.col(vec_col)[i].alias(f"{prefix}{i}") for i in range(dim)],
        )

    wa = _unpacked(left, "id_a", "_a", "_na")
    wb = _unpacked(right, "id_b", "_b", "_nb")
    dot = functools.reduce(
        lambda acc, t: acc + t,
        [
            F.col(f"_a{i}").cast("double") * F.col(f"_b{i}").cast("double")
            for i in range(dim)
        ],
    )
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# On-disk contract of the persisted decontamination index (the
# attach_bucketed rule: a re-attach spec must match the writing spec).
LSH_INDEX_N_BUCKETS = 16
LSH_INDEX_BUCKETS_DDL = "id bigint, bkey bigint"
LSH_INDEX_VECTORS_DDL = "id bigint, nrm double, v array<double>"
LSH_INDEX_META_DDL = (
    "n_planes int, n_tables int, multiprobe int, threshold double,"
    " dim int, n_rows bigint"
)


def _lsh_index_claim(warehouse: str, table_prefix: str) -> str:
    """Delegates to operators.dedup._index_claim: ONE claim-naming rule
    for every warehouse index build.  Deliberate consequence: a minhash
    index and an LSH index sharing a ``table_prefix`` contend on the
    SAME marker — distinct indexes must use distinct prefixes (which
    the table names already force: both suffix the same prefix)."""
    from .dedup import _index_claim

    return _index_claim(warehouse, table_prefix)


def lsh_index_build(
    train: DataFrame,
    table_prefix: str,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    n_buckets: int = LSH_INDEX_N_BUCKETS,
    n_rows: int | None = None,
    buckets_df: DataFrame | None = None,
) -> int:
    """PERSIST the train side of semantic decontamination (round 10 —
    the minhash_index_build pattern applied to embedding cross-pairs):
    the corpus is bucketed under auto-sized md5 planes ONCE, and three
    tables land in the warehouse under GENERATION-SUFFIXED names
    (round 12 — bucketing.index_gen_prefix: a rebuild writes a fresh
    generation and publishes one atomic marker, never touching the
    tables a concurrent lazy reader resolved; returns the published
    generation number) —

    - ``{prefix}_buckets`` (id, bkey), bucketed+sorted on bkey: the
      candidate join's index side, read co-located (no Exchange above
      the bucketed scan, plan-pinned);
    - ``{prefix}_vectors`` (id, nrm, v), bucketed on id: the rescore
      side, with the norm precomputed at build (and the vector width
      VALIDATED here — a short vector raises at build, not as a
      silently dropped pair at query time);
    - ``{prefix}_meta`` one row of the sizing parameters.  The planes
      matrix itself is md5-derived from (dim, n_planes, n_tables), so
      persisting the THREE INTEGERS pins the bucketing exactly; an
      eval batch bucketed under different parameters would silently
      miss every candidate, which is why
      :func:`decontaminate_incremental` reads them from meta instead
      of trusting its caller.

    Nightly contract: the build is one bounded pass over the train
    corpus under the engine's claim marker (success-only release — a
    dead builder leaves a loud wedge); each eval batch then shuffles
    ONLY its own slim (id, bkey) rows into the index's bucket layout.

    Sizing basis (ADVICE r10): parameters auto-size from the TRAIN
    count by default — the corpus whose bucket occupancy the index
    actually pays — and the basis used is PERSISTED as
    ``{prefix}_meta.n_rows``, so any caller can reproduce the exact
    bucketing.  The one-shot :func:`cosine_lsh_cross_pairs` sizes from
    its left+right UNION instead; callers wanting parameter parity with
    it pass that union count as ``n_rows`` here (the incremental query
    path reads every parameter back from meta, so recall follows the
    recorded basis either way)."""
    from .bucketing import write_bucketed
    from ..sinks import _hadoop_fs, claim_marker

    from .bucketing import (
        index_gen_prefix,
        index_generations,
        index_publish_generation,
    )

    spark = train.sparkSession
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    claim = _lsh_index_claim(warehouse, table_prefix)
    claim_marker(fs, jpath, claim, f"lsh_index_build({table_prefix})")
    gens = index_generations(spark, table_prefix)
    gen = (gens[-1] if gens else 0) + 1
    gp = index_gen_prefix(table_prefix, gen)
    if n_rows is None:
        n_rows = train.count()
    n_planes, n_tables, probe, _pred = lsh_params_for(
        n_rows, threshold, min_multiprobe=multiprobe
    )
    # buckets_df: the cosine_lsh_pairs sharing contract (round 16,
    # guide §4) — caller guarantees it is with_lsh_buckets(train, dim,
    # n_planes, n_tables) for exactly the parameters this sizing
    # resolves (the streaming handler derives both from the same
    # lsh_params_for call, so they match by construction)
    bkt = (
        buckets_df
        if buckets_df is not None
        else with_lsh_buckets(
            train, dim, n_planes=n_planes, n_tables=n_tables,
            id_col=id_col, vec_col=vec_col,
        )
    )
    bt = bkt.select(
        F.col(id_col).alias("id"),
        F.posexplode("buckets").alias("table", "bucket"),
    )
    bkeyed = bt.select(
        "id", F.xxhash64(F.col("table"), F.col("bucket")).alias("bkey")
    )
    write_bucketed(bkeyed, f"{gp}_buckets", key="bkey", n_buckets=n_buckets)
    checked_norm = F.when(
        F.size(F.col(vec_col)) == dim, norm2_seq(F.col(vec_col))
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsh_index_build: {vec_col} width != {dim} for id "),
                F.col(id_col).cast("string"),
            )
        )
    )
    vecs = train.select(
        F.col(id_col).alias("id"),
        checked_norm.alias("nrm"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    write_bucketed(vecs, f"{gp}_vectors", key="id", n_buckets=n_buckets)
    # same dead-session hygiene as write_bucketed: an orphaned managed
    # directory with no catalog entry (in-memory catalog, file
    # warehouse) would fail the CREATE — clear both first
    spark.sql(f"DROP TABLE IF EXISTS {gp}_meta")
    from urllib.parse import urlparse as _urlparse

    wh = _urlparse(warehouse)
    if wh.scheme in ("", "file"):
        import shutil as _shutil

        _shutil.rmtree(f"{wh.path}/{gp}_meta", ignore_errors=True)
    spark.createDataFrame(
        [(int(n_planes), int(n_tables), int(probe), float(threshold), int(dim), int(n_rows))],
        LSH_INDEX_META_DDL,
    ).write.mode("overwrite").saveAsTable(f"{gp}_meta")
    # publish THEN release the claim: the marker create is the atomic
    # commit point (under our build claim it cannot collide; failing
    # here leaves the claim as the loud wedge)
    index_publish_generation(
        spark, table_prefix, gen, f"lsh_index_build({table_prefix})"
    )
    fs.delete(jpath(claim), False)  # success-only, see docstring
    return gen


# Appended-rows / sizing-basis ratio at which an append recommends a
# full rebuild.  The plane parameters are FROZEN at build and sized from
# the train count recorded in meta.n_rows; appends grow bucket occupancy
# past that basis (more candidates per bucket — cost creep, and at some
# point lsh_params_for would have chosen more planes), and every segment
# widens the per-read plan by one co-located probe join.
LSH_RETRAIN_FRAC = 0.5

# Segment-COUNT half of the trigger — same 1000x argument as
# operators.dedup.MINHASH_MAX_SEGMENTS: tiny nightly appends must not
# grow the per-read plan unboundedly under the row-fraction radar.
LSH_MAX_SEGMENTS = 16


def lsh_index_append(
    new_vectors: DataFrame,
    table_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int = LSH_INDEX_N_BUCKETS,
    retrain_frac: float = LSH_RETRAIN_FRAC,
    max_segments: int = LSH_MAX_SEGMENTS,
    check_duplicate_ids: bool = True,
    buckets_df: DataFrame | None = None,
    precounted: tuple[int, int, int, int] | None = None,
) -> dict:
    """INCREMENTAL decontamination-index maintenance (round 12, late —
    the minhash_index_append pattern applied to the embedding index):
    bucket ONLY the delta batch under the index's RECORDED plane
    parameters (read from the generation's meta, never re-sized — a
    delta bucketed under different parameters would silently miss every
    candidate) and publish it as the resolved generation's next append
    SEGMENT: a brand-new pair of immutable bucketed tables plus one
    atomically-created segment marker.  Work is sized by the delta; the
    train corpus is never re-bucketed.

    Semantics: a vector's buckets depend only on itself and the frozen
    (dim, n_planes, n_tables), so base ∪ segments indexes EXACTLY what
    one build with the same parameters over the union would
    (pytest-pinned).  Appends are SNAPSHOT-ISOLATED by layout, same as
    the minhash index: readers resolve (generation, published segments)
    once, an in-flight append is invisible until its marker lands, and
    no quiescence caveat exists (all three persisted indexes share this
    discipline since round 12 — the IVF adopted it last).

    What appends cannot do is re-size the planes: meta.n_rows is the
    sizing basis the build chose parameters for, and the appended
    fraction against that basis is the RETRAIN TRIGGER —
    appended_rows / n_rows >= ``retrain_frac`` OR n_segments >=
    ``max_segments`` (the 1000x guard: tiny nightly appends must not
    grow the per-read plan unboundedly under the row-fraction radar)
    flips ``retrain_due`` in the returned audit (and in
    :func:`lsh_index_status`, recomputed from disk).  The retrain is a full :func:`lsh_index_build` over the
    union corpus: it re-sizes the parameters and publishes the next
    GENERATION (readers keep their resolved one), resetting segments.

    Concurrency contract = the minhash append's: the shared build claim
    serializes builds/rebuilds/appends; pre-mutation failures (no
    generation, width mismatch detected at write, duplicate ids,
    internal duplicates, a ``buckets_df`` whose width differs from the
    recorded n_tables) release the claim — the index is untouched;
    the segment-marker create is the atomic commit point.  Append means
    NEW ids (re-ingest = rebuild, not append); the delta is checked
    against base + published segments and for internal id duplicates
    unless ``check_duplicate_ids=False``."""
    from ..sinks import _hadoop_fs, claim_marker
    from .bucketing import (
        index_gen_prefix,
        index_generations,
        index_publish_segment,
        index_seg_prefix,
        index_segments,
        write_bucketed,
    )

    spark = new_vectors.sparkSession
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    claim = _lsh_index_claim(warehouse, table_prefix)
    claim_marker(fs, jpath, claim, f"lsh_index_append({table_prefix})")
    try:
        gens = index_generations(spark, table_prefix)
        if not gens:
            raise FileNotFoundError(
                f"lsh_index_append({table_prefix}): no published "
                "generation to append to — build the index first "
                "(lsh_index_build); the legacy flat layout predates "
                "segments and must be rebuilt once to adopt them."
            )
        gen = gens[-1]
        gp = index_gen_prefix(table_prefix, gen)
        # cross-session seam (round 14 review): a generation/segment
        # published by another session since this one attached must
        # auto-attach here, not kill the maintenance path
        _ensure_meta_attached(spark, gp)
        meta = spark.table(f"{gp}_meta").head()
        n_planes, n_tables = int(meta["n_planes"]), int(meta["n_tables"])
        dim, basis_rows = int(meta["dim"]), int(meta["n_rows"])
        segs = index_segments(spark, table_prefix, gen)
        seg = (segs[-1] if segs else 0) + 1
        # count + distinct-count + width check in ONE aggregation job
        # (round 15, guide §1.2): three separate delta passes fused —
        # same checks, same refusal order, one scan.  The width term
        # counts rows whose size(vec) != dim exactly as the filter-count
        # did (a NULL vector's NULL size fails the <> and lands in
        # otherwise(0), matching filter's NULL-drops-row semantics).
        # ``precounted`` (round 16, guide §1.2): a caller that already
        # ran this exact aggregation over the same pinned frame (the
        # streaming handler's per-batch validation) passes
        # (n_input, n_ids, n_bad, dim_counted) and the delta pass is
        # skipped; it is trusted only when dim_counted matches the
        # index's recorded dim — a caller that counted widths against a
        # different dim falls back to the fused aggregation.
        if precounted is not None and int(precounted[3]) == dim:
            n_input, n_ids, n_bad = (int(x) for x in precounted[:3])
        else:
            _vrow = new_vectors.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col(id_col)).alias("d"),
                F.max(F.col(id_col).isNull().cast("int")).alias("has_null"),
                F.sum(
                    F.when(F.size(F.col(vec_col)) != dim, 1).otherwise(0)
                ).alias("n_bad"),
            ).head()
            n_input = int(_vrow["n"])
            n_ids = int(_vrow["d"]) + int(_vrow["has_null"] or 0)
            n_bad = int(_vrow["n_bad"] or 0)
        if n_ids != n_input:
            raise ValueError(
                f"lsh_index_append({table_prefix}): delta batch has "
                f"{n_input - n_ids} internally duplicated {id_col} "
                "value(s) — ids must be unique"
            )
        # width check PRE-MUTATION (fused above): the per-row
        # checked_norm raise below would otherwise fire during the
        # segment write and wedge the success-only claim over an
        # untouched index — refuse cleanly here instead, claim released
        if n_bad:
            raise ValueError(
                f"lsh_index_append({table_prefix}): {n_bad} delta "
                f"vector(s) have width != the index's recorded dim "
                f"{dim} — a mis-shaped vector can never collide with "
                "the recorded plane parameters; fix the batch upstream."
            )
        if check_duplicate_ids:
            from .bucketing import ensure_attached

            parts = [gp] + [index_seg_prefix(table_prefix, gen, s) for s in segs]
            for p in parts:
                ensure_attached(
                    spark, f"{p}_vectors", LSH_INDEX_VECTORS_DDL, "id",
                    LSH_INDEX_N_BUCKETS,
                )
            existing = functools.reduce(
                DataFrame.unionByName,
                [spark.table(f"{p}_vectors").select("id") for p in parts],
            )
            n_dup = (
                new_vectors.select(F.col(id_col).alias("id"))
                .join(existing, "id", "left_semi")
                .count()
            )
            if n_dup:
                raise ValueError(
                    f"lsh_index_append({table_prefix}): {n_dup} delta "
                    f"id(s) already indexed in generation {gen} — append "
                    "means new ids; replacing vectors is a rebuild "
                    "(lsh_index_build), not an append."
                )
    except BaseException:
        fs.delete(jpath(claim), False)
        raise
    sp = index_seg_prefix(table_prefix, gen, seg)
    # buckets_df: the sharing contract (round 16, guide §4) — caller
    # guarantees it was bucketed under the index's RECORDED
    # (n_planes, n_tables); the streaming handler checks the recorded
    # meta against its sizing before sharing
    bkt = (
        buckets_df
        if buckets_df is not None
        else with_lsh_buckets(
            new_vectors, dim, n_planes=n_planes, n_tables=n_tables,
            id_col=id_col, vec_col=vec_col,
        )
    )
    # a buckets row of another width fills table slots no read probes,
    # or leaves probed ones empty: refused inside the bucket write's own
    # projection (no extra job), before any marker, with the claim
    # released — the next attempt's write replaces any partial table
    checked_buckets = F.when(
        F.size(F.col("buckets")) == n_tables, F.col("buckets")
    ).otherwise(
        F.raise_error(
            F.lit(
                f"lsh_index_append({table_prefix}): buckets width != "
                f"the index's recorded n_tables {n_tables}"
            )
        )
    )
    bt = bkt.select(
        F.col(id_col).alias("id"),
        F.posexplode(checked_buckets).alias("table", "bucket"),
    )
    bkeyed = bt.select(
        "id", F.xxhash64(F.col("table"), F.col("bucket")).alias("bkey")
    )
    try:
        write_bucketed(bkeyed, f"{sp}_buckets", key="bkey", n_buckets=n_buckets)
    except BaseException:
        fs.delete(jpath(claim), False)
        raise
    # MUTATION SECTION: claim is success-only from here.
    checked_norm = F.when(
        F.size(F.col(vec_col)) == dim, norm2_seq(F.col(vec_col))
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsh_index_append: {vec_col} width != {dim} for id "),
                F.col(id_col).cast("string"),
            )
        )
    )
    vecs = new_vectors.select(
        F.col(id_col).alias("id"),
        checked_norm.alias("nrm"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    write_bucketed(vecs, f"{sp}_vectors", key="id", n_buckets=n_buckets)
    index_publish_segment(
        spark, table_prefix, gen, seg, f"lsh_index_append({table_prefix})"
    )
    fs.delete(jpath(claim), False)
    # ledger counts in ONE job (round 15, guide §1.2): the per-part
    # count() loop scheduled 2 + len(segs) jobs over slim tables; a
    # union tagged by part index yields every count in one aggregation.
    _tagged = functools.reduce(
        DataFrame.unionByName,
        [spark.table(f"{sp}_vectors").select(F.lit(-1).alias("_pi"))]
        + [spark.table(f"{gp}_vectors").select(F.lit(0).alias("_pi"))]
        + [
            spark.table(
                f"{index_seg_prefix(table_prefix, gen, s)}_vectors"
            ).select(F.lit(int(s)).alias("_pi"))
            for s in segs
        ],
    )
    _cnt = {
        int(r["_pi"]): int(r["c"])
        for r in _tagged.groupBy("_pi").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    batch_rows = _cnt.get(-1, 0)
    # same basis-excess accounting as lsh_index_status: rows a prior
    # compaction folded into the base still count toward plane drift
    appended_rows = (
        batch_rows
        + max(0, _cnt.get(0, 0) - basis_rows)
        + sum(_cnt.get(int(s), 0) for s in segs)
    )
    frac = appended_rows / basis_rows if basis_rows else float("inf")
    n_segments = len(segs) + 1
    return {
        "generation": gen,
        "segment": seg,
        "n_segments": n_segments,
        "batch_rows": batch_rows,
        "basis_rows": basis_rows,
        "appended_rows": appended_rows,
        "appended_frac": frac,
        "retrain_due": bool(frac >= retrain_frac or n_segments >= max_segments),
    }


def lsh_index_status(
    spark,
    table_prefix: str,
    retrain_frac: float = LSH_RETRAIN_FRAC,
    max_segments: int = LSH_MAX_SEGMENTS,
) -> dict:
    """The append/rebuild maintenance ledger of a persisted
    decontamination index, recomputed FROM DISK (markers + meta +
    vector-store row counts) — the restarted nightly driver needs no
    sidecar state.  ``basis_rows`` is meta.n_rows, the count the plane
    parameters were sized for; crossing ``retrain_frac`` is the cue to
    run a full ``lsh_index_build`` rebuild (next generation, re-sized
    parameters)."""
    from .bucketing import (
        index_gen_prefix,
        index_resolve,
        index_seg_prefix,
        index_segments,
    )

    gen = index_resolve(spark, table_prefix)
    segs = index_segments(spark, table_prefix, gen) if gen else []
    gp = index_gen_prefix(table_prefix, gen)
    # cross-session seam (round 14 review): the ledger is documented as
    # "recomputed FROM DISK — no sidecar state", so a generation or
    # segment another session published must auto-attach, not die
    from .bucketing import ensure_attached

    if gen:
        _ensure_meta_attached(spark, gp)
        for p in [gp] + [index_seg_prefix(table_prefix, gen, s) for s in segs]:
            ensure_attached(
                spark, f"{p}_vectors", LSH_INDEX_VECTORS_DDL, "id",
                LSH_INDEX_N_BUCKETS,
            )
    basis_rows = int(spark.table(f"{gp}_meta").head()["n_rows"])
    # appended = rows beyond the SIZING BASIS, wherever they live: a
    # compaction (lsh_index_compact) folds segment rows into the base
    # WITHOUT re-sizing the planes, so counting segments alone would
    # silently reset the drift arm of the retrain trigger.  Base rows
    # in excess of meta.n_rows are exactly the folded appends (an
    # explicit oversized n_rows at build clamps to 0 — no drift until
    # the corpus outgrows the recorded basis).
    # per-part counts in ONE job (round 15, guide §1.2 — the append
    # ledger's tagged-union fuse applied to the status recompute)
    _tagged = functools.reduce(
        DataFrame.unionByName,
        [spark.table(f"{gp}_vectors").select(F.lit(0).alias("_pi"))]
        + [
            spark.table(
                f"{index_seg_prefix(table_prefix, gen, s)}_vectors"
            ).select(F.lit(int(s)).alias("_pi"))
            for s in segs
        ],
    )
    _cnt = {
        int(r["_pi"]): int(r["c"])
        for r in _tagged.groupBy("_pi").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    base_rows = _cnt.get(0, 0)
    appended_rows = max(0, base_rows - basis_rows) + sum(
        _cnt.get(int(s), 0) for s in segs
    )
    frac = appended_rows / basis_rows if basis_rows else float("inf")
    return {
        "generation": gen,
        "segments": segs,
        "basis_rows": basis_rows,
        "appended_rows": appended_rows,
        "appended_frac": frac,
        "retrain_due": bool(
            appended_rows
            and (frac >= retrain_frac or len(segs) >= max_segments)
        ),
    }


def _ensure_meta_attached(spark, gp: str) -> None:
    """Attach generation ``gp``'s plain-parquet ``_meta`` table in this
    session's catalog if missing (round 14 review) — the cross-session
    seam for the ONE non-bucketed index table: a generation published
    by another session (a rebuild) is resolved from the on-disk
    markers, but its meta read would die on TABLE_OR_VIEW_NOT_FOUND
    without this.  Same CREATE as lsh_index_attach's meta step."""
    from .bucketing import warehouse_location

    meta = f"{gp}_meta"
    if not spark.catalog.tableExists(meta):
        spark.sql(
            f"CREATE TABLE {meta} ({LSH_INDEX_META_DDL}) USING parquet "
            f"LOCATION '{warehouse_location(spark, meta)}'"
        )


def lsh_index_attach(
    spark,
    table_prefix: str,
    n_buckets: int = LSH_INDEX_N_BUCKETS,
    generation: int | None = None,
) -> int:
    """Recover a persisted decontamination index's catalog entries in a
    FRESH session (the restarted nightly driver) — the
    minhash_index_attach counterpart: resolve the generation from the
    on-disk published markers (newest, an explicit pin, or 0 = the
    legacy flat layout — round-trippable), then re-attach both bucketed
    tables over their existing warehouse directories (recovering the
    zero-index-shuffle join property) and the plain-parquet meta table.
    Returns the attached generation.  Catalog metadata only; no data is
    read or written.  The specs here ARE the on-disk contract
    (LSH_INDEX_*_DDL) — they must match the writing spec exactly or
    bucket membership is mislabeled."""
    from .bucketing import (
        attach_bucketed,
        index_gen_prefix,
        index_resolve,
        warehouse_location,
    )

    gen = index_resolve(spark, table_prefix, generation)
    gp = index_gen_prefix(table_prefix, gen)
    from .bucketing import index_seg_prefix, index_segments

    parts = [gp] + [
        index_seg_prefix(table_prefix, gen, s)
        for s in (index_segments(spark, table_prefix, gen) if gen else [])
    ]
    for p in parts:
        attach_bucketed(
            spark, f"{p}_buckets", LSH_INDEX_BUCKETS_DDL, "bkey", n_buckets
        )
        attach_bucketed(
            spark, f"{p}_vectors", LSH_INDEX_VECTORS_DDL, "id", n_buckets
        )
    meta = f"{gp}_meta"
    # same managed-entry guard as attach_bucketed: dropping a MANAGED
    # table purges its directory — refuse rather than destroy
    if spark.catalog.tableExists(meta):
        ttype = spark.catalog.getTable(meta).tableType
        if ttype != "EXTERNAL":
            raise ValueError(
                f"lsh_index_attach({meta}): table exists as {ttype} in "
                "this session's catalog — attach is only for FRESH "
                "sessions recovering a persisted directory."
            )
    spark.sql(f"DROP TABLE IF EXISTS {meta}")
    # full qualified URI, never urlparse().path — an object-store
    # warehouse would otherwise resolve to a defaultFS path (ADVICE r10)
    spark.sql(
        f"CREATE TABLE {meta} ({LSH_INDEX_META_DDL}) USING parquet "
        f"LOCATION '{warehouse_location(spark, meta)}'"
    )
    return gen


def lsh_index_compact(
    spark, table_prefix: str, n_buckets: int = LSH_INDEX_N_BUCKETS
) -> dict:
    """Fold a decontamination index generation's published append
    SEGMENTS back into one base WITHOUT re-sizing the planes (round 13
    — the minhash_index_compact pattern; see that docstring for the
    full rationale).  Bucket keys are per-vector functions of the
    FROZEN plane parameters, so the union of base + segment tables is
    bit-identical in content to the wide layout — the compacted
    generation's ``_meta`` is copied VERBATIM, preserving the recorded
    sizing basis (``n_rows``).

    The crucial difference from the minhash index: compaction here
    services ONLY the segment-count arm of the retrain trigger (plan
    width).  The row-fraction arm measures drift past the frozen
    planes' sizing basis, which no union rewrite can fix — and the
    ledger keeps reporting it after compaction because
    ``lsh_index_status``/``lsh_index_append`` count appended rows as
    (vector rows beyond the recorded basis), not (rows in segments).
    A drift-due index still needs a true ``lsh_index_build`` rebuild.

    Claim discipline: ivf_retrain_swap semantics — failure at any point
    leaves the resolved generation intact and answering, so the claim
    releases on every exit path; the source generation stays published
    for pinned readers (reclaim with :func:`lsh_index_vacuum`)."""
    from ..sinks import _hadoop_fs, claim_marker
    from .bucketing import (
        ensure_attached,
        index_gen_prefix,
        index_generations,
        index_publish_generation,
        index_seg_prefix,
        index_segments,
        warehouse_location,
        write_bucketed,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    claim = _lsh_index_claim(warehouse, table_prefix)
    claim_marker(fs, jpath, claim, f"lsh_index_compact({table_prefix})")
    try:
        gens = index_generations(spark, table_prefix)
        if not gens:
            raise FileNotFoundError(
                f"lsh_index_compact({table_prefix}): no published "
                "generation — compaction folds append segments, and the "
                "legacy flat layout has none; build first "
                "(lsh_index_build)."
            )
        gen = gens[-1]
        segs = index_segments(spark, table_prefix, gen)
        if not segs:
            raise ValueError(
                f"lsh_index_compact({table_prefix}): generation {gen} "
                "has no published append segments — nothing to compact."
            )
        parts = [index_gen_prefix(table_prefix, gen)] + [
            index_seg_prefix(table_prefix, gen, s) for s in segs
        ]
        for p in parts:
            ensure_attached(
                spark,
                f"{p}_buckets",
                LSH_INDEX_BUCKETS_DDL,
                "bkey",
                LSH_INDEX_N_BUCKETS,
            )
            ensure_attached(
                spark,
                f"{p}_vectors",
                LSH_INDEX_VECTORS_DDL,
                "id",
                LSH_INDEX_N_BUCKETS,
            )
        gp = index_gen_prefix(table_prefix, gen)
        meta_row = spark.table(f"{gp}_meta").head()
        new_gen = gen + 1
        np_ = index_gen_prefix(table_prefix, new_gen)
        buckets = functools.reduce(
            DataFrame.unionByName,
            [spark.table(f"{p}_buckets").select("id", "bkey") for p in parts],
        )
        write_bucketed(buckets, f"{np_}_buckets", key="bkey", n_buckets=n_buckets)
        vectors = functools.reduce(
            DataFrame.unionByName,
            [
                spark.table(f"{p}_vectors").select("id", "nrm", "v")
                for p in parts
            ],
        )
        write_bucketed(vectors, f"{np_}_vectors", key="id", n_buckets=n_buckets)
        # meta VERBATIM — frozen planes, frozen sizing basis (docstring)
        spark.sql(f"DROP TABLE IF EXISTS {np_}_meta")
        from urllib.parse import urlparse as _urlparse

        wh = _urlparse(warehouse)
        if wh.scheme in ("", "file"):
            import shutil as _shutil

            _shutil.rmtree(f"{wh.path}/{np_}_meta", ignore_errors=True)
        spark.createDataFrame([meta_row], LSH_INDEX_META_DDL).write.mode(
            "overwrite"
        ).saveAsTable(f"{np_}_meta")
        index_publish_generation(
            spark, table_prefix, new_gen, f"lsh_index_compact({table_prefix})"
        )
        return {
            "generation": new_gen,
            "from_generation": gen,
            "compacted_segments": segs,
            "rows": spark.table(f"{np_}_vectors").count(),
            "basis_rows": int(meta_row["n_rows"]),
        }
    finally:
        fs.delete(jpath(claim), False)


def lsh_index_vacuum(spark, table_prefix: str, keep_last: int = 1) -> list[int]:
    """Delete all but the newest ``keep_last`` published generations of
    a decontamination index (marker first, then tables + files);
    returns the removed generation numbers.  The ONLY destroyer of a
    published generation — a reader still pinned to one fails loudly on
    its next scan, never silently reads a different snapshot."""
    from .bucketing import index_vacuum_generations

    return index_vacuum_generations(
        spark, table_prefix, ("_buckets", "_vectors", "_meta"), keep_last
    )


def decontaminate_incremental(
    eval_batch: DataFrame,
    table_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int | None = None,
    materialize: bool = True,
    generation: int | None = None,
    as_of_segment: int | None = None,
    buckets_df: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs between an EVAL batch and the indexed
    TRAIN snapshot at cosine >= the index's threshold — the nightly
    form of :func:`cosine_lsh_cross_pairs` (exactly the
    incremental_dedup_pairs contract, for embeddings): a vector's
    buckets depend only on itself and the persisted plane parameters,
    so the candidate set decomposes exactly and batch-vs-index equals
    one-shot cross pairs whenever both operating points have total
    recall (gates pin equality with the one-shot gate's output).

    Scale shape: the batch buckets itself (delta-sized), the candidate
    join shuffles ONLY the batch's (id_a, bkey) rows into the index's
    bucket layout (no Exchange above the index's bucketed scan —
    plan-pinned), and rescoring joins the slim candidate ids against
    the id-bucketed vectors table the same way.  Probe widening
    defaults to the INDEX's recorded multiprobe (reading it from meta,
    not trusting the caller — mismatched widening silently loses
    recall, never raises).

    The read binds to ONE resolved index generation (newest published,
    or an explicit ``generation`` pin) — published generations are
    immutable, so a nightly rebuild racing this read cannot change what
    it scans (round 12).  Only the pre-generation FLAT layout
    (generation 0) still refuses to read under a standing build claim:
    flat tables were rewritten in place, so a dead mid-rewrite builder
    means a possibly mismatched buckets/vectors/meta snapshot.

    Round 12, late: the resolved generation's published APPEND SEGMENTS
    (:func:`lsh_index_append`) are part of the snapshot — resolved once
    alongside the generation; the candidate and rescore joins run PER
    PART (base + each segment, co-located against that part's bucketed
    layout, only the delta-sized batch shuffling) and union.  A racing
    append is invisible by layout.  ``as_of_segment`` pins the segment
    horizon: 0 = base only, N = segments <= N (explicit, never a silent
    fallback)."""
    from ..sinks import ConcurrentCommitError, _hadoop_fs
    from .bucketing import index_gen_prefix, index_resolve

    spark = eval_batch.sparkSession
    gen = index_resolve(spark, table_prefix, generation)
    if gen == 0:
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        claim = _lsh_index_claim(warehouse, table_prefix)
        if fs.exists(jpath(claim)):
            raise ConcurrentCommitError(
                f"decontaminate_incremental({table_prefix}): index build "
                f"claim {claim} is held and no published generation "
                "exists — the flat-layout buckets/vectors/meta snapshot "
                "may be mismatched. Wait for the build, or rerun it if "
                "its builder is known dead."
            )
    from .bucketing import index_seg_prefix, index_segments

    segs = index_segments(spark, table_prefix, gen) if gen else []
    if as_of_segment is not None:
        if as_of_segment != 0 and as_of_segment not in segs:
            raise FileNotFoundError(
                f"decontaminate_incremental({table_prefix}): segment "
                f"{as_of_segment} of generation {gen} not published "
                f"(have {segs or 'none'}) — segment pinning is explicit, "
                "never a silent fallback"
            )
        segs = [s for s in segs if s <= as_of_segment]
    gp = index_gen_prefix(table_prefix, gen)
    parts = [gp] + [index_seg_prefix(table_prefix, gen, s) for s in segs]
    # cross-session seam: a segment published by ANOTHER session after
    # this one attached is in the marker listing but not this session's
    # catalog — attach any missing part before binding the plan
    from .bucketing import ensure_attached

    for p in parts:
        ensure_attached(
            spark, f"{p}_buckets", LSH_INDEX_BUCKETS_DDL, "bkey", LSH_INDEX_N_BUCKETS
        )
        ensure_attached(
            spark, f"{p}_vectors", LSH_INDEX_VECTORS_DDL, "id", LSH_INDEX_N_BUCKETS
        )
    meta = spark.table(f"{gp}_meta").head()
    n_planes, n_tables = int(meta["n_planes"]), int(meta["n_tables"])
    dim, threshold = int(meta["dim"]), float(meta["threshold"])
    probe = int(meta["multiprobe"]) if multiprobe is None else max(
        int(meta["multiprobe"]), multiprobe
    )
    # buckets_df: the sharing contract (round 16, guide §4) — caller
    # guarantees it was bucketed under the index's RECORDED
    # (n_planes, n_tables) over this exact eval_batch; the streaming
    # handler checks the recorded meta against its sizing before
    # sharing (a mismatched frame silently loses candidates, which is
    # why the default recomputes)
    bkt = (
        buckets_df
        if buckets_df is not None
        else with_lsh_buckets(
            eval_batch, dim, n_planes=n_planes, n_tables=n_tables,
            id_col=id_col, vec_col=vec_col,
        )
    )
    ev = bkt.select(
        F.col(id_col).alias("id_a"),
        F.posexplode("buckets").alias("table", "bucket"),
    )
    if probe > 0:
        ev = ev.select(
            "id_a",
            "table",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << b))
                        for b in range(min(probe, n_planes))
                    ],
                )
            ).alias("bucket"),
        )
    evk = ev.select(
        "id_a", F.xxhash64(F.col("table"), F.col("bucket")).alias("bkey")
    )
    # one co-located probe join PER PART (ids disjoint across parts by
    # the append-time duplicate check): the index side of each join
    # reads its own bucket layout with zero Exchange; only the
    # delta-sized evk shuffles, once per part
    cand = functools.reduce(
        DataFrame.unionByName,
        [
            evk.join(
                spark.table(f"{p}_buckets").select(
                    F.col("id").alias("id_b"), "bkey"
                ),
                "bkey",
            )
            for p in parts
        ],
    )
    cand = cand.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    # Persist the (delta-sized, slim) candidate set when the snapshot is
    # WIDE — the minhash read path's r13 finding, same shape: uncached,
    # each per-part rescore branch re-executes the whole candidate
    # union (P parts -> P^2 bucket scans).  Thresholded because the
    # cache is not free: at 1-2 parts the materialization barrier
    # measured +3.5 s on the append gate against zero win (AQE exchange
    # reuse already covers narrow snapshots).  Released in the
    # materialize block.
    cache_cand = len(parts) > 2
    if cache_cand:
        cand = cand.persist()
    checked_norm = F.when(
        F.size(F.col(vec_col)) == dim, norm2_seq(F.col(vec_col))
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"decontaminate_incremental: {vec_col} width != {dim}"
                    " for id "
                ),
                F.col(id_col).cast("string"),
            )
        )
    )
    wa = eval_batch.select(
        F.col(id_col).alias("id_a"),
        checked_norm.alias("_na"),
        *[F.col(vec_col)[i].cast("double").alias(f"_a{i}") for i in range(dim)],
    )
    # rescore PER PART for the same co-located-read reason, then union
    rescored = functools.reduce(
        DataFrame.unionByName,
        [
            cand.join(
                spark.table(f"{p}_vectors").select(
                    F.col("id").alias("id_b"),
                    F.col("nrm").alias("_nb"),
                    *[F.col("v")[i].alias(f"_b{i}") for i in range(dim)],
                ),
                "id_b",
            )
            for p in parts
        ],
    )
    dot = functools.reduce(
        lambda acc, t: acc + t,
        [F.col(f"_a{i}") * F.col(f"_b{i}") for i in range(dim)],
    )
    result = (
        rescored.join(wa, "id_a")
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    if materialize:
        result = result.localCheckpoint(eager=True)
        if cache_cand:
            cand.unpersist(blocking=False)
    return result


def _probe_cells(cmat: np.ndarray, qn: np.ndarray, nprobe: int) -> list[int]:
    """Rank cells by centroid cosine, ties to the LOWEST cell index.
    np.argsort's default quicksort is NOT stable, so an exact score tie
    would break by array order and diverge from the SQL oracle's
    'cosine DESC, crk' tie rule (r9 advisory); kind="stable" makes the
    tie-break deterministic and oracle-matching."""
    return [int(c) for c in np.argsort(-(cmat @ qn), kind="stable")[:nprobe]]


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray, list]:
    """IVF coarse quantizer: returns (embeddings + ``cell`` column,
    centroid matrix, centroid ids).

    Centroids are a deterministic pseudo-random sample of the data itself
    — the n_cells vectors with smallest md5(vec_id) — instead of k-means
    (no RNG state, no training job; one Lloyd iteration could refine but
    the sample quantizer already gives the inverted-list structure).
    Assignment is one Arrow-batched numpy matmul per batch; at 100 TB the
    index build is a single embarrassingly-parallel scan and each query
    probes nprobe cells instead of the corpus."""
    cents = (
        embeddings.select(id_col, vec_col)
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_cells)
        .collect()
    )
    cent_ids = [r[id_col] for r in cents]
    cmat = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in cents])
    cnorm = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    assign_udf = _cell_assigner(cnorm)
    return embeddings.withColumn("cell", assign_udf(F.col(vec_col))), cnorm, cent_ids


def _cell_assigner(cnorm: np.ndarray):
    """Arrow-batched cell assignment against a FIXED normalized centroid
    matrix — argmax of cosine, ties to the lowest cell (np.argmax takes
    the first maximum).  Shared by the build-time assignment scan and
    ivf_append's delta routing so the two are the same arithmetic by
    construction: an appended vector lands in exactly the cell a rebuild
    with the same quantizer would put it in."""

    @pandas_udf("int")
    def assign_udf(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mn @ cnorm.T, axis=1).astype("int32"))

    return assign_udf


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    top_k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: exact cosine over only the nprobe cells whose
    centroids are nearest the query — the inverted-file ANN counterpart to
    the LSH path (recall vs brute force measured in tests)."""
    assigned, cnorm, _ = ivf_assign(embeddings, n_cells, id_col, vec_col)
    qrow = embeddings.filter(F.col(id_col) == query_id).select(vec_col).head()
    qv = np.asarray(qrow[0], dtype=np.float64)
    qn = qv / max(np.linalg.norm(qv), 1e-12)
    probe = _probe_cells(cnorm, qn, nprobe)
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    return (
        assigned.filter(F.col("cell").isin([int(c) for c in probe]))
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(id_col, cosine_seq(F.col(vec_col), F.col("_qvec")).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(top_k)
    )


_IVF_GEN_FMT = "g=%08d"
_IVF_SIDECARS = ("lists", "ids", "centroids", "meta", "append_log")


def _ivf_generations(spark, path: str) -> list[int]:
    """Published index generations at ``path``, ascending — the
    versioned.py ``_version_dirs`` discipline applied to the IVF
    directory layout (round 11: generation-versioned reads)."""
    from ..sinks import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath(path)):
        return []
    out = []
    for st in fs.listStatus(jpath(path)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("g="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def ivf_resolve(
    spark,
    path: str,
    generation: int | None = None,
    gens: list[int] | None = None,
) -> str:
    """The content directory one index read (or segment append) binds
    to, resolved ONCE per operation: ``path/g=NNNNNNNN`` for the newest
    published generation (or an explicitly pinned older one), falling
    back to ``path`` itself for a pre-generation FLAT-layout index
    (read/append compatibility).  A published generation directory is
    IMMUTABLE under retrain — ``ivf_retrain_swap`` stages a hidden
    sibling and publishes a brand-new ``g=`` directory with one rename —
    so a plan built over the resolved directory stays internally
    consistent for its whole lifetime: the r10 snapshot-less-rewrite
    reader race is closed by LAYOUT, not by locking (readers pinned to
    the old generation keep answering from it until an explicit
    :func:`ivf_vacuum_generations`).  ``gens`` lets a caller that
    already listed the directory skip the re-listing — LIST is the
    slow, billed operation on object stores, and the hot query paths
    resolve + quiescence-check from ONE listing (r11 review finding).

    ``generation=0`` is the EXPLICIT flat-layout pin (ADVICE r11: an
    ``ivf_index_attach`` descriptor reports generation 0 for a legacy
    index, and that value must round-trip back through every
    ``generation=`` parameter instead of raising) — it resolves to
    ``path`` itself exactly like the no-generations fallback, and fails
    downstream with the ordinary missing-sidecar errors if no flat
    index actually lives there."""
    if gens is None:
        gens = _ivf_generations(spark, path)
    if generation is not None:
        if generation == 0:
            return path.rstrip("/")
        if generation not in gens:
            raise FileNotFoundError(
                f"ivf_resolve({path}): generation {generation} not "
                f"present (have {gens}) — vacuumed or never published; "
                "generation pinning is explicit, never a silent fallback"
            )
        return f"{path.rstrip('/')}/{_IVF_GEN_FMT % generation}"
    if gens:
        return f"{path.rstrip('/')}/{_IVF_GEN_FMT % gens[-1]}"
    return path.rstrip("/")


def _ivf_publish_generation(
    spark, path: str, staging: str, expected: int | None = None
) -> int:
    """Publish a fully-written staging directory as the next index
    generation with ONE rename (commit_version's exists-check +
    nest-audit discipline): a concurrent reader's listing sees the new
    generation entirely or not at all, and two racing publishers can
    never both believe they published the same number.

    ``expected`` pins the generation number the CALLER planned for —
    a claim-less fresh build passes 1, so that if any other writer
    published meanwhile the publish collides LOUDLY on the existing
    ``g=00000001`` instead of silently renumbering itself on top of an
    index that may already be receiving appends (claim-holding callers
    recompute under their claim and pass None)."""
    from ..sinks import ConcurrentCommitError, _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    gen = (
        expected
        if expected is not None
        else (_ivf_generations(spark, path) or [0])[-1] + 1
    )
    final = f"{path.rstrip('/')}/{_IVF_GEN_FMT % gen}"
    if fs.exists(jpath(final)):
        fs.delete(jpath(staging), True)
        raise ConcurrentCommitError(
            f"ivf publish: generation {gen} already published at {path} "
            "(concurrent publisher won) — staged index discarded, retry"
        )
    if not fs.rename(jpath(staging), jpath(final)):
        # ADVICE r11: a rename can fail for two very different reasons,
        # and only ONE of them should cost the caller its fully-built
        # staging directory.  Re-check the destination: if it exists
        # now, a racer landed between our pre-check and the rename —
        # a genuine lost publish race, staging discarded, retry is
        # cheap and correct.  Otherwise the failure is a filesystem
        # fault (transient or otherwise): LEAVE the staged index in
        # place and surface the error naming it, so the caller can
        # retry the single rename instead of re-paying the build.
        if fs.exists(jpath(final)):
            fs.delete(jpath(staging), True)
            raise ConcurrentCommitError(
                f"ivf publish: lost the publish race for generation "
                f"{gen} at {path} — staged index discarded, retry"
            )
        raise OSError(
            f"ivf publish: rename {staging} -> {final} failed with no "
            "visible concurrent publisher (filesystem fault?) — the "
            f"fully-built staged index is LEFT IN PLACE at {staging}; "
            "retry the publish or inspect the store before rebuilding"
        )
    # post-rename audit: a racer publishing between the exists-check and
    # our rename nests our dir INSIDE theirs — detect and fail loudly
    nested = f"{final}/{staging.rsplit('/', 1)[1]}"
    if fs.exists(jpath(nested)):
        fs.delete(jpath(nested), True)
        raise ConcurrentCommitError(
            f"ivf publish: lost the publish race for generation {gen} at "
            f"{path} — staged index discarded, retry"
        )
    return gen


def ivf_vacuum_generations(spark, path: str, keep_last: int = 1) -> list[int]:
    """Delete all but the newest ``keep_last`` generations; returns the
    removed numbers (versioned.vacuum_versions for the index layout).
    Reclamation is the ONLY operation that destroys a published
    generation — a reader still pinned to a vacuumed one fails LOUDLY
    on its next scan, never silently reads a different snapshot."""
    from ..sinks import _hadoop_fs

    if keep_last < 1:
        raise ValueError("ivf_vacuum_generations: keep_last must be >= 1")
    fs, jpath = _hadoop_fs(spark, path)
    gens = _ivf_generations(spark, path)
    doomed = gens[:-keep_last]
    for g in doomed:
        fs.delete(jpath(f"{path.rstrip('/')}/{_IVF_GEN_FMT % g}"), True)
    return doomed


def ivf_build(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """PERSIST an IVF index as ``path/g=00000001``; returns the
    published generation number.  The content is staged to a hidden
    ``_g_stage_*__`` sibling inside ``path`` and published with ONE
    rename, so readers enumerate either without the new generation or
    with all of it.  Build cost is one embarrassingly-parallel
    assignment scan + one partitioned write; published content is
    IMMUTABLE — retrains stage a sibling and appends publish segment
    subdirectories (see ivf_append), nothing rewrites it.

    LIVE-INDEX REBUILDS DELEGATE (r11 review finding): when ``path``
    already holds an index — generations published, or legacy flat
    content — this routes through :func:`ivf_retrain_swap`, which holds
    the commit claim and enforces the append/retrain mutual exclusion.
    A claim-less build publishing over a live index would silently
    orphan an in-flight append's delta in the outgoing generation
    (exactly the case retrain refuses loudly); there is no safe
    claim-less rebuild, so there is no code path for one.  The fresh
    path pins its publish to generation 1: if ANY other writer
    published meanwhile, the publish collides loudly instead of
    renumbering on top of an index that may already have appenders."""
    import uuid as _uuid

    from ..sinks import _hadoop_fs

    spark = embeddings.sparkSession
    fs, jpath = _hadoop_fs(spark, path)
    if _ivf_generations(spark, path) or fs.exists(
        jpath(f"{path.rstrip('/')}/centroids")
    ):
        return ivf_retrain_swap(spark, path, embeddings, n_cells, id_col, vec_col)
    fs.mkdirs(jpath(path))
    staging = f"{path.rstrip('/')}/_g_stage_{_uuid.uuid4().hex[:8]}__"
    try:
        _ivf_write_content(embeddings, staging, n_cells, id_col, vec_col)
    except BaseException:
        fs.delete(jpath(staging), True)
        raise
    return _ivf_publish_generation(spark, path, staging, expected=1)


def _ivf_write_content(
    embeddings: DataFrame,
    content: str,
    n_cells: int,
    id_col: str,
    vec_col: str,
) -> None:
    """One generation's complete content at ``content``: the inverted
    lists land at ``content``/lists as parquet PARTITIONED BY cell — so
    a probe of nprobe cells is PARTITION PRUNING at the file-listing
    level, reading only those cells' files from disk (the on-disk
    payoff IVF exists for) — the coarse quantizer at
    ``content``/centroids (n_cells tiny rows), the id->cell sidecar at
    ``content``/ids, and the build-size meta at ``content``/meta."""
    assigned, cnorm, _ = ivf_assign(embeddings, n_cells, id_col, vec_col)
    # Lists carry exactly (id, vector, cell) — the columns the query
    # paths read — and nothing else: ivf_append writes the same three,
    # so an input frame with extra columns cannot produce mixed-schema
    # parquet across generations (appended rows silently nulling a
    # column the build had persisted).
    assigned = assigned.select(id_col, vec_col, "cell")
    # Cluster rows by cell BEFORE the partitioned write: without this,
    # every shuffle partition holds a slice of every cell and the sink
    # emits partitions x cells tiny files; with it, each cell's inverted
    # list lands as one contiguous file — fewer files to list and read
    # at probe time, tighter row groups.  (At larger corpora Spark's
    # rebalance/AQE would split oversized cells; the clustering intent
    # is the same.)
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{content}/lists")
    # id->cell SIDECAR (r6 verdict item 3): the query path's only
    # by-id access is "which cell holds this id?" — answered here from
    # a table of two integers per vector (~3% of the vector bytes),
    # RANGE-partitioned and sorted on id so the parquet row-group
    # min/max stats turn the id equality predicate into file/row-group
    # skipping.  Without it, fetching a query vector by id cost a scan
    # of the FULL inverted lists before the partition-pruned probe.
    assigned.select(id_col, "cell").repartitionByRange(
        id_col
    ).sortWithinPartitions(id_col).write.mode("overwrite").parquet(
        f"{content}/ids"
    )
    spark = embeddings.sparkSession
    _write_centroids(spark, f"{content}/centroids", cnorm)
    # Build-size meta: the denominator of ivf_append's retrain trigger.
    # Counted from the ids sidecar's parquet footers (metadata-only, no
    # row scan); immutable after build — appends never rewrite it.
    n_base = spark.read.parquet(f"{content}/ids").count()
    _write_meta(spark, content, n_base)


def _write_meta(spark, path: str, n_base: int) -> None:
    import pyarrow as pa

    table = pa.table({"n_base": pa.array([int(n_base)], type=pa.int64())})
    _write_small_parquet(
        spark, f"{path}/meta", table, [(int(n_base),)], "n_base long"
    )


def _write_centroids(spark, cent_path: str, cnorm) -> None:
    """The coarse quantizer is n_cells tiny DRIVER-LOCAL rows — writing
    it through a Spark job costs ~4.5 s of pure scheduling overhead
    (measured: a 24-row createDataFrame().coalesce(1).write.parquet()
    job), which dominated the whole index build.  On a local path the
    driver writes the parquet directly with pyarrow (milliseconds,
    byte-compatible with spark.read.parquet); remote stores (hdfs/s3)
    keep the Spark write — there the cluster filesystem is the point
    and the job overhead is amortized by the real build around it.

    "Local" is decided by resolving the path through the Hadoop
    filesystem API (the sinks._hadoop_fs discipline), NOT by substring-
    matching the raw string: a scheme-less path on a cluster whose
    defaultFS is HDFS (or a single-slash hdfs:/ URI) must take the
    Spark write, or the centroids would land on the driver's local
    disk while lists/ids go through defaultFS and the later
    spark.read.parquet of centroids silently reads nothing."""
    import pyarrow as pa

    table = pa.table(
        {
            "cell": pa.array(range(cnorm.shape[0]), type=pa.int32()),
            "centroid": pa.array(
                [[float(x) for x in row] for row in cnorm],
                type=pa.list_(pa.float64()),
            ),
        }
    )
    rows = [(int(i), [float(x) for x in cnorm[i]]) for i in range(cnorm.shape[0])]
    _write_small_parquet(
        spark, cent_path, table, rows, "cell int, centroid array<double>"
    )


def _local_fs_path(spark, path: str) -> str | None:
    """The driver-local filesystem path for ``path``, or None when the
    Hadoop-qualified scheme is not ``file:`` — the _write_centroids
    discipline: resolve through the filesystem API, never substring-
    match the raw string (a scheme-less path on an HDFS-defaultFS
    cluster is NOT local)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    qualified = fs.makeQualified(jpath)
    return qualified.toUri().getPath() if qualified.toUri().getScheme() == "file" else None


def _write_small_parquet(
    spark, path: str, pa_table, rows: list, ddl: str, append: bool = False
) -> None:
    """Write a DRIVER-LOCAL handful of rows as a parquet directory.  On
    a local filesystem the driver writes with pyarrow directly — a
    Spark job for n_cells tiny rows costs ~4.5 s of pure scheduling
    (measured, see _write_centroids) — while Hadoop-remote paths keep
    the Spark write, where the cluster filesystem is the point."""
    local = _local_fs_path(spark, path)
    if local is not None:
        import os as _os
        import shutil as _shutil
        import uuid as _uuid

        import pyarrow.parquet as pq

        if not append:
            _shutil.rmtree(local, ignore_errors=True)  # mode("overwrite") parity
        _os.makedirs(local, exist_ok=True)
        name = (
            f"part-{_uuid.uuid4().hex}.parquet" if append else "part-00000.parquet"
        )
        pq.write_table(pa_table, _os.path.join(local, name))
        return
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
        "append" if append else "overwrite"
    ).parquet(path)


IVF_RETRAIN_FRAC = 0.25

# Segment-COUNT half of the retrain trigger — the same 1000x guard as
# the minhash/LSH indexes: tiny nightly appends must not grow the
# per-probe file count unboundedly under the row-fraction radar.
IVF_MAX_SEGMENTS = 16

# -- append SEGMENTS within a generation (round 12, late) --------------------
#
# The IVF append previously mutated the resolved generation's lists/ids
# IN PLACE under its claim, which left the engine's one residual
# snapshot-isolation caveat (ADVICE r11/r12: a reader's single up-front
# quiescence check could not exclude an append landing before its lazy
# lists scan executed).  An appended vector's cell depends only on
# itself and the FROZEN quantizer — per-item independence, the same
# property that let the minhash/LSH indexes adopt segments — so the
# append now lands as a brand-new immutable SEGMENT subdirectory of the
# resolved generation (``<content>/sNNNN/{lists,ids}``, the same
# cell-partitioned layout as the base) plus one atomically-created
# marker file (``<content>/_sNNNN__published__``).  Readers resolve
# (generation, published segments) ONCE and bind every scan to exactly
# those directories: an in-flight append is invisible until its marker
# lands, appends are snapshot-isolated BY LAYOUT, and the reader-side
# append-quiescence refusal is gone.  Cell pruning is unchanged — the
# ``cell IN (...)`` filter prunes partition directories inside every
# part independently; what grows per segment is file count per probed
# cell, which is the segment-count side of the retrain trigger.

IVF_SEG_FMT = "s%04d"
# {4,} not {4}: %04d widens past 9999, and a fixed-width anchor would
# silently drop segment 10000 from every snapshot (see the minhash
# index's _SEG_MARKER_RE for the full failure shape).
_IVF_SEG_MARKER_RE = _re.compile(r"^_s(\d{4,})__published__$")


def _ivf_seg_dir(content: str, seg: int) -> str:
    return f"{content.rstrip('/')}/{IVF_SEG_FMT % seg}"


def _ivf_seg_marker(content: str, seg: int) -> str:
    # seg formatted INSIDE the f-string: applying printf-% to the already-
    # interpolated string would re-interpret any literal '%' in the
    # warehouse path itself (e.g. a URL-encoded directory) as a format spec
    return f"{content.rstrip('/')}/_s{seg:04d}__published__"


def _ivf_segments(spark, content: str) -> list[int]:
    """Published append segments of the generation at ``content``,
    ascending — read from the on-disk marker files (restart-recoverable,
    same discipline as _ivf_generations)."""
    from ..sinks import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, content)
    if not fs.exists(jpath(content)):
        return []
    out = []
    for st in fs.listStatus(jpath(content)):
        m = _IVF_SEG_MARKER_RE.match(st.getPath().getName())
        if m and not st.isDirectory():
            out.append(int(m.group(1)))
    return sorted(out)


def _ivf_parts(spark, content: str, as_of_segment: int | None = None):
    """(part directories, segments) of the snapshot ``content``
    resolves to: the base plus each PUBLISHED append segment, the
    segment list read ONCE here so the whole plan binds to exactly
    these immutable parts (a racing append's segment publishes after
    this listing and is invisible).  ``as_of_segment`` pins the
    within-generation horizon — 0 = base only, N = segments <= N —
    with the engine's explicit-never-fallback contract (the
    minhash/LSH readers' as_of_segment, applied here)."""
    segs = _ivf_segments(spark, content)
    if as_of_segment is not None:
        if as_of_segment != 0 and as_of_segment not in segs:
            raise FileNotFoundError(
                f"IVF index at {content}: segment {as_of_segment} not "
                f"published (have {segs or 'none'}) — segment pinning "
                "is explicit, never a silent fallback"
            )
        segs = [s for s in segs if s <= as_of_segment]
    return [content] + [_ivf_seg_dir(content, s) for s in segs], segs


def _parts_union(spark, parts: list[str], sub: str) -> DataFrame:
    """Union one sidecar (``lists``/``ids``) across snapshot parts.
    Filters push through the union into every part's scan, so
    cell-partition pruning and id row-group skipping are preserved per
    part.  Built lazily per sidecar — the query_vec path never touches
    ids (pytest-pinned: a pre-sidecar index still answers it)."""
    return functools.reduce(
        DataFrame.unionByName,
        [spark.read.parquet(f"{p}/{sub}") for p in parts],
    )


def _ivf_snapshot(spark, content: str):
    """(lists, ids, segments) of the resolved snapshot — the
    both-sidecars convenience for the maintenance paths (append's
    duplicate check, attach's validation)."""
    parts, segs = _ivf_parts(spark, content)
    return (
        _parts_union(spark, parts, "lists"),
        _parts_union(spark, parts, "ids"),
        segs,
    )


def _append_claim(path: str) -> str:
    # underscore prefix: Spark's file listing ignores the marker, so a
    # reader listing the directory still parses clean
    return f"{path.rstrip('/')}/_ivf_append__"


def _check_index_quiescent(
    spark, path: str, gens: list[int] | None = None
) -> None:
    """The residual reader-side claim check.  Round 12, late: a
    standing APPEND claim no longer blocks readers at all — appends
    publish immutable SEGMENTS (an in-flight or died-mid-write append
    is an unpublished directory no reader resolves), so the former
    mid-append mismatched-snapshot hazard is closed BY LAYOUT, not by
    refusal.  A RETRAIN claim stopped blocking generation-layout
    readers at round 11 for the same reason (retrains stage a hidden
    sibling and publish a brand-new ``g=`` directory).  What remains is
    the legacy FLAT layout only: there a retrain retires the flat
    content in place after publishing g=1, so a flat-layout read under
    a standing retrain claim may straddle that retirement and refuses
    loudly."""
    from ..sinks import ConcurrentCommitError, _commit_claim, _hadoop_fs

    if _ivf_generations(spark, path) if gens is None else gens:
        return
    fs, jpath = _hadoop_fs(spark, path)
    claim = _commit_claim(path)
    if fs.exists(jpath(claim)):
        raise ConcurrentCommitError(
            f"IVF index {path}: retrain-swap claim {claim} is held and "
            "the index is the legacy FLAT layout (retired in place at "
            "publish) — the snapshot may be mismatched. Wait for the "
            "retrain, or rerun it if its writer is known dead."
        )


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retrain_frac: float = IVF_RETRAIN_FRAC,
    max_segments: int = IVF_MAX_SEGMENTS,
    check_duplicate_ids: bool = True,
    precounted: tuple[int, int] | None = None,
) -> dict:
    """INCREMENTAL IVF index maintenance (round 10 — the banked r9
    handoff candidate b, the lifecycle counterpart of the minhash
    index's nightly contract): route a delta batch to the EXISTING
    cells via the persisted quantizer and publish it as the resolved
    generation's next immutable append SEGMENT — work sized by the
    DELTA, never a corpus rebuild.

    Semantics: the quantizer is FROZEN — assignment reuses the exact
    _cell_assigner arithmetic of the build scan against the persisted
    centroid table, so after an append the index holds exactly what a
    rebuild WITH THE SAME CENTROIDS over base ∪ delta would hold
    (pytest-pinned: one append vs split appends vs frozen-quantizer
    rebuild, identical list content and query results).  What appends
    CANNOT do is retrain the quantizer: as the appended fraction
    grows, cell balance drifts from what md5-seeding over the full
    corpus would choose.  That drift is one side of the TWO-SIDED
    RETRAIN TRIGGER, recorded on every append: appended_rows /
    base_rows >= ``retrain_frac`` OR n_segments >= ``max_segments``
    (the 1000x guard — every segment adds files to each probed cell's
    read, and tiny nightly appends would grow that unboundedly under
    the row-fraction radar) flips ``retrain_due`` in the returned
    audit and in the persisted ``append_log`` (one row per append —
    the months-lived index's maintenance ledger).  Retraining itself
    is :func:`ivf_retrain_swap` — it holds the commit claim, enforces
    the append/retrain mutual exclusion, and publishes the rebuilt
    index as the next generation, folding every segment back into one
    base (a bare ivf_build on a live index DELEGATES there for exactly
    that reason — there is no claim-less rebuild path).

    Scale shape: one delta-sized assignment scan + a segment write
    whose lists carry the same cell partitioning as the base (a probe
    prunes partition directories inside every part independently);
    published content is NEVER touched — the segment is a brand-new
    directory made visible by one atomically-created marker (round 12,
    late; previously the append wrote into the resolved generation's
    own lists/ids, the engine's one residual snapshot-isolation
    caveat).  Readers resolve (generation, published segments) once
    (:func:`_ivf_snapshot`), so an in-flight append is INVISIBLE and
    no reader quiescence check exists.  The engine's O_EXCL claim
    marker still serializes writers: concurrent appends refuse loudly;
    the claim is released only on success, so a dead appender leaves a
    loud wedge for the NEXT writer (its unpublished segment directory
    is invisible to readers and overwritten by the rerun).  A standing
    RETRAIN claim makes the append refuse first: a segment published
    into the outgoing generation would be silently lost at the swap.

    Append means NEW ids: a re-ingested id would land as a duplicate
    list row (the same candidate scored twice per query), so by default
    the delta's ids are checked against the ids sidecar — one slim
    semi-join against the 2-column table — and a collision refuses
    loudly BEFORE any mutation (the claim is released on this path: the
    index is untouched and valid; re-ingest means replacing the vector,
    which is a rebuild — ivf_retrain_swap — not an append).  Callers
    that guarantee disjoint ids upstream pass
    ``check_duplicate_ids=False`` to skip the join."""
    from ..sinks import ConcurrentCommitError, _commit_claim, claim_marker, _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    retrain = _commit_claim(path)
    if fs.exists(jpath(retrain)):
        raise ConcurrentCommitError(
            f"ivf_append({path}): retrain-swap claim {retrain} is held — "
            "an append now would land in the outgoing index generation "
            "and be lost at the swap. Wait for the retrain."
        )
    claim = _append_claim(path)
    claim_marker(fs, jpath, claim, f"ivf_append({path})")
    # PRE-MUTATION SECTION: everything up to the first write runs under
    # the claim but has touched nothing — ANY failure here (a pre-meta
    # legacy index, a missing sidecar, the duplicate-id refusal)
    # releases the claim and re-raises, because wedging a valid,
    # untouched index behind a marker whose remedy is "rerun the
    # append" would fail identically forever.  Only once mutation
    # starts does the claim become success-only (a half-appended index
    # must keep failing loudly).
    try:
        # close the check-then-act window against a concurrent retrain:
        # our marker is now visible, so if the opposing claim ALSO
        # exists, at least one of the two racers sees the other (each
        # creates its own marker BEFORE re-checking) — abort ours.
        if fs.exists(jpath(retrain)):
            raise ConcurrentCommitError(
                f"ivf_append({path}): lost the race with a retrain-swap "
                f"({retrain} appeared after our claim) — aborting before "
                "any mutation; retry after the retrain completes."
            )
        # bind to the CURRENT generation under the claim: the retrain
        # re-check above guarantees no new generation publishes between
        # this resolve and the append's writes
        content = ivf_resolve(spark, path)
        cents = spark.read.parquet(f"{content}/centroids").collect()
        cnorm = np.vstack(
            [
                np.asarray(r["centroid"], dtype=np.float64)
                for r in sorted(cents, key=lambda r: r["cell"])
            ]
        )
        _, ids_table, segs = _ivf_snapshot(spark, content)
        n_before = ids_table.count()  # footer-only
        n_base = spark.read.parquet(f"{content}/meta").head()["n_base"]
        if n_base == 0:
            # ADVICE r10: refuse HERE, in the pre-mutation section where
            # failures release the claim — an index built on an empty
            # corpus has no meaningful retrain fraction (division by
            # zero AFTER the data writes would wedge the success-only
            # claim on a completed append); growing an empty index is a
            # rebuild (ivf_build / ivf_retrain_swap), not an append.
            raise ValueError(
                f"ivf_append({path}): index was built on an EMPTY corpus "
                "(meta.n_base == 0) — the retrain trigger's appended "
                "fraction is undefined; rebuild with ivf_build or "
                "ivf_retrain_swap instead of appending."
            )
        # empty-delta refusal BEFORE any mutation (round 14 review): a
        # partitioned write of an empty frame emits a lists directory
        # with no parquet data files, and once the segment marker
        # publishes, every later read of the generation dies on
        # UNABLE_TO_INFER_SCHEMA — the poisoned-segment hazard the
        # streaming handler guards against; the direct batch API must
        # refuse it too (unlike the catalog-backed minhash/LSH appends,
        # whose schema survives an empty table)
        # count + distinct-count in ONE aggregation job (round 15,
        # guide §1.2 — was two separate delta passes).  ``precounted``
        # (round 16, guide §1.2): a caller that already ran the same
        # count_and_distinct over the same pinned frame (the streaming
        # handler's per-batch validation) passes (n, n_ids) and this
        # delta pass is skipped — identical values by construction.
        from .bucketing import count_and_distinct

        n_in, n_ids = (
            (int(precounted[0]), int(precounted[1]))
            if precounted is not None
            else count_and_distinct(new_vectors, id_col)
        )
        if n_in == 0:
            raise ValueError(
                f"ivf_append({path}): empty delta — nothing to append, "
                "and a published empty segment's fileless lists "
                "directory would break every subsequent read of the "
                "generation. Treat an empty batch as a no-op upstream."
            )
        if check_duplicate_ids:
            # internal duplicates first (round 12, late — parity with
            # the minhash/LSH appends): two delta rows sharing an id
            # would both land in the segment and score the same
            # candidate twice per query, exactly the hazard the
            # index-side check below refuses
            if n_ids != n_in:
                raise ValueError(
                    f"ivf_append({path}): delta batch has "
                    f"{n_in - n_ids} internally duplicated {id_col} "
                    "value(s) — ids must be unique"
                )
            dup = (
                new_vectors.select(id_col)
                .join(ids_table.select(id_col), id_col, "left_semi")
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"ivf_append({path}): {id_col}={dup[0][0]} is already "
                    "in the index — a duplicate list row would score the "
                    "same candidate twice per query. Re-ingest means "
                    "rebuild (ivf_retrain_swap), not append; pass "
                    "check_duplicate_ids=False only when ids are disjoint "
                    "by construction."
                )
        assigned = new_vectors.select(id_col, vec_col).withColumn(
            "cell", _cell_assigner(cnorm)(F.col(vec_col))
        )
    except BaseException:
        fs.delete(jpath(claim), False)  # zero mutation: index still valid
        raise
    # same layout discipline as the build: cluster by cell so each cell
    # directory of the SEGMENT gains one contiguous file, not one
    # sliver per shuffle partition.  The segment is a brand-new
    # directory (mode overwrite clears only a dead appender's
    # unpublished staging, which no reader ever resolved); the marker
    # create below is the atomic commit point.
    seg = (segs[-1] if segs else 0) + 1
    sd = _ivf_seg_dir(content, seg)
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{sd}/lists")
    assigned.select(id_col, "cell").repartitionByRange(
        id_col
    ).sortWithinPartitions(id_col).write.mode("overwrite").parquet(f"{sd}/ids")
    claim_marker(
        fs, jpath, _ivf_seg_marker(content, seg), f"ivf_append({path})"
    )
    batch_rows = spark.read.parquet(f"{sd}/ids").count()  # footer-only
    n_total = n_before + batch_rows
    frac = (n_total - n_base) / n_base
    audit = {
        "batch_rows": int(batch_rows),
        "total_rows": int(n_total),
        "segment": seg,
        "n_segments": len(segs) + 1,
        "appended_frac": float(frac),
        "retrain_due": bool(
            frac >= retrain_frac or len(segs) + 1 >= max_segments
        ),
    }
    import pyarrow as pa

    log_table = pa.table(
        {
            "batch_rows": pa.array([audit["batch_rows"]], type=pa.int64()),
            "total_rows": pa.array([audit["total_rows"]], type=pa.int64()),
            "appended_frac": pa.array([audit["appended_frac"]], type=pa.float64()),
            "retrain_due": pa.array([audit["retrain_due"]], type=pa.bool_()),
        }
    )
    # the Spark fallback rows must carry EXACTLY the DDL's four columns
    # (round 14 review: tuple(audit.values()) silently drifted to six
    # values when segment/n_segments joined the audit — the pyarrow
    # branch masked it locally, while any non-local warehouse crashed
    # here AFTER the segment published and BEFORE the claim released,
    # wedging the index)
    _write_small_parquet(
        spark,
        f"{content}/append_log",
        log_table,
        [(
            audit["batch_rows"], audit["total_rows"],
            audit["appended_frac"], audit["retrain_due"],
        )],
        "batch_rows long, total_rows long, appended_frac double, retrain_due boolean",
        append=True,
    )
    # released ONLY on success — see docstring
    fs.delete(jpath(claim), False)
    return audit


def ivf_retrain_swap(
    spark,
    path: str,
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """RETRAIN the coarse quantizer and publish the result as the NEXT
    index generation — the maintenance step ivf_append's retrain_due
    trigger calls for (round 10; generation-versioned round 11):
    md5-seed centroids over the CURRENT corpus, rebuild the inverted
    lists into a hidden ``_g_stage_*__`` sibling inside ``path``, and
    publish it as ``g=N+1`` with ONE rename under the _commit_claim
    marker.  Returns the new generation number.

    Generation semantics: the publish starts a FRESH index generation —
    meta.n_base becomes the retrain-time corpus count and the
    append_log restarts empty (the retrain is the event the old log was
    accumulating toward; the drift counter must reset with the
    quantizer).  The PREVIOUS generation's directory is left intact: a
    reader that resolved it before the swap keeps answering from it,
    bit-identically (pytest-pinned — the r10 snapshot-less-rewrite
    reader race is gone by layout); storage is reclaimed explicitly via
    :func:`ivf_vacuum_generations`, never implicitly.  Writer mutual
    exclusion is still two-sided: this refuses while an append claim
    stands (the delta would land in the outgoing generation and be
    invisible after the pointer flip), and ivf_append refuses while the
    retrain claim stands.  A retrain that fails before the publish
    leaves the old generation fully intact and answering
    (pytest-pinned); the staging directory is underscore-prefixed,
    invisible to Spark file listings and to the generation resolver.

    Legacy FLAT-layout indexes (pre-generation ivf_build, content at
    ``path`` itself): the retrain publishes ``g=00000001`` and then
    retires the flat sidecars — a straggling flat reader fails LOUDLY
    on its next scan instead of silently mixing generations."""
    from ..sinks import (
        ConcurrentCommitError,
        _commit_claim,
        _hadoop_fs,
        claim_marker,
    )
    import uuid as _uuid

    fs, jpath = _hadoop_fs(spark, path)
    append_claim = _append_claim(path)
    if fs.exists(jpath(append_claim)):
        raise ConcurrentCommitError(
            f"ivf_retrain_swap({path}): append claim {append_claim} is "
            "held — swapping now would lose the in-flight delta. Wait "
            "for the append, or rerun it if its appender is known dead."
        )
    claim = _commit_claim(path)
    claim_marker(fs, jpath, claim, f"ivf_retrain_swap({path})")
    was_flat = not _ivf_generations(spark, path) and fs.exists(
        jpath(f"{path.rstrip('/')}/centroids")
    )
    staging = f"{path.rstrip('/')}/_g_stage_{_uuid.uuid4().hex[:8]}__"
    try:
        # close the check-then-act window against a concurrent append:
        # each racer creates its own marker BEFORE re-checking the
        # other's, so if both slipped past the pre-claim check, at
        # least one re-check here or in ivf_append fires — the swap
        # can never silently consume an in-flight delta.
        if fs.exists(jpath(append_claim)):
            raise ConcurrentCommitError(
                f"ivf_retrain_swap({path}): lost the race with an append "
                f"({append_claim} appeared after our claim) — aborting "
                "before the rebuild; retry after the append completes."
            )
        try:
            _ivf_write_content(corpus, staging, n_cells, id_col, vec_col)
        except BaseException:
            fs.delete(jpath(staging), True)
            raise
        gen = _ivf_publish_generation(spark, path, staging)
        if was_flat:
            # the flat content is now shadowed by g=00000001 — retire it
            # so the directory carries one source of truth (flat readers
            # mid-scan fail loudly, never read mixed generations);
            # flat-layout append segments retire with their base
            for s in _ivf_segments(spark, path):
                fs.delete(jpath(_ivf_seg_marker(path, s)), False)
                fs.delete(jpath(_ivf_seg_dir(path, s)), True)
            for side in _IVF_SIDECARS:
                fs.delete(jpath(f"{path.rstrip('/')}/{side}"), True)
        return gen
    finally:
        # replace_table semantics (NOT the append's success-only rule):
        # a failure before the publish leaves the old generation intact
        # and valid, so holding the claim would wedge a healthy index.
        fs.delete(jpath(claim), False)


def ivf_compact(
    spark,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retrain_frac: float = IVF_RETRAIN_FRAC,
) -> dict:
    """Fold an IVF generation's published append SEGMENTS back into one
    base WITHOUT retraining the quantizer (round 13 — the
    minhash_index_compact pattern for the embedding index): publish
    ``g=N+1`` whose lists/ids are the pure UNION of generation N's base
    + segments, with the CENTROIDS AND META COPIED VERBATIM.  A
    vector's cell depends only on itself and the frozen quantizer (the
    ivf_append exactness argument), so the compacted generation answers
    every probe bit-identically to the wide one — no assignment scan,
    no k-means; the cost is one IO-bound rewrite of the generation's
    rows, cell-clustered so each cell collapses back to one contiguous
    file (the per-probe file count the segment arm of the retrain
    trigger guards).

    What compaction does NOT service: quantizer drift.  ``meta.n_base``
    is copied unchanged, so the appended-fraction arm keeps measuring
    rows beyond the TRAINED basis (``(total - n_base) / n_base``) —
    after compaction, status/appends still report the true drift, and a
    drift-due index still needs :func:`ivf_retrain_swap`.  The new
    generation's append_log is seeded with one carry-over row stating
    that fraction, so a restarted scheduler's
    :func:`ivf_index_attach` descriptor stays honest.

    Claim discipline mirrors ivf_retrain_swap exactly (two-sided
    append/compact mutual exclusion; failure before the publish leaves
    the old generation intact and answering, claim released on every
    exit path).  The source generation stays published for pinned
    readers — reclaim with :func:`ivf_vacuum_generations`."""
    import uuid as _uuid

    from functools import reduce

    from ..sinks import (
        ConcurrentCommitError,
        _commit_claim,
        _hadoop_fs,
        claim_marker,
    )

    fs, jpath = _hadoop_fs(spark, path)
    append_claim = _append_claim(path)
    if fs.exists(jpath(append_claim)):
        raise ConcurrentCommitError(
            f"ivf_compact({path}): append claim {append_claim} is held — "
            "compacting now would orphan the in-flight delta's segment "
            "in the outgoing generation. Wait for the append."
        )
    claim = _commit_claim(path)
    claim_marker(fs, jpath, claim, f"ivf_compact({path})")
    staging = f"{path.rstrip('/')}/_g_stage_{_uuid.uuid4().hex[:8]}__"
    try:
        # close the check-then-act window (the retrain/append race
        # discipline: each racer claims before re-checking the other)
        if fs.exists(jpath(append_claim)):
            raise ConcurrentCommitError(
                f"ivf_compact({path}): lost the race with an append "
                f"({append_claim} appeared after our claim) — aborting "
                "before the rewrite; retry after the append completes."
            )
        gens = _ivf_generations(spark, path)
        if not gens:
            # a legacy flat-layout compact would publish g=1 while the
            # flat sidecars stay behind as a second source of truth —
            # the retire step belongs to ivf_retrain_swap; route there
            raise FileNotFoundError(
                f"ivf_compact({path}): no published generation — the "
                "legacy flat layout predates compaction; rebuild once "
                "(ivf_retrain_swap) to adopt the generation layout."
            )
        content = ivf_resolve(spark, path, gens=gens)
        segs = _ivf_segments(spark, content)
        if not segs:
            raise ValueError(
                f"ivf_compact({path}): the resolved generation has no "
                "published append segments — nothing to compact."
            )
        parts = [content] + [_ivf_seg_dir(content, s) for s in segs]
        try:
            lists = reduce(
                DataFrame.unionByName,
                [
                    spark.read.parquet(f"{p}/lists").select(
                        id_col, vec_col, "cell"
                    )
                    for p in parts
                ],
            )
            lists.repartition("cell").write.mode("overwrite").partitionBy(
                "cell"
            ).parquet(f"{staging}/lists")
            ids = reduce(
                DataFrame.unionByName,
                [
                    spark.read.parquet(f"{p}/ids").select(id_col, "cell")
                    for p in parts
                ],
            )
            ids.repartitionByRange(id_col).sortWithinPartitions(
                id_col
            ).write.mode("overwrite").parquet(f"{staging}/ids")
            # frozen quantizer + sizing basis, VERBATIM (docstring)
            cents = spark.read.parquet(f"{content}/centroids").collect()
            cnorm = np.vstack(
                [
                    np.asarray(r["centroid"], dtype=np.float64)
                    for r in sorted(cents, key=lambda r: r["cell"])
                ]
            )
            _write_centroids(spark, f"{staging}/centroids", cnorm)
            n_base = int(spark.read.parquet(f"{content}/meta").head()["n_base"])
            _write_meta(spark, staging, n_base)
            # carry-over ledger row: the drift the new generation starts
            # with (its segments are gone but their rows are not)
            n_total = spark.read.parquet(f"{staging}/ids").count()
            frac = (n_total - n_base) / n_base if n_base else float("inf")
            import pyarrow as pa

            carry = {
                "batch_rows": 0,
                "total_rows": int(n_total),
                "appended_frac": float(frac),
                "retrain_due": bool(frac >= retrain_frac),
            }
            log_table = pa.table(
                {
                    "batch_rows": pa.array([0], type=pa.int64()),
                    "total_rows": pa.array([carry["total_rows"]], type=pa.int64()),
                    "appended_frac": pa.array(
                        [carry["appended_frac"]], type=pa.float64()
                    ),
                    "retrain_due": pa.array([carry["retrain_due"]], type=pa.bool_()),
                }
            )
            _write_small_parquet(
                spark,
                f"{staging}/append_log",
                log_table,
                [tuple(carry.values())],
                "batch_rows long, total_rows long, appended_frac double, "
                "retrain_due boolean",
            )
        except BaseException:
            fs.delete(jpath(staging), True)
            raise
        gen = _ivf_publish_generation(spark, path, staging)
        return {
            "generation": gen,
            "from_generation": gens[-1] if gens else 0,
            "compacted_segments": segs,
            "total_rows": int(n_total),
            "appended_frac": float(frac),
            "retrain_due": carry["retrain_due"],
        }
    finally:
        fs.delete(jpath(claim), False)


def ivf_query_persisted(
    spark,
    path: str,
    query_id: int | None = None,
    top_k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec=None,
    generation: int | None = None,
    as_of_segment: int | None = None,
) -> DataFrame:
    """Query a persisted IVF index: rank cells by the (tiny, collected)
    centroid table, then scan ONLY the nprobe winning cell partitions —
    the `cell IN (...)` filter prunes at partition-directory level, so
    disk reads scale with nprobe/n_cells of the corpus, not the corpus.
    Scoring reuses the exact left-fold cosine of the brute-force path,
    so whenever the probed cells contain the true top-k the result is
    bit-identical to it.

    The query vector arrives one of two ways, NEITHER of which scans
    the corpus (r6 verdict item 3 — the previous by-id fetch paid a
    full-lists scan before the pruned probe):

    - ``query_vec``: the caller already holds the vector (the usual
      production case — it came from the embedding service) and no
      fetch happens at all;
    - ``query_id``: resolved via the build-time id->cell SIDECAR
      (two integers per vector, id-sorted so the equality predicate
      prunes at row-group stats level), then the vector itself is read
      from that ONE cell partition — the fetch is partition-pruned
      exactly like the probe.  Indexes built before the sidecar
      existed raise loudly (rebuild, or pass ``query_vec``).

    Snapshot isolation (round 12, late: now TOTAL): every read binds
    ONCE, up front, to the generation directory :func:`ivf_resolve`
    returns AND to its published append segments (:func:`_ivf_snapshot`
    lists the segment markers exactly once) — a retrain publishing a
    new generation mid-query cannot mix centroids and lists from
    different generations (RETRAINS never write into a published
    directory), and an APPEND landing mid-query is equally invisible
    (appends publish brand-new segment directories; nothing mutates in
    place, so the former materialize-while-quiescent caveat is gone).
    Pass ``generation`` to pin an OLDER published generation instead of
    the newest — index time travel, the read_version counterpart; a
    vacuumed generation raises loudly — and ``as_of_segment`` to pin
    the within-generation append horizon (0 = base only)."""
    gens = _ivf_generations(spark, path)  # ONE listing feeds both steps
    _check_index_quiescent(spark, path, gens=gens)
    content = ivf_resolve(spark, path, generation=generation, gens=gens)
    cents = spark.read.parquet(f"{content}/centroids").collect()
    cmat = np.vstack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in sorted(
            cents, key=lambda r: r["cell"]
        )]
    )
    parts, _segs = _ivf_parts(spark, content, as_of_segment)
    lists = _parts_union(spark, parts, "lists")
    if query_vec is None:
        if query_id is None:
            raise ValueError(
                "ivf_query_persisted: pass query_vec or query_id"
            )
        cell_row = (
            _parts_union(spark, parts, "ids")
            .filter(F.col(id_col) == query_id)
            .head()
        )
        if cell_row is None:
            raise KeyError(
                f"ivf_query_persisted: {id_col}={query_id} not found in "
                f"index {path}"
            )
        qrow = (
            lists.filter(F.col("cell") == int(cell_row["cell"]))
            .filter(F.col(id_col) == query_id)
            .select(vec_col)
            .head()
        )
        if qrow is None:
            raise IOError(
                f"ivf_query_persisted: index {path} is inconsistent — "
                f"ids sidecar maps {id_col}={query_id} to cell "
                f"{int(cell_row['cell'])} but the inverted list has no "
                "such row; rebuild the index"
            )
        query_vec = list(qrow[0])
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = qv / max(np.linalg.norm(qv), 1e-12)
    probe = _probe_cells(cmat, qn, nprobe)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    out = lists.filter(F.col("cell").isin(probe))
    if query_id is not None:
        out = out.filter(F.col(id_col) != query_id)
    return (
        out.select(id_col, cosine_seq(F.col(vec_col), qlit).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(top_k)
    )


def ivf_batch_query_persisted(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    top_k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    generation: int | None = None,
    as_of_segment: int | None = None,
) -> DataFrame:
    """BATCH query a persisted IVF index: the round-9 disk-pruning form
    of the ANN scorer.  ``queries`` is a driver-held list of (qid,
    vector) pairs — bounded (the retrieval batch), like every query-side
    broadcast in this engine.

    Plan shape: cell ranking happens on the DRIVER against the tiny
    collected centroid table (|queries| x n_cells dot products); the
    probe plan — one (qid, cell) row per probe, carrying the query
    vector — broadcasts onto the inverted lists, which are read with a
    `cell IN (union of probed cells)` filter that prunes whole
    partition directories at file-listing time.  Disk bytes therefore
    scale with |probed cells| / n_cells of the corpus, NEVER the
    corpus: the property the persisted index exists for.  Scoring
    reuses the exact left-fold cosine; per-query top-k rides the
    skew-proof two-stage partial pattern (no global window).  Each
    vector lives in exactly one cell, so the cell-equijoin generates
    each (query, candidate) pair at most once — no dedup stage.

    Whenever the probed cells contain a query's true top-k, its result
    rows are bit-identical to the brute-force scorer's (same fold, same
    tie order); gates pin that operating point per corpus.

    Snapshot isolation as in ivf_query_persisted (round 12, late: now
    TOTAL): one up-front resolve pins every read of this query to ONE
    generation directory and its then-published append segments —
    retrains never rewrite published content and appends land as new
    segments invisible to an already-resolved plan, so no
    materialize-while-quiescent caveat remains."""
    gens = _ivf_generations(spark, path)  # ONE listing feeds both steps
    _check_index_quiescent(spark, path, gens=gens)
    content = ivf_resolve(spark, path, generation=generation, gens=gens)
    cents = spark.read.parquet(f"{content}/centroids").collect()
    cmat = np.vstack(
        [
            np.asarray(r["centroid"], dtype=np.float64)
            for r in sorted(cents, key=lambda r: r["cell"])
        ]
    )
    probe_rows = []
    for qid, vec in queries:
        qv = np.asarray(vec, dtype=np.float64)
        qn = qv / max(np.linalg.norm(qv), 1e-12)
        for c in _probe_cells(cmat, qn, nprobe):
            probe_rows.append((int(qid), c, [float(x) for x in vec]))
    probes = spark.createDataFrame(
        probe_rows, "qid long, cell int, _qvec array<double>"
    )
    union_cells = sorted({c for _, c, _ in probe_rows})
    parts, _segs = _ivf_parts(spark, content, as_of_segment)
    lists = _parts_union(spark, parts, "lists")
    scored = (
        lists.filter(F.col("cell").isin(union_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            id_col,
            cosine_seq(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
    )
    item = F.struct(
        (-F.col("cosine")).alias("neg_c"), F.col(id_col).alias(id_col)
    )
    local = (
        scored.withColumn("pid", F.spark_partition_id())
        .groupBy("qid", "pid")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, top_k).alias("top"))
    )
    merged = (
        local.select("qid", F.explode("top").alias("it"))
        .groupBy("qid")
        .agg(F.slice(F.array_sort(F.collect_list("it")), 1, top_k).alias("top"))
    )
    return merged.select("qid", F.explode("top").alias("it")).select(
        "qid",
        F.col(f"it.{id_col}").alias(id_col),
        (-F.col("it.neg_c")).alias("cosine"),
    )


def ivf_index_attach(spark, path: str, id_col: str = "vec_id") -> dict:
    """Recover a persisted IVF index in a FRESH session (the restarted
    nightly driver) — the lsh_index_attach twin for the plain-path IVF
    sidecars (round 11, r10 verdict item 6).  The sidecars are
    directories, not catalog tables, so there are no entries to
    re-create; what a restart DOES need is the validate-and-describe
    step the catalog attaches perform implicitly:

    - refuse while a mutation claim stands (a wedged index must fail
      loudly at attach time, not as a confusing mid-query error);
    - resolve the CURRENT generation and verify all four sidecars are
      present and parse (a half-vacuumed or hand-damaged index names
      the missing piece instead of raising deep inside a query);
    - return the maintenance descriptor the restarted scheduler lost
      with its driver: generation number, n_cells, build-time n_base,
      current total rows, accumulated appended fraction, and whether a
      retrain is already due — read from meta/centroids footers and
      the append_log ledger, no list data scanned.  A legacy
      flat-layout index reports ``generation=0``, which ROUND-TRIPS
      (ADVICE r11): ``ivf_resolve``/the query paths accept 0 as the
      explicit flat-layout pin, so feeding any descriptor field back
      as a ``generation=`` argument is always valid.

    After a successful attach, ivf_query_persisted /
    ivf_batch_query_persisted / ivf_append on ``path`` behave exactly
    as they did in the building session (pytest-pinned against a
    simulated restart, mirroring
    test_lsh_index_attach_recovers_catalog_and_result)."""
    from ..sinks import ConcurrentCommitError, _commit_claim, _hadoop_fs

    gens = _ivf_generations(spark, path)  # ONE listing feeds every step
    _check_index_quiescent(spark, path, gens=gens)
    fs, jpath = _hadoop_fs(spark, path)
    # Attach is the MAINTENANCE entry point, not a hot read: unlike the
    # query paths (safe under a retrain because their resolved
    # generation is immutable), a restarted scheduler needs to learn
    # about a standing retrain claim HERE — a dead retrainer's leaked
    # marker would otherwise surface later as a confusing
    # mid-maintenance ConcurrentCommitError from ivf_append/retrain
    # (r11 review finding: the docstring promised refusal on ANY
    # mutation claim; the code now delivers it).
    # Round 12: hot reads no longer refuse under an APPEND claim
    # (appends are segment-published, invisible until their marker) —
    # but attach still surfaces BOTH mutation claims: the restarted
    # scheduler must learn about a dead writer's wedge HERE, not as a
    # confusing mid-maintenance ConcurrentCommitError later.
    for claim, what in (
        (_commit_claim(path), "retrain-swap"),
        (_append_claim(path), "append"),
    ):
        if fs.exists(jpath(claim)):
            raise ConcurrentCommitError(
                f"ivf_index_attach({path}): {what} claim {claim} is "
                f"held — a {what} is in flight or its writer died "
                "holding the claim. Wait for it, or remove the marker "
                "if the writer is known dead, then re-attach."
            )
    content = ivf_resolve(spark, path, gens=gens)
    segs = _ivf_segments(spark, content)
    missing = [
        side
        for side in ("lists", "ids", "centroids", "meta")
        if not fs.exists(jpath(f"{content}/{side}"))
    ] + [
        f"{IVF_SEG_FMT % s}/{side}"
        for s in segs
        for side in ("lists", "ids")
        if not fs.exists(jpath(f"{_ivf_seg_dir(content, s)}/{side}"))
    ]
    if missing:
        raise IOError(
            f"ivf_index_attach({path}): generation directory {content} "
            f"is missing sidecar(s) {missing} — the index is incomplete "
            "(interrupted build, manual damage, or a wrong path); "
            "rebuild with ivf_build."
        )
    cents = spark.read.parquet(f"{content}/centroids")
    n_cells = cents.count()
    dim_row = cents.select(F.size("centroid").alias("d")).head()
    n_base = int(spark.read.parquet(f"{content}/meta").head()["n_base"])
    _lists, ids_table, _ = _ivf_snapshot(spark, content)
    total_rows = ids_table.count()  # footer-only
    lists_cols = set(spark.read.parquet(f"{content}/lists").columns)
    required = {id_col, "cell"}
    if not required <= lists_cols:
        raise IOError(
            f"ivf_index_attach({path}): lists schema {sorted(lists_cols)} "
            f"lacks {sorted(required - lists_cols)} — wrong id_col or a "
            "foreign parquet directory."
        )
    appended_frac = 0.0
    retrain_due = False
    if fs.exists(jpath(f"{content}/append_log")):
        last = (
            spark.read.parquet(f"{content}/append_log")
            .orderBy(F.desc("total_rows"))
            .head()
        )
        if last is not None:
            appended_frac = float(last["appended_frac"])
            retrain_due = bool(last["retrain_due"])
    return {
        "generation": gens[-1] if gens else 0,  # 0 = legacy flat layout
        "segments": segs,
        "n_cells": int(n_cells),
        "dim": int(dim_row["d"]),
        "n_base": n_base,
        "total_rows": int(total_rows),
        "appended_frac": appended_frac,
        "retrain_due": retrain_due,
    }
