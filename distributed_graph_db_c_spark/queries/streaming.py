"""Streaming-surface queries (SURVEY.md §7 M6) wired into the oracle gate.

Two kinds:
- Window builders (tumbling/sliding/session) run here in BATCH mode over
  the events table — same code path the streaming tests run with a real
  file stream, so the DuckDB hash-check covers the streaming semantics.
- Two REAL streaming runs (stateful operator, request-loop dispatch):
  the query stages micro-batch files, drains them with availableNow, and
  returns the materialized sink — end-to-end streaming execution inside
  the correctness gate, with ordinary SQL oracles because the final state
  is deterministic by construction (integer accumulation; seq-ordered
  writes).
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import GraphCatalog
from ..registry import register
from ..sources.tables import load_table
from ..streaming.requests import REQUEST_SCHEMA, RESULT_SCHEMA, request_dispatcher
from ..streaming.sources import (
    cleanup,
    read_file_stream,
    run_available_now,
    scratch_dir,
    stage_stream_dir,
)
from ..streaming.stateful import user_running_totals
from ..streaming.windows import session_stats, sliding_counts, tumbling_counts
from .dedup import _JACCARD_SQL as _MINHASH_STREAM_SQL
from .relational import _ATTRIB_SQL as _ATTRIB_STREAM_SQL
from .similarity import _PAIRS_SQL as _EMB_STREAM_SQL

# ---------------------------------------------------------------------------
# window builders, batch mode (streaming twin: tests/test_streaming.py)
# ---------------------------------------------------------------------------

_TUMBLING_SQL = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


@register("stream_tumbling_hour", oracle=_TUMBLING_SQL)
def stream_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming/windows.py),
    batch mode = the oracle path."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


_SLIDING_SQL = """
WITH wins AS (
    SELECT event_type,
           unnest([ (epoch_us(ts) // 900000000) * 900000000,
                    ((epoch_us(ts) // 900000000) - 1) * 900000000 ]) AS window_start_us
    FROM events
)
SELECT window_start_us, event_type, COUNT(*) AS n
FROM wins GROUP BY 1, 2
"""


@register("stream_sliding_30m", oracle=_SLIDING_SQL)
def stream_sliding_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (30 min / 15 min): every event lands in exactly 2
    windows; the oracle unnests the same 2 window starts explicitly."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


# Island detection — a completely different formulation than Spark's
# session_window operator.  NOTE >= on the gap boundary: session_window
# merges only while the next event is strictly inside [ts, ts+gap).
_SESSION_SQL = """
WITH seq AS (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM seq
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) AS session_end_us,
       COUNT(*) AS n_events
FROM isl GROUP BY user_id, sid
"""


@register("stream_session_window", oracle=_SESSION_SQL)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (dynamic gap-merged windows) per user; oracle
    recomputes sessions via lag/cumsum island detection."""
    return session_stats(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# real streaming runs
# ---------------------------------------------------------------------------

_STATEFUL_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
"""


@register("stream_stateful_user_totals", oracle=_STATEFUL_SQL)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running totals across 3 real micro-batches
    (file stream, availableNow).  Final per-user emission == batch
    aggregate; integer cents make the accumulation order-exact."""
    ev = load_table(spark, sf_dir, "events")
    scratch = scratch_dir("stateful")
    try:
        batches = [ev.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, ev.schema)
        name = f"st_{uuid.uuid4().hex[:8]}"
        run_available_now(
            user_running_totals(sev), f"{scratch}/ckpt", query_name=name
        )
        final = (
            spark.table(name)
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),  # monotone: max = final state
                F.max("total_cents").alias("total_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup(scratch)
    return final


_REQUESTS_SQL = """
WITH r0 AS (
    SELECT n_nationkey AS id,
           CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS BIGINT) AS lvl
    FROM nation WHERE n_regionkey = 0
)
SELECT CAST(3 AS BIGINT) AS seq, CAST(4 AS INT) AS op, CAST(7 AS INT) AS graph_id,
       CAST(id AS BIGINT) AS id, lvl AS level
FROM r0
UNION ALL
SELECT CAST(4 AS BIGINT), CAST(3 AS INT), CAST(7 AS INT), CAST(id AS BIGINT),
       CAST(NULL AS BIGINT)
FROM r0 WHERE lvl = (SELECT MAX(lvl) FROM r0)
"""


@register("stream_requests_dispatch", oracle=_REQUESTS_SQL)
def stream_requests_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference request loop over a real stream: op 1 adds
    graph 7 (all-nation same-region cliques), op 2 MODIFIES it to a path
    over region-0 nations (full replace, primary_server.c:65 "w+"
    truncate), op 4 BFS + op 3 DFS-leaves from the path's first node.

    BFS levels = path positions; DFS leaves = the far endpoint (the start
    is non-isolated, so excluded) — both derivable in plain SQL from the
    nation table, which is what the oracle does."""
    nation = load_table(spark, sf_dir, "nation")
    rows = nation.select("n_nationkey", "n_regionkey").collect()
    all_ids = sorted(int(r["n_nationkey"]) for r in rows)
    by_region: dict[int, list[int]] = {}
    for r in rows:
        by_region.setdefault(int(r["n_regionkey"]), []).append(int(r["n_nationkey"]))
    clique_pairs = [
        (a, b)
        for ids in by_region.values()
        for a in ids
        for b in ids
        if a < b
    ]
    r0 = sorted(by_region[0])
    path_pairs = list(zip(r0, r0[1:]))

    scratch = scratch_dir("requests")
    try:
        b0 = spark.createDataFrame([(1, 1, 7, all_ids, clique_pairs, None)], REQUEST_SCHEMA)
        b1 = spark.createDataFrame([(2, 2, 7, r0, path_pairs, None)], REQUEST_SCHEMA)
        b2 = spark.createDataFrame(
            [(3, 4, 7, None, None, r0[0]), (4, 3, 7, None, None, r0[0])], REQUEST_SCHEMA
        )
        in_dir = stage_stream_dir([b0, b1, b2], f"{scratch}/in")
        catalog = GraphCatalog(spark, f"{scratch}/catalog")
        results = f"{scratch}/results"
        stream = read_file_stream(spark, in_dir, REQUEST_SCHEMA)
        run_available_now(
            stream, f"{scratch}/ckpt", foreach_batch=request_dispatcher(catalog, results)
        )
        res = (
            spark.read.schema(RESULT_SCHEMA)
            .parquet(results)
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup(scratch)
    return res


_STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM events GROUP BY event_type
"""


@register("stream_dedup_exact", oracle=_STREAM_DEDUP_SQL)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup over an at-least-once replay: 3 micro-batches
    where every batch RE-SENDS a tenth of the previous one (the retry
    pattern), drained through dropDuplicatesWithinWatermark.  The surviving
    row set must equal the original table exactly — per-type count and
    event_id checksum prove it against the batch oracle."""
    from ..streaming.dedup import exact_dedup_stream

    ev = load_table(spark, sf_dir, "events")
    scratch = scratch_dir("sdedup")
    try:
        thirds = [ev.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)]
        batches = [
            thirds[0],
            # replayed duplicates ride along with each later batch
            thirds[1].unionByName(thirds[0].filter(F.pmod("event_id", F.lit(10)) == 0)),
            thirds[2].unionByName(thirds[1].filter(F.pmod("event_id", F.lit(10)) == 1)),
        ]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, ev.schema)
        name = f"sd_{uuid.uuid4().hex[:8]}"
        # batches here are id-partitioned, not time-ordered, so the
        # watermark must cover the table's whole 30-day span or rows from
        # earlier event-time get dropped as late (that drop IS the
        # bounded-state feature in production; the test wants none of it)
        run_available_now(
            exact_dedup_stream(sev, watermark="45 days"),
            f"{scratch}/ckpt",
            query_name=name,
            output_mode="append",
        )
        final = (
            spark.table(name)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("event_id").alias("id_checksum"))
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup(scratch)
    return final


@register("stream_dedup_minhash_incremental", oracle=_MINHASH_STREAM_SQL)
def stream_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental streaming near-dup detection: documents arrive in 3
    real micro-batches; a foreachBatch handler keeps an accumulating LSH
    band-bucket index and each batch shingles ONLY its own documents,
    joining against the index for cross-batch collisions
    (streaming/dedup.py:incremental_minhash_dedup).  The final pair set
    is arrival-order-invariant (each pair is found when its later member
    arrives), so it must equal the batch operator's output — the same
    exact-Jaccard SQL gates a genuinely streaming execution.

    CORPUS-CONTINGENT ORACLE: same contract as dedup_minhash_pairs —
    valid while LSH recall at J>=0.8 is total on this corpus (the
    pytest pin covers both paths, which share every hash)."""
    from ..streaming.dedup import PAIRS_DDL, incremental_minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    scratch = scratch_dir("sminhash")
    try:
        batches = [docs.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sdocs = read_file_stream(spark, in_dir, docs.schema)
        run_available_now(
            sdocs,
            f"{scratch}/ckpt",
            foreach_batch=incremental_minhash_dedup(
                f"{scratch}/index", f"{scratch}/pairs"
            ),
        )
        pairs = (
            spark.read.schema(PAIRS_DDL)
            .parquet(f"{scratch}/pairs")
            .distinct()  # at-least-once sink: replayed batches append exact duplicates
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup(scratch)
    return pairs


@register("stream_continuous_index_dedup", oracle=_MINHASH_STREAM_SQL)
def stream_continuous_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS near-dup detection over the DURABLE generation/segment
    index (round 12):
    where stream_dedup_minhash_incremental accumulates a scratch parquet
    index, this gate's foreachBatch handler
    (streaming/dedup.py:continuous_index_dedup) maintains the engine's
    REAL persisted minhash index — the first micro-batch bootstraps
    generation 1 (minhash_index_build), each later batch screens itself
    (cross pairs against the resolved (generation, segments) snapshot +
    within-batch pairs) and then lands as the generation's next
    immutable append segment (minhash_index_append).  The stream and
    the nightly job converge on ONE index: restart recovery via attach,
    the two-sided retrain trigger (segment count is the binding side at
    one-segment-per-batch), time travel, vacuum — all apply to what the
    stream leaves behind (pytest-pinned, including a nightly batch
    screening the stream-built index directly).

    Every pair is discovered exactly once — in the batch where its
    later member arrives — so the accumulated distinct pair set equals
    minhash_dedup_pairs over the whole corpus regardless of batch
    boundaries, and the SAME exact-Jaccard SQL gates a genuinely
    streaming execution against a durable index.  Replay safety rides
    the index's atomic segment publish as the batch commit point
    (handler docstring; crash-shape pins in tests/test_streaming.py).
    Same corpus-contingent LSH total-recall contingency as
    dedup_minhash_pairs.  Scale: per batch, the batch's own shingling
    plus one co-located probe join per index part — corpus never
    rescanned."""
    import uuid as _uuid

    from ..operators.bucketing import index_drop_all
    from ..operators.dedup import _index_claim
    from ..sinks import _hadoop_fs
    from ..streaming.dedup import PAIRS_DDL, continuous_index_dedup

    docs = load_table(spark, sf_dir, "documents")
    scratch = scratch_dir("scontdedup")
    prefix = f"contgate_{_uuid.uuid4().hex[:8]}"
    try:
        batches = [docs.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sdocs = read_file_stream(spark, in_dir, docs.schema)
        run_available_now(
            sdocs,
            f"{scratch}/ckpt",
            foreach_batch=continuous_index_dedup(prefix, f"{scratch}/pairs"),
        )
        pairs = (
            spark.read.schema(PAIRS_DDL)
            .parquet(f"{scratch}/pairs")
            .distinct()  # at-least-once sink: replays append exact duplicates
            .localCheckpoint(eager=True)
        )
    finally:
        index_drop_all(spark, prefix, ("_bands", "_shingles"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(_index_claim(warehouse, prefix)), False)
        cleanup(scratch)
    return pairs


@register("stream_continuous_embedding_dedup", oracle=_EMB_STREAM_SQL)
def stream_continuous_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS semantic near-dup detection over the DURABLE
    LSH/decontamination index (round 13 — the stream_continuous_index_
    dedup pattern applied to the THIRD persisted index, completing the
    streaming lifecycle composition for all of them): the first
    micro-batch bootstraps generation 1 (lsh_index_build, planes frozen
    at the bootstrap sizing), each later batch classifies itself
    (all-new / replay / partial-reuse refusal BEFORE any write), screens
    itself against the resolved (generation, segments) snapshot
    (decontaminate_incremental — delta-sized probe joins), finds its
    within-batch pairs (cosine_lsh_pairs, total-recall multiprobe
    floor), appends both canonicalized, and lands as the next immutable
    append segment (lsh_index_append).  Every pair is discovered
    exactly once — in the batch where the later member arrives — so the
    accumulated distinct set equals EXACT all-pairs cosine >= 0.45 over
    the whole embeddings table, which is precisely the oracle (the
    standing corpus-contingent LSH total-recall contingency of
    dedup_embedding_cosine_pairs applies).  Scale: per batch, one
    bucketing pass over the batch + one co-located probe join per index
    part; the corpus is never rescanned, and the index the stream
    leaves behind answers nightly batch screens, compaction, retrain,
    time travel, and vacuum like any other generation."""
    import uuid as _uuid

    from ..operators.bucketing import index_drop_all
    from ..operators.similarity import _lsh_index_claim
    from ..sinks import _hadoop_fs
    from ..streaming.dedup import EMB_PAIRS_DDL, continuous_embedding_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    scratch = scratch_dir("sembdedup")
    prefix = f"embgate_{_uuid.uuid4().hex[:8]}"
    try:
        batches = [emb.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        semb = read_file_stream(spark, in_dir, emb.schema)
        run_available_now(
            semb,
            f"{scratch}/ckpt",
            foreach_batch=continuous_embedding_dedup(prefix, f"{scratch}/pairs"),
        )
        pairs = (
            spark.read.schema(EMB_PAIRS_DDL)
            .parquet(f"{scratch}/pairs")
            .distinct()  # at-least-once sink: replays append exact duplicates
            .localCheckpoint(eager=True)
        )
    finally:
        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(_lsh_index_claim(warehouse, prefix)), False)
        cleanup(scratch)
    return pairs


# The COMPACTED minhash stream (round 15 — the compact half of the
# maintenance matrix lifted to oracle-gate strength, as the two
# retrain gates do for the drift half; pytest pin:
# tests/test_round13_properties.py::
# test_continuous_stream_rides_mid_stream_compaction): the stream
# bootstraps gen 1 and appends a segment, a maintenance job COMPACTS
# (segments fold into generation 2 at IO cost), the stream resumes on
# the SAME checkpoint and its remaining batches land as gen 2's
# append segments.  Compaction preserves content, so the pair oracle
# is the SAME exact-Jaccard SQL as the uncompacted gate — what the
# descriptor row adds is disk-state proof that the fold happened and
# the resumed stream rode it (generation 2 with exactly the two
# post-compact segments; a stream that silently kept riding gen 1
# would report (1, 3) and hash-mismatch).
_CMP_DDL = "generation BIGINT, n_segments BIGINT, doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE"


def _compacted_stream_sql() -> str:
    return f"""
SELECT CAST(2 AS BIGINT) AS generation,
       CAST(2 AS BIGINT) AS n_segments,
       CAST(-1 AS BIGINT) AS doc_a,
       CAST(-1 AS BIGINT) AS doc_b,
       CAST(-1.0 AS DOUBLE) AS jaccard
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), doc_a, doc_b, jaccard
FROM ({_MINHASH_STREAM_SQL}) p
"""


@register("stream_continuous_index_dedup_compacted", oracle=_compacted_stream_sql())
def stream_continuous_index_dedup_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The COMPACTED twin of stream_continuous_index_dedup (round 15):
    same handler, same checkpoint, but the nightly maintenance act the
    segment-count trigger cues actually RUNS mid-stream —
    minhash_index_compact folds generation 1 + its segment into
    generation 2 between micro-batch runs — and the stream resumes,
    screening its remaining batches against the compacted generation
    and appending there.  With the two retrain gates this puts BOTH
    maintenance operations (fold and re-size) under driver oracle
    evidence riding a live checkpoint; the three pytest
    compact-mid-stream pins remain the broader matrix.

    Result rows: one descriptor row read back from the index on disk
    via minhash_index_status (generation, n_segments; pair columns
    -1), plus the accumulated distinct pair set (descriptor columns
    -1).  Compaction preserves content, so the pair half of the oracle
    is the same exact-Jaccard SQL as the uncompacted gate; the
    descriptor half pins the fold and the resumed ride.  Same
    corpus-contingent LSH total-recall contingency as
    dedup_minhash_pairs.  Scale: the compact is segments-sized IO
    between batches; per batch the stream still pays one shingling
    pass + co-located probe joins, never a corpus rescan."""
    import uuid as _uuid

    from ..operators.bucketing import index_drop_all
    from ..operators.dedup import (
        _index_claim,
        minhash_index_compact,
        minhash_index_status,
    )
    from ..sinks import _hadoop_fs
    from ..streaming.dedup import PAIRS_DDL, continuous_index_dedup

    docs = load_table(spark, sf_dir, "documents")
    scratch = scratch_dir("scmpdedup")
    prefix = f"cmpgate_{_uuid.uuid4().hex[:8]}"
    try:
        batches = [docs.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]
        in_dir = f"{scratch}/in"
        handler = continuous_index_dedup(prefix, f"{scratch}/pairs")
        # phase 1: bootstrap (gen 1) + one append segment
        stage_stream_dir(batches[:2], in_dir)
        sdocs = read_file_stream(spark, in_dir, docs.schema)
        run_available_now(sdocs, f"{scratch}/ckpt", foreach_batch=handler)
        # maintenance between micro-batch runs: fold the segment away
        audit = minhash_index_compact(spark, prefix)
        if audit["generation"] != 2:
            # loud even under python -O (assert would vanish)
            raise RuntimeError(f"compact must publish generation 2: {audit}")
        # phase 2: resume on the SAME checkpoint; the remaining batches
        # must ride the compacted generation and append there
        stage_stream_dir(batches[2:], in_dir, start=2)
        sdocs = read_file_stream(spark, in_dir, docs.schema)
        run_available_now(sdocs, f"{scratch}/ckpt", foreach_batch=handler)
        st = minhash_index_status(spark, prefix)
        head = spark.createDataFrame(
            [(int(st["generation"]), len(st["segments"]), -1, -1, -1.0)],
            _CMP_DDL,
        )
        pairs = (
            spark.read.schema(PAIRS_DDL)
            .parquet(f"{scratch}/pairs")
            .distinct()  # at-least-once sink: replays append exact duplicates
            .select(
                F.lit(-1).cast("long").alias("generation"),
                F.lit(-1).cast("long").alias("n_segments"),
                "doc_a", "doc_b", "jaccard",
            )
        )
        result = head.unionByName(pairs).localCheckpoint(eager=True)
    finally:
        index_drop_all(spark, prefix, ("_bands", "_shingles"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(_index_claim(warehouse, prefix)), False)
        cleanup(scratch)
    return result


# The MAINTAINED embedding stream (round 15, the r14 verdict's item 3 —
# the acting half of the LSH drift arm lifted from its pytest pin
# (tests/test_round14_properties.py) to a driver oracle gate): the
# stream bootstraps gen 1 and appends a segment, STOPS at retrain_due,
# a maintenance job rebuilds via lsh_index_build (generation 2, planes
# RE-SIZED to the grown corpus), and the stream resumes on the SAME
# checkpoint, landing its next batch as gen 2's first append segment.
# The whole construction is deterministic end-to-end, so the oracle
# replays BOTH generations' sizing in SQL — planes by the occupancy
# rule, tables then probes grown until predicted recall >= 0.9
# (operators/similarity.py: planes_for / lsh_params_for, the md5-plane
# bucketing's THREE pinned integers) — exactly as _ivf_oracle_sql
# replays the IVF lifecycle, plus the accumulated pair set (exact
# all-pairs cosine, the standing total-recall contingency).  Sentinel
# -1 (never NULL) pads the two row kinds so every column keeps one
# non-nullable dtype through both engines' pandas conversion.
_MAINT_MOD = 3  # bootstrap basis = vec_id % 3 == 0; retrain basis adds == 1


def _lsh_sizing_sql(generation: int, where: str) -> str:
    """One (generation, n_planes, n_tables, multiprobe, basis_rows,
    n_segments) row replaying lsh_params_for(n, 0.45, min_multiprobe=4)
    over the corpus ``where`` selects — the same closed-form recall
    model, iterated in SQL over the same L/q candidate ranges (validated
    equal to the Python sizing from gate scale through the cap-binding
    regimes at 1e5..1e7 rows)."""
    return f"""
SELECT CAST({generation} AS BIGINT) AS generation,
       P AS n_planes,
       t AS n_tables,
       CAST(q AS BIGINT) AS multiprobe,
       n AS basis_rows,
       CAST(1 AS BIGINT) AS n_segments,
       CAST(-1 AS BIGINT) AS id_a,
       CAST(-1 AS BIGINT) AS id_b,
       CAST(-1.0 AS DOUBLE) AS cosine
FROM (
  WITH n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings {where}),
  p0 AS (SELECT n, CASE WHEN n <= 512 THEN CAST(4 AS BIGINT)
                        ELSE LEAST(CAST(24 AS BIGINT),
                                   CAST(CEIL(LOG2(n / 32.0)) AS BIGINT)) END AS P
         FROM n0),
  r0 AS (SELECT 1.0 - ACOS(0.45) / PI() AS r),
  t0 AS (SELECT COALESCE(MIN(L), CAST(32 AS BIGINT)) AS t
         FROM range(8, 33) s(L), p0, r0
         WHERE 1.0 - POWER(1.0 - LEAST(POWER(r, P) * (1.0 + 4 * (1.0 - r) / r), 1.0), L) >= 0.9),
  qc0 AS (SELECT CASE WHEN P > 4 THEN LEAST(CAST(8 AS BIGINT), P)
                      ELSE CAST(4 AS BIGINT) END AS cap FROM p0),
  q0 AS (SELECT COALESCE(
           (SELECT MIN(Q) FROM range(4, 9) s(Q), p0, r0, t0, qc0
            WHERE Q <= cap
              AND 1.0 - POWER(1.0 - LEAST(POWER(r, P) * (1.0 + Q * (1.0 - r) / r), 1.0), t) >= 0.9),
           (SELECT cap FROM qc0)) AS q)
  SELECT n, P, t, q FROM p0, t0, q0
)
"""


def _maintained_stream_sql() -> str:
    return f"""
{_lsh_sizing_sql(1, f"WHERE vec_id % {_MAINT_MOD} = 0")}
UNION ALL
{_lsh_sizing_sql(2, f"WHERE vec_id % {_MAINT_MOD} IN (0, 1)")}
UNION ALL
SELECT CAST(-1 AS BIGINT) AS generation,
       CAST(-1 AS BIGINT) AS n_planes,
       CAST(-1 AS BIGINT) AS n_tables,
       CAST(-1 AS BIGINT) AS multiprobe,
       CAST(-1 AS BIGINT) AS basis_rows,
       CAST(-1 AS BIGINT) AS n_segments,
       id_a, id_b, cosine
FROM ({_EMB_STREAM_SQL}) pairs
"""


_MAINT_DDL = (
    "generation BIGINT, n_planes BIGINT, n_tables BIGINT, multiprobe BIGINT,"
    " basis_rows BIGINT, n_segments BIGINT, id_a BIGINT, id_b BIGINT,"
    " cosine DOUBLE"
)


@register("stream_continuous_embedding_dedup_maintained", oracle=_maintained_stream_sql())
def stream_continuous_embedding_dedup_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MAINTAINED twin of stream_continuous_embedding_dedup (round
    15 — the r14 verdict's item 3): same handler, same checkpoint, but
    the stream STOPS when the drift arm flips and production's cued
    maintenance actually runs — lsh_index_build over the accumulated
    corpus publishes generation 2 with planes re-sized to the grown
    basis (the act the no-maintenance gate's measured super-linear
    drift demands, benched cheaper-than-not-acting in
    tools/bench_maintained_stream.py) — then the stream RESUMES on the
    same checkpoint, classifies its next batch against the retrained
    generation, and lands it as gen 2's first append segment.

    Result rows: one sizing row per generation read back from the
    index's {{prefix}}_meta tables (generation, n_planes, n_tables,
    multiprobe, basis_rows, n_segments; pair columns -1), plus the
    accumulated distinct pair set (sizing columns -1).  The oracle
    replays both generations' sizing in SQL from the corpus counts
    (planes_for / lsh_params_for closed form) and the pair set as
    exact all-pairs cosine >= 0.45 — a full hash match proves the
    stop-retrain-resume composition left behind exactly the index a
    fresh build at each basis would have, AND that no pair was lost or
    duplicated across the generation boundary.  Same corpus-contingent
    LSH total-recall contingency as the unmaintained gate.  Scale: the
    retrain is one bounded corpus pass between micro-batches; per
    batch the stream still pays one bucketing pass + co-located probe
    joins, never a corpus rescan."""
    from ..operators.bucketing import (
        index_drop_all,
        index_gen_prefix,
        index_segments,
    )
    from ..operators.similarity import (
        N_PLANES,
        _lsh_index_claim,
        lsh_index_build,
        lsh_index_status,
    )
    from ..sinks import _hadoop_fs
    from ..streaming.dedup import EMB_PAIRS_DDL, continuous_embedding_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    scratch = scratch_dir("sembmaint")
    prefix = f"embmaint_{uuid.uuid4().hex[:8]}"
    try:
        batches = [
            emb.filter(F.pmod("vec_id", F.lit(_MAINT_MOD)) == i)
            for i in range(_MAINT_MOD)
        ]
        in_dir = f"{scratch}/in"
        handler = continuous_embedding_dedup(prefix, f"{scratch}/pairs")
        # phase 1: bootstrap (gen 1, planes sized to batch 0) + one
        # append segment — equal thirds trip the 0.5 drift arm
        stage_stream_dir(batches[:2], in_dir)
        semb = read_file_stream(spark, in_dir, emb.schema)
        run_available_now(semb, f"{scratch}/ckpt", foreach_batch=handler)
        if not lsh_index_status(spark, prefix)["retrain_due"]:
            # loud even under python -O (assert would vanish)
            raise RuntimeError("gate corpus must trip the drift arm")
        # maintenance between micro-batch runs: full rebuild over the
        # accumulated corpus, keeping the stream's own recall floor
        gen = lsh_index_build(
            batches[0].unionByName(batches[1]), prefix,
            threshold=0.45, dim=64, multiprobe=N_PLANES,
        )
        if gen != 2:
            raise RuntimeError(f"retrain must publish generation 2, got {gen}")
        # phase 2: resume on the SAME checkpoint; the next batch rides
        # the retrained generation and lands as its first segment
        stage_stream_dir(batches[2:], in_dir, start=2)
        semb = read_file_stream(spark, in_dir, emb.schema)
        run_available_now(semb, f"{scratch}/ckpt", foreach_batch=handler)
        sizing = [
            (
                g,
                int(m["n_planes"]), int(m["n_tables"]), int(m["multiprobe"]),
                int(m["n_rows"]), len(index_segments(spark, prefix, g)),
                -1, -1, -1.0,
            )
            for g in (1, 2)
            for m in [spark.table(f"{index_gen_prefix(prefix, g)}_meta").head()]
        ]
        pairs = (
            spark.read.schema(EMB_PAIRS_DDL)
            .parquet(f"{scratch}/pairs")
            .distinct()  # at-least-once sink: replays append exact duplicates
            .select(
                F.lit(-1).cast("long").alias("generation"),
                F.lit(-1).cast("long").alias("n_planes"),
                F.lit(-1).cast("long").alias("n_tables"),
                F.lit(-1).cast("long").alias("multiprobe"),
                F.lit(-1).cast("long").alias("basis_rows"),
                F.lit(-1).cast("long").alias("n_segments"),
                "id_a", "id_b", "cosine",
            )
        )
        result = (
            spark.createDataFrame(sizing, _MAINT_DDL)
            .unionByName(pairs)
            .localCheckpoint(eager=True)
        )
    finally:
        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(_lsh_index_claim(warehouse, prefix)), False)
        cleanup(scratch)
    return result


# The STREAM-BUILT IVF index oracle (round 14, the r13 verdict's item 5
# banked for an r15 slot): the continuous ingest loop's construction is
# deterministic end to end — the quantizer freezes at the BOOTSTRAP
# batch (vec_id % 3 = 0), every later batch appends through it — so the
# oracle replays the whole maintained index in SQL exactly like
# _IVF_APPEND_SQL does for the nightly path: centroid choice ranks md5
# over the bootstrap batch ONLY, assignment/probe/scoring run over the
# full corpus (the ingested contents).  A full hash-match proves the
# STREAM left behind the same index a frozen-quantizer build+appends
# would have.
_IVF_INGEST_MOD = 3  # bootstrap batch = vec_id % 3 == 0; appends = the rest
_IVF_INGEST_CELLS = 24
_IVF_INGEST_NPROBE = 8
_IVF_INGEST_Q = 5
_IVF_INGEST_K = 3


def _ivf_ingest_sql() -> str:
    from .similarity import _ivf_oracle_sql

    return _ivf_oracle_sql(
        f"WHERE vec_id % {_IVF_INGEST_MOD} = 0",
        _IVF_INGEST_CELLS, _IVF_INGEST_NPROBE, _IVF_INGEST_Q, _IVF_INGEST_K,
    )


@register("stream_continuous_ivf_ingest", oracle=_ivf_ingest_sql())
def stream_continuous_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS ANN-index INGEST (round 14): the vector-DB ingestion loop
    (streaming/dedup.py:continuous_ivf_ingest) streamed end to end —
    the first micro-batch bootstraps generation 1 (ivf_build; the
    coarse quantizer FREEZES at the bootstrap batch's sizing), every
    later batch classifies itself against the ids sidecar BEFORE any
    mutation (all-new append / crash-after-publish replay skip /
    partial-reuse refusal — the dedup handlers' three-way contract,
    with the segment marker as the only commit point since the index
    IS the product), then lands as the next immutable append segment.
    The gate queries the STREAM-BUILT index from disk with real pruning
    (nprobe=8 of 24 cells) and the oracle replays the whole
    deterministic construction in SQL (centroids from the bootstrap
    batch only — the frozen-quantizer semantics — assignment of the
    full corpus, probe ranking, pruned top-3): the hash match proves
    streaming ingestion equals frozen-quantizer build+appends, at
    driver strength.
    Maintenance (compact mid-stream, retrain, bounded audits ledger)
    is pytest-pinned in tests/test_round13_properties.py and
    tests/test_round14_properties.py.  Same float-seam contingency as
    sim_ivf_index_append (rankings must clear float noise — pinned on
    this corpus for the append gate's identical scoring).  Scale: per
    batch one delta-sized assignment scan + appends touching only the
    receiving cell directories; the corpus is never rescanned."""
    from ..streaming.dedup import continuous_ivf_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    scratch = scratch_dir("sivfingest")
    path = f"{scratch}/idx"
    try:
        batches = [
            emb.filter(F.pmod("vec_id", F.lit(_IVF_INGEST_MOD)) == i)
            for i in range(_IVF_INGEST_MOD)
        ]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        semb = read_file_stream(spark, in_dir, emb.schema)
        run_available_now(
            semb,
            f"{scratch}/ckpt",
            foreach_batch=continuous_ivf_ingest(path, n_cells=_IVF_INGEST_CELLS),
        )
        from ..operators.similarity import ivf_batch_query_persisted

        qrows = (
            emb.filter(F.col("vec_id") < _IVF_INGEST_Q)
            .select(F.col("vec_id").alias("qid"), "embedding")
            .collect()
        )  # bounded: the 5-vector retrieval batch
        queries = [(r["qid"], list(r["embedding"])) for r in qrows]
        result = ivf_batch_query_persisted(
            spark,
            path,
            queries,
            top_k=_IVF_INGEST_K,
            nprobe=_IVF_INGEST_NPROBE,
        ).localCheckpoint(eager=True)
    finally:
        cleanup(scratch)
    return result


# The MAINTAINED IVF ingest stream (round 15 — the IVF twin of
# stream_continuous_embedding_dedup_maintained, completing the
# maintenance matrix AT ORACLE-GATE STRENGTH: retrain-mid-stream for
# both drift-prone indexes is now driver-checkable, not only
# pytest-pinned in tests/test_round14_properties.py): the ingest
# stream bootstraps gen 1 and appends a segment, the append audit
# flips retrain_due, a maintenance job RETRAINS the quantizer over
# the ingested corpus (ivf_retrain_swap -> generation 2, centroids
# re-seeded md5-over-corpus), and the stream resumes on the SAME
# checkpoint with its next batch landing as gen 2's first append
# segment.  The oracle replays the POST-RETRAIN construction in SQL:
# centroids md5-ranked over the retrain corpus (vec_id % 3 <> 2),
# assignment/probe/scoring over the full ingested contents — plus
# one descriptor row (generation, n_cells, basis_rows, total_rows,
# n_segments) whose Spark side is READ FROM DISK via
# ivf_index_attach, so the hash match proves batch 3 really landed
# on generation 2 (a batch wrongly appended to gen 1 would leave
# gen 2 segment-less AND vanish from the scored corpus).  Sentinel
# -1 (never NULL) pads the two row kinds, as in the LSH twin.
_IVF_MAINT_DDL = (
    "generation BIGINT, n_cells BIGINT, basis_rows BIGINT,"
    " total_rows BIGINT, n_segments BIGINT, qid BIGINT, vec_id BIGINT,"
    " cosine DOUBLE"
)


def _ivf_maint_sql() -> str:
    from .similarity import _ivf_oracle_sql

    query_sql = _ivf_oracle_sql(
        f"WHERE vec_id % {_IVF_INGEST_MOD} <> 2",
        _IVF_INGEST_CELLS, _IVF_INGEST_NPROBE, _IVF_INGEST_Q, _IVF_INGEST_K,
    )
    return f"""
SELECT CAST(2 AS BIGINT) AS generation,
       CAST({_IVF_INGEST_CELLS} AS BIGINT) AS n_cells,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
        WHERE vec_id % {_IVF_INGEST_MOD} <> 2) AS basis_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS total_rows,
       CAST(1 AS BIGINT) AS n_segments,
       CAST(-1 AS BIGINT) AS qid,
       CAST(-1 AS BIGINT) AS vec_id,
       CAST(-1.0 AS DOUBLE) AS cosine
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       qid, vec_id, cosine
FROM ({query_sql}) q
"""


@register("stream_continuous_ivf_ingest_maintained", oracle=_ivf_maint_sql())
def stream_continuous_ivf_ingest_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MAINTAINED twin of stream_continuous_ivf_ingest (round 15):
    same handler, same checkpoint, but when the append audit flips
    retrain_due the cued maintenance actually RUNS — ivf_retrain_swap
    re-seeds the coarse quantizer over the ingested corpus and
    publishes generation 2 — then the stream resumes and its next
    batch classifies against, and appends to, the retrained
    generation.  With stream_continuous_embedding_dedup_maintained
    this lifts the r14 retrain-mid-stream pytest pins
    (tests/test_round14_properties.py) to driver oracle strength for
    BOTH drift-prone indexes.

    Result rows: one descriptor row read back from the index on disk
    via ivf_index_attach (generation, n_cells, basis_rows=meta n_base,
    total_rows, n_segments; query columns -1) plus the pruned top-k
    retrieval batch over the final index (descriptor columns -1).
    The oracle replays the post-retrain construction in SQL
    (_ivf_oracle_sql with the retrain corpus as the centroid basis)
    and predicts the descriptor from the corpus counts — a full hash
    match proves the stop-retrain-resume composition left behind
    exactly the index a frozen-quantizer rebuild-plus-append would
    have.  Same float-seam contingency as sim_ivf_index_append.
    Scale: the retrain is one bounded corpus pass between
    micro-batches (measured cheaper than the unmaintained drift in
    BENCH_SF1.md r14 for the LSH twin; the IVF retrain is the same
    shape); per batch the stream still pays one delta-sized
    assignment scan + cell-local appends, never a corpus rescan."""
    from ..operators.similarity import (
        ivf_batch_query_persisted,
        ivf_index_attach,
        ivf_retrain_swap,
    )
    from ..streaming.dedup import continuous_ivf_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    scratch = scratch_dir("sivfmaint")
    path = f"{scratch}/idx"
    try:
        batches = [
            emb.filter(F.pmod("vec_id", F.lit(_IVF_INGEST_MOD)) == i)
            for i in range(_IVF_INGEST_MOD)
        ]
        in_dir = f"{scratch}/in"
        handler = continuous_ivf_ingest(path, n_cells=_IVF_INGEST_CELLS)
        # phase 1: bootstrap (gen 1, quantizer frozen at batch 0) +
        # one append segment — an equal-sized append trips the arm
        stage_stream_dir(batches[:2], in_dir)
        semb = read_file_stream(spark, in_dir, emb.schema)
        run_available_now(semb, f"{scratch}/ckpt", foreach_batch=handler)
        if not handler.audits[-1]["retrain_due"]:
            # loud even under python -O (assert would vanish)
            raise RuntimeError("gate corpus must trip the drift arm")
        # maintenance between micro-batch runs: the act the trigger
        # cues — quantizer re-seeded over everything ingested so far
        gen = ivf_retrain_swap(
            spark, path, batches[0].unionByName(batches[1]),
            n_cells=_IVF_INGEST_CELLS,
        )
        if gen != 2:
            raise RuntimeError(f"retrain must publish generation 2, got {gen}")
        # phase 2: resume on the SAME checkpoint; the next batch rides
        # the retrained generation and lands as its first segment
        stage_stream_dir(batches[2:], in_dir, start=2)
        semb = read_file_stream(spark, in_dir, emb.schema)
        run_available_now(semb, f"{scratch}/ckpt", foreach_batch=handler)
        desc = ivf_index_attach(spark, path)
        qrows = (
            emb.filter(F.col("vec_id") < _IVF_INGEST_Q)
            .select(F.col("vec_id").alias("qid"), "embedding")
            .collect()
        )  # bounded: the 5-vector retrieval batch
        queries = [(r["qid"], list(r["embedding"])) for r in qrows]
        knn = ivf_batch_query_persisted(
            spark, path, queries,
            top_k=_IVF_INGEST_K, nprobe=_IVF_INGEST_NPROBE,
        ).select(
            F.lit(-1).cast("long").alias("generation"),
            F.lit(-1).cast("long").alias("n_cells"),
            F.lit(-1).cast("long").alias("basis_rows"),
            F.lit(-1).cast("long").alias("total_rows"),
            F.lit(-1).cast("long").alias("n_segments"),
            "qid", "vec_id", "cosine",
        )
        head = spark.createDataFrame(
            [(
                int(desc["generation"]), int(desc["n_cells"]),
                int(desc["n_base"]), int(desc["total_rows"]),
                len(desc["segments"]), -1, -1, -1.0,
            )],
            _IVF_MAINT_DDL,
        )
        result = head.unionByName(knn).localCheckpoint(eager=True)
    finally:
        cleanup(scratch)
    return result


_STATIC_JOIN_SQL = """
SELECT n.n_name,
       COUNT(*) AS n_events,
       CAST(SUM(e.event_id) AS BIGINT) AS id_checksum
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY n.n_name
"""


@register("stream_static_join_enrich", oracle=_STATIC_JOIN_SQL)
def stream_static_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the dimension-lookup pattern every
    streaming pipeline needs: a REAL file stream of events (2 micro-batches)
    joins the static nation dim per micro-batch (broadcast by size), results
    drain through availableNow into a memory sink.  Keys are synthetic
    (user_id mod 25 -> nationkey) since events carries no FK; the oracle is
    the identical batch join-aggregate."""
    ev = load_table(spark, sf_dir, "events")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    scratch = scratch_dir("sjoin")
    try:
        batches = [ev.filter(F.pmod("event_id", F.lit(2)) == i) for i in range(2)]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, ev.schema)
        enriched = sev.join(
            F.broadcast(nation), F.pmod("user_id", F.lit(25)) == F.col("n_nationkey")
        )
        agg = enriched.groupBy("n_name").agg(
            F.count("*").alias("n_events"),
            F.sum("event_id").alias("id_checksum"),
        )
        name = f"sj_{uuid.uuid4().hex[:8]}"
        run_available_now(agg, f"{scratch}/ckpt", query_name=name, output_mode="complete")
        result = spark.table(name).localCheckpoint(eager=True)
    finally:
        cleanup(scratch)
    return result


_LATE_SQL = """
WITH bounds AS (SELECT min(ts) AS t0, max(ts) AS tmax FROM events),
l AS (SELECT event_id FROM events, bounds
      WHERE ts < t0 + INTERVAL 5 DAY AND event_id % 7 = 0),
kept AS (SELECT e.* FROM events e
         WHERE e.event_id NOT IN (SELECT event_id FROM l)),
agg AS (SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS window_start_us,
               COUNT(*) AS n,
               CAST(SUM(event_id) AS BIGINT) AS id_checksum
        FROM kept GROUP BY 1)
SELECT window_start_us, n, id_checksum
FROM agg, bounds
WHERE window_start_us + 86400000000 <= epoch_us(tmax) - 172800000000
"""


@register("stream_watermark_late_drop", oracle=_LATE_SQL)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics, end to end on a real stream: daily
    tumbling counts with a 2-day watermark over three ordered micro-batches
    where a slice of the oldest events (first 5 days, event_id % 7 == 0) is
    HELD BACK and delivered in batch 3 — by then the committed watermark
    (max event time of batch 2 minus 2 days, ~day 18) has passed their
    windows (ends <= day 6), so structured streaming must DROP every one
    of them.  Append mode additionally withholds windows the final
    watermark (max ts - 2 days) hasn't passed.

    Empirically pinned subtlety (this Spark version): late-row filtering
    uses the watermark COMMITTED AS OF THE PREVIOUS batch — one batch of
    lag — so a row delivered in the batch right after its window was
    passed still lands (and resurrects evicted state!).  Delivering the
    late slice two batches on puts it firmly behind the lagged filter;
    the gate's droppedByWatermark therefore covers exactly the held-back
    slice.

    The oracle reproduces the whole contract analytically: counts over
    events MINUS the held-back slice, restricted to windows whose end is
    at or before the final watermark.  Every boundary sits days away from
    the nearest midnight window edge, so no comparison is within tie
    range — the gate is exact, and a regression in late-row dropping,
    watermark advancement, or append emission flips the hash."""
    import datetime as _dt

    ev = load_table(spark, sf_dir, "events")
    t0, tmax = ev.agg(F.min("ts"), F.max("ts")).collect()[0]  # bounded: 1 row
    d5 = t0 + _dt.timedelta(days=5)
    d10 = t0 + _dt.timedelta(days=10)
    d20 = t0 + _dt.timedelta(days=20)
    is_late_slice = (F.col("ts") < F.lit(d5)) & (F.col("event_id") % 7 == 0)
    b1 = ev.filter((F.col("ts") < F.lit(d10)) & ~is_late_slice)
    b2 = ev.filter((F.col("ts") >= F.lit(d10)) & (F.col("ts") < F.lit(d20)))
    b3 = ev.filter((F.col("ts") >= F.lit(d20)) | is_late_slice)
    scratch = scratch_dir("wmlate")
    try:
        in_dir = stage_stream_dir([b1, b2, b3], f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, ev.schema)
        agg = (
            sev.withWatermark("ts", "2 days")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count("*").alias("n"), F.sum("event_id").alias("id_checksum"))
        )
        name = f"wm_{uuid.uuid4().hex[:8]}"
        run_available_now(
            agg, f"{scratch}/ckpt", query_name=name, output_mode="append"
        )
        final = (
            spark.table(name)
            .select(
                F.unix_micros(F.col("w.start")).alias("window_start_us"),
                "n",
                "id_checksum",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup(scratch)
    return final


_SS_JOIN_SQL = """
SELECT e.user_id,
       e.event_id AS error_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(e.ts) AS dt_us
FROM events e JOIN events p
  ON p.user_id = e.user_id
 AND p.ts BETWEEN e.ts AND e.ts + INTERVAL 1 HOUR
WHERE e.event_type = 'error' AND p.event_type = 'purchase'
"""


@register("stream_stream_interval_join", oracle=_SS_JOIN_SQL)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (the last join mode on the streaming
    checklist: batch/broadcast/stream-static are gated elsewhere): errors
    joined to purchases by the same user within the following hour, both
    sides REAL file streams drained with availableNow.  Each side is
    staged in two time-ordered batches, so matches span micro-batch
    boundaries and the join's state store does real cross-batch work.

    Watermarks bound the state (purchases held 1h + delay past the error
    watermark), chosen WIDER than any batch skew here (2 days) so no
    match is ever evicted early — the inner-join output is then exactly
    the batch interval join, which is the oracle.  At scale the same
    query with a tight watermark trades completeness for bounded state —
    that policy knob, not the join machinery, is the only difference."""
    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(F.percentile_approx("ts", 0.5, 1000)).collect()[0][0]  # 1 row
    errors = ev.filter(F.col("event_type") == "error")
    purchases = ev.filter(F.col("event_type") == "purchase")
    scratch = scratch_dir("ssjoin")
    try:
        e_dir = stage_stream_dir(
            [errors.filter(F.col("ts") < F.lit(mid)), errors.filter(F.col("ts") >= F.lit(mid))],
            f"{scratch}/err",
        )
        p_dir = stage_stream_dir(
            [purchases.filter(F.col("ts") < F.lit(mid)), purchases.filter(F.col("ts") >= F.lit(mid))],
            f"{scratch}/pur",
        )
        se = (
            read_file_stream(spark, e_dir, ev.schema)
            .withWatermark("ts", "2 days")
            .select(
                F.col("user_id").alias("e_user"),
                F.col("event_id").alias("error_id"),
                F.col("ts").alias("e_ts"),
            )
        )
        sp = (
            read_file_stream(spark, p_dir, ev.schema)
            .withWatermark("ts", "2 days")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
        )
        joined = se.join(
            sp,
            (F.col("p_user") == F.col("e_user"))
            & (F.col("p_ts") >= F.col("e_ts"))
            & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        name = f"ss_{uuid.uuid4().hex[:8]}"
        run_available_now(
            joined, f"{scratch}/ckpt", query_name=name, output_mode="append"
        )
        final = (
            spark.table(name)
            .select(
                F.col("e_user").alias("user_id"),
                "error_id",
                "purchase_id",
                (F.unix_micros("p_ts") - F.unix_micros("e_ts")).alias("dt_us"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup(scratch)
    return final


from .storage import _SCD_LATEST_SQL


# Oracle = the batch latest-per-key (identical contract to
# storage_scd_latest_version): incremental streaming MERGE must converge
# to the full recompute.
@register("stream_foreachbatch_upsert", oracle=_SCD_LATEST_SQL)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE (round 5): the events stream drains in 3 real
    micro-batches and ``foreachBatch`` upserts each into a parquet lake
    table — collapse the batch to latest-per-(user_id, event_type), merge
    with the table's current state, commit via ``sinks.replace_table``
    (write-new-then-swap, the audited rewrite helper).  The final table
    must equal the BATCH latest-per-key over all events: the (ts,
    event_id) total order makes the pairwise merge associative, so
    incremental maintenance == full recompute — exactly the Delta-style
    `foreachBatch` + MERGE pattern Structured Streaming docs prescribe
    when the sink is a plain lake table.

    At 100 TB the per-batch cost is the batch size plus the touched
    partitions' rewrite (replace_partitions on a date-partitioned table),
    never a full-table scan; state lives IN the table, so no state store
    grows without bound."""
    import os

    from pyspark.sql import Window

    from ..sinks import replace_table

    ev = load_table(spark, sf_dir, "events")
    scratch = scratch_dir("fbupsert")
    table = f"{scratch}/table"
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def collapse(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "event_id", "ts", "value")
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        fresh = collapse(batch_df)
        if os.path.exists(table):
            cur = spark.read.parquet(table)
            replace_table(collapse(cur.unionByName(fresh)), table)
        else:
            fresh.write.parquet(table)

    try:
        batches = [ev.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, ev.schema)
        run_available_now(sev, f"{scratch}/ckpt", foreach_batch=merge)
        result = (
            spark.read.parquet(table)
            .select(
                "user_id",
                "event_type",
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "value",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup(scratch)
    return result


_RECOVERY_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY event_type
"""


@register("stream_checkpoint_recovery", oracle=_RECOVERY_SQL)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint recovery / exactly-once restart (round 5): the stream
    runs TWICE against the SAME checkpoint — first draining two staged
    micro-batch files into an append-only parquet sink, then again after
    a third file lands.  The second run must resume from the checkpoint
    and process ONLY the new file: if restart semantics were broken the
    first two batches would append twice and every count below would be
    double the batch oracle.  This is the operational property that
    makes a nightly-restarted 100 TB ingest pipeline idempotent — the
    checkpoint's file-source log, not the job's uptime, defines
    progress."""
    import os
    import shutil

    ev = load_table(spark, sf_dir, "events")
    scratch = scratch_dir("ckptrec")
    out = f"{scratch}/out"
    ckpt = f"{scratch}/ckpt"
    in_dir = f"{scratch}/in"

    def append_sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    def stage_one(df: DataFrame, idx: int) -> None:
        tmp = f"{in_dir}/_stage{idx}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        final = f"{in_dir}/batch{idx:04d}.parquet"
        shutil.move(os.path.join(tmp, part), final)
        shutil.rmtree(tmp)
        os.utime(final, (1_700_000_000 + idx * 60, 1_700_000_000 + idx * 60))

    try:
        batches = [ev.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)]
        os.makedirs(in_dir, exist_ok=True)
        stage_one(batches[0], 0)
        stage_one(batches[1], 1)
        stream = read_file_stream(spark, in_dir, ev.schema)
        run_available_now(stream, ckpt, foreach_batch=append_sink)
        # late file lands; RESTART from the same checkpoint
        stage_one(batches[2], 2)
        stream2 = read_file_stream(spark, in_dir, ev.schema)
        run_available_now(stream2, ckpt, foreach_batch=append_sink)
        result = (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "total_cents"
                ),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup(scratch)
    return result


# ---------------------------------------------------------------------------
# round 6: incremental heavy hitters (summary-per-micro-batch)
# ---------------------------------------------------------------------------

_STREAM_FREQ_SQL = """
SELECT event_type AS item, COUNT(*) AS est_count, CAST(0 AS BIGINT) AS err_ub
FROM events GROUP BY event_type ORDER BY est_count DESC, item LIMIT 5
"""


@register("stream_freq_items_incremental", oracle=_STREAM_FREQ_SQL)
def stream_freq_items_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental STREAMING heavy hitters (round 6): events arrive in
    3 real micro-batches; each batch persists its own Misra–Gries
    summary under batch=<id> (idempotent under at-least-once replay —
    a replayed batch overwrites its own summary instead of
    double-counting), and the corpus sketch is reconstructed by the
    mergeable-summaries merge at read time.  State is
    O(batches x capacity) rows — no raw row is ever revisited, which
    is the property that makes the sketch streamable at all.

    Capacity 16 over the 5-value event_type domain = the sketch's
    EXACT regime, so the merged counts equal the batch groupBy and the
    plain-SQL oracle hash-matches (the same oracle-split discipline as
    sketch_freq_items_brand; lossy-regime streaming behavior rides on
    the same merge_summaries path pinned in tests/test_frequency.py)."""
    from ..streaming.frequency import incremental_freq_items, read_merged_freq_items

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    scratch = scratch_dir("sfreq")
    try:
        batches = [ev.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, ev.schema)
        run_available_now(
            sev,
            f"{scratch}/ckpt",
            foreach_batch=incremental_freq_items(
                f"{scratch}/state", "event_type", 16
            ),
        )
        merged = read_merged_freq_items(spark, f"{scratch}/state", 16)
        result = (
            merged.orderBy(F.col("est_count").desc(), F.col("item"))
            .limit(5)
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup(scratch)
    return result


# -- round 8: streaming last-touch attribution -------------------------------


@register("stream_attribution_last_touch", oracle=_ATTRIB_STREAM_SQL)
def stream_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING last-touch attribution across 3 event-time-ordered
    micro-batches (round 8) — the real-time twin of
    rel_events_attribution.  Per-user state is one (last_click_ts, id)
    pair: CONSTANT state per user where a stream-stream interval join
    holds every click inside the horizon — this is the state-store
    shape to reach for when the semantics is 'latest preceding', not
    'all within range'.  Each purchase is emitted exactly once, in its
    arrival batch; with time-ordered arrival the union of emissions
    equals the batch window form row for row — so the batch SQL IS the
    oracle, the same deterministic-final-state argument as the stateful
    totals and request-loop gates, and the pytest differential
    (tests/test_streaming.py) asserts it against the batch gate too."""
    from ..streaming.stateful import attribution_stream

    ev = load_table(spark, sf_dir, "events")
    scratch = scratch_dir("attrib")
    try:
        # event-time-ordered thirds from the ACTUAL ts range (a
        # dayofmonth split would interleave batches the moment the
        # table spanned a month boundary, silently breaking the
        # ordered-arrival contract the state correctness rests on)
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
        span = hi - lo
        c1 = F.lit(lo + span / 3)
        c2 = F.lit(lo + 2 * span / 3)
        batches = [
            ev.filter(F.col("ts") < c1),
            ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
            ev.filter(F.col("ts") >= c2),
        ]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, ev.schema)
        name = f"attrib_{uuid.uuid4().hex[:8]}"
        run_available_now(
            attribution_stream(sev), f"{scratch}/ckpt", query_name=name
        )
        result = spark.table(name).localCheckpoint(eager=True)
    finally:
        cleanup(scratch)
    return result
