"""Streaming tests: the window builders and the stateful operator run over
a REAL file stream (2-3 micro-batches via maxFilesPerTrigger=1) and must
produce exactly the batch-mode result — batch mode being the path the
DuckDB oracle gate hash-checks (queries/streaming.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from distributed_graph_db_c_spark.sources.tables import load_table
from distributed_graph_db_c_spark.streaming.sources import (
    cleanup,
    read_file_stream,
    run_available_now,
    scratch_dir,
    stage_stream_dir,
)
from distributed_graph_db_c_spark.streaming.stateful import user_running_totals
from distributed_graph_db_c_spark.streaming.windows import (
    session_stats,
    sliding_counts,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events")


def _stream_result(spark, events, builder, label, n_batches=2, output_mode="complete"):
    scratch = scratch_dir(f"test-{label}")
    try:
        batches = [
            events.filter(F.pmod("event_id", F.lit(n_batches)) == i)
            for i in range(n_batches)
        ]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, events.schema)
        name = f"t_{label.replace('-', '_')}"
        run_available_now(
            builder(sev), f"{scratch}/ckpt", query_name=name, output_mode=output_mode
        )
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        cleanup(scratch)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, events):
    got = _stream_result(spark, events, tumbling_counts, "tumble")
    assert _rows(got) == _rows(tumbling_counts(events))


def test_sliding_stream_equals_batch(spark, events):
    got = _stream_result(spark, events, sliding_counts, "slide")
    assert _rows(got) == _rows(sliding_counts(events))


def test_session_stream_equals_batch(spark, events):
    # Session windows must merge across micro-batches: split round-robin so
    # nearly every session has events in both batches.
    got = _stream_result(spark, events, session_stats, "session")
    assert _rows(got) == _rows(session_stats(events))


def test_stateful_totals_accumulate_across_batches(spark, events):
    # Update-mode emissions accumulate; final (max) per user == batch agg.
    upd = _stream_result(
        spark, events, user_running_totals, "stateful", n_batches=3, output_mode="update"
    )
    final = upd.groupBy("user_id").agg(
        F.max("n_events").alias("n"), F.max("total_cents").alias("cents")
    )
    expected = events.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    assert _rows(final) == _rows(expected)
    # and updates genuinely spanned batches: some user must have emitted
    # more than one cumulative row
    multi = upd.groupBy("user_id").count().filter(F.col("count") > 1).count()
    assert multi > 0


def test_stream_dedup_late_replay_stays_exactly_once(spark, events):
    """dropDuplicatesWithinWatermark's two drop reasons compose to
    exactly-once: a replay INSIDE the watermark is dropped as a duplicate;
    a replay arriving AFTER the watermark passed its event time is dropped
    as late (state already reclaimed) — never re-emitted."""
    from datetime import datetime

    from distributed_graph_db_c_spark.streaming.dedup import exact_dedup_stream

    schema = "event_id long, ts timestamp, k string"
    day = lambda n: datetime(2024, 1, 1 + n)
    b0 = spark.createDataFrame([(1, day(0), "A"), (2, day(0), "B")], schema)
    b1 = spark.createDataFrame([(2, day(0), "B-replay"), (3, day(10), "C")], schema)
    b2 = spark.createDataFrame([(1, day(0), "A-late-replay"), (4, day(10), "D")], schema)
    scratch = scratch_dir("test-sdedup-late")
    try:
        in_dir = stage_stream_dir([b0, b1, b2], f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, b0.schema)
        run_available_now(
            exact_dedup_stream(sev, watermark="1 day"),
            f"{scratch}/ckpt",
            query_name="t_sdedup_late",
            output_mode="append",
        )
        got = sorted(
            (r["event_id"], r["k"]) for r in spark.table("t_sdedup_late").collect()
        )
    finally:
        cleanup(scratch)
    # each event_id exactly once, always the FIRST arrival's payload
    assert got == [(1, "A"), (2, "B"), (3, "C"), (4, "D")]


def test_request_server_online_loop(spark):
    """The long-running interactive server (processingTime trigger): submit
    op-1 add + op-4 BFS while the query stays up, read the reply by seq
    (mtype=1000*seq correlation), then op-2 modify + op-4 again — the
    second reply must reflect the replaced graph."""
    from distributed_graph_db_c_spark.catalog import GraphCatalog
    from distributed_graph_db_c_spark.streaming.requests import RequestServer

    scratch = scratch_dir("test-reqserver")
    server = None
    try:
        cat = GraphCatalog(spark, f"{scratch}/catalog")
        server = RequestServer(spark, cat, f"{scratch}/server")

        # chain 1-2-3 (edges stored one direction; dispatcher symmetrizes)
        server.submit(
            [
                (1, 1, 5, [1, 2, 3], [(1, 2), (2, 3)], None),
                (2, 4, 5, None, None, 1),  # BFS from 1
            ]
        )
        r1 = {
            row["id"]: row["level"]
            for row in server.await_reply(2).collect()
        }
        assert r1 == {1: 0, 2: 1, 3: 2}
        assert server.query.isActive  # still serving

        # op 2: full replace with star 1-2, 1-3, 1-4; BFS again
        server.submit(
            [
                (3, 2, 5, [1, 2, 3, 4], [(1, 2), (1, 3), (1, 4)], None),
                (4, 4, 5, None, None, 1),
            ]
        )
        r2 = {
            row["id"]: row["level"]
            for row in server.await_reply(4).collect()
        }
        assert r2 == {1: 0, 2: 1, 3: 1, 4: 1}
        assert server.query.isActive
        # first reply still addressable after the second completed
        assert len(server.await_reply(2).collect()) == 3

        # op 3 (DFS leaf report) against the live star graph: leaves are
        # the spokes, the non-isolated start excluded
        server.submit([(5, 3, 5, None, None, 1)])
        r3 = {row["id"] for row in server.await_reply(5).collect()}
        assert r3 == {2, 3, 4}
    finally:
        if server is not None:
            server.stop()
        cleanup(scratch)


def test_request_server_restart_serves_new_requests(spark, tmp_path):
    """A server restarted on the same root (same checkpoint) serves a
    request submitted after the restart: the new request file must not
    reuse a name the checkpoint has already seen."""
    from distributed_graph_db_c_spark.catalog import GraphCatalog
    from distributed_graph_db_c_spark.streaming.requests import RequestServer

    cat = GraphCatalog(spark, str(tmp_path / "catalog"))
    root = str(tmp_path / "server")
    server = RequestServer(spark, cat, root)
    try:
        server.submit([(1, 1, 5, [1, 2, 3], [(1, 2), (2, 3)], None), (2, 4, 5, None, None, 1)])
        assert len(server.await_reply(2).collect()) == 3
    finally:
        server.stop()

    server = RequestServer(spark, cat, root)
    try:
        server.submit([(3, 4, 5, None, None, 3)])
        got = {row["id"]: row["level"] for row in server.await_reply(3, 30).collect()}
    finally:
        server.stop()
    assert got == {3: 0, 2: 1, 1: 2}
    assert len(list((tmp_path / "server" / "in").glob("*.parquet"))) == 2


def test_incremental_minhash_equals_batch(spark):
    """The streaming LSH index must find EXACTLY the batch operator's
    pairs regardless of batch boundaries, and a replayed (duplicate)
    micro-batch must not change the distinct pair set (at-least-once
    sink + deterministic values)."""
    from distributed_graph_db_c_spark.operators.dedup import minhash_dedup_pairs
    from distributed_graph_db_c_spark.streaming.dedup import (
        PAIRS_DDL,
        incremental_minhash_dedup,
    )

    docs = load_table(spark, SF_DIR, "documents")
    expected = _rows(minhash_dedup_pairs(docs, threshold=0.8))
    assert expected, "gate corpus must contain near-dup pairs"

    scratch = scratch_dir("test-sminhash")
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
        got = _rows(
            spark.read.schema(PAIRS_DDL).parquet(f"{scratch}/pairs").distinct()
        )
        assert got == expected

        # replay batch 1 by hand (the retry scenario): appended rows are
        # exact duplicates, so the distinct set is unchanged
        handler = incremental_minhash_dedup(f"{scratch}/index", f"{scratch}/pairs")
        handler(batches[1], 99)
        replayed = _rows(
            spark.read.schema(PAIRS_DDL).parquet(f"{scratch}/pairs").distinct()
        )
        assert replayed == expected
    finally:
        cleanup(scratch)


def test_continuous_index_dedup_equals_batch_and_converges_with_nightly(spark):
    """The DURABLE-index streaming form (continuous_index_dedup): the
    accumulated distinct pair set must equal the batch operator's over
    the whole corpus; the stream must leave the engine's real
    generation/segment index behind (bootstrap build + one append
    segment per later batch, retrain ledger live); a replayed batch —
    BOTH the crash-before-publish and crash-after-publish shapes — must
    not change the distinct set; and a NIGHTLY batch must be able to
    screen against the stream-built index directly (one index, two
    cadences)."""
    from distributed_graph_db_c_spark.operators.bucketing import index_drop_all
    from distributed_graph_db_c_spark.operators.dedup import (
        _index_claim,
        incremental_dedup_pairs,
        minhash_dedup_pairs,
        minhash_index_status,
    )
    from distributed_graph_db_c_spark.sinks import _hadoop_fs
    from distributed_graph_db_c_spark.streaming.dedup import (
        PAIRS_DDL,
        continuous_index_dedup,
    )

    docs = load_table(spark, SF_DIR, "documents")
    expected = _rows(minhash_dedup_pairs(docs, threshold=0.8))
    assert expected, "gate corpus must contain near-dup pairs"

    prefix = "contdedup_t"
    index_drop_all(spark, prefix, ("_bands", "_shingles"))
    scratch = scratch_dir("test-contdedup")
    try:
        batches = [docs.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sdocs = read_file_stream(spark, in_dir, docs.schema)
        run_available_now(
            sdocs,
            f"{scratch}/ckpt",
            foreach_batch=continuous_index_dedup(prefix, f"{scratch}/pairs"),
        )
        got = _rows(
            spark.read.schema(PAIRS_DDL).parquet(f"{scratch}/pairs").distinct()
        )
        assert got == expected
        # the stream left the REAL index: generation 1 (batch 0's
        # bootstrap) + 2 append segments (batches 1, 2), ledger live
        st = minhash_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (1, [1, 2])
        assert st["base_rows"] + st["appended_rows"] == docs.count()

        # crash-AFTER-publish replay: batch 1 is fully committed (its
        # segment published); the up-front classification sees every id
        # indexed, rewrites exact-duplicate rows, skips the append
        handler = continuous_index_dedup(prefix, f"{scratch}/pairs")
        handler(batches[1], 99)
        assert minhash_index_status(spark, prefix)["segments"] == [1, 2]
        assert _rows(
            spark.read.schema(PAIRS_DDL).parquet(f"{scratch}/pairs").distinct()
        ) == expected

        # PARTIAL id overlap is NOT a replay — it is id reuse across
        # batches and must stay loud (the replay swallow verifies the
        # overlap is total before treating the refusal as benign)
        mixed = batches[1].select("doc_id", "text").limit(3).unionByName(
            docs.select((F.col("doc_id") + 9_000_000).alias("doc_id"), "text")
            .limit(2)
        )
        with pytest.raises(ValueError, match="id REUSE"):
            handler(mixed, 100)
        assert minhash_index_status(spark, prefix)["segments"] == [1, 2]
        # ADVICE r13: the refusal must land BEFORE the pairs write — the
        # mixed batch's 2 genuinely-new near-dup docs would pair against
        # the index, and those rows duplicate NO committed rows, so had
        # they been written distinct() could never remove them and the
        # accumulated set would diverge from the oracle permanently
        assert _rows(
            spark.read.schema(PAIRS_DDL).parquet(f"{scratch}/pairs").distinct()
        ) == expected

        # one index, two cadences: the nightly batch job screens a new
        # delta against the STREAM-built index state directly
        night = docs.filter(F.pmod("doc_id", F.lit(3)) == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        pairs = incremental_dedup_pairs(night, prefix, threshold=0.8)
        assert pairs.count() > 0  # shifted copies pair with originals at 1.0
    finally:
        index_drop_all(spark, prefix, ("_bands", "_shingles"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(_index_claim(warehouse, prefix)), False)
        cleanup(scratch)


def test_watermark_late_filter_lags_one_batch(spark, tmp_path):
    """Pins the empirical late-data contract stream_watermark_late_drop
    depends on: the late filter uses the watermark committed as of the
    PREVIOUS batch, so a late row one batch after its window was passed
    still lands (resurrecting evicted state), while a late row TWO
    batches on is dropped.  If a Spark upgrade tightens this to same-
    batch filtering, this test fails and the gate's batch layout (late
    slice in batch 3) still holds — but the docstring should be updated."""
    import datetime as dt

    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from distributed_graph_db_c_spark.streaming.sources import (
        cleanup,
        run_available_now,
        scratch_dir,
        stage_stream_dir,
    )

    schema = StructType(
        [StructField("ts", TimestampType()), StructField("v", LongType())]
    )
    T = dt.datetime(2024, 1, 1)
    m = lambda mins: T + dt.timedelta(minutes=mins)  # noqa: E731
    mk = lambda rows: spark.createDataFrame(rows, schema)  # noqa: E731
    scratch = scratch_dir("wmlag")
    try:
        batches = [
            mk([(m(100), 1), (m(101), 2)]),
            mk([(m(102), 3)]),
            mk([(T, 10), (m(200), 4)]),  # T's window passed 2 batches ago
        ]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sev = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        agg = (
            sev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.sum("v").alias("s"))
        )
        run_available_now(
            agg, f"{scratch}/ckpt", query_name="wmlag", output_mode="append"
        )
        rows = {r["w"]["start"]: r["s"] for r in spark.table("wmlag").collect()}
        # the late row at T was dropped: its window never appears
        assert T not in rows, rows
        # the on-time rows all aggregated into the 01:40 window
        assert rows[m(100)] == 1 + 2 + 3
    finally:
        cleanup(scratch)


def _spark_jobs(spark, group: str, fn) -> int:
    """Run ``fn()`` under job group ``group``; return how many Spark jobs it
    submitted (counted once the listener bus has drained)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _reply_oracle(n: int, edges: list[tuple[int, int]], op: int, start: int | None) -> set:
    """Pure-Python reply of one read: BFS ``(id, level)`` pairs, or the DFS
    leaf set (degree <= 1, a non-isolated start excluded) with no level.
    ``n = 0`` is a graph that does not exist."""
    from collections import deque

    adj: dict[int, set[int]] = {v: set() for v in range(1, n + 1)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    if start not in adj:
        # Today's replies for a missing graph, a start outside the graph or
        # no start: BFS gives (start, 0), DFS gives {start}.  ROADMAP item 3
        # replaces them with not_found / bad_start statuses.
        return {(start, 0)} if op == 4 else {(start, None)}
    level = {start: 0}
    queue = deque([start])
    while queue:
        v = queue.popleft()
        for w in adj[v]:
            if w not in level:
                level[w] = level[v] + 1
                queue.append(w)
    if op == 4:
        return set(level.items())
    return {(v, None) for v in level if len(adj[v]) <= 1 and not (v == start and adj[v])}


def test_dispatch_mixed_batch_matches_oracle(spark, tmp_path, monkeypatch):
    """One mixed micro-batch over a seeded fleet: every read's reply rows
    equal the pure-Python oracle, including the edge cases of today's
    reply contract.  The batch's writes are folded into one ``put`` call
    that keeps the last write (in seq order) per graph, and the whole
    dispatch runs one Spark job: the collect of the batch."""
    import random

    from distributed_graph_db_c_spark.catalog import GraphCatalog
    from distributed_graph_db_c_spark.schemas import GRAPH_EDGES_SCHEMA, GRAPH_VERTICES_SCHEMA
    from distributed_graph_db_c_spark.streaming.requests import (
        REQUEST_SCHEMA,
        RESULT_SCHEMA,
        dispatch_requests,
    )

    rng = random.Random(11)
    fleet: dict[int, tuple[int, list[tuple[int, int]]]] = {
        1: (3, []),  # edgeless
        2: (1, []),  # single vertex
        3: (3, [(1, 2), (2, 3), (1, 3)]),  # triangle: no leaf anywhere
    }
    for gid in range(4, 10):
        n = rng.randint(2, 30)
        p = rng.choice((0.08, 0.2))
        pairs = [(a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1)]
        fleet[gid] = (n, [e for e in pairs if rng.random() < p])
    cat = GraphCatalog(spark, str(tmp_path / "catalog"))
    cat.put_all(
        spark.createDataFrame(
            [(g, x, y) for g, (_, es) in fleet.items() for a, b in es for x, y in ((a, b), (b, a))],
            GRAPH_EDGES_SCHEMA,
        ),
        spark.createDataFrame(
            [(g, v) for g, (n, _) in fleet.items() for v in range(1, n + 1)], GRAPH_VERTICES_SCHEMA
        ),
    )

    replaced = (4, [(1, 2), (2, 3), (3, 4)])  # graph 9 becomes a 4-path
    reads = [(gid, 4, 1) for gid in range(1, 10)] + [(gid, 3, 1) for gid in range(1, 10)]
    reads += [
        (5, 4, fleet[5][0]),  # a second and third request on graph 5
        (5, 3, fleet[5][0]),
        (99, 4, 2),  # missing graph
        (99, 3, 2),
        (4, 4, 40),  # start outside the graph
        (4, 3, 40),
        (6, 4, None),  # no start vertex at all
        (6, 3, None),
    ]
    added = (5, [(1, 5), (2, 5)])  # graph 10 is new
    rows = [(seq, op, gid, None, None, start) for seq, (gid, op, start) in enumerate(reads, 1)]
    # an earlier write to graph 9, which the modify after it overrides
    rows.append((0, 1, 9, [1, 2, 3], [(1, 3)], None))
    write_seq = len(rows) + 1
    rows.append((write_seq, 2, 9, list(range(1, 5)), replaced[1], None))
    rows.append((write_seq + 1, 4, 9, None, None, 4))  # reads the write before it
    rows.append((write_seq + 2, 3, 9, None, None, 2))
    rows.append((write_seq + 3, 1, 10, list(range(1, 6)), added[1], None))
    rows.append((write_seq + 4, 4, 10, None, None, 1))
    rows.append((write_seq + 5, 3, 10, None, None, 3))
    fleet[9], fleet[10] = replaced, added
    rng.shuffle(rows)  # dispatch orders the batch by seq itself

    puts = []
    put = cat.put
    monkeypatch.setattr(cat, "put", lambda graphs: puts.append(graphs) or put(graphs))
    results = str(tmp_path / "results")
    batch = spark.createDataFrame(rows, REQUEST_SCHEMA)
    jobs = _spark_jobs(spark, "test-dispatch-mixed", lambda: dispatch_requests(cat, batch, results))
    assert len(puts) == 1  # three writes to two graphs, one put ...
    assert [g[0] for g in puts[0]] == [9, 9, 10]  # ... given them in seq order
    assert jobs == 1  # the batch collect; the put and the replies run no job
    # one dispatch call appends one reply file, however many reads it holds
    assert len(list((tmp_path / "results").glob("*.parquet"))) == 1
    stored = {
        r["graph_id"]: (sorted(r["vertices"]), sorted((e["src"], e["dst"]) for e in r["edges"]))
        for r in cat.graphs().collect()
    }
    assert stored == {
        gid: (list(range(1, n + 1)), sorted(e for a, b in es for e in ((a, b), (b, a))))
        for gid, (n, es) in fleet.items()
    }

    got: dict[int, set] = {}
    for r in spark.read.schema(RESULT_SCHEMA).parquet(results).collect():
        got.setdefault(r["seq"], set()).add((r["op"], r["graph_id"], r["id"], r["level"]))
    for seq, op, gid, _, _, start in rows:
        if op not in (3, 4):
            continue
        n, edges = fleet.get(gid, (0, []))
        want = {(op, gid, v, lvl) for v, lvl in _reply_oracle(n, edges, op, start)}
        assert got.pop(seq, set()) == want, (seq, op, gid, start)
    assert not got  # no reply for the write
    # The DFS on the triangle (graph 3) was checked above to write no row:
    # today's contract cannot tell "empty" from "pending" (ROADMAP item 3).
    assert _reply_oracle(*fleet[3], 3, 1) == set()


def test_dispatch_duplicate_edges_and_dense_graph_match_oracle(spark, tmp_path):
    """The leaf rule counts DISTINCT neighbours: a write whose payload lists
    an edge in both directions stores that edge twice per direction, and
    its endpoint must still be a leaf.  A dense n=300 graph (~45k stored
    edges) checks the walk beyond the catalog's 30-node graphs."""
    import random

    from distributed_graph_db_c_spark.catalog import GraphCatalog
    from distributed_graph_db_c_spark.streaming.requests import (
        REQUEST_SCHEMA,
        RESULT_SCHEMA,
        dispatch_requests,
    )

    rng = random.Random(5)
    dup = (4, [(1, 2), (2, 1), (2, 3)])  # 1-2 twice; 4 isolated
    n = 300
    dense = (n, [(a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1) if rng.random() < 0.5])
    fleet = {1: dup, 2: dense}
    reqs = [(1, gid, list(range(1, m + 1)), es, None) for gid, (m, es) in fleet.items()]
    reqs += [(op, 1, None, None, s) for op in (3, 4) for s in (1, 2, 3, 4)]
    reqs += [(op, 2, None, None, s) for op in (3, 4) for s in (1, 150, 300)]
    rows = [(seq, *r) for seq, r in enumerate(reqs, 1)]

    results = str(tmp_path / "results")
    dispatch_requests(
        GraphCatalog(spark, str(tmp_path / "catalog")),
        spark.createDataFrame(rows, REQUEST_SCHEMA),
        results,
    )
    got: dict[int, set] = {}
    for r in spark.read.schema(RESULT_SCHEMA).parquet(results).collect():
        got.setdefault(r["seq"], set()).add((r["id"], r["level"]))
    for seq, op, gid, _, _, start in rows:
        if op in (3, 4):
            assert got.pop(seq, set()) == _reply_oracle(*fleet[gid], op, start), (gid, op, start)
    assert not got
    # vertex 1's two stored (1, 2) edges are one neighbour: a leaf
    assert _reply_oracle(*dup, 3, 2) == {(1, None), (3, None)}


def test_dispatch_sees_another_catalogs_writes(spark, tmp_path):
    """A catalog keeps no state between reads: after a second catalog on
    the same root (another process, in production) adds one graph and
    drops another, the first catalog's next dispatch serves the new graph
    and gives the dropped one today's missing-graph reply."""
    from distributed_graph_db_c_spark.catalog import GraphCatalog
    from distributed_graph_db_c_spark.streaming.requests import (
        REQUEST_SCHEMA,
        RESULT_SCHEMA,
        dispatch_requests,
    )

    root = str(tmp_path / "catalog")
    cat = GraphCatalog(spark, root)
    cat.put([(1, [1, 2], [(1, 2), (2, 1)]), (2, [1, 2, 3], [(1, 2), (2, 1), (2, 3), (3, 2)])])

    def replies(name: str, reads: list[tuple[int, int, int]]) -> dict:
        rows = [(seq, op, gid, None, None, start) for seq, (op, gid, start) in enumerate(reads, 1)]
        path = str(tmp_path / name)
        dispatch_requests(cat, spark.createDataFrame(rows, REQUEST_SCHEMA), path)
        got: dict[int, set] = {}
        for r in spark.read.schema(RESULT_SCHEMA).parquet(path).collect():
            got.setdefault(r["seq"], set()).add((r["id"], r["level"]))
        return got

    assert replies("before", [(4, 2, 1), (3, 2, 1)]) == {
        1: {(1, 0), (2, 1), (3, 2)},
        2: {(3, None)},
    }
    other = GraphCatalog(spark, root)
    other.put([(3, [1, 2, 3, 4], [(1, 4), (4, 1)])])
    other.drop(2)
    assert replies("after", [(4, 2, 1), (3, 2, 1), (4, 3, 1), (3, 3, 1)]) == {
        1: {(1, 0)},  # missing graph: BFS gives (start, 0) ...
        2: {(1, None)},  # ... and DFS {start} (ROADMAP item 1)
        3: {(1, 0), (4, 1)},
        4: {(4, None)},
    }


def test_replayed_batch_leaves_one_reply_set(spark, tmp_path):
    """``foreachBatch`` is at-least-once: the handler called twice with
    one batch id (a replayed micro-batch) leaves one reply file and one
    reply per reached vertex; another batch id adds its own file."""
    from distributed_graph_db_c_spark.catalog import GraphCatalog
    from distributed_graph_db_c_spark.streaming.requests import (
        REQUEST_SCHEMA,
        RESULT_SCHEMA,
        request_dispatcher,
    )

    cat = GraphCatalog(spark, str(tmp_path / "catalog"))
    results = tmp_path / "results"
    handle = request_dispatcher(cat, str(results))
    path = [(1, 2), (2, 3)]
    rows = [(1, 1, 1, [1, 2, 3], path, None), (2, 4, 1, None, None, 1), (3, 3, 1, None, None, 1)]
    batch = spark.createDataFrame(rows, REQUEST_SCHEMA)
    want = sorted(
        [(2, 4, 1, v, lvl) for v, lvl in _reply_oracle(3, path, 4, 1)]
        + [(3, 3, 1, v, lvl) for v, lvl in _reply_oracle(3, path, 3, 1)]
    )

    def replies():
        return sorted(tuple(r) for r in spark.read.schema(RESULT_SCHEMA).parquet(str(results)).collect())

    handle(batch, 7)
    handle(batch, 7)
    assert len(list(results.glob("*.parquet"))) == 1
    assert replies() == want
    handle(batch, 8)
    assert len(list(results.glob("*.parquet"))) == 2
    assert replies() == sorted(want + want)


def test_serving_frames_run_no_python(spark, tmp_path, monkeypatch):
    """The frames a served micro-batch builds run inside the JVM, and
    neither a write nor a reply runs a Spark job: ``put`` writes on the
    driver, and each op's reply frame (one row of reply arrays per
    request, over an Arrow-built request frame that carries its graph
    rows) is folded by the optimizer into a bare ``LocalTableScan`` — no
    Python node, scan, join or shuffle — whose collect runs no job."""
    from distributed_graph_db_c_spark.catalog import GraphCatalog
    from distributed_graph_db_c_spark.streaming import requests

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    cat = GraphCatalog(spark, str(tmp_path / "catalog"))
    assert _spark_jobs(spark, "test-put", lambda: cat.put([(1, [1, 2, 3], [(1, 2), (2, 1), (2, 3), (3, 2)])])) == 0
    frames = []
    for seam in ("bfs", "dfs_leaves"):
        kernel = getattr(requests, seam)
        monkeypatch.setattr(requests, seam, lambda rows, keys, k=kernel: frames.append(k(rows, keys)) or frames[-1])
    replies = []
    reads = [(1, 4, 1, 1), (2, 3, 1, 1), (3, 4, 9, 2)]
    assert _spark_jobs(spark, "test-replies", lambda: replies.append(requests.read_replies(cat, reads))) == 0

    assert len(frames) == 2  # one per op
    for df in frames:
        assert plan(df).splitlines()[0].startswith("LocalTableScan "), plan(df)
        assert len(plan(df).strip().splitlines()) == 1, plan(df)
    assert sorted(tuple(r.values()) for r in replies[0].to_pylist()) == [
        (1, 4, 1, 1, 0),
        (1, 4, 1, 2, 1),
        (1, 4, 1, 3, 2),
        (2, 3, 1, 3, None),
        (3, 4, 9, 2, 0),
    ]


def test_empty_reply_and_request_files(spark, tmp_path):
    """A batch whose reads reach no reply row (DFS on a triangle) still
    publishes its one, empty, reply file, and an empty ``submit`` writes
    an empty request file: an empty row list is an empty typed table."""
    from distributed_graph_db_c_spark.catalog import GraphCatalog
    from distributed_graph_db_c_spark.schemas import arrow_table
    from distributed_graph_db_c_spark.streaming.requests import (
        REQUEST_SCHEMA,
        RESULT_SCHEMA,
        RequestServer,
        dispatch_requests,
    )

    empty = arrow_table([], RESULT_SCHEMA)
    assert empty.num_rows == 0 and empty.column_names == RESULT_SCHEMA.names
    cat = GraphCatalog(spark, str(tmp_path / "catalog"))
    cat.put([(1, [1, 2, 3], [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a != b])])
    results = tmp_path / "results"
    rows = [(1, 3, 1, None, None, 1), (2, 3, 1, None, None, 2)]
    dispatch_requests(cat, spark.createDataFrame(rows, REQUEST_SCHEMA), str(results))
    assert len(list(results.glob("*.parquet"))) == 1
    assert spark.read.schema(RESULT_SCHEMA).parquet(str(results)).count() == 0

    server = RequestServer(spark, cat, str(tmp_path / "server"))
    try:
        server.submit([])
    finally:
        server.stop()
    (req,) = (tmp_path / "server" / "in").glob("*.parquet")
    assert spark.read.schema(REQUEST_SCHEMA).parquet(str(req)).count() == 0
