"""The reference's online request loop, Spark-first (SURVEY.md §3).

Reference lifecycle: clients enqueue `struct message {seq, op, mtext}` on
one SysV queue; the load balancer routes op 1/2 → primary (graph writes,
`load_balancer.c:68-78`), op 3/4 → a secondary (`:79-92`); payloads cross
in shared memory; replies come back tagged mtype=1000*seq
(`primary_server.c:139`).

Here the request channel is a streaming DataFrame and ``foreachBatch`` is
the dispatcher: each micro-batch drains like the queue.  Semantics kept /
dropped (SURVEY.md §2.1):

- Writes apply in seq order; a later write to the same graph wins (the
  per-file writer semaphore's serialization, `primary_server.c:60,150`).
- Within a micro-batch, ALL writes apply before any read — reads see a
  consistent post-write snapshot (the readers-writers guarantee; the
  reference's actual interleaving is scheduler-dependent).
- Replies: op 3/4 results append to a results dataset (seq, op, graph_id,
  id, level) — unbounded, replacing the 200-char mtext truncation cap.
- Routing/multiplexing (op+10*seq, mtype arithmetic): no equivalent
  needed; Spark's scheduler owns placement.

Payloads ride inside the request row (vertices + edge array), mirroring
the SHM handoff for the reference's small graphs; bulk graph ingest is the
G-format codec / catalog API instead (sources/gformat.py).

Writes are folded: a micro-batch's op-1/op-2 payloads go to ONE
``GraphCatalog.put`` call in seq order, which keeps the last write per
graph and writes them on the driver with ``pyarrow`` (no Spark job), as
the reference's primary server writes G<i>.txt in-process
(primary_server.c:118-128).

Reads are row-local, like the reference's secondary server that loads one
G-file and traverses it in-process (secondary_server.c:283-326,463-501):
each op-3/op-4 request row carries its stored graph's edges, read from the
graph's partition file on the driver (``GraphCatalog.stored_edges``), and
SQL higher-order-function expressions walk every request's graph inside
the JVM — no scan, no join, no broadcast, no supersteps, no shuffle, no
Python worker.  The request frame is one Arrow table, and the kernels
give one row per request (the reply arrays), so each op's reply frame is
a projection of a local relation: Spark's optimizer (ConvertToLocalRelation)
evaluates the walk while it plans, and its ``collect`` runs no job.  The
reply rows are flattened on the driver and published as one parquet file
per dispatch call (the reference's one ``msgsnd`` per reply), named after
the micro-batch's id, so a replayed batch leaves one reply set.  A
micro-batch costs one Spark job, the collect of the batch itself, however
many writes and reads it carries.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..catalog import GraphCatalog
from ..schemas import arrow_table
# ``bfs`` and ``dfs_leaves`` are module attributes on purpose: they are the
# per-op kernel seams that perfbench/run.py traces by name.
from ..operators.traversal import bfs_graph_row_arrays as bfs
from ..operators.traversal import dfs_leaves_graph_row_arrays as dfs_leaves

REQUEST_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("op", IntegerType()),
        StructField("graph_id", IntegerType()),
        StructField("vertices", ArrayType(LongType())),
        StructField(
            "edges",
            ArrayType(
                StructType([StructField("src", LongType()), StructField("dst", LongType())])
            ),
        ),
        StructField("start", LongType()),
    ]
)

# One read request as the kernels take it: its keys, its start vertex and
# the edges of its stored graph row (NULL for a missing graph); the kernels
# pass the key columns through to the reply.
READ_KEYS = ["seq", "op", "graph_id"]
READ_SCHEMA = StructType([REQUEST_SCHEMA[c] for c in READ_KEYS + ["start", "edges"]])
_READ_ARGS = StructType(READ_SCHEMA.fields[:-1])  # what read_replies is given
_EDGES_TYPE = to_arrow_schema(READ_SCHEMA).field("edges").type

# One reply row: a read's keys and one vertex it reached (DFS: level NULL).
RESULT_SCHEMA = StructType(
    [REQUEST_SCHEMA[c] for c in READ_KEYS]
    + [StructField("id", LongType()), StructField("level", LongType())]
)


def read_replies(catalog: GraphCatalog, reads: list[tuple]) -> pa.Table:
    """The reply rows (``RESULT_SCHEMA``) of ``reads``, ``(seq, op,
    graph_id, start)`` tuples: one Arrow table of ``READ_SCHEMA`` rows,
    each request with its graph's stored edges attached, walked by the
    kernel of its op into one row of reply arrays per request, collected
    (a local relation: no Spark job) and flattened."""
    stored = {
        gid: edges.cast(_EDGES_TYPE)
        for gid, edges in catalog.stored_edges({r[2] for r in reads}).items()
    }
    # a request on a missing graph gets NULL edges, and so its (start, 0) reply
    missing = pa.nulls(1, _EDGES_TYPE)
    edges = pa.concat_arrays([stored.get(r[2], missing) for r in reads])
    table = arrow_table(reads, _READ_ARGS).append_column("edges", edges)
    rows = catalog.spark.createDataFrame(table, READ_SCHEMA)
    replies = []
    for op, kernel in ((4, bfs), (3, dfs_leaves)):
        if any(r[1] == op for r in reads):
            for seq, _, gid, ids, levels in kernel(rows.filter(F.col("op") == op), READ_KEYS).collect():
                replies += [(seq, op, gid, v, lvl) for v, lvl in zip(ids, levels or [None] * len(ids))]
    return arrow_table(replies, RESULT_SCHEMA)


def _publish(table: pa.Table, directory: str, name: str) -> None:
    """Write ``table`` as ``directory/name``: under a "_" name first, which
    Spark's file reader and file stream source skip, then renamed into
    place, so no reader lists a half-written file."""
    tmp = os.path.join(directory, "_" + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


def dispatch_requests(
    catalog: GraphCatalog, batch_df: DataFrame, results_path: str, batch_id: int | None = None
) -> None:
    """Process one drained micro-batch: writes (seq order), then reads.
    The reply file is named after ``batch_id`` when one is given, so a
    replayed micro-batch replaces its own replies; without one it gets a
    unique name."""
    # the whole batch to the driver once: the SHM handoff equivalent, small
    # by model; sorted here because orderBy's range sampling costs two jobs
    rows = sorted(batch_df.collect(), key=lambda r: r["seq"])

    # -- write path (ops 1/2 — identical semantics: full replace) --------
    # one put, on the driver: handed in seq order, it keeps each graph's last write
    writes = []
    for row in rows:
        if row["op"] in (1, 2):
            pairs = [(e["src"], e["dst"]) for e in (row["edges"] or [])]
            writes.append((row["graph_id"], row["vertices"] or [], pairs + [(d, s) for s, d in pairs]))
    if writes:
        catalog.put(writes)

    # -- read path (ops 3/4) — every request carries its graph row -------
    reads = [(r["seq"], r["op"], r["graph_id"], r["start"]) for r in rows if r["op"] in (3, 4)]
    if not reads:
        return
    # one reply file per call, empty when no read reached a reply row
    os.makedirs(results_path, exist_ok=True)
    name = uuid.uuid4().hex if batch_id is None else f"batch-{batch_id}"
    _publish(read_replies(catalog, reads), results_path, f"part-{name}.parquet")


def request_dispatcher(catalog: GraphCatalog, results_path: str):
    """foreachBatch callback closing over the catalog and results sink.
    ``foreachBatch`` is at-least-once: a replayed batch id rewrites the
    same reply file."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        dispatch_requests(catalog, batch_df, results_path, batch_id)

    return handle


class RequestServer:
    """The reference's INTERACTIVE server shape, long-running: where the
    batch gate (`stream_requests_dispatch`) drains a staged backlog with
    availableNow and stops, this keeps the streaming query up on a
    ``processingTime`` trigger — the `msgrcv` blocking loop
    (`secondary_server.c:636`, `primary_server.c:193`) — while clients
    ``submit()`` request batches (the `msgsnd` enqueue, `client.c:131-155`)
    and read replies correlated by ``seq`` (the mtype=1000*seq reply
    tagging, `primary_server.c:139`).

    Requests submitted in one call land in one micro-batch, so a write
    (op 1/2) and a read (op 3/4) of the same graph in a single submit see
    the batch's write-before-read guarantee; across submits, file order is
    arrival order.
    """

    def __init__(
        self,
        spark,
        catalog: GraphCatalog,
        root: str,
        poll: str = "500 milliseconds",
    ):
        self.spark = spark
        self.catalog = catalog
        self.in_dir = os.path.join(root, "in")
        self.results_path = os.path.join(root, "results")
        os.makedirs(self.in_dir, exist_ok=True)
        stream = (
            spark.readStream.schema(REQUEST_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
        )
        self.query = (
            stream.writeStream.option(
                "checkpointLocation", os.path.join(root, "ckpt")
            )
            .foreachBatch(request_dispatcher(catalog, self.results_path))
            .trigger(processingTime=poll)
            .start()
        )

    def submit(self, rows: list) -> None:
        """Enqueue one request batch (list of REQUEST_SCHEMA-shaped rows)
        as a single file — one micro-batch on the server side.  The file
        name is unique, so a server restarted on the same root never reuses
        a name its checkpoint has seen; the file source takes new files in
        modification-time order."""
        _publish(arrow_table(rows, REQUEST_SCHEMA), self.in_dir, f"req-{uuid.uuid4().hex}.parquet")

    def replies(self, seq: int | None = None) -> DataFrame:
        """Reply view, correlated by seq — a plain DataFrame over the
        results sink (empty until the first read op completes)."""
        if not os.path.isdir(self.results_path) or not any(
            f.endswith(".parquet") for f in os.listdir(self.results_path)
        ):
            df = self.spark.createDataFrame([], RESULT_SCHEMA)
        else:
            df = self.spark.read.schema(RESULT_SCHEMA).parquet(self.results_path)
        return df.filter(F.col("seq") == seq) if seq is not None else df

    def await_reply(self, seq: int, timeout_sec: float = 60.0) -> DataFrame:
        """Block until reply rows for ``seq`` exist (the client's blocking
        ``msgrcv`` on its mtype, `client.c:155`); raises on timeout."""
        deadline = time.monotonic() + timeout_sec
        while time.monotonic() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"server query failed: {self.query.exception()}")
            got = self.replies(seq)
            if got.limit(1).take(1):
                return got
            time.sleep(0.25)
        raise TimeoutError(f"no reply for seq={seq} within {timeout_sec}s")

    def stop(self) -> None:
        self.query.stop()
        self.query.awaitTermination()
