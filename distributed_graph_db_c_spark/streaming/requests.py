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
- Replies: op 3/4 results append to a results table (seq, op, graph_id,
  id, level) — unbounded, replacing the 200-char mtext truncation cap.
- Routing/multiplexing (op+10*seq, mtype arithmetic): no equivalent
  needed; Spark's scheduler owns placement.

Payloads ride inside the request row (vertices + edge array), mirroring
the SHM handoff for the reference's small graphs; bulk graph ingest is the
G-format codec / catalog API instead (sources/gformat.py).

Reads run FLEET-WIDE: every op-3/op-4 request in the batch becomes one
instance key (its seq) in a single multi-graph traversal — one BFS job per
batch regardless of how many requests it carries, the shape that scales.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..catalog import GraphCatalog
from ..operators.traversal import bfs, dfs_leaves

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

RESULT_SCHEMA = "seq long, op int, graph_id int, id long, level long"


def dispatch_requests(catalog: GraphCatalog, batch_df: DataFrame, results_path: str) -> None:
    """Process one drained micro-batch: writes (seq order), then reads."""
    # -- write path (ops 1/2 — identical semantics: full replace) --------
    writes = (
        batch_df.filter(F.col("op").isin(1, 2)).orderBy("seq").collect()
    )  # payloads to the driver: the SHM handoff equivalent; small by model
    for row in writes:
        pairs = [(e["src"], e["dst"]) for e in (row["edges"] or [])]
        catalog.put(row["graph_id"], row["vertices"] or [], pairs + [(d, s) for s, d in pairs])

    # -- read path (ops 3/4) — one fleet-wide traversal per op ------------
    reads = batch_df.filter(F.col("op").isin(3, 4)).select("seq", "op", "graph_id", "start")
    if reads.isEmpty():
        return
    all_edges = catalog.edges()
    for op, kernel in ((4, bfs), (3, dfs_leaves)):
        reqs = reads.filter(F.col("op") == op)
        if reqs.isEmpty():
            continue
        # Each request = its own traversal instance keyed by seq, so two
        # requests against the same graph (or different graphs) run in the
        # same multi-graph kernel invocation without sharing visited sets.
        inst_edges = all_edges.join(
            reqs.select("seq", "graph_id"), on="graph_id"
        ).select(F.col("seq").alias("graph_id"), "src", "dst")
        starts = reqs.select(F.col("seq").alias("graph_id"), F.col("start").alias("id"))
        res = kernel(inst_edges, starts)
        if "level" not in res.columns:
            res = res.withColumn("level", F.lit(None).cast("long"))
        out = (
            res.withColumnRenamed("graph_id", "seq")
            .join(reqs.select("seq", "op", "graph_id"), on="seq")
            .select("seq", "op", "graph_id", "id", F.col("level").cast("long"))
        )
        out.write.mode("append").parquet(results_path)


def request_dispatcher(catalog: GraphCatalog, results_path: str):
    """foreachBatch callback closing over the catalog and results sink."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        dispatch_requests(catalog, batch_df, results_path)

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
        import os

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
        self._n = 0

    def submit(self, rows: list) -> None:
        """Enqueue one request batch (list of REQUEST_SCHEMA-shaped rows)
        as a single file — one micro-batch on the server side."""
        import os
        import shutil

        df = self.spark.createDataFrame(rows, REQUEST_SCHEMA)
        tmp = os.path.join(self.in_dir, f"_stage{self._n}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(
            os.path.join(tmp, part),
            os.path.join(self.in_dir, f"req{self._n:06d}.parquet"),
        )
        shutil.rmtree(tmp)
        self._n += 1

    def replies(self, seq: int | None = None) -> DataFrame:
        """Reply view, correlated by seq — a plain DataFrame over the
        results sink (empty until the first read op completes)."""
        import os

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
        import time

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
