"""Benchmark of record for the serving path: a closed-loop client against
``GraphCatalog`` + ``streaming.requests.dispatch_requests``.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve_interactive --seed 1 --seconds 20 --trace 0

A run generates a G-format catalog directory and a request stream from
``--seed``, starts a Spark session, bootstraps a catalog from the directory,
warms up with one untimed read, times four more bootstraps, then sends
whole mix blocks of requests, one dispatch call at a time and the next only
after the previous returned, until ``--seconds`` have passed.  Every reply
and, at the end, every graph in the served catalog is checked against a
pure-Python mirror.  The last stdout line is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics from spans with ``--trace 1``.
README.md maps each per-layer metric to the end-to-end metric it moves.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

GRAPHS = 20  # the reference's catalog cap
# Two alternating blocks of 4: over 8 requests, 3 BFS (op 4), 3 DFS (op 3),
# 1 add (op 1), 1 modify (op 2) -- 75% reads.
BLOCKS = ((4, 3, 1, 4), (3, 4, 2, 3))
ZIPF_S = 1.0
WORKLOADS = {  # name -> requests per dispatch_requests call
    "serve_interactive": 1,
    "serve_batched": 16,
}
INGEST_REPEATS = 4  # the median drops the first, least warm one
OPS = {4: "bfs", 3: "dfs", 1: "write", 2: "write"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_env(work: str) -> None:
    """Pin Spark to this machine's cores and keep every file it writes
    inside ``work``.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # the engine's 16g default heap is more than this workload needs
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


class Client:
    """One closed-loop client: sends a batch, blocks until dispatch
    returns, records the latency and the replies it must later find."""

    def __init__(self, spark, dispatch, schema, results, tracer):
        self.spark, self.dispatch, self.schema = spark, dispatch, schema
        self.results, self.tracer = results, tracer
        self.expected: dict[int, set] = {}
        self.latencies: list[tuple[float, list[int]]] = []  # (seconds, ops in batch)
        self.sent = 0
        self.errors = 0

    def send(self, catalog, rows: list[tuple], graphs: dict, timed: bool) -> None:
        for seq, op, gid, _v, _e, start in rows:
            if op in (3, 4):
                self.expected[seq] = oracle.expected_reply(graphs[gid], op, start)
        df = self.spark.createDataFrame(rows, self.schema)
        self.tracer.request = len(self.latencies) if timed else None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("requests.dispatch"):
                self.dispatch(catalog, df, self.results)
        except Exception as exc:  # a failed request counts; the loop goes on
            print(f"dispatch failed: {exc!r}", file=sys.stderr)
            self.errors += len(rows)
            for row in rows:
                self.expected.pop(row[0], None)
        dt = time.perf_counter() - t0
        self.sent += len(rows)
        if timed:
            self.latencies.append((dt, [r[1] for r in rows]))
        print(f"dispatch {dt:.3f}s ops={[r[1] for r in rows]} timed={timed}", file=sys.stderr)

    def wrong_replies(self, result_schema) -> int:
        got: dict[int, set] = defaultdict(set)
        if os.path.isdir(self.results):
            for r in self.spark.read.schema(result_schema).parquet(self.results).collect():
                got[r["seq"]].add((r["id"], r["level"] if r["op"] == 4 else None))
        return sum(got.get(seq, set()) != want for seq, want in self.expected.items())


def wrong_graphs(catalog, graphs: dict[int, oracle.Graph]) -> int:
    """Graphs whose catalog edges or vertices differ from the mirror."""
    edges: dict[int, set] = defaultdict(set)
    verts: dict[int, set] = defaultdict(set)
    for r in catalog.edges().collect():
        edges[r["graph_id"]].add((r["src"], r["dst"]))
    for r in catalog.vertices().collect():
        verts[r["graph_id"]].add(r["id"])
    return sum(
        gid not in graphs
        or edges.get(gid, set()) != oracle.directed_edges(graphs[gid])
        or verts.get(gid, set()) != set(range(1, graphs[gid].n + 1))
        for gid in set(graphs) | set(edges) | set(verts)
    )


def catalog_footprint(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def metric_dict(m: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def end_to_end(client: Client, setup_s: float, ingest: list[float], loop_s: float) -> dict:
    per_op: dict[str, list[float]] = defaultdict(list)
    for dt, ops in client.latencies:
        for op in ops:  # a request's latency is its batch's latency
            per_op[OPS[op]].append(dt)
    done = sum(len(ops) for _, ops in client.latencies)
    return metric_dict(
        {
            "setup_s": (setup_s, "s"),
            "ingest_s": (statistics.median(ingest), "s"),
            "bfs_p50_s": (statistics.median(per_op["bfs"]), "s"),
            "dfs_p50_s": (statistics.median(per_op["dfs"]), "s"),
            "write_p50_s": (statistics.median(per_op["write"]), "s"),
            "batch_p50_s": (statistics.median(dt for dt, _ in client.latencies), "s"),
            "req_per_s": (done / loop_s, "req/s"),
        }
    )


def per_layer(tracer: spans.Tracer, client: Client, catalog_root: str, n_edges: int) -> dict:
    """Span times are seconds per timed dispatch call, so the four self
    times add up to ``requests.dispatch_s``.  Job and task counts are per
    call of the named kind; a read's share is everything its dispatch call
    runs outside ``catalog.put``, spread over the call's reads."""
    roots = [s for s in tracer.spans if s.request is not None and s.parent is None]
    root_ids = {r.id for r in roots}
    by_name: dict[str, list[spans.Span]] = defaultdict(list)
    for root in roots:
        for s in spans.subtree(root):
            by_name[s.name].append(s)

    def self_per_dispatch(name: str) -> float:
        return sum(spans.self_time(s) for s in by_name[name]) / len(roots)

    def tree_sum(span_list, attr: str) -> float:
        return sum(getattr(x, attr) for s in span_list for x in spans.subtree(s))

    puts = by_name["catalog.put"]
    outer_bfs = [s for s in by_name["traversal.bfs"] if s.parent in root_ids]
    n_reads = sum(op in (3, 4) for _, ops in client.latencies for op in ops)
    setup = [s for s in tracer.spans if s.request is None and s.parent is None]
    start = next(s for s in setup if s.name == "session.start")
    put_all = [s.duration for s in setup if s.name == "catalog.put_all"][1:]  # first is cold
    files, size = catalog_footprint(catalog_root)
    return metric_dict(
        {
            "session.start_s": (start.duration, "s"),
            "catalog.put_all_s": (statistics.median(put_all), "s"),
            "catalog.files": (files, "count"),
            "catalog.bytes_per_edge": (size / n_edges, "B"),
            "catalog.put_s": (self_per_dispatch("catalog.put"), "s"),
            "traversal.bfs_s": (self_per_dispatch("traversal.bfs"), "s"),
            "traversal.dfs_leaves_s": (self_per_dispatch("traversal.dfs_leaves"), "s"),
            "requests.dispatch_self_s": (self_per_dispatch("requests.dispatch"), "s"),
            "requests.dispatch_s": (sum(s.duration for s in roots) / len(roots), "s"),
            "traversal.bfs_jobs": (tree_sum(outer_bfs, "jobs") / len(outer_bfs), "count"),
            # read side = everything a dispatch call runs outside catalog.put
            "spark.jobs_per_read": ((tree_sum(roots, "jobs") - tree_sum(puts, "jobs")) / n_reads, "count"),
            "spark.tasks_per_read": ((tree_sum(roots, "tasks") - tree_sum(puts, "tasks")) / n_reads, "count"),
            "spark.jobs_per_write": (tree_sum(puts, "jobs") / len(puts), "count"),
            "spark.tasks_per_write": (tree_sum(puts, "tasks") / len(puts), "count"),
            "spark.jobs_per_batch": (tree_sum(roots, "jobs") / len(roots), "count"),
            "spark.tasks_per_batch": (tree_sum(roots, "tasks") / len(roots), "count"),
            "trace.batch_p50_s": (statistics.median(s.duration for s in roots), "s"),
            "trace.bookkeeping_s": (tracer.bookkeeping_s / len(roots), "s"),
        }
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    try:  # the engine under test lives next to this directory
        sys.path.insert(0, REPO)
        from distributed_graph_db_c_spark import catalog as catalog_mod
        from distributed_graph_db_c_spark import session
        from distributed_graph_db_c_spark.operators import traversal
        from distributed_graph_db_c_spark.sources import gformat
        from distributed_graph_db_c_spark.streaming import requests
    except ImportError as exc:
        print(f"engine not importable from {REPO}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark_env(work)

    rng = random.Random(args.seed)
    graphs = gen.catalog_graphs(rng, GRAPHS)
    gdir = os.path.join(work, "gformat")
    gen.write_gformat_dir(graphs, gdir)
    stream = gen.RequestStream(rng, graphs, BLOCKS, ZIPF_S)
    n_edges = sum(2 * len(g.edges) for g in graphs.values())
    batch = WORKLOADS[args.workload]

    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    targets = [
        (requests, "bfs", "traversal.bfs"),
        (requests, "dfs_leaves", "traversal.dfs_leaves"),
        (traversal, "bfs", "traversal.bfs"),  # as called from dfs_leaves
        (catalog_mod.GraphCatalog, "put", "catalog.put"),
        (catalog_mod.GraphCatalog, "put_all", "catalog.put_all"),
    ]
    spark = None
    with spans.patched(tracer, targets) if args.trace else contextlib.nullcontext():
        try:
            with tracer.span("session.start"):
                spark = session.get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            if args.trace:
                tracer.attach(spark.sparkContext)

            def bootstrap(name: str):
                catalog = catalog_mod.GraphCatalog(spark, os.path.join(work, name))
                t0 = time.perf_counter()
                with tracer.span("sources.read_gformat_dir"):
                    edges, vertices = gformat.read_gformat_dir(spark, gdir)
                catalog.put_all(edges, vertices)
                return catalog, time.perf_counter() - t0

            client = Client(
                spark,
                requests.dispatch_requests,
                requests.REQUEST_SCHEMA,
                os.path.join(work, "results"),
                tracer,
            )
            # cold bootstrap + one untimed read on a throwaway catalog
            warm_catalog, _ = bootstrap("warmup")
            largest = max(graphs, key=lambda gid: graphs[gid].n)
            client.send(warm_catalog, stream.warmup_rows(largest), graphs, timed=False)
            ingest = []
            for i in range(INGEST_REPEATS):
                catalog, dt = bootstrap(f"catalog{i}")
                ingest.append(dt)
            setup_s = time.perf_counter() - PROCESS_START
            print(f"phase setup {setup_s:.2f} ingest={[round(x, 2) for x in ingest]}", file=sys.stderr)

            loop_start = time.perf_counter()
            while time.perf_counter() - loop_start < args.seconds or not stream.block_done():
                client.send(catalog, stream.next_batch(batch), stream.graphs, timed=True)
            loop_s = time.perf_counter() - loop_start
            print(f"phase loop {loop_s:.2f}", file=sys.stderr)

            failed = client.errors + client.wrong_replies(requests.RESULT_SCHEMA)
            failed += wrong_graphs(catalog, stream.graphs)
            attempted = client.sent + len(stream.graphs)
            if args.trace:
                metrics = per_layer(tracer, client, catalog.root, n_edges)
                out = os.path.join(HERE, "out")
                os.makedirs(out, exist_ok=True)
                tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
            else:
                metrics = end_to_end(client, setup_s, ingest, loop_s)
        finally:
            if spark is not None:
                _stop(spark)
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
