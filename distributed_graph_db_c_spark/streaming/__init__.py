"""Structured Streaming surface (SURVEY.md §7 M6).

The reference's online operation is a request loop over a SysV message
queue (`load_balancer.c:43-123` routes; servers loop on `msgrcv`) — a
transport, not a stream model: no event time, no windows, no state beyond
the graph files.  Re-expressed Spark-first:

- ``requests``: the request channel as a streaming DataFrame dispatched by
  ``foreachBatch`` — ops 1/2 replace one graph row in the GraphCatalog
  (dynamic partition overwrite), ops 3/4 run the traversal kernels,
  replies land in a sink table instead of a 200-char message buffer.
- ``windows``: watermarked tumbling/sliding/session-window aggregations
  over the events stream.  Builders are batch/stream agnostic — the SAME
  function registers as a batch query (DuckDB-oracle-checked) and runs in
  the streaming tests, so the hash-checked semantics cover the streaming
  plan too.
- ``stateful``: a custom stateful operator via ``applyInPandasWithState``
  (per-key state carried across micro-batches).
"""

from .requests import REQUEST_SCHEMA, dispatch_requests, request_dispatcher
from .sources import run_available_now, stage_stream_dir
from .stateful import user_running_totals
from .windows import session_stats, sliding_counts, tumbling_counts

__all__ = [
    "REQUEST_SCHEMA",
    "dispatch_requests",
    "request_dispatcher",
    "run_available_now",
    "stage_stream_dir",
    "user_running_totals",
    "session_stats",
    "sliding_counts",
    "tumbling_counts",
]
