"""Streaming progress kept in memory through a StreamingQueryListener
(traced runs of the streaming workloads only)."""

from __future__ import annotations


class ProgressLog:
    """One entry per micro-batch progress event: input rows, batch duration
    (ms) and rows held by stateful operators. Register `listener` with
    `spark.streams.addListener` and remove it when done."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        batches: list[dict] = []
        self.batches = batches

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append({
                    "rows": p.numInputRows,
                    "ms": p.batchDuration,
                    "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
