"""Streaming ops metrics: persist ``observe()`` results per micro-batch.

``observe_decode_health`` (streaming/pipeline.py) attaches zero-cost
decode counters to every CDC ingress; this module is the missing half —
the listener that actually lands them somewhere an operator can alert
on. The reference had neither: its consumer nack-requeued undecodable
messages forever with no counter anywhere (reference
consumer/consumer.py:30-38).

``DecodeHealthListener`` appends one JSON line per micro-batch progress
event (query id, batch id, event timestamp, rows/sec, plus every
observed metric) to a local file — deliberately file-based and
dependency-free: the write happens on the DRIVER's listener bus thread
(StreamingQueryListener contract), is tiny (one line per batch), and a
production deployment would point the same hook at a metrics system.
``corrupt_ratio()`` is the alert predicate the docstring promised.

Counting: ``observe`` counters accumulate over every execution of the
observed plan. The CDC ``foreachBatch`` bodies materialize the decoded
batch once before any action (``_split_off_quarantine`` in
streaming/pipeline.py), so ``n_messages`` equals the messages delivered
in the batch. A processor that runs several actions straight over the
raw batch frame re-executes the plan per action, and its totals arrive
as exact multiples of the batch size; ``corrupt_ratio`` is invariant to
that.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


class DecodeHealthListener(StreamingQueryListener):
    """Append per-batch observed metrics to ``out_path`` (JSON lines).

    Listener callbacks run on the driver's listener bus — keep them
    cheap and never raise (an exception here would be swallowed but
    could stall the bus); all I/O errors are dropped after counting.
    """

    def __init__(self, out_path: str, metric_name: str = "decode_health"):
        self.out_path = out_path
        self.metric_name = metric_name
        self.dropped = 0
        self._lock = threading.Lock()

    # -- StreamingQueryListener contract ---------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        try:
            p = event.progress
            observed = dict(p.observedMetrics or {})
            row = observed.get(self.metric_name)
            record = {
                "query_id": str(p.id),
                "batch_id": p.batchId,
                "timestamp": p.timestamp,
                "num_input_rows": p.numInputRows,
                **(row.asDict() if row is not None else {}),
            }
            line = json.dumps(record, default=str)
            with self._lock:
                os.makedirs(
                    os.path.dirname(self.out_path) or ".", exist_ok=True
                )
                with open(self.out_path, "a") as fh:
                    fh.write(line + "\n")
        except Exception:
            self.dropped += 1

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def corrupt_ratio(record: dict) -> float:
    """The alert predicate over one emitted record: corrupt share of the
    batch (0.0 for empty batches)."""
    n = record.get("n_messages") or 0
    bad = record.get("n_corrupt") or 0
    return (bad / n) if n else 0.0


def read_health_log(path: str) -> list[dict]:
    """Load the JSONL metrics file back (ops/test helper)."""
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]
