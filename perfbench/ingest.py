"""Closed-loop client for the streaming CDC pipeline.

One long-running query, ``streaming_envelopes_from_json`` -> ``foreachBatch``
over ``make_cdc_batch_processor(sink="merge", ...)``, fed by one client: the
client renames the next envelope file into the input directory only after
the processor has returned for the previous one, so every batch holds
exactly one file and freshness is measured without queueing.
"""

from __future__ import annotations

import os
import threading
import time

from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
    make_cdc_batch_processor,
    streaming_envelopes_from_json,
)


class IngestLoop:
    def __init__(self, spark, root: str, timeout_s: float = 120.0):
        self.spark = spark
        self.input_dir = os.path.join(root, "input")
        self.staging = os.path.join(root, "staging")
        self.warehouse = os.path.join(root, "warehouse")
        self.quarantine = os.path.join(root, "quarantine")
        self.view = os.path.join(root, "view")
        self.checkpoint = os.path.join(root, "checkpoint")
        for d in (self.input_dir, self.staging):
            os.makedirs(d, exist_ok=True)
        self.timeout_s = timeout_s
        self._done = threading.Event()
        self._started_at = 0.0
        self._error: BaseException | None = None
        self._seq = 0
        self.batch_id = -1  # of the last batch the processor saw
        self.query = None

    def start(self) -> None:
        inner = make_cdc_batch_processor(
            self.warehouse, quarantine_path=self.quarantine, sink="merge",
            view_path=self.view,
        )

        def process(batch, batch_id):
            self._started_at = time.perf_counter()
            self.batch_id = batch_id
            try:
                inner(batch, batch_id)
            except BaseException as ex:  # surfaced to the client, then re-raised
                self._error = ex
                raise
            finally:
                self._done.set()

        envelopes = streaming_envelopes_from_json(self.spark, self.input_dir)
        self.query = (
            envelopes.writeStream.foreachBatch(process)
            .option("checkpointLocation", self.checkpoint)
            .start()
        )

    def push(self, lines: list[str]) -> tuple[float, float]:
        """Land one envelope file and wait for its batch to commit.
        Returns (freshness, processor busy time) in seconds."""
        self._seq += 1
        name = f"batch-{self._seq:06d}.json"
        staged = os.path.join(self.staging, name)
        with open(staged, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        self._done.clear()
        landed = time.perf_counter()
        os.rename(staged, os.path.join(self.input_dir, name))
        if not self._done.wait(self.timeout_s):
            raise TimeoutError(f"batch {self._seq} did not commit in {self.timeout_s}s")
        finished = time.perf_counter()
        if self._error is not None:
            raise RuntimeError(f"batch {self._seq} failed") from self._error
        return finished - landed, finished - self._started_at

    def progress(self) -> list[dict]:
        """The query's recent progress, once it includes the last batch (its
        progress is posted after the processor returns)."""
        deadline = time.perf_counter() + self.timeout_s
        while time.perf_counter() < deadline:
            progress = list(self.query.recentProgress)
            if any(p["batchId"] == self.batch_id for p in progress):
                return progress
            time.sleep(0.05)
        raise TimeoutError(f"no progress reported for batch {self.batch_id}")

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
