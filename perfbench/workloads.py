"""The benchmark's workloads: what each runs, how it is checked, and the
metrics it reports.

``cdc_ingest``  the paper's write path: closed-loop CDC micro-batches
                through the streaming pipeline, merge sink and view refresh.
``analytics``   the read path: dashboard reads over a merge-sink warehouse,
                two catalog queries (TPC-H Q1, the paper's average watched
                ratio per video) and one corpus-curation query.

Every run repeats the same seeded op sequence: a warm-up (counted in
``setup_s``), then a fixed number of timed passes, whatever the host's
speed. Per-run numbers are medians.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, field

import digest as digests
import gen
from ingest import IngestLoop
from spans import Tracer, span_counters, subtree

from etl_pipeline_challenge_aladia_spark import sinks, views
from etl_pipeline_challenge_aladia_spark.operators.structure import parse_envelope
from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG
from etl_pipeline_challenge_aladia_spark.streaming import pipeline as stream_pipeline
from etl_pipeline_challenge_aladia_spark.streaming.pipeline import make_cdc_batch_processor

#: scale of the generated catalog tables (500 documents, 60k lineitems)
CATALOG_SF = 0.01
#: catalog entries the analytics workload runs, in its unshuffled order
CATALOG_OPS = (
    "tpch_q1_pricing_summary",
    "cdc_avg_watched_ratio_per_video",
    "doc_leakage_safe_split",
)
#: the corpus-curation op: MinHash/LSH near-duplicate pairs (verified by the
#: Arrow kernel shared with the doc_curation_pipeline family), connected
#: components over them, and the cluster-keyed train/val/test split
CORPUS_OPS = ("doc_leakage_safe_split",)
READ_OPS = ("read_view", "video_stats", "read_warehouse_key", "table_changes",
            "time_travel")


@dataclass(frozen=True)
class Config:
    n_keys: int = 10_000  # documents preloaded in setup
    batch_size: int = 500  # envelopes per micro-batch
    warm_batches: int = 2  # cdc_ingest batches after the preload, untimed
    cdc_passes: int = 2  # cdc_ingest timed passes
    pass_batches: int = 2  # cdc_ingest batches per timed pass
    read_passes: int = 2  # analytics timed passes over its op sequence
    catalog_ops: tuple[str, ...] = CATALOG_OPS


FULL = Config()
#: the self-test's configuration: a few tiny batches, two catalog ops
TINY = Config(n_keys=400, batch_size=100, warm_batches=0, cdc_passes=1, pass_batches=1,
              read_passes=1, catalog_ops=("tpch_q6_revenue_forecast",
                                          "cdc_avg_watched_ratio_per_video"))


@dataclass
class Run:
    spark: object
    root: str  # this run's scratch directory
    seed: int
    seconds: float  # recorded only: the work per run is fixed
    cfg: Config
    t0: float  # perf_counter at process start
    tracer: Tracer | None = None
    expected: dict | None = None  # pinned digests; None loads digests.json
    tamper: Callable | None = None  # self-test hook, run before end-state checks
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    passes: list[float] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    warm_latencies: list[float] = field(default_factory=list)  # untimed, for the record
    layer: dict[str, float] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)  # setup breakdown

    def mark(self, phase: str) -> None:
        """Close setup phase ``phase`` at the current time."""
        now = time.perf_counter() - self.t0
        self.phases[phase] = now - sum(self.phases.values())

    def timed_passes(self, one_pass, passes: int) -> None:
        """Run ``one_pass(traced)`` ``passes`` times. A traced run rounds
        that up to a multiple of four passes, untraced and traced in the
        order U T T U so that warm-up drift cancels, and reports the
        difference of their medians as ``trace.overhead_s``."""
        self.mark("warm_up")
        self.setup_s = time.perf_counter() - self.t0
        plain, traced = [], []
        if self.tracer is not None:
            passes = 4 * -(-passes // 4)
        for i in range(passes):
            on = self.tracer is not None and i % 4 in (1, 2)
            if self.tracer is not None:
                self.tracer.enabled = on
            t = time.perf_counter()
            one_pass(on)
            (traced if on else plain).append(time.perf_counter() - t)
        if self.tracer is not None:
            self.tracer.enabled = False
        self.passes = plain
        if traced:
            self.layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)

    def op(self, name: str, fn, traced: bool):
        """Time one op; its latency joins the run's sample unless traced."""
        self.attempted += 1
        with self.tracer.span(name) if self.tracer is not None else nullcontext():
            t = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t
        if not traced:
            self.latencies.append(dt)
        return out

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lat = sorted(self.latencies)
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (statistics.median(self.passes), "s"),
            "latency_s_p50": (statistics.median(lat), "s"),
            "latency_s_p90": (_p90(lat), "s"),
        }


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- cdc_ingest


def cdc_ingest(run: Run) -> None:
    cfg, tracer = run.cfg, run.tracer
    stream = gen.CdcStream(run.seed, cfg.n_keys)
    loop = IngestLoop(run.spark, os.path.join(run.root, "cdc"))
    if tracer is not None:
        # the processor looks these up by name at call time
        tracer.wrap(stream_pipeline, "merge_warehouse_batch", "sinks.merge")
        tracer.wrap(views, "refresh_video_stats_view", "views.refresh")
        tracer.wrap(views, "table_changes", "sinks.table_changes")
    batches: list[dict] = []
    loop.start()
    try:
        loop.push(stream.preload_lines())
        run.mark("preload")
        for _ in range(cfg.warm_batches):
            run.warm_latencies.append(loop.push(stream.batch_lines(cfg.batch_size))[0])
        n_setup = 1 + cfg.warm_batches

        # a traced run times single-batch passes, to stay as short as an untraced one
        batches_per_pass = 1 if tracer is not None else cfg.pass_batches

        def one_pass(traced: bool) -> None:
            for _ in range(batches_per_pass):
                truncated = stream.quarantined
                lines = stream.batch_lines(cfg.batch_size)
                lat, busy = run.op("batch", lambda: loop.push(lines), traced)
                batches.append({"latency": lat, "busy": busy, "traced": traced,
                                "lines": len(lines),
                                "truncated": stream.quarantined - truncated})

        run.timed_passes(one_pass, cfg.cdc_passes)
        progress = loop.progress()
    finally:
        loop.stop()
        if tracer is not None:
            tracer.unwrap_all()
    run.attempted += n_setup
    if run.tamper is not None:
        run.tamper(run, loop)
    bad = check_warehouse(run.spark, loop.warehouse, stream.expected_rows())
    bad += check_view(run.spark.read.parquet(loop.view).collect(), stream.expected_view())
    n_quarantined = run.spark.read.text(loop.quarantine).count()
    if n_quarantined != stream.quarantined:
        bad.append(f"quarantine holds {n_quarantined} lines, expected {stream.quarantined}")
    if bad:
        # the end state is cumulative: a wrong row cannot be pinned on one batch
        run.failed = run.attempted
        for b in bad[:5]:
            print(f"check failed: {b}", file=sys.stderr, flush=True)
    if tracer is not None:
        cdc_layers(run, batches, progress)


def cdc_layers(run: Run, batches: list[dict], progress: list) -> None:
    tracer, layer = run.tracer, run.layer
    tracer.attribute(run.spark)
    traced = [b for b in batches if b["traced"]]
    spans = tracer.named("batch")  # one per traced batch, in order
    layer["streaming.batch_busy_s"] = _med(b["busy"] for b in traced)
    layer["streaming.trigger_wait_s"] = _med(b["latency"] - b["busy"] for b in traced)
    # decode-health counters of the timed batches (the last triggers with data)
    health = [p["observedMetrics"]["decode_health"] for p in progress
              if p["numInputRows"] > 0][-len(batches):]
    layer["streaming.rows_in"] = _med(h["n_messages"] for h in health)
    layer["streaming.rows_quarantined"] = _med(h["n_corrupt"] or 0 for h in health)
    for h, b in zip(health, batches):
        if (h["n_messages"], h["n_corrupt"] or 0) != (b["lines"], b["truncated"]):
            print(f"decode health {h} != {b['lines']} lines, {b['truncated']} truncated",
                  file=sys.stderr, flush=True)

    def nested(span, name):
        return [s for s in subtree(tracer, span)[1:] if s.name == name]

    merges = tracer.named("sinks.merge")
    layer["sinks.merge_s"] = _med(s.seconds for s in merges)
    layer["sinks.merge_jobs"] = _med(span_counters(tracer, s)["jobs"] for s in merges)
    layer["sinks.buckets_written"] = _med(s.value for s in merges)
    layer["sinks.bytes_written_per_row"] = _med(
        span_counters(tracer, m)["output_bytes"] / b["lines"]
        for m, b in zip(merges, traced))
    refreshes = tracer.named("views.refresh")
    layer["views.refresh_s"] = _med(s.seconds for s in refreshes)
    layer["views.refresh_jobs"] = _med(span_counters(tracer, s)["jobs"] for s in refreshes)
    layer["views.dirty_groups"] = _med(s.value for s in refreshes)
    layer["sinks.table_changes_s"] = _med(s.seconds for s in tracer.named("sinks.table_changes"))
    # processor time outside merge and refresh: the quarantine split, the
    # transform chain's planning and the Python callback
    layer["streaming.unattributed_s"] = _med(
        b["busy"] - sum(c.seconds for c in nested(s, "sinks.merge") + nested(s, "views.refresh"))
        for s, b in zip(spans, traced))


def check_warehouse(spark, path: str, expected: dict) -> list[str]:
    cols = ["original_id", "video_id", "session_id", "original_timestamp",
            "watched_seconds", "video_duration_seconds", "watched_ratio",
            "device_type", "quality", "is_deleted", "version"]
    got = {}
    for r in sinks.read_warehouse(spark, path).select(*cols).collect():
        got[(r[0], r[1], r[2])] = tuple(r[3:])
    want = {k: v[:6] + (False, v[6]) for k, v in expected.items()}
    bad = []
    if len(got) != len(want):
        bad.append(f"warehouse has {len(got)} keys, expected {len(want)}")
    for k, v in want.items():
        if got.get(k) != v:
            bad.append(f"warehouse row {k}: {got.get(k)} != {v}")
            break
    return bad


def check_view(rows, expected: dict) -> list[str]:
    """View rows against the reference; averages may differ by one unit in
    the 4th decimal where summation order moves a half-up tie."""
    got = {r["video_id"]: (r["avg_watched_ratio"], r["n_sessions"], r["max_watched_seconds"])
           for r in rows}
    if set(got) != set(expected):
        return [f"view has {len(got)} videos, expected {len(expected)}"]
    for v, (avg, n, mx) in expected.items():
        g = got[v]
        if g[1:] != (n, mx) or abs(g[0] - avg) > 1.0001e-4:
            return [f"view row {v}: {g} != {(avg, n, mx)}"]
    return []


# ----------------------------------------------------------------- analytics


def analytics(run: Run) -> None:
    cfg, spark = run.cfg, run.spark
    expected = run.expected if run.expected is not None else digests.load()["ops"]
    sf_dir = os.path.join(run.root, "tables")
    gen.write_tables(sf_dir, CATALOG_SF)
    run.mark("tables")
    wh = build_warehouse(run)
    run.mark("warehouse")
    rng = random.Random(run.seed)
    keys = sorted(wh["ref2"])
    names = list(READ_OPS) + list(cfg.catalog_ops)
    failed_ops: set[str] = set()
    runs_of: dict[str, int] = {}

    def read_op(name: str):
        if name == "read_view":
            return lambda: views.read_view(spark, wh["view"]).collect()
        if name == "video_stats":
            return lambda: views.video_stats(sinks.read_warehouse(spark, wh["path"])).collect()
        if name == "read_warehouse_key":
            key = keys[rng.randrange(len(keys))]
            return lambda: (key, sinks.read_warehouse_key(spark, wh["path"], list(key)).collect())
        if name == "table_changes":
            return lambda: sinks.table_changes(spark, wh["path"], from_version=1).select(
                "original_id", "video_id", "session_id", "version", "_change_type").collect()
        return lambda: sinks.read_warehouse(spark, wh["path"], version=1).selectExpr(
            "count(*) AS n", "sum(watched_seconds) AS w", "max(version) AS v").collect()

    def one_pass(traced: bool, warm: bool = False) -> None:
        order = names[:]
        rng.shuffle(order)
        for name in order:
            runs_of[name] = runs_of.get(name, 0) + 1
            if name in READ_OPS:
                out = run.op(name, read_op(name), traced)
                err = check_read(name, out, wh)
            elif warm:
                # the one collected execution of a catalog op: its digest check
                pdf = run.op(name, lambda: CATALOG[name].spark(spark, sf_dir).toPandas(), traced)
                got, n = digests.digest(pdf)
                err = None if got == expected[name]["digest"] else (
                    f"digest {got[:12]} ({n} rows) != pinned "
                    f"{expected[name]['digest'][:12]} ({expected[name]['rows']} rows)")
            else:
                run.op(name, lambda: CATALOG[name].spark(spark, sf_dir).write.format("noop")
                       .mode("overwrite").save(), traced)
                err = None
            if err is not None and name not in failed_ops:
                failed_ops.add(name)
                print(f"check failed: {name}: {err}", file=sys.stderr, flush=True)

    one_pass(False, warm=True)
    run.latencies.clear()
    run.timed_passes(one_pass, cfg.read_passes)
    run.failed = sum(runs_of[n] for n in failed_ops)
    if run.tracer is not None:
        analytics_layers(run)


def build_warehouse(run: Run) -> dict:
    """Two merge-sink commits through the CDC batch processor (the preload
    at version 1, one change batch at version 2), then the view."""
    spark, root = run.spark, os.path.join(run.root, "warehouse")
    stream = gen.CdcStream(run.seed, run.cfg.n_keys)
    path, view = os.path.join(root, "table"), os.path.join(root, "view")
    process = make_cdc_batch_processor(path, sink="merge")
    os.makedirs(root, exist_ok=True)
    refs = []
    for bid in range(2):
        lines = stream.preload_lines() if bid == 0 else stream.batch_lines(run.cfg.batch_size)
        f = os.path.join(root, f"batch-{bid}.json")
        with open(f, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        process(parse_envelope(spark.read.text(f), json_col="value"), bid)
        refs.append(stream.expected_rows())
    views.build_video_stats_view(spark, path, view)
    run.attempted += 2
    return {"path": path, "view": view, "ref1": refs[0], "ref2": refs[1],
            "view_ref": stream.expected_view()}


def check_read(name: str, out, wh) -> str | None:
    ref1, ref2 = wh["ref1"], wh["ref2"]
    if name in ("read_view", "video_stats"):
        bad = check_view(out, wh["view_ref"])
        return bad[0] if bad else None
    if name == "read_warehouse_key":
        key, rows = out
        want = ref2[key]
        got = [(r["original_timestamp"], r["watched_seconds"], r["video_duration_seconds"],
                r["watched_ratio"], r["device_type"], r["quality"], r["version"]) for r in rows]
        return None if got == [want] else f"lookup {key}: {got} != {[want]}"
    if name == "table_changes":
        got = sorted((r[0], r[1], r[2], r[3], r[4]) for r in out)
        want = sorted(k + (v[6], "insert" if k not in ref1 else "update")
                      for k, v in ref2.items() if k not in ref1 or ref1[k][6] != v[6])
        return None if got == want else f"{len(got)} changes, expected {len(want)}"
    n, w, v = out[0]
    want = (len(ref1), sum(r[1] for r in ref1.values()), max(r[6] for r in ref1.values()))
    return None if (n, w, v) == want else f"version 1 aggregate {(n, w, v)} != {want}"


def analytics_layers(run: Run) -> None:
    tracer, layer = run.tracer, run.layer
    tracer.attribute(run.spark)

    def counters(name):
        return [span_counters(tracer, s) for s in tracer.named(name)]

    def secs(name):
        return _med(s.seconds for s in tracer.named(name))

    layer["sinks.point_lookup_s"] = secs("read_warehouse_key")
    layer["sinks.files_read_per_lookup"] = _med(c["files_read"] for c in counters("read_warehouse_key"))
    layer["sinks.scan_s"] = secs("video_stats")
    layer["sinks.time_travel_s"] = secs("time_travel")
    layer["sinks.changes_read_s"] = secs("table_changes")
    layer["views.read_s"] = secs("read_view")
    plans = [c for n in run.cfg.catalog_ops if n not in CORPUS_OPS for c in counters(n)]
    for metric, key in (("plans.jobs_per_query", "jobs"), ("plans.tasks_per_query", "tasks"),
                        ("plans.driver_gap_s", "driver_gap_s"),
                        ("plans.shuffle_write_bytes_per_query", "shuffle_write_bytes")):
        layer[metric] = statistics.fmean(c[key] for c in plans) if plans else 0.0
    corpus = [n for n in run.cfg.catalog_ops if n in CORPUS_OPS]
    for n in CORPUS_OPS:
        cs = counters(n)
        layer[f"corpus.{n}.jobs"] = _med(c["jobs"] for c in cs)
        layer[f"corpus.{n}.driver_gap_s"] = _med(c["driver_gap_s"] for c in cs)
    for metric, key in (("sources.documents_rows_scanned", "documents_rows_scanned"),
                        ("operators.join_rows_out", "join_rows_out"),
                        ("functions.python_rows", "python_rows"),
                        ("functions.python_bytes", "python_bytes"),
                        ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                        ("spark.spill_bytes", "spill_bytes")):
        # per traced pass, summed over the corpus ops
        layer[metric] = sum(_med(c[key] for c in counters(n)) for n in corpus)


WORKLOADS = {"cdc_ingest": cdc_ingest, "analytics": analytics}

#: every per-layer metric, with its unit; a workload that does not exercise
#: a layer reports 0 for it
PER_LAYER = {
    "streaming.batch_busy_s": "s", "streaming.trigger_wait_s": "s",
    "streaming.unattributed_s": "s",
    "streaming.rows_in": "count", "streaming.rows_quarantined": "count",
    "sinks.merge_s": "s", "sinks.merge_jobs": "count", "sinks.buckets_written": "count",
    "sinks.bytes_written_per_row": "B", "views.refresh_s": "s", "views.refresh_jobs": "count",
    "views.dirty_groups": "count", "sinks.table_changes_s": "s",
    "sinks.point_lookup_s": "s", "sinks.files_read_per_lookup": "count", "sinks.scan_s": "s",
    "sinks.time_travel_s": "s", "sinks.changes_read_s": "s", "views.read_s": "s",
    "plans.jobs_per_query": "count", "plans.tasks_per_query": "count",
    "plans.driver_gap_s": "s", "plans.shuffle_write_bytes_per_query": "B",
    **{f"corpus.{n}.{m}": u for n in CORPUS_OPS for m, u in (("jobs", "count"), ("driver_gap_s", "s"))},
    "sources.documents_rows_scanned": "count", "operators.join_rows_out": "count",
    "functions.python_rows": "count", "functions.python_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "trace.overhead_s": "s",
}


def config_record(run: Run) -> dict:
    return {"seed": run.seed, "seconds": run.seconds, "config": run.cfg.__dict__,
            "catalog_sf": CATALOG_SF, "setup_phases_s": run.phases,
            "passes_s": [round(p, 3) for p in run.passes],
            "latencies_s": [round(x, 3) for x in run.latencies],
            "warm_latencies_s": [round(x, 3) for x in run.warm_latencies]}


def metric_line(values: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}

