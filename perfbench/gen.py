"""Seeded inputs for the benchmark.

Two generators, both pure Python/NumPy so the program under test only ever
sees the files they write:

- ``write_tables``: the catalog's star schema plus ``events``,
  ``documents`` and ``embeddings``, shaped like the engine's testdata
  (uniform TPC-H-ish facts, a 30-word document vocabulary with 5 % planted
  near-duplicates, 64-dim unit embeddings with ten labels). The table seed
  is fixed so that the pinned output digests in ``digests.json`` hold.
- ``CdcStream``: change envelopes as the reference producer makes them
  (50/30/20 insert/update/delete, updates and deletes on the first 10 live
  documents), delivered at least once with requeued copies arriving late,
  and with truncated lines, plus the pure-Python last-write-wins reference
  the warehouse and view are checked against.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DEVICES = ["mobile", "desktop", "tablet", "smart_tv"]
QUALITIES = ["360p", "480p", "720p", "1080p", "4k"]


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def build_tables(sf: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """Every catalog input table at scale factor ``sf`` (row counts as in
    the engine's testdata: 6M*sf lineitems, 500 documents minimum)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(100, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjs = ["red", "blue", "hot", "cold", "small", "large", "old", "new"]
    nouns = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2499),
    })
    gaps = rng.exponential(30 * 86400e6 / max(n_ev, 1), n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(2.0, 10.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def ratio(watched: int, duration: int) -> float:
    """The engine's watched_ratio contract: half-up at 4 dp, 0 when the
    duration is not positive (operators/enrich.py, functions/rounding.py)."""
    if duration <= 0:
        return 0.0
    return math.floor(watched / duration * 10000.0 + 0.5) / 10000.0


class CdcStream:
    """Seeded CDC envelope source, modelled on the reference producer
    (``producer/db/data_simulation.py`` as SURVEY.md §1.3, S6 and O1
    describe it).

    ``preload_lines`` inserts ``n_keys`` documents. After that each
    ``batch_lines`` call draws ``size`` operations in the producer's
    50/30/20 insert/update/delete mix:

    - an insert creates a fresh document: ``video_{10000..99999}``,
      ``session_{100000..999999}``, a duration of 60..3600 s, a watched time
      up to the duration, and a device and quality drawn from the
      producer's lists;
    - an update picks a random victim among the first 10 live documents in
      insertion order (``find().limit(10)``) and sets a new watched time
      and timestamp;
    - a delete removes a random one of those first 10 from the source.

    Delivery is at-least-once, as in the reference consumer (SURVEY.md X1,
    X2): 5 % of each batch's envelopes are requeued and re-enter the next
    batch at random positions, so they arrive twice and after newer
    versions. About 0.5 % of delivered lines are truncated.
    ``reference`` tracks last-write-wins over every intact line delivered
    so far, exactly as the merge sink must (deletes carry no payload and
    are dropped; the highest ``version`` per key wins).
    """

    def __init__(self, seed: int, n_keys: int):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.docs: list[tuple] = []  # (id, video, session, duration, device, quality)
        self.live: list[int] = []  # the source collection, in insertion order
        self.version = 0
        self.clock = dt.datetime(2024, 1, 1)
        self.requeued: list[dict] = []
        self.reference: dict[tuple, tuple] = {}
        self.quarantined = 0

    def _new_doc(self) -> int:
        rng = self.rng
        self.docs.append((
            f"{int(rng.integers(1 << 40, 1 << 62)):024x}",
            f"video_{int(rng.integers(10000, 100000))}",
            f"session_{int(rng.integers(100000, 1000000))}",
            int(rng.integers(60, 3601)),
            DEVICES[int(rng.integers(0, len(DEVICES)))],
            QUALITIES[int(rng.integers(0, len(QUALITIES)))],
        ))
        self.live.append(len(self.docs) - 1)
        return len(self.docs) - 1

    def _envelope(self, k: int, op: str) -> dict:
        self.version += 1
        self.clock += dt.timedelta(seconds=int(self.rng.integers(1, 30)))
        iso = self.clock.strftime("%Y-%m-%dT%H:%M:%SZ")
        doc_id, video, session, duration, device, quality = self.docs[k]
        data = None
        if op != "delete":
            data = {
                "video_id": video, "session_id": session,
                "watched_seconds": int(self.rng.integers(0, duration + 1)),
                "video_duration_seconds": duration, "timestamp": iso,
                "device_type": device, "quality": quality,
            }
        return {"operation": op, "document_id": doc_id, "timestamp": iso,
                "data": data, "version": self.version}

    def _apply(self, env: dict) -> None:
        d = env["data"]
        if env["operation"] not in ("insert", "update") or d is None:
            return
        key = (env["document_id"], d["video_id"], d["session_id"])
        cur = self.reference.get(key)
        if cur is not None and cur[-1] >= env["version"]:
            return
        ts = d["timestamp"].replace("T", " ").rstrip("Z")
        self.reference[key] = (
            ts, d["watched_seconds"], d["video_duration_seconds"],
            ratio(d["watched_seconds"], d["video_duration_seconds"]),
            d["device_type"], d["quality"], env["version"],
        )

    def _deliver(self, envs: list[dict], truncate_p: float) -> list[str]:
        lines = []
        for env in envs:
            line = json.dumps(env, separators=(",", ":"))
            if self.rng.random() < truncate_p:
                cut = int(self.rng.integers(len(line) // 4, len(line) - 2))
                lines.append(line[:cut])
                self.quarantined += 1
            else:
                lines.append(line)
                self._apply(env)
        return lines

    def preload_lines(self) -> list[str]:
        envs = [self._envelope(self._new_doc(), "insert") for _ in range(self.n_keys)]
        return self._deliver(envs, 0.0)

    def batch_lines(self, size: int) -> list[str]:
        rng = self.rng
        fresh = []
        for op in rng.choice(["insert", "update", "delete"], size, p=[0.5, 0.3, 0.2]):
            if op == "insert":
                k = self._new_doc()
            else:
                i = int(rng.integers(0, min(10, len(self.live))))
                k = self.live.pop(i) if op == "delete" else self.live[i]
            fresh.append(self._envelope(k, str(op)))
        envs = list(fresh)
        for env in self.requeued:
            envs.insert(int(rng.integers(0, len(envs) + 1)), env)
        picks = rng.choice(len(fresh), round(0.05 * len(fresh)), replace=False)
        self.requeued = [fresh[int(i)] for i in sorted(picks)]
        return self._deliver(envs, 0.005)

    def expected_rows(self) -> dict[tuple, tuple]:
        return dict(self.reference)

    def expected_view(self) -> dict[str, tuple[float, int, int]]:
        """video_id -> (avg watched_ratio, sessions, max watched_seconds)."""
        acc: dict[str, list] = {}
        for (_, video, _), row in self.reference.items():
            a = acc.setdefault(video, [0.0, 0, -1])
            a[0] += row[3]
            a[1] += 1
            a[2] = max(a[2], row[1])
        return {v: (math.floor(s / n * 10000.0 + 0.5) / 10000.0, n, m)
                for v, (s, n, m) in acc.items()}
