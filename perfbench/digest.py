"""Order-insensitive result digests, and the tool that pins them.

A result is normalized the way ``tools/driver_sim.py`` compares engine and
oracle frames: columns sorted by name, rows sorted, NULL and NaN equal,
integral floats equal to ints. The digest is a SHA-256 of that canonical
form, so the benchmark can check an op's output without re-running its
DuckDB oracle.

    python3 perfbench/digest.py

rewrites ``perfbench/digests.json`` for the catalog ops the ``analytics``
workload and its self-test run, from each op's DuckDB oracle. It stops
without writing if the engine's output differs from the oracle's.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _canon(v):
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2**53 else repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        return _canon(float(v))
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    if isinstance(v, (dt.datetime, dt.date)):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if hasattr(v, "to_pydatetime"):
        return _canon(v.to_pydatetime())
    try:
        import pandas as pd

        if v is pd.NaT or v is pd.NA:
            return None
    except ImportError:
        pass
    return str(v)


def digest(pdf) -> tuple[str, int]:
    """(hex digest, row count) of a pandas frame, order-insensitive."""
    cols = sorted(pdf.columns)
    rows = [json.dumps([_canon(x) for x in r], sort_keys=True, default=str)
            for r in pdf[cols].itertuples(index=False, name=None)]
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in sorted(rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def load() -> dict:
    with open(DIGESTS) as fh:
        return json.load(fh)


def _oracle(sql: str, sf_dir: str) -> tuple[str, int]:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{name}.parquet')")
    return digest(con.execute(sql).df())


def main() -> int:
    import shutil
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    sys.path.insert(0, here)
    import gen
    import workloads
    from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG
    from etl_pipeline_challenge_aladia_spark.session import get_spark

    tmp = tempfile.mkdtemp(prefix="digests-", dir=here)
    try:
        sf_dir = os.path.join(tmp, "tables")
        gen.write_tables(sf_dir, workloads.CATALOG_SF)
        spark = get_spark(app_name="perfbench-digests", cpus=4)
        out = {"sf": workloads.CATALOG_SF, "table_seed": gen.TABLE_SEED, "ops": {}}
        mismatched = []
        for name in dict.fromkeys(workloads.FULL.catalog_ops + workloads.TINY.catalog_ops):
            got, n = digest(CATALOG[name].spark(spark, sf_dir).toPandas())
            want, rows = _oracle(CATALOG[name].oracle, sf_dir)
            if got != want:
                mismatched.append(name)
                print(f"MISMATCH {name}: engine {got[:12]} ({n} rows) "
                      f"vs oracle {want[:12]} ({rows} rows)", file=sys.stderr, flush=True)
            out["ops"][name] = {"digest": want, "rows": rows}
            print(name, out["ops"][name], flush=True)
        spark.stop()
        if mismatched:
            print(f"digests.json not written: {len(mismatched)} op(s) disagree "
                  "with their oracle", file=sys.stderr)
            return 1
        with open(DIGESTS, "w") as fh:
            json.dump(out, fh, indent=2, sort_keys=True)
            fh.write("\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
