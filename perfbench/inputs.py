"""Inputs shared by every run in a checkout, made once and cached.

* The generated tables (:mod:`perfbench.gen_data`), in a directory keyed
  by a hash of the generator's source.
* One result digest per workload query, pinned from the query's DuckDB
  oracle (``plans.registry.ORACLES``) over those tables and keyed by a hash
  of the oracle SQL.

Digests use the canonical form of the repository's oracle gate
(``tests/conftest.py``): columns sorted by name, each cell canonicalized,
rows sorted by ``repr``.  The few lines are repeated here rather than
imported, so the benchmark does not depend on the test suite's layout or
on pytest.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from datetime import date, datetime

from perfbench import gen_data

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:16]


def ensure_tables() -> str:
    """Directory of the generated tables, generating them if missing."""
    with open(gen_data.__file__, "rb") as fh:
        key = _sha(fh.read())
    out = os.path.join(WORK, f"tables-{key}")
    if not os.path.isdir(out):
        os.makedirs(WORK, exist_ok=True)
        stage = f"{out}.build-{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)
        gen_data.write_tables(stage)
        os.rename(stage, out)
    return out


def canon_value(v):
    """One cell in the oracle gate's canonical form."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_value(x)) for k, x in v.items()))
    if hasattr(v, "item"):  # numpy scalar
        return canon_value(v.item())
    return v


def digest(columns: list[str], rows) -> tuple[str, int]:
    """(sha256, row count) of a result given its column names and rows as
    tuples in the same column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((tuple(canon_value(r[i]) for i in order) for r in rows), key=repr)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest(), len(canon)


def spark_digest(df) -> tuple[str, int]:
    return digest(df.columns, [tuple(r) for r in df.collect()])


def oracle_digests(tables: str, names: list[str], oracles: dict[str, str]) -> dict:
    """``{name: {"sql": sha, "digest": sha256, "rows": n}}`` for each query
    in ``names`` that has an oracle, computing missing or stale entries
    with DuckDB and caching them next to the tables."""
    path = os.path.join(tables, "oracle_digests.json")
    try:
        with open(path) as fh:
            pinned = json.load(fh)
    except FileNotFoundError:
        pinned = {}
    todo = [n for n in names if n in oracles
            and pinned.get(n, {}).get("sql") != _sha(oracles[n].encode())]
    if todo:
        import duckdb

        from etl_rf_matrix_controller_spark.sources.tables import TABLES

        spill = os.path.join(WORK, f"duckdb-{os.getpid()}")
        con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB",
                                     "temp_directory": spill})
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{tables}/{t}.parquet')")
            for n in todo:
                res = con.execute(oracles[n])
                d, rows = digest([c[0] for c in res.description], res.fetchall())
                pinned[n] = {"sql": _sha(oracles[n].encode()), "digest": d, "rows": rows}
        finally:
            con.close()
            shutil.rmtree(spill, ignore_errors=True)
        with open(f"{path}.tmp-{os.getpid()}", "w") as fh:
            json.dump(pinned, fh, indent=1, sort_keys=True)
        os.replace(f"{path}.tmp-{os.getpid()}", path)
    return {n: pinned[n] for n in names if n in pinned}
