"""Expected answers from DuckDB over the same parquet, cached per checkout.

Each query's ``oracle_sql()`` runs once per checkout, data set and SQL
text; the digest of its result (sorted column names, row count and a hash
of ``tools/check_oracle.normalize``'s canonical rows) is kept under
``.bench_cache/`` and compared with the digest of Spark's result in the
cold pass. Every query of a workload must have an oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Dict, Iterable

from tools.check_oracle import TABLES, normalize


def digest(pdf) -> dict:
    rows = normalize(pdf)
    return {
        "columns": sorted(pdf.columns),
        "rows": len(rows),
        "sha256": hashlib.sha256(json.dumps(rows).encode()).hexdigest(),
    }


def _data_stamp(data_dir: str) -> str:
    parts = []
    for t in TABLES:
        st = os.stat(os.path.join(data_dir, f"{t}.parquet"))
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def answers(names: Iterable[str], data_dir: str, cache_dir: str) -> Dict[str, dict]:
    """name -> digest of the DuckDB answer."""
    import __spark_entry__ as E

    sqls = E.oracle_sql()
    missing = sorted(set(names) - set(sqls))
    if missing:
        raise ValueError(f"no oracle_sql() entry for {missing}")
    stamp = _data_stamp(data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name in names:
        key = hashlib.sha256(f"{stamp}\n{data_dir}\n{sqls[name]}".encode()).hexdigest()[:20]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if not os.path.exists(path):
            if con is None:
                import duckdb

                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{data_dir}/{t}.parquet'")
            with open(path + ".part", "w") as f:
                json.dump(digest(con.execute(sqls[name]).df()), f)
            os.replace(path + ".part", path)
        with open(path) as f:
            out[name] = json.load(f)
    if con is not None:
        con.close()
    return out
