"""DuckDB oracle answers for registry workloads, cached per dataset.

Each registry workload carries an ANSI-SQL oracle over the same parquet
tables. Its answer depends only on the oracle SQL and the dataset, so it
is computed once (outside any timed span and outside set-up) and cached
under a key that hashes both: a commit that changes a workload's oracle,
or a rebuilt dataset, misses the cache. Rows are compared with the
normalisation of ``tools/run_workload.py --check``: floats rounded to 9
decimals, rows sorted.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle


def normalise(rows) -> list[tuple]:
    def norm(v):
        return round(v, 9) if isinstance(v, float) else v

    out = [tuple(norm(v) for v in r) for r in rows]
    try:
        return sorted(out)
    except TypeError:  # a None among non-None values of one column
        return sorted(out, key=repr)


def cache_key(sql: str, sf_dir: str) -> str:
    """Hash of the oracle SQL and of the dataset's parquet files (name,
    size and modification time, which a rebuild changes)."""
    files = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    stats = []
    for f in files:
        st = os.stat(os.path.join(sf_dir, f))
        stats.append((f, st.st_size, st.st_mtime_ns))
    blob = json.dumps([os.path.abspath(sf_dir), stats, sql])
    return hashlib.sha256(blob.encode()).hexdigest()[:20]


def oracle_rows(cache_dir: str, sf_dir: str, names, registry) -> dict[str, list[tuple]]:
    """Normalised oracle rows for ``names``, computing missing ones."""
    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, list[tuple]] = {}
    con = None
    for name in names:
        sql = registry[name].oracle
        path = os.path.join(cache_dir, f"{name}-{cache_key(sql, sf_dir)}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                out[name] = pickle.load(fh)
            continue
        if con is None:
            import duckdb

            from query_refinement_dsit_databases_2021_spark.workloads import TABLES

            con = duckdb.connect()
            con.execute(f"SET temp_directory = '{os.path.join(cache_dir, 'duckdb.tmp')}'")
            for t in TABLES:
                if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
                    continue
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
        rows = normalise(con.execute(sql).fetchall())
        tmp = f"{path}.tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(rows, fh)
        os.replace(tmp, path)
        out[name] = rows
    if con is not None:
        con.close()
    return out
