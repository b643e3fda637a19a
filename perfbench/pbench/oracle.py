"""Output checks for the query workloads: each dumped Spark result is
hash-compared with DuckDB running the query's oracle SQL on the same
tables. Expected digests are computed once per (SQL, data) and cached, so
they are ready before any run times anything."""
import hashlib
import json
import os
from pathlib import Path

from . import canon

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _key(sql, data):
    return hashlib.sha256(f"{data}\0{sql}".encode()).hexdigest()[:24]


def expected(queries, data, cache_dir):
    """{name: {"rows", "digest"} or {"err"}} for queries with oracle SQL,
    computing the ones not in the cache."""
    cache_dir = Path(cache_dir)
    cache_dir.mkdir(parents=True, exist_ok=True)
    out, con = {}, None
    for q in queries:
        path = cache_dir / (_key(q["oracle"], data) + ".json")
        if not path.exists():
            if con is None:
                import duckdb
                con = duckdb.connect()
                con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
                con.execute(f"SET temp_directory = '{cache_dir / 'spill'}'")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            try:
                rows, digest = canon.table_digest(con.execute(q["oracle"]).fetch_arrow_table())
                res = {"rows": rows, "digest": digest}
            except Exception as e:  # an oracle that cannot run fails the check
                res = {"err": f"oracle: {type(e).__name__}: {e}"[:300]}
            path.write_text(json.dumps(res))
        out[q["name"]] = json.loads(path.read_text())
    if con is not None:
        con.close()
    return out


def actual(dump_dir):
    """(rows, digest) of one dumped Spark result, or an error string."""
    import pyarrow.parquet as pq
    try:
        return canon.table_digest(pq.read_table(dump_dir))
    except Exception as e:
        return f"{type(e).__name__}: {e}"[:300]


def check(catalog, names, dumps, expect, dump_root):
    """Verdict per checked query: None when it passed, else the reason.

    Oracle-backed queries must match their DuckDB digest. The oracle-less
    sketches must have produced rows, and every declared twin must pass."""
    by_name = {q["name"]: q for q in catalog}
    verdicts = {}

    def one(name):
        if name in verdicts:
            return verdicts[name]
        dump = dumps.get(name)
        if dump is None or not dump["ok"]:
            v = "no output" if dump is None else dump["err"]
        else:
            got = actual(Path(dump_root) / name)
            q = by_name[name]
            if isinstance(got, str):
                v = got
            elif q["oracle"]:
                exp = expect[name]
                v = exp.get("err") or (None if (got[0], got[1]) == (exp["rows"], exp["digest"])
                                        else f"digest differs (spark {got[0]} rows, oracle {exp['rows']})")
            elif got[0] == 0:
                v = "no rows"
            else:
                bad = [t for t in q["twins"] if one(t) is not None]
                v = f"twins failed: {', '.join(bad)}" if bad else None
        verdicts[name] = v
        return v

    for n in names:
        one(n)
    return {n: verdicts[n] for n in names}
