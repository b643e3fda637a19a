"""Workload definitions and the seeded plan the harness runs.

The seed selects everything that varies between runs: the order of a
pass's queries, the replayed days, the feed-landing delays, the injected
failures and where the landed events split into two files. The same seed
gives the same plan."""
import random

# Each query workload runs a fixed set of queries per pass, each pass in
# its own seeded order: the work is identical on every seed, so the spread
# between seeds measures the system, not a draw. A pass over a whole pack
# set takes minutes; these sets fit the run budget, and each set's DuckDB
# oracles take seconds to compute.
#
# llm_shared_views: each pass first builds view_cluster_labels, the cold
# shingles -> exact pairs -> cluster labels chain (about 5 s, ending in
# the connected-components fixpoint loop), while the other client starts
# on the queries, which read the chain: q55, q136, q64 (cluster labels),
# q237, q196 (exact pairs) and q66 (shingles). A query reaching a view
# still being built waits on its cache lock. The build always leads, so a
# pass's critical path does not depend on the seeded order.
WORKLOADS = {
    "llm_shared_views": {"clients": 2, "pass_s": 6.0, "lead": "view_cluster_labels", "ops": [
        "q55_dedup_clusters", "q136_survivorship", "q64_leakage_free_split",
        "q237_split_leakage", "q196_edit_verify", "q66_decontamination"]},
    # dag_daily: each pass is one DAG run over two missed days; two
    # measured passes keep a run within the time a run may take
    "dag_daily": {"days": 2, "shards": 4, "pass_s": 12.0, "min_passes": 2},
}


def passes(workload, seconds, trace):
    """Measured passes for a run of ``seconds``: one per ``pass_s`` (about a
    pass's wall time on 4 cores), and never fewer than ``min_passes``
    (three by default). A traced run makes one traced and one untraced
    pass, leaving its time to the traced-only probes."""
    spec = WORKLOADS[workload]
    return 2 if trace else max(spec.get("min_passes", 3), round(seconds / spec["pass_s"]))


def checked(ops, catalog):
    """The ops, plus the twins that check the oracle-less ones."""
    by = {q["name"]: q for q in catalog}
    return sorted(set(ops) | {t for o in ops if not by[o]["oracle"] for t in by[o]["twins"]})


def queries(catalog):
    """Every query a plan can run or check."""
    by = {q["name"]: q for q in catalog}
    names = {q for spec in WORKLOADS.values() for q in checked(spec.get("ops", []), catalog)}
    return [by[q] for q in sorted(names)]


def make(workload, seed, seconds, trace, catalog):
    """The plan: a dict of harness properties."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    plan = {"workload": workload, "passes": passes(workload, seconds, trace)}
    if workload == "dag_daily":
        n = spec["days"]
        first = rng.randrange(1, 31 - n)
        plan.update({
            "days": ",".join(f"2024-01-{first + i:02d}" for i in range(n)),
            "land_events_ms": ",".join(str(rng.randrange(100, 200)) for _ in range(n)),
            "land_docs_ms": ",".join(str(rng.randrange(100, 200)) for _ in range(n)),
            "fail_first": ",".join(str(int(rng.random() < 0.5)) for _ in range(n)),
            # where each day's events split into two landed files
            "splits": ",".join(f"{rng.uniform(0.3, 0.7):.3f}" for _ in range(n)),
            "shards": spec["shards"],
        })
        return plan
    plan.update({"clients": spec["clients"], "ops": ",".join(spec["ops"]),
                 "checks": ",".join(checked(spec["ops"], catalog))})
    for p in range(plan["passes"] + 1):
        order = list(spec["ops"])
        rng.shuffle(order)
        plan[f"ops.{p}"] = ",".join(([spec["lead"]] if "lead" in spec else []) + order)
    if workload == "llm_shared_views":
        plan["analytic"] = "q127_pagerank,q163_kcore,q202_bfs_hops,q216_label_prop"
    return plan


def stage_dag(plan, data, stage):
    """Stages each day's events (two time-ordered files, split at the
    seeded fraction) and documents (every n-th doc) for the harness to
    land. File times increase in landing order, the order the file stream
    source reads them in."""
    import os
    import time
    import duckdb
    days = plan["days"].split(",")
    splits = [float(s) for s in plan["splits"].split(",")]
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{stage / 'spill'}'")
    t = time.time() - 3600
    for i, (day, frac) in enumerate(zip(days, splits)):
        ev = stage / "events" / f"d{day}"
        ev.mkdir(parents=True)
        for part, cond in enumerate([f"pos <= {frac} * n", f"pos > {frac} * n"]):
            f = ev / f"part-{part}.parquet"
            con.execute(f"""
                COPY (SELECT event_id, epoch_us(ts) AS us, user_id, event_type, value
                      FROM (SELECT *, row_number() OVER (ORDER BY ts, event_id) AS pos,
                                   count(*) OVER () AS n
                            FROM read_parquet('{data}/events.parquet')
                            WHERE CAST(ts AS DATE) = DATE '{day}')
                      WHERE {cond} ORDER BY ts, event_id)
                TO '{f}' (FORMAT PARQUET)""")
            t += 1
            os.utime(f, (t, t))
        docs = stage / "docs" / f"d{day}" / "documents.parquet"
        docs.mkdir(parents=True)
        f = docs / "part-0.parquet"
        con.execute(f"""
            COPY (SELECT * FROM read_parquet('{data}/documents.parquet')
                  WHERE doc_id % {len(days)} = {i} ORDER BY doc_id)
            TO '{f}' (FORMAT PARQUET)""")
        t += 1
        os.utime(f, (t, t))
    con.close()
