"""Turns the harness's JSON-line records into the benchmark's metrics.

End-to-end metrics come from measured (not warm) passes without tracing.
Per-module metrics come from the traced passes and the traced-only probe
phases; sums are per traced pass, so runs with different pass counts
compare."""
from . import stats

PACKS = ["Relational", "RelationalExt", "WindowOps", "Dedup", "SkewJoin", "Similarity",
         "TextOps", "Multimodal", "Curation", "Bucketed", "Partitioned", "Snapshots",
         "Analytic", "Layout", "Sources"]
VIEWS = ["view_shingles", "view_exact_pairs", "view_cluster_labels", "view_neardup_pairs",
         "view_embed_labels", "view_copurchase_support", "view_copurchase_edges",
         "view_copurchase_adj", "view_trade_edges"]
EXPRESSIONS = ["ArrayStats", "BigramHashes", "ByteHistogram", "ChunkHashes", "DotProduct",
               "HashedShingles", "LshBuckets", "LshProbeKeys", "MinHash64", "NearestCells",
               "NfcNormalize", "SimHash64", "SortedIntersect", "SortedIntersectCount",
               "TopKRows", "WinnowFingerprints"]
ANALYTIC = ["q127_pagerank", "q163_kcore", "q202_bfs_hops", "q216_label_prop"]
SPAN_MODULES = ["session", "operators", "views", "analytic", "functions", "pipeline",
                "shardwriter", "streaming"]

E2E_UNITS = {"run_s": "s", "op_p50_s": "s", "op_tail_s": "s", "setup_s": "s", "rss_peak_mb": "MB"}

# The per-module metrics every traced run measures, whatever the workload:
# the traced JSON line (and BENCHMARK.json) carries these. The others
# belong to one workload's modules (views, pipeline, ...) and read 0 on the
# other, or (spill) read 0 at this scale, so they are printed by name but
# not put in the JSON line.
SHARED = ["session.start_s", "session.warmup_s", "tables.scan_mb", "tables.scan_rows",
          "tables.scan_task_s", "operators.task_run_s", "operators.task_cpu_s", "operators.gc_s",
          "operators.shuffle_write_mb", "operators.shuffle_read_mb", "operators.shuffle_records",
          "operators.jobs", "operators.stages", "operators.tasks",
          "operators.skew_max", "operators.core_busy", "driver.serial_s",
          "driver.first_job_wait_s", "session.self_s", "trace.overhead_s"]


def per_layer_units():
    """Every per-module metric name with its unit, in report order."""
    u = {"session.start_s": "s", "session.warmup_s": "s",
         "tables.scan_mb": "MB", "tables.scan_rows": "count", "tables.scan_task_s": "s"}
    for k, unit in [("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
                    ("shuffle_records", "count"), ("spill_mb", "MB"), ("jobs", "count"),
                    ("stages", "count"), ("tasks", "count"), ("skew_max", "ratio"),
                    ("core_busy", "ratio")]:
        u[f"operators.{k}"] = unit
    u.update({f"operators.{p}.op_s": "s" for p in PACKS})
    u.update({"driver.serial_s": "s", "driver.first_job_wait_s": "s"})
    u.update({f"functions.{e}.ns_per_row": "ns" for e in EXPRESSIONS})
    u.update({"materialize.cut_jobs": "count", "materialize.cut_s": "s",
              "materialize.storage_peak_mb": "MB"})
    u.update({f"views.{v}.build_s": "s" for v in VIEWS})
    u.update({"views.hit_s": "s", "views.wait_s": "s"})
    for q in ANALYTIC + ["view_cluster_labels"]:
        u[f"analytic.{q}.jobs"] = "count"
        u[f"analytic.{q}.op_s"] = "s"
    u["analytic.cc_rounds"] = "count"
    u.update({"pipeline.attempts": "count", "pipeline.retries": "count", "pipeline.pokes": "count",
              "pipeline.poke_gap_ms": "ms", "pipeline.detect_s": "s",
              "pipeline.orchestration_s": "s", "pipeline.schedule_s": "s"})
    u.update({"shardwriter.write_s": "s", "shardwriter.output_mb": "MB", "shardwriter.files": "count"})
    u.update({"streaming.rows_per_s": "1/s", "streaming.batch_s": "s", "streaming.planning_s": "s",
              "streaming.commit_s": "s", "streaming.state_rows": "count", "streaming.state_mb": "MB"})
    u.update({f"{m}.self_s": "s" for m in SPAN_MODULES})
    u["trace.overhead_s"] = "s"
    return u


class Run:
    """The records of one harness run, indexed."""

    def __init__(self, records, dag):
        self.dag = dag
        by = {}
        for r in records:
            by.setdefault(r["kind"], []).append(r)
        self.by = by
        passes = by.get("pass", [])
        self.measured = [p for p in passes if not p["warm"]]
        # the set-up runs from session start to the end of the warm pass,
        # which holds the first-contact JIT and codegen work
        # (a run that failed in its warm pass has no warm pass record)
        start = by["setup"][0]
        warm = next((p for p in passes if p["warm"]), {"start_us": start["end_us"], "end_us": start["end_us"]})
        self.setup_s = (warm["end_us"] - start["start_us"]) / 1e6
        self.session_start_s = (start["session_us"] - start["start_us"]) / 1e6
        self.warm_pass_s = (warm["end_us"] - warm["start_us"]) / 1e6
        self.traced = {p["pass"] for p in self.measured if p["traced"]}
        self.untraced = {p["pass"] for p in self.measured if not p["traced"]}

    def get(self, kind):
        return self.by.get(kind, [])

    def pass_wall(self, which):
        if self.dag:
            return [(r["end_us"] - r["start_us"]) / 1e6 for r in self.get("dagrun") if r["pass"] in which]
        return [(p["end_us"] - p["start_us"]) / 1e6 for p in self.measured if p["pass"] in which]

    def ops(self, which):
        """(op label, pass, start_us, end_us, ok, record) of the ops in
        passes ``which``. A dag op runs from its feed landing to notify."""
        if self.dag:
            return [(r["op"], r["pass"], r["land_us"], r["notify_us"], r["route"] == "success", r)
                    for r in self.get("interval") if r["pass"] in which]
        return [(r["op"], r["pass"], r["start_us"], r["end_us"], r["ok"], r)
                for r in self.get("op") if r["pass"] in which]


def end_to_end(run, failed_checks):
    """End-to-end metrics, the number of ops attempted in all passes, the
    failed ones by name, and notes for the report.

    ``failed_checks`` maps a query name (query workloads) or a pass number
    (dag_daily) to the reason its output check failed; every op it covers
    counts as failed."""
    which = run.untraced
    lat = [(end - start) / 1e6 for _, _, start, end, _, _ in run.ops(which)]
    ops = run.ops({p["pass"] for p in run.get("pass")})
    failures = []
    for label, p, _, _, ok, rec in ops:
        key = p if run.dag else rec["name"]
        if not ok:
            failures.append(f"{label}: {rec.get('err') or 'failed'}")
        elif key in failed_checks:
            failures.append(f"{label}: check failed: {failed_checks[key]}")
    rss = [r["vmhwm_kb"] for r in run.get("rss")]
    tail_p, tail = stats.tail_percentile(lat) if lat else (50, 0.0)
    m = {
        "run_s": stats.median(run.pass_wall(which)),
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail,
        "setup_s": run.setup_s,
        "rss_peak_mb": (rss[0] / 1024) if rss else 0.0,
    }
    info = {"ops": len(lat), "passes": len(which), "tail_percentile": tail_p,
            "error_rate": (len(failures) / len(ops)) if ops else 1.0}
    return m, len(ops), failures, info


def _per_pass(total, n):
    return total / n if n else 0.0


def per_layer(run, cores):
    """Every per-module metric; 0 where the workload does not reach the module."""
    m = {k: 0.0 for k in per_layer_units()}
    traced = run.traced
    n = len(traced)
    ops = run.ops(traced)
    op_labels = {o[0] for o in ops}
    jobs = {j["job"]: j for j in run.get("job")}
    for e in run.get("job_end"):
        if e["job"] in jobs:
            jobs[e["job"]]["end_ms"] = e["end_ms"]
    op_jobs = [j for j in jobs.values() if j["op"] in op_labels]
    tasks = [t for t in run.get("task") if t["op"] in op_labels]
    stages = [s for s in run.get("stage") if s["op"] in op_labels]

    m["session.start_s"] = run.session_start_s
    m["session.warmup_s"] = run.warm_pass_s

    scans = [t for t in tasks if t["in_records"] > 0]
    m["tables.scan_mb"] = _per_pass(sum(t["in_bytes"] for t in scans) / 1e6, n)
    m["tables.scan_rows"] = _per_pass(sum(t["in_records"] for t in scans), n)
    m["tables.scan_task_s"] = _per_pass(sum(t["run_ms"] for t in scans) / 1e3, n)

    for key, field, scale in [("task_run_s", "run_ms", 1e3), ("task_cpu_s", "cpu_ns", 1e9),
                              ("gc_s", "gc_ms", 1e3), ("shuffle_write_mb", "sw_bytes", 1e6),
                              ("shuffle_read_mb", "sr_bytes", 1e6), ("shuffle_records", "sw_records", 1),
                              ("spill_mb", "spill_bytes", 1e6)]:
        m[f"operators.{key}"] = _per_pass(sum(t[field] for t in tasks) / scale, n)
    m["operators.jobs"] = _per_pass(len(op_jobs), n)
    m["operators.stages"] = _per_pass(len(stages), n)
    m["operators.tasks"] = _per_pass(len(tasks), n)
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["finish_ms"] - t["launch_ms"])
    skews = [max(d) / max(stats.median(d), 1) for d in by_stage.values() if len(d) >= 4]
    m["operators.skew_max"] = max(skews, default=0.0)
    run_traced = stats.median(run.pass_wall(traced))
    if run_traced:
        m["operators.core_busy"] = m["operators.task_run_s"] / (run_traced * cores)
    if not run.dag:
        for pack in PACKS:
            lat = [(o[3] - o[2]) / 1e6 for o in ops if o[5]["pack"] == pack]
            m[f"operators.{pack}.op_s"] = stats.median(lat)

    tasks_of, jobs_of = {}, {}
    for t in tasks:
        tasks_of.setdefault(t["op"], []).append((t["launch_ms"] * 1000, t["finish_ms"] * 1000))
    for j in op_jobs:
        jobs_of.setdefault(j["op"], []).append(j)
    serial, waits = 0.0, []
    for label, _, _, _, _, rec in ops:
        start, end = rec["start_us"], (rec["notify_us"] if run.dag else rec["end_us"])
        serial += (end - start) - stats.covered((start, end), tasks_of.get(label, []))
        if jobs_of.get(label):
            waits.append((min(j["start_ms"] for j in jobs_of[label]) * 1000 - start) / 1e6)
    m["driver.serial_s"] = _per_pass(serial / 1e6, n)
    m["driver.first_job_wait_s"] = stats.median(waits)

    cuts = [j for j in op_jobs if j["cut"] and "end_ms" in j]
    m["materialize.cut_jobs"] = _per_pass(len(cuts), n)
    m["materialize.cut_s"] = _per_pass(sum(j["end_ms"] - j["start_ms"] for j in cuts) / 1e3, n)
    m["materialize.storage_peak_mb"] = max((o[5].get("storage_bytes", 0) for o in ops), default=0) / 1e6

    spans = run.get("span")
    dur = {}
    for s in spans:
        dur.setdefault(s["name"], []).append((s["end_us"] - s["start_us"]) / 1e6)
    for v in VIEWS:
        m[f"views.{v}.build_s"] = stats.median(dur.get(f"views.{v}.build", []))
    m["views.hit_s"] = stats.median([d for v in VIEWS for d in dur.get(f"views.{v}.hit", [])])
    m["views.wait_s"] = _per_pass(sum(o[5].get("blocked_ms", 0) for o in ops) / 1e3, n)

    for q, label in [(q, f"analytic.{q}") for q in ANALYTIC] + [("view_cluster_labels", "view.view_cluster_labels")]:
        m[f"analytic.{q}.jobs"] = sum(1 for j in jobs.values() if j["op"] == label)
        span = "views.view_cluster_labels.build" if q == "view_cluster_labels" else label
        m[f"analytic.{q}.op_s"] = stats.median(dur.get(span, []))
    rounds = run.get("cc_rounds")
    m["analytic.cc_rounds"] = rounds[-1]["rounds"] if rounds else 0

    if run.dag:
        intervals = [o[5] for o in ops]
        m["pipeline.attempts"] = _per_pass(sum(r["attempts"] for r in intervals), n)
        m["pipeline.retries"] = _per_pass(sum(max(r["attempts"] - 1, 0) for r in intervals), n)
        gaps, detect = [], []
        for r in intervals:
            for feed in ("events", "docs"):
                pk = r[f"pokes_{feed}"]
                m["pipeline.pokes"] += len(pk) / n
                gaps += [(b - a) / 1e3 for a, b in zip(pk, pk[1:])]
                if pk:
                    detect.append((pk[-1] - r[f"landed_{feed}_us"]) / 1e6)
        m["pipeline.poke_gap_ms"] = stats.median(gaps)
        m["pipeline.detect_s"] = stats.median(detect)
        orch = 0.0
        for r in intervals:
            spans_j = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs_of.get(r["op"], []) if "end_ms" in j]
            wall = r["notify_us"] - r["start_us"]
            orch += wall - stats.covered((r["start_us"], r["notify_us"]), spans_j)
        m["pipeline.orchestration_s"] = _per_pass(orch / 1e6, n)
        m["pipeline.schedule_s"] = _per_pass(sum(dur.get("pipeline.schedule", [])), n)
        m["shardwriter.write_s"] = _per_pass(sum(dur.get("shardwriter.curated_write", [])), n)
        shards = [s for s in run.get("shards") if s["pass"] in traced]
        m["shardwriter.output_mb"] = _per_pass(sum(s["bytes"] for s in shards) / 1e6, n)
        m["shardwriter.files"] = _per_pass(sum(s["files"] for s in shards), n)
        streams = [s for s in run.get("stream") if s["op"] in op_labels]
        trig = sum(s["trigger_ms"] for s in streams)
        if trig:
            m["streaming.rows_per_s"] = sum(s["rows"] for s in streams) / (trig / 1e3)
        m["streaming.batch_s"] = stats.median([s["trigger_ms"] / 1e3 for s in streams])
        m["streaming.planning_s"] = _per_pass(sum(s["planning_ms"] for s in streams) / 1e3, n)
        m["streaming.commit_s"] = _per_pass(sum(s["commit_ms"] for s in streams) / 1e3, n)
        final = {}
        for s in streams:  # state after a pass's last batch of each step
            key = (s["op"].split(".", 1)[0], s["step"])
            if key not in final or (s["op"], s["batch"]) > (final[key]["op"], final[key]["batch"]):
                final[key] = s
        m["streaming.state_rows"] = _per_pass(sum(s["state_rows"] for s in final.values()), n)
        m["streaming.state_mb"] = _per_pass(sum(s["state_bytes"] for s in final.values()) / 1e6, n)

    for f in run.get("fn"):
        per_row = (stats.median(f["expr_ns"]) - stats.median(f["base_ns"])) / f["rows"]
        m[f"functions.{f['name']}.ns_per_row"] = max(per_row, 0.0)

    selfs = stats.module_self_seconds(spans)
    for mod in SPAN_MODULES:
        m[f"{mod}.self_s"] = selfs.get(mod, 0.0)
    untraced = run.pass_wall(run.untraced)
    if untraced and run_traced:
        m["trace.overhead_s"] = run_traced - stats.median(untraced)
    return m
