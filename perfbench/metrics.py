"""Metrics of one benchmark run, derived from the JVM's raw record.

Every workload is a closed loop of timed operations grouped into
passes. End-to-end metrics (untraced run):

  setup_s       JVM start to the first timed operation (JVM, session,
                warm-up); for index_serve the index build is not in it
  first_pass_s  the cold pass of a fresh process: gene_etl and
                neardup_shuffle run every op once; index_serve builds,
                stores and re-reads the posting artifact, builds the
                BM25 tables and serves one block of requests
  pass_s        median warm pass
  req_p50_s     median latency of a read in the warm passes: a
                noop-materialized catalog op, or a served index_serve
                request
  req_per_s     reads per second of read latency (closed loop)
  peak_rss_mb   VmHWM of the JVM before the output check

and, in the report only:

  req_p90_s     90th percentile of the read latencies
  write_p50_s   median latency of a write in the warm passes: a Sinks.*
                load, or an index_serve append plus BM25 refresh
  index_build_s index_serve only: median warm index build (build, store,
                re-read, BM25 tables)

Per-layer metrics (traced run) are per warm pass for gene_etl and
neardup_shuffle and per served request of the warm passes for
index_serve; see README.md.
"""
import statistics

# declared in BENCHMARK.json and printed on the result line
END_TO_END = [
    ("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
    ("req_p50_s", "s"), ("req_per_s", "1/s"), ("peak_rss_mb", "MB"),
]
# printed in the report only: over 10 seeds their spread reached 0.26
# on gene_etl (14 op samples for the p90, 2 loads for the write median),
# above the largest bound a declared metric may have
REPORT_ONLY = [("req_p90_s", "s"), ("write_p50_s", "s")]
INDEX_REPORT_ONLY = [("index_build_s", "s")]

PER_LAYER = [
    ("queries.build_s", "s"), ("queries.side_jobs", "count"),
    ("spark.catalyst.plan_s", "s"), ("spark.codegen.compiles", "count"),
    ("spark.exec.action_s", "s"), ("spark.exec.jobs", "count"),
    ("spark.exec.stages", "count"), ("spark.exec.tasks", "count"),
    ("spark.exec.task_run_s", "s"), ("spark.exec.task_cpu_s", "s"),
    ("spark.exec.slot_busy_frac", "frac"),
    ("spark.shuffle.write_bytes", "bytes"), ("spark.shuffle.read_bytes", "bytes"),
    ("spark.shuffle.fetch_wait_s", "s"), ("spark.shuffle.spill_bytes", "bytes"),
    ("plans.custom_nodes", "count"), ("spark.catalyst.exchanges", "count"),
    ("spark.catalyst.sort_merge_joins", "count"),
    ("spark.catalyst.broadcast_bytes", "bytes"),
    ("spark.exec.join_rows_per_output_row", "ratio"),
    ("core.tables.input_bytes", "bytes"), ("core.tables.input_rows", "count"),
    ("sinks.write_s", "s"), ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("core.staging.drain_s", "s"), ("core.staging.bytes_after_drain", "bytes"),
    ("jvm.gc_s", "s"), ("jvm.heap_used_mb", "MB"),
    ("ops.index.append_s", "s"), ("ops.bm25.refresh_s", "s"),
    ("ops.bm25.score_s", "s"), ("ops.index.phrase_s", "s"),
    ("ops.index.proximity_s", "s"), ("ops.index.artifact_bytes", "bytes"),
    ("spark.exec.failed_tasks", "count"), ("spark.exec.late_task_ends", "count"),
    ("trace.overhead_frac", "frac"),
]

# per-op layers: the phase spans of an operation (catalyst planning is
# split out of the phase it happened in)
LAYERS = ("build", "plan", "action", "sink", "reread", "bm25", "refresh", "drain")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pctl(xs, q):
    """Linear-interpolated percentile (numpy's default definition)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def passes(ops):
    """{pass: total op seconds} over successful and failed ops alike."""
    out = {}
    for o in ops:
        out[o["pass"]] = out.get(o["pass"], 0.0) + o["t"]
    return out


def self_times(raw):
    """{op id: {layer: self seconds, 'unattributed': s, 'wall': s}}."""
    spans = raw.get("spans", [])
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        own = (dur - child.get(s["id"], 0.0)) / 1e3
        rec = out.setdefault(s["op"], {})
        if s["name"] == "op":
            rec["unattributed"] = own
            rec["wall"] = dur / 1e3
        else:
            rec[s["name"]] = rec.get(s["name"], 0.0) + own
    return out


def _layer_totals(ops, selfs, rows_of):
    """Sum the per-layer quantities of a group of traced ops."""
    t = {"wall": 0.0, "join_rows": 0, "out_rows": 0}
    keys = ("tasks", "failed_tasks", "late_task_ends", "task_run_s", "task_cpu_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
            "spill_bytes", "input_bytes", "input_rows", "custom_nodes",
            "exchanges", "sort_merge_joins", "broadcast_bytes", "stages")
    for k in keys + LAYERS + ("jobs", "side_jobs", "codegen_compiles", "gc_s",
                              "sink_bytes", "sink_files"):
        t[k] = 0
    t["heap_used_mb"] = 0.0
    t["bytes_after_drain"] = 0
    for o in ops:
        sp = o.get("spark", {})
        for k in keys:
            t[k] += sp.get(k, 0)
        jobs = sp.get("jobs_by_phase", {})
        t["jobs"] += sum(jobs.values())
        t["side_jobs"] += jobs.get("build", 0)
        st = selfs.get(o["id"], {})
        for layer in LAYERS:
            t[layer] += st.get(layer, 0.0)
        t["wall"] += o["t"]
        t["codegen_compiles"] += o.get("codegen_compiles", 0)
        t["gc_s"] += o.get("gc_s", 0.0)
        t["sink_bytes"] += o.get("sink_bytes", 0)
        t["sink_files"] += o.get("sink_files", 0)
        t["heap_used_mb"] = max(t["heap_used_mb"], o.get("heap_used_mb", 0.0))
        t["bytes_after_drain"] = max(t["bytes_after_drain"], o.get("bytes_after_drain", 0))
        rows = rows_of(o)
        if rows:
            t["join_rows"] += sp.get("join_rows", 0)
            t["out_rows"] += rows
    return t


def _layer_metrics(t, cores):
    return {
        "queries.build_s": t["build"], "queries.side_jobs": t["side_jobs"],
        "spark.catalyst.plan_s": t["plan"],
        "spark.codegen.compiles": t["codegen_compiles"],
        "spark.exec.action_s": t["action"], "spark.exec.jobs": t["jobs"],
        "spark.exec.stages": t["stages"], "spark.exec.tasks": t["tasks"],
        "spark.exec.task_run_s": t["task_run_s"],
        "spark.exec.task_cpu_s": t["task_cpu_s"],
        "spark.exec.slot_busy_frac":
            t["task_run_s"] / (t["wall"] * cores) if t["wall"] else 0.0,
        "spark.shuffle.write_bytes": t["shuffle_write_bytes"],
        "spark.shuffle.read_bytes": t["shuffle_read_bytes"],
        "spark.shuffle.fetch_wait_s": t["fetch_wait_s"],
        "spark.shuffle.spill_bytes": t["spill_bytes"],
        "plans.custom_nodes": t["custom_nodes"],
        "spark.catalyst.exchanges": t["exchanges"],
        "spark.catalyst.sort_merge_joins": t["sort_merge_joins"],
        "spark.catalyst.broadcast_bytes": t["broadcast_bytes"],
        "spark.exec.join_rows_per_output_row":
            t["join_rows"] / t["out_rows"] if t["out_rows"] else 0.0,
        "core.tables.input_bytes": t["input_bytes"],
        "core.tables.input_rows": t["input_rows"],
        "sinks.write_s": t["sink"], "sinks.bytes_written": t["sink_bytes"],
        "sinks.files_written": t["sink_files"],
        "core.staging.drain_s": t["drain"],
        "core.staging.bytes_after_drain": t["bytes_after_drain"],
        "jvm.gc_s": t["gc_s"], "jvm.heap_used_mb": t["heap_used_mb"],
        "spark.exec.failed_tasks": t["failed_tasks"],
        "spark.exec.late_task_ends": t["late_task_ends"],
    }


def _per_layer(raw, check):
    ops, cores = raw["ops"], raw["cores"]
    selfs = self_times(raw)
    traced = [o for o in ops if o["traced"]]
    out = {}
    if raw["workload"] == "index_serve":
        served = [o for o in traced if o["kind"] in ("read", "write") and o["pass"] > 0]
        t = _layer_totals(served, selfs, lambda o: o.get("rows", 0))
        n = max(1, len(served))
        m = _layer_metrics(t, cores)
        out = {k: (v if k in ("spark.exec.slot_busy_frac", "jvm.heap_used_mb",
                              "core.staging.bytes_after_drain",
                              "spark.exec.join_rows_per_output_row") else v / n)
               for k, v in m.items()}
        builds = [o for o in traced if o["kind"] == "build"]
        bt = _layer_totals(builds, selfs, lambda o: 0)
        nb = max(1, len(builds))
        out["sinks.write_s"] = bt["sink"] / nb
        out["sinks.bytes_written"] = bt["sink_bytes"] / nb
        out["sinks.files_written"] = bt["sink_files"] / nb
        warm_ops = [o for o in ops if o["pass"] > 0]
        writes = [o for o in warm_ops if o["kind"] == "write"]
        out["ops.index.append_s"] = median(
            [sum(o["phases"].get(p, 0.0) for p in ("build", "sink", "reread"))
             for o in writes])
        out["ops.bm25.refresh_s"] = median([o["phases"].get("refresh", 0.0) for o in writes])
        for name, kind in (("ops.bm25.score_s", "bm25"), ("ops.index.phrase_s", "phrase"),
                           ("ops.index.proximity_s", "proximity")):
            out[name] = median([o["t"] for o in warm_ops if o["name"] == kind])
        out["ops.index.artifact_bytes"] = raw.get("artifact_bytes", 0)
        reads = [o for o in warm_ops if o["kind"] == "read"]
        on = median([o["t"] for o in reads if o["traced"]])
        off = median([o["t"] for o in reads if not o["traced"]])
    else:
        rows = {n: e.get("rows", 0) for n, e in check["ops"].items()}
        warm = sorted({o["pass"] for o in traced if o["pass"] > 0})
        per_pass = [_layer_metrics(_layer_totals(
            [o for o in traced if o["pass"] == p], selfs,
            lambda o: rows.get(o["name"], 0)), cores) for p in warm]
        out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}
        for name in ("ops.index.append_s", "ops.bm25.refresh_s", "ops.bm25.score_s",
                     "ops.index.phrase_s", "ops.index.proximity_s",
                     "ops.index.artifact_bytes"):
            out[name] = 0.0
        tot = passes([o for o in ops if o["pass"] > 0])
        on = median([v for p, v in tot.items() if p in warm])
        off = median([v for p, v in tot.items() if p not in warm])
    out["trace.overhead_frac"] = on / off - 1 if off else 0.0
    return out


def _end_to_end(raw):
    ops = raw["ops"]
    out = {"setup_s": raw["setup_s"], "peak_rss_mb": raw["peak_rss_mb"]}
    tot = passes(ops)
    out["first_pass_s"] = tot.get(0, 0.0)
    out["pass_s"] = median([v for p, v in tot.items() if p > 0])
    warm = [o for o in ops if o["pass"] > 0]
    if raw["workload"] == "index_serve":
        reads = [o["t"] for o in warm if o["kind"] == "read"]
        writes = [o["t"] for o in warm if o["kind"] == "write"]
        out["index_build_s"] = median([o["t"] for o in warm if o["kind"] == "build"])
    else:
        reads = [o["t"] for o in warm if o["kind"] == "noop"]
        writes = [o["t"] for o in warm if o["kind"] != "noop"]
    out["req_p50_s"] = median(reads)
    out["req_p90_s"] = pctl(reads, 0.9)
    out["req_per_s"] = len(reads) / sum(reads) if reads else 0.0
    out["write_p50_s"] = median(writes)
    return out, {"reads": len(reads), "writes": len(writes)}


def summarize(raw, check):
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    m, samples = (_per_layer(raw, check), {}) if raw["trace"] else _end_to_end(raw)
    return {"attempted": attempted, "failed": failed, "samples": samples,
            "fail_frac": failed / attempted if attempted else 1.0, "metrics": m}


def cache_visibility(raw):
    """Per op: first-pass time/build/jobs next to the warm median, and
    whether the warm passes skip work through a session cache."""
    known = raw.get("session_caches", {})
    by = {}
    for o in raw["ops"]:
        by.setdefault(o["name"], []).append(o)
    out = {}
    for name, runs in by.items():
        first = [o for o in runs if o["pass"] == 0]
        warm = [o for o in runs if o["pass"] > 0]
        if not first or not warm:
            continue
        f = first[0]
        w_t = median([o["t"] for o in warm])

        def jobs(o):
            return sum(o.get("spark", {}).get("jobs_by_phase", {}).values()) \
                if o["traced"] else None
        warm_jobs = [jobs(o) for o in warm if o["traced"]]
        rec = {"first_s": f["t"], "first_build_s": f["phases"].get("build", 0.0),
               "first_jobs": jobs(f), "warm_s": w_t,
               "warm_build_s": median([o["phases"].get("build", 0.0) for o in warm]),
               "warm_jobs": median(warm_jobs) if warm_jobs else None}
        flags = []
        if name in known:
            flags.append(f"session cache {known[name]}")
        if w_t > 0 and f["t"] / w_t >= 3:
            flags.append(f"cold/warm x{f['t'] / w_t:.1f}")
        rec["flag"] = "; ".join(flags)
        out[name] = rec
    return out


def trace_file(raw, check):
    """The traced run's artifact: spans, and per op its layer self
    times (which plus `unattributed` sum to the op's wall time) and
    Spark counters."""
    selfs = self_times(raw)
    ops = []
    for o in raw["ops"]:
        rec = {k: o[k] for k in ("id", "name", "kind", "pass", "t", "ok", "traced")}
        if o["traced"]:
            rec["self_s"] = selfs.get(o["id"], {})
            rec["spark"] = o.get("spark", {})
            for k in ("codegen_compiles", "gc_s", "heap_used_mb", "bytes_after_drain",
                      "sink_bytes", "sink_files", "rows"):
                if k in o:
                    rec[k] = o[k]
        ops.append(rec)
    return {"workload": raw["workload"], "seed": raw["seed"], "cores": raw["cores"],
            "ops": ops, "spans": raw["spans"], "cache_visibility": cache_visibility(raw),
            "check": check}


def report_lines(raw, check, report, cores):
    """Human-readable lines printed before the result line."""
    wl = raw["workload"]
    yield (f"workload={wl} seed={raw['seed']} cores={cores} "
           f"(local[{cores}], one client thread, closed loop) trace={int(raw['trace'])}")
    m = report["metrics"]
    units = dict(END_TO_END + REPORT_ONLY + INDEX_REPORT_ONLY + PER_LAYER)
    for name in sorted(m):
        yield f"  {name} = {m[name]:.6g} {units.get(name, '')}"
    yield f"  fail_frac = {report['fail_frac']:.6g} ({report['failed']}/{report['attempted']} ops failed)"
    if report["samples"]:
        yield ("  samples: {reads} reads (req_*), {writes} writes (write_p50_s)"
               .format(**report["samples"]))
    for name, rec in sorted(cache_visibility(raw).items()):
        jobs = "" if rec["first_jobs"] is None else \
            f" jobs {rec['first_jobs']} -> {rec['warm_jobs']}"
        yield (f"  op {name}: first {rec['first_s']:.3f}s (build {rec['first_build_s']:.3f}s)"
               f" warm {rec['warm_s']:.3f}s (build {rec['warm_build_s']:.3f}s){jobs}"
               + (f"  [{rec['flag']}]" if rec["flag"] else ""))
    for name, e in sorted(check["ops"].items()):
        yield f"  check {name}: {e['rows']} rows hash {e['hash']} oracle rows {e.get('oracle_rows')}"
    if wl == "index_serve":
        ic = raw["index_check"]
        yield (f"  check index: {ic['sampled']} sampled answers vs text scan, "
               f"{len(ic['mismatches'])} mismatches; {ic['appends']} appends, "
               f"{ic['final_appended_docs']} docs appended to the served artifact; "
               f"artifact equals one-shot build: {ic['artifact_equal']}")
    yield "  output check: " + ("PASS" if check["ok"] else "FAIL " + "; ".join(check["problems"]))
