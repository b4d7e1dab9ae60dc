"""Turns a run's raw record into the result line, the named end-to-end
metrics of each workload and the traced run's per-layer metrics."""
import statistics
import subprocess

import stats

# Each workload's repeated step and its heavier head operation. The
# result line reports them under the shared names step_geomean_s and
# head_geomean_s so that every workload prints every end-to-end metric.
# Both are geometric means over whole rounds: a dashboard round holds one
# session of each filter width, and the geometric mean keeps the wide
# sessions from hiding the light ones. round_s is the wall time of a
# whole round, which on dashboard_session holds the query-mix pass.
STEP = {"pipeline_day": "cycle", "dashboard_session": "dash_chart"}
HEAD = {"pipeline_day": "report", "dashboard_session": "dash_open"}

CHARTS = ["dailyTrend", "dayOfMonthHistogram", "revenueBySupplier", "priorityCounts",
          "paymentMix", "truckPaymentMatrix", "perTruckSummary", "topDays", "rawHead"]
SPAN_METRICS = (["incremental.extract_build", "etl.clean_build", "etl.extract_clean",
                 "etl.append", "etl.tag_probe", "etl.fresh_read", "report.metrics",
                 "report.render", "report.dash_build", "report.dash_cache_fill"]
                + [f"report.chart.{c}" for c in CHARTS])
SPARK_METRICS = ["jobs", "stages", "tasks", "plan_s", "listing_jobs", "listing_s",
                 "exec_run_s", "exec_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
                 "fetch_wait_s", "spill_mb", "peak_exec_mem_mb", "input_mb", "input_rows",
                 "task_gc_s"]
MIX_MODULES = ["Relational", "Similarity", "DashboardQueries", "LlmPipeline", "Quality",
               "Lifecycle", "Temporal", "Graph", "TypedOps", "Extended", "SqlQueries", "Geo",
               "IncrementalQueries", "CurationOps", "TextCorpus", "CorpusModels", "PipelineOps",
               "AuditOps", "StreamingQueries", "LakeIndexOps"]


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith("bytes_per_row"):
        return "B/row"
    if name.endswith("_bytes"):
        return "B"
    return "count"


def dur(o):
    return o["end"] - o["start"]


def kind_ops(rec, kind):
    return [o for o in rec["ops"] if o["kind"] == kind]


def capped(rec, ops):
    """Seconds of each op; a failed or timed-out op is a miss at the op
    timeout, at least as bad as any completed op, and is never dropped."""
    return [min(x, rec["op_timeout_s"]) for x in stats.latencies(ops)]


def failed_count(rec, checks):
    """Failed operations plus failed checks, at most the attempted count."""
    bad = sum(1 for o in rec["ops"] if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return min(bad, len(rec["ops"]))


def rounds(rec):
    """The ops of each round, in round order."""
    by_round = {}
    for o in rec["ops"]:
        by_round.setdefault(o["round"], []).append(o)
    return [by_round[r] for r in sorted(by_round)]


def round_s(rec):
    """Wall seconds of each round: its first op's start to its last op's
    end, with a failed op counted at the op timeout."""
    out = []
    for ops in rounds(rec):
        over = sum(max(dur(o), rec["op_timeout_s"]) - dur(o) for o in ops if not o["ok"])
        out.append(ops[-1]["end"] - ops[0]["start"] + over)
    return out


def mix_passes(rec):
    """Seconds of each query-mix pass (the q: ops of a round), and each
    query's seconds per pass."""
    passes, per_q = [], {}
    for ops in rounds(rec):
        qs = [o for o in ops if o["kind"].startswith("q:")]
        if not qs:
            continue
        lat = capped(rec, qs)
        passes.append(sum(lat))
        for o, t in zip(qs, lat):
            per_q.setdefault(o["kind"], []).append(t)
    return passes, per_q


def e2e(rec):
    """The result line's end-to-end metrics."""
    w, cap = rec["workload"], rec["op_timeout_s"]
    m = {"setup_s": statistics.median(rec["setup_s"])}
    for name, kind in (("step_geomean_s", STEP[w]), ("head_geomean_s", HEAD[w])):
        lat = capped(rec, kind_ops(rec, kind))
        m[name] = stats.geomean(lat) if lat else cap
    rs = round_s(rec)
    m["round_s"] = statistics.median(rs) if rs else cap
    return m


def named_e2e(rec, checks):
    """The end-to-end metrics by their workload-specific names, as
    (name, value or None, unit, note)."""
    w = rec["workload"]
    out = []

    def p50(name, kind):
        lat = capped(rec, kind_ops(rec, kind))
        out.append((name, stats.median(lat), "s", f"n={len(lat)}"))
        return lat

    def p90(name, lat):
        v = stats.percentile(lat, 0.9)
        p = stats.highest_percentile(len(lat))
        note = (f"n={len(lat)}" if v is not None else
                f"n={len(lat)}: needs 100 samples; highest supported is "
                + (f"p{p}={stats.percentile(lat, p / 100):.4f}" if p else "none"))
        out.append((name, v, "s", note))

    if w == "pipeline_day":
        p90("etl_cycle_p90_s", p50("etl_cycle_p50_s", "cycle"))
        p50("report_p50_s", "report")
    elif w == "dashboard_session":
        p50("dash_open_p50_s", "dash_open")
        p90("dash_chart_p90_s", p50("dash_chart_p50_s", "dash_chart"))
        passes, per_q = mix_passes(rec)
        out.append(("mix_pass_s", stats.median(passes), "s", f"passes={len(passes)}"))
        out.append(("mix_geomean_s", stats.geomean([statistics.median(v) for v in per_q.values()])
                    if per_q else None, "s", f"queries={len(per_q)}"))
    notes = {"step_geomean_s": f"geometric mean of {STEP[w]}",
             "head_geomean_s": f"geometric mean of {HEAD[w]}",
             "round_s": f"rounds={len(rounds(rec))}"}
    out += [(k, v, "s", notes.get(k, "")) for k, v in e2e(rec).items()]
    ops = rec["ops"]
    out.append(("error_rate", failed_count(rec, checks) / len(ops) if ops else None, "fraction",
                f"attempted={len(ops)}"))
    if rec["retained_heap_mb"]:
        out.append(("retained_heap_mb", rec["retained_heap_mb"], "MB", "traced run"))
    return out


def span_values(rec):
    """Per traced op: summed seconds of each span name, and self seconds
    of each span name plus the op's own unclaimed time (key None)."""
    by_op = {}
    for s in rec["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    totals, selfs = {}, {}
    for o in rec["ops"]:
        if not o["traced"]:
            continue
        spans = by_op.get(o["id"], [])
        t = {}
        for s in spans:
            t[s["name"]] = t.get(s["name"], 0.0) + dur(s)
        totals[o["id"]] = t
        selfs[o["id"]] = stats.self_times(o, spans)
    return totals, selfs


def med0(values):
    return statistics.median(values) if values else 0.0


def per_layer(rec):
    """The traced run's per-layer metrics: per-operation medians over the
    traced operations, or per-run counts. A layer the workload does not
    reach reads 0."""
    w = rec["workload"]
    totals, selfs = span_values(rec)
    m = {}
    names = SPAN_METRICS + [f"queries.{x}" for x in MIX_MODULES] + ["queries.build", "queries.exec"]
    for name in names:
        m[f"{name}_s"] = med0([t[name] for t in totals.values() if name in t])
    m["report.chart.kpis_s"] = m["report.dash_cache_fill_s"]

    cycles = rec["outputs"].get("cycles", [])
    m["etl.ckpt_s"] = statistics.mean(c["ckpt_s"] for c in cycles) if cycles else 0.0
    m["etl.ckpt_bytes"] = statistics.mean(c["ckpt_bytes"] for c in cycles) if cycles else 0.0
    m["etl.cas_lost"] = sum(c["cas_lost"] for c in cycles)
    m["etl.files_per_commit"] = med0(rec["outputs"].get("files_per_commit", []))
    rows = rec["outputs"].get("lake_rows", 0)
    m["etl.lake_bytes_per_row"] = rec["outputs"]["lake_bytes"] / rows if rows else 0.0

    traced = [o for o in rec["ops"] if o["traced"]]
    sp = rec["spark"]
    for k in SPARK_METRICS:
        vals = [sp[str(o["id"])][k] if str(o["id"]) in sp else 0 for o in traced]
        m[f"spark.{k}"] = med0(vals) if k != "peak_exec_mem_mb" else max(vals, default=0.0)
    wall = sum(dur(o) for o in traced)
    run_s = sum(sp[str(o["id"])]["exec_run_s"] for o in traced if str(o["id"]) in sp)
    m["spark.core_busy_frac"] = run_s / (wall * rec["context"]["spark_cores"]) if wall else 0.0

    op_gc = sum(o["gc_s"] for o in rec["ops"])
    m["jvm.op_gc_s"] = op_gc
    m["jvm.harness_gc_s"] = max(rec["window_gc_s"] - op_gc, 0.0)
    m["jvm.jit_s"] = rec["jit_s"]
    m["jvm.retained_heap_mb"] = rec["retained_heap_mb"]
    m["harness.overhead_s"] = rec["window_s"] - sum(dur(o) for o in rec["ops"])

    # Tracing overhead: traced minus untraced ops of the same run, on the
    # workload's step operation. Residual: op wall minus the layer self
    # times, i.e. time inside an op that no layer span claims.
    tr = [dur(o) for o in rec["ops"] if o["kind"] == STEP[w] and o["traced"] and o["ok"]]
    un = [dur(o) for o in rec["ops"] if o["kind"] == STEP[w] and not o["traced"] and o["ok"]]
    m["trace.overhead_s"] = (statistics.median(tr) - statistics.median(un)) if tr and un else 0.0
    m["trace.residual_s"] = med0([s[None] for s in selfs.values()])
    return m


def layer_table(rec):
    """Lines: per op kind, the median self seconds of each span name over
    the traced ops that run it, and the residual (op wall minus its
    layers' self times)."""
    _, selfs = span_values(rec)
    by_kind = {}
    for o in rec["ops"]:
        if o["id"] in selfs:
            by_kind.setdefault("query" if o["kind"].startswith("q:") else o["kind"], []).append(o)
    lines = []
    for kind, ops in sorted(by_kind.items()):
        wall = statistics.median(dur(o) for o in ops)
        names = sorted({k for o in ops for k in selfs[o["id"]] if k is not None})
        parts = [f"{k}={statistics.median(selfs[o['id']][k] for o in ops if k in selfs[o['id']]):.4f}"
                 for k in names]
        resid = statistics.median(selfs[o["id"]][None] for o in ops)
        lines.append(f"layers {kind} n={len(ops)} wall_p50={wall:.4f} s self_p50: " + " ".join(parts)
                     + f" residual_p50={resid:.4f} s ({resid / wall:.1%} of wall)")
    return lines


def result(rec, checks, trace):
    ops = rec["ops"]
    failed = failed_count(rec, checks)
    metrics = per_layer(rec) if trace else e2e(rec)
    return {"correct": failed == 0 and len(ops) > 0,
            "attempted": len(ops) or 1,
            "failed": failed if ops else 1,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())}}


def context(rec, root):
    """Box context printed beside every result: compare results only at
    equal probes."""
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    c = dict(rec["context"])
    c["git_commit"] = commit
    return c


def report_lines(rec, checks, trace):
    lines = [f"setup_phases " + " ".join(f"{k}={v:.3f}" for k, v in rec["setup_phases"].items())]
    for name, v, unit, note in named_e2e(rec, checks):
        lines.append(f"e2e {rec['workload']} {name} " + ("n/a" if v is None else f"{v:.6g}")
                     + f" {unit} {note}".rstrip())
    if trace:
        lines += layer_table(rec)
    for c in checks:
        if not c["ok"]:
            lines.append(f"FAILED check {c['name']}: {c['detail']}")
    lines.append(f"checks {sum(c['ok'] for c in checks)}/{len(checks)} passed")
    return lines
