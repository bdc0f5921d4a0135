"""Metric rules of the benchmark: percentiles, the backlog slope and
sustained-rate decision, call-site to layer mapping, digest comparison and
the per-workload metric sets. Pure functions over the raw measurements the
JVM side writes, so they can be tested without Spark (tests/test_stats.py).
"""
import bisect
import statistics

TAIL_BEYOND = 10
# A rung whose generator ran later than this share of the trigger interval
# (at p99) did not load the module on schedule.
LATENESS_SHARE = 0.1

# The per-layer metrics of a traced run, with their units. Layers that do no
# work on a workload report 0 there (state.* on dd-stream, sources.* on the
# batch workloads). Certificates and the functions kernels build plans and
# expressions only and never launch a job, so no job time is theirs.
OPERATOR_FILES = ("Dedup", "DupClusters", "IvfIndex", "PqIndex", "Similarity",
                  "AudioDedup", "ImageDedup", "VideoDedup")
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count", "plans.plan_s": "s",
    "exec.exec_s": "s", "engine.read_schema_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.slot_busy_frac": "ratio", "spark.sched_delay_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "jvm.gc_s": "s",
    "artifacts.fits": "count", "artifacts.fit_s": "s",
    "plancapture.checkpoints": "count", "plancapture.checkpoint_bytes": "bytes",
    **{f"operators.{f}.job_s": "s" for f in OPERATOR_FILES},
    "operators.other.job_s": "s",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "streaming.plan_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.backlog_end": "count", "streaming.backlog_slope_eps": "ev/s",
    "streaming.rows_per_batch": "count", "streaming.drain_eps": "ev/s",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.update_ms": "ms",
    "sinks.msgs": "count", "sinks.write_span_ms": "ms",
    "gen.lateness_ms": "ms", "gen.publish_us": "us",
    "event_p50_ms.mid": "ms", "event_tail_ms.lo": "ms", "jvm.rss_peak_mb": "MB",
}
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "p50_ms": "ms", "tail_ms": "ms"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=TAIL_BEYOND):
    """The highest nearest-rank percentile with at least `beyond` samples
    above it: (value, percentile, sample count). With `beyond` samples or
    fewer no percentile qualifies, and the maximum is returned as p100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def slope(ts, ys):
    """Least-squares slope of ys over ts (units of y per unit of t)."""
    n = len(ts)
    if n < 2:
        return 0.0
    mt, my = sum(ts) / n, sum(ys) / n
    den = sum((t - mt) ** 2 for t in ts)
    return sum((t - mt) * (y - my) for t, y in zip(ts, ys)) / den if den else 0.0


def rung_batches(rung):
    return [b for b in rung["batches"] if b["after_start"]]


def backlog_slope(rung):
    """Backlog growth over a rung in events per second, from the backlog
    (published minus committed) at each batch commit."""
    bs = rung_batches(rung)
    return slope([b["commit_ns"] / 1e9 for b in bs], [b["backlog"] for b in bs])


def rung_sustained(rung, limit_ms, growth_share=0.05):
    """A rung is sustained when its backlog does not grow by more than a
    small share of its rate and its event tail stays within the limit."""
    if rung["missing"]:
        return False
    return (backlog_slope(rung) <= growth_share * rung["eps"]
            and tail(rung["latencies_ms"])[0] <= limit_ms)


def processed_rate(rung):
    """Input events processed per second of micro-batch time (the progress
    report's processedRowsPerSecond over a drain's batches)."""
    bs = rung_batches(rung)
    busy = sum(b["duration_ms"].get("triggerExecution", 0) for b in bs) / 1e3
    return sum(b["rows"] for b in bs) / busy if busy > 0 else 0.0


def delivered_rate(rung):
    """Valid events delivered per second of an open-loop rung: events with a
    correct output over the time from the first event's due time to the
    last output's write."""
    return len(rung["latencies_ms"]) / rung["delivered_s"] if rung["delivered_s"] > 0 else 0.0


def layer_of(frames):
    """Layer of a Spark job from the program frames of its call site,
    innermost first: the first frame in operators/functions wins; otherwise
    the first program frame decides."""
    for f in frames:
        cls = f.split("(")[0]
        if cls.startswith("graft.operators."):
            name = cls.split(".")[2].split("$")[0]
            return f"operators.{name}" if name in OPERATOR_FILES else "operators.other"
        if cls.startswith("graft.functions."):
            return "functions"
    for f in frames:
        cls = f.split("(")[0]
        if cls.startswith("graft.Engine"):
            return "engine"
        if cls.startswith("graft.Artifacts"):
            return "artifacts"
        if cls.startswith("graft.PlanCapture"):
            return "plancapture"
        if cls.startswith("graft.queries.") or cls.startswith("graft.SparkEntry"):
            return "queries"
        if cls.startswith("graft.streaming.") or cls.startswith("graft.sources."):
            return "streaming"
    return "exec"


def is_schema_read(job):
    """A parquet read issued by the table readers or the artifact read-back:
    the job a `DataFrameReader` call runs to infer the schema."""
    return ("DataFrameReader" in job.get("api", "") and bool(job["frames"])
            and job["frames"][0].startswith(("graft.Engine$Tables", "graft.Artifacts")))


def digest_failures(got, want):
    """Names whose (rows, hash) digest differs from the recorded one."""
    return sorted(n for n, d in got.items()
                  if n not in want or (d["rows"], d["hash"]) != (want[n]["rows"], want[n]["hash"]))


def self_times(spans):
    """Per-layer self time in seconds: each span's duration minus the part
    of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered, cur = 0, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start_ns"]), min(b, s["end_ns"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def metric_block(values, units):
    """The result's `metrics` object: every listed metric, with its unit."""
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


# ---------------------------------------------------------------- batch


def batch_e2e(raw):
    """Per-query latency samples are all timed executions; the pass time is
    the sum of one pass's query latencies (median over passes)."""
    lat = [e["wall_s"] for e in raw["executions"]]
    pass_s = median([p["query_s"] for p in raw["passes"]])
    t, pct, n = tail(lat)
    e2e = {"setup_s": median(raw["setup_s"]),
           "throughput_per_s": len(raw["queries"]) / pass_s if pass_s else 0.0,
           "p50_ms": median(lat) * 1e3, "tail_ms": t * 1e3}
    info = {"pass_s": pass_s, "pass_times_s": [round(p["query_s"], 3) for p in raw["passes"]],
            "warmup_pass_s": round(raw["warmup"]["query_s"], 3), "query_p50_s": median(lat),
            "query_tail_s": t, "query_tail_pct": round(pct, 2), "query_samples": n}
    return e2e, info


def attribute(jobs, spans, layers):
    """Map each job to the span of one of `layers` whose interval holds the
    job's start (listener times have millisecond resolution, so 1 ms of
    slack). Jobs outside every such span are left out."""
    phases = sorted((s for s in spans if s["layer"] in layers), key=lambda s: s["start_ns"])
    starts = [s["start_ns"] for s in phases]
    out = []
    for j in jobs:
        t = j["start_ms"] * 1_000_000
        i = bisect.bisect_right(starts, t + 1_000_000) - 1
        if i >= 0 and t - 1_000_000 <= phases[i]["end_ns"]:
            out.append((j, phases[i]))
    return out


def batch_layers(raw):
    """Per-layer metrics of a traced batch run: totals of one pass over the
    query list (median over the run's passes). Jobs count when they start
    inside a query's build, plan or exec span."""
    spans = {s["id"]: s for s in raw["spans"]}
    pass_of = lambda s: spans[spans[s["parent"]]["parent"]]["name"]
    jobs = attribute(raw["jobs"], raw["spans"], ("queries", "plans", "exec"))
    rows = []
    for p in raw["passes"]:
        name = spans[p["span"]]["name"]
        ex = [e for e in raw["executions"] if e["pass"] == p["pass"]]
        pj = [(j, ph) for j, ph in jobs if pass_of(ph) == name]
        tot = lambda k: sum(j[k] for j, _ in pj)
        m = {"queries.build_s": sum(e["build_s"] for e in ex), "plans.plan_s": sum(e["plan_s"] for e in ex),
             "exec.exec_s": sum(e["exec_s"] for e in ex),
             "queries.build_jobs": sum(1 for _, ph in pj if ph["layer"] == "queries"),
             "engine.read_schema_jobs": sum(1 for j, _ in pj if is_schema_read(j)),
             "spark.jobs": len(pj), "spark.stages": tot("stages"), "spark.tasks": tot("tasks"),
             "spark.slot_busy_frac": tot("task_run_ms") / 1e3 / (p["query_s"] * raw["cores"]),
             "spark.sched_delay_s": tot("sched_delay_ms") / 1e3,
             "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
             "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
             "spark.spill_bytes": tot("spill_bytes"), "jvm.gc_s": p["gc_s"],
             "artifacts.fits": sum(e["fits"] for e in ex), "artifacts.fit_s": sum(e["fit_s"] for e in ex),
             "plancapture.checkpoints": sum(e.get("checkpoints", 0) for e in ex),
             "plancapture.checkpoint_bytes": sum(e.get("checkpoint_bytes", 0) for e in ex)}
        for j, _ in pj:
            layer = layer_of(j["frames"])
            if layer.startswith("operators."):
                key = f"{layer}.job_s"
                m[key] = m.get(key, 0.0) + max(0, j["end_ms"] - j["start_ms"]) / 1e3
        rows.append(m)
    out = {k: median([r.get(k, 0.0) for r in rows]) for k in PER_LAYER}
    out["jvm.rss_peak_mb"] = raw["rss_peak_mb"]
    return out


def phase_split(raw):
    """Largest relative gap between a query's wall time and the sum of its
    build, plan and exec parts."""
    return max((abs(e["wall_s"] - e["build_s"] - e["plan_s"] - e["exec_s"]) / e["wall_s"]
                for e in raw["executions"] if e["wall_s"] > 0), default=0.0)


# ---------------------------------------------------------------- streams


def stream_e2e(raw, limit_ms):
    """The median event latency is taken at `lo`, the nominal fleet; the
    tail and the delivered rate at `mid`, ten times the fleet. At `mid` the
    median follows the host's file-creation speed (each 2,000-row batch
    writes 2,000 spool files in turn), which the tail and `lo` hardly do."""
    rungs = {r["name"]: r for r in raw["rungs"]}
    mid, lo, backlog = rungs["mid"], rungs["lo"], rungs["backlog"]
    t_mid, pct, n = tail(mid["latencies_ms"])
    sustained = [r["eps"] for r in raw["rungs"] if not r["backlog"] and rung_sustained(r, limit_ms)]
    e2e = {"setup_s": median(raw["setup_s"]), "throughput_per_s": delivered_rate(mid),
           "p50_ms": median(lo["latencies_ms"]), "tail_ms": t_mid}
    info = {"event_p50_ms.mid": median(mid["latencies_ms"]), "event_tail_ms.lo": tail(lo["latencies_ms"])[0],
            "event_tail_pct.mid": round(pct, 2), "event_samples.mid": n,
            "event_tail_pct.lo": round(tail(lo["latencies_ms"])[1], 2),
            "event_samples.lo": len(lo["latencies_ms"]),
            "sustained_rung_eps": max(sustained, default=0.0), "drain_eps": processed_rate(backlog),
            "backlog_slope_eps": {r["name"]: round(backlog_slope(r), 1) for r in raw["rungs"] if not r["backlog"]}}
    return e2e, info


def stream_layers(raw, info):
    """Per-layer metrics of a traced stream run: per-batch medians at `mid`;
    the backlog figures are taken at `mid` too."""
    rungs = {r["name"]: r for r in raw["rungs"]}
    mid = rungs["mid"]
    bs = rung_batches(mid)
    d = lambda k: median([b["duration_ms"].get(k, 0) for b in bs])
    span_s = (mid["end_ns"] - mid["start_ns"]) / 1e9 or 1.0
    jobs = [j for j in raw["jobs"] if bs and bs[0]["begin_ns"] <= j["start_ms"] * 1e6 <= bs[-1]["commit_ns"]]
    return {**{k: 0.0 for k in PER_LAYER},
            "spark.jobs": len(jobs), "spark.stages": sum(j["stages"] for j in jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "spark.slot_busy_frac": sum(j["task_run_ms"] for j in jobs) / 1e3 / (span_s * raw["cores"]),
            "spark.sched_delay_s": sum(j["sched_delay_ms"] for j in jobs) / 1e3,
            "spark.shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in jobs),
            "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "sources.latest_offset_ms": d("latestOffset"), "sources.get_batch_ms": d("getBatch"),
            "streaming.plan_ms": d("queryPlanning"), "streaming.add_batch_ms": d("addBatch"),
            "streaming.wal_ms": median([b["duration_ms"].get("walCommit", 0) +
                                        b["duration_ms"].get("commitOffsets", 0) for b in bs]),
            "streaming.trigger_ms": d("triggerExecution"),
            "streaming.backlog_end": bs[-1]["backlog"] if bs else 0,
            "streaming.backlog_slope_eps": backlog_slope(mid),
            "streaming.rows_per_batch": median([b["rows"] for b in bs]),
            "streaming.drain_eps": info["drain_eps"],
            "state.rows_total": bs[-1]["state_rows"] if bs else 0,
            "state.memory_bytes": bs[-1]["state_bytes"] if bs else 0,
            "state.commit_ms": median([b["state_commit_ms"] for b in bs]),
            "state.update_ms": median([b["state_update_ms"] for b in bs]),
            "sinks.msgs": mid["outputs"], "sinks.write_span_ms": median([b["write_span_ms"] for b in bs]),
            "gen.lateness_ms": max(r["gen_lateness_p99_ms"] for r in raw["rungs"] if not r["backlog"]),
            "gen.publish_us": median([r["gen_publish_p50_us"] for r in raw["rungs"]]),
            "event_p50_ms.mid": info["event_p50_ms.mid"], "event_tail_ms.lo": info["event_tail_ms.lo"],
            "jvm.gc_s": raw["gc_s"], "jvm.rss_peak_mb": raw["rss_peak_mb"]}


def late_rungs(raw, limit_ms):
    """Open-loop rungs whose generator published later than `limit_ms` after
    the due time at p99: their events did not arrive on schedule."""
    return [r["name"] for r in raw["rungs"] if not r["backlog"] and r["gen_lateness_p99_ms"] > limit_ms]


def stream_failures(raw, lateness_limit_ms):
    """(attempted, failed): every valid input must have exactly one correct
    output by the drain deadline; wrong or duplicated outputs fail too. A
    late generator invalidates its rung: all of the rung's events fail."""
    late = set(late_rungs(raw, lateness_limit_ms))
    return (sum(r["valid"] for r in raw["rungs"]),
            sum(r["valid"] if r["name"] in late else r["missing"] + r["wrong"] + r["duplicate"]
                for r in raw["rungs"]))
