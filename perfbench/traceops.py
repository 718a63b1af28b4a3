"""The benchmark's arithmetic: percentiles, span self time, job
attribution, the pipeline critical path, and the metric tables built
from one run's JSON (written by graftbench.Harness).

Everything here is pure: test_traceops.py covers it without Spark.
"""
import math
import statistics

STAGES = ["InstagramFeedScraperStage", "PreprocessorStage",
          "ExploratoryanalysisStage", "TranslatorStage",
          "InstagramImageScraperStage", "ImageLabelerStage",
          "ImageFeatureVectorStage", "ImageAnonymizerStage",
          "TextAnalysisStage", "CurationStage"]
ADMIT_CALLS = ["streaming.StreamNearDup.admitBatch",
               "operators.Similarity.admitIvfPqBatch",
               "operators.IncrementalComponents.admitEdges",
               "streaming.StreamUpsert.applyBatch",
               "streaming.StreamSketch.mergeBatch",
               "operators.Publish.publishBatch"]
BACKGROUND_CALLS = ["operators.IncrementalNearDup.compactIndex",
                    "streaming.StreamSketch.compact",
                    "operators.IncrementalComponents.compact",
                    "operators.Similarity.compactAdmissionLedger",
                    "streaming.StreamUpsert.vacuum",
                    "operators.Similarity.forgetFromIvfPqStore",
                    "operators.Similarity.rebalanceIvfPqStore"]
STORES = ["neardup", "ivfpq", "components", "upsert", "sketch", "publish"]
STREAM_PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets", "triggerExecution"]
QUERY_CLASSES = ["ann", "bm25", "gap_fill", "analytics"]
LAYERS = ["pipeline", "io", "sources", "operators", "streaming", "plans", "queries"]

# (name, unit, better) for every end-to-end metric, in print order
END_TO_END = [
    ("setup_s", "s", "lower"), ("wall_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"), ("ops_per_s", "1/s", "higher"),
    ("op_p50_s", "s", "lower"), ("op_tail_s", "s", "lower"),
    ("store_bytes_per_input_byte", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]


def per_layer_spec():
    """(name, unit, better) for every per-layer metric."""
    m = [("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
         ("spark.tasks", "count", "lower"), ("spark.driver_s", "s", "lower"),
         ("spark.executor_run_s", "s", "lower"), ("spark.executor_cpu_s", "s", "lower"),
         ("spark.slot_busy_ratio", "ratio", "higher"), ("spark.gc_s", "s", "lower"),
         ("spark.shuffle_write_bytes", "B", "lower"), ("spark.shuffle_read_bytes", "B", "lower"),
         ("spark.spill_bytes", "B", "lower"), ("spark.task_skew", "ratio", "lower"),
         ("spark.input_bytes_per_op", "B", "lower"), ("spark.output_bytes", "B", "lower"),
         ("pipeline.run_s", "s", "lower"), ("pipeline.critical_path_s", "s", "lower"),
         ("pipeline.overlap_ratio", "ratio", "higher"), ("pipeline.gap_s", "s", "lower")]
    m += [(f"pipeline.stage_s.{s}", "s", "lower") for s in STAGES]
    m += [(f"pipeline.stage_seq_s.{s}", "s", "lower") for s in STAGES]
    m += [("io.csv_read_s", "s", "lower"), ("io.csv_write_s", "s", "lower"),
          ("io.handoff_bytes", "B", "lower"),
          ("sources.fetch_s", "s", "lower"), ("sources.pages", "count", "lower")]
    for c in ADMIT_CALLS + BACKGROUND_CALLS:
        m += [(f"{c}_s", "s", "lower"), (f"{c}_sum_s", "s", "lower")]
    for s in STORES:
        m += [(f"store.bytes.{s}", "B", "lower"), (f"store.files.{s}", "count", "lower")]
    m += [("store.latency_slope_ms_per_krow", "ms/krow", "lower"),
          ("store.admit_ratio", "ratio", "higher"),
          ("store.redelivery_noop", "ratio", "higher")]
    m += [(f"stream.{p}_s", "s", "lower") for p in STREAM_PHASES]
    for c in QUERY_CLASSES:
        m += [(f"plans.plan_s.{c}", "s", "lower"), (f"query.exec_s.{c}", "s", "lower"),
              (f"query.latency_s.{c}", "s", "lower"), (f"query.rows_out.{c}", "count", "higher")]
    m += [(f"self_s.{l}", "s", "lower") for l in LAYERS]
    m += [("trace_overhead_s", "s", "lower"), ("query.recall_at_10", "ratio", "higher")]
    return m


# ------------------------------------------------------------ percentiles

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=10):
    """The highest nearest-rank percentile with at least `beyond` samples
    above it: (value, percentile, samples beyond). With too few samples
    for that percentile to reach the median, the upper median is
    reported, so the tail never reads below the median."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    i = max(n - 1 - beyond, n // 2)
    pct = math.floor(1000.0 * (i + 1) / n) / 10.0
    return xs[i], pct, n - 1 - i


def spread(values):
    """Interquartile distance over the median, as statistics.quantiles."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / abs(med) if med else float("inf")


# ------------------------------------------------------------------ spans

def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv, lo, hi):
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def self_times(spans):
    """span id -> its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cov = [c for c in (clip((k["start"], k["end"]), s["start"], s["end"])
                           for k in kids.get(s["id"], [])) if c]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(cov)
    return out


def attribute(job, spans_by_id, client_spans):
    """The span a Spark job belongs to. The job's span property is trusted
    only while that span is open at the job's start: pooled threads keep
    the property they inherited at creation, so a stale id walks up to
    the nearest ancestor still open. With no open ancestor the job goes
    to the innermost client-thread span open at its start (0 if none)."""
    t = job["start"]
    sid = int(job["span"])
    while sid in spans_by_id:
        s = spans_by_id[sid]
        if s["start"] <= t <= s["end"]:
            return sid
        sid = s["parent"]
    best = None
    for s in client_spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best["id"] if best else 0


def descendants(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    def walk(i):
        out = [i]
        for k in kids.get(i, []):
            out += walk(k)
        return out
    return {s["id"]: set(walk(s["id"])) for s in spans}


# --------------------------------------------------------- pipeline graph

def overlaps(a, b):
    """Pipeline.run's path conflict rule: equal or nested paths."""
    return bool(a) and bool(b) and (a == b or a.startswith(b + "/") or b.startswith(a + "/"))


def critical_path(stages, seconds):
    """Longest chain of stage seconds through the dependency graph that
    Pipeline.run schedules by (read-after-write, write-write,
    write-after-read on overlapping paths, in config order)."""
    finish = []
    for i, st in enumerate(stages):
        deps = [j for j in range(i)
                if overlaps(stages[j]["output"], st["input"])
                or overlaps(stages[j]["output"], st["output"])
                or overlaps(stages[j]["input"], st["output"])]
        finish.append(max((finish[j] for j in deps), default=0.0) + seconds.get(st["impl"], 0.0))
    return max(finish, default=0.0)


# -------------------------------------------------------------- e2e table

PRIMARY = {"pipeline_batch": lambda k: k.startswith("stage:"),
           "ingest_stream": lambda k: k == "batch",
           "query_mix": lambda k: k.startswith("query:")}


def end_to_end(res, gen_s):
    """Every end-to-end metric of one run from its untraced pass."""
    w, p = res["workload"], res["untraced"]
    ops = [dict(zip(["kind", "start", "lat", "ok", "rows_in", "rows_out"], o)) for o in p["ops"]]
    lat = [o["lat"] for o in ops if PRIMARY[w](o["kind"])]
    elapsed = p["elapsed"]
    if w == "pipeline_batch":
        rows = sum(o["rows_in"] for o in ops if o["kind"] == "run")
        count = len(lat)
    elif w == "ingest_stream":
        rows = sum(o["rows_in"] for o in ops if o["kind"] in ("batch", "redelivery"))
        count = sum(1 for o in ops if o["kind"] in ("batch", "redelivery"))
    else:
        rows = sum(o["rows_out"] for o in ops if PRIMARY[w](o["kind"]))
        count = len(lat)
    t, pct, beyond = tail(lat)
    m = {
        "setup_s": gen_s + res["session_s"] + median(res["setup_s"]) + res["warmup_s"],
        "wall_s": median(p["units"]),
        "rows_per_s": rows / elapsed,
        "ops_per_s": count / elapsed,
        "op_p50_s": median(lat),
        "op_tail_s": t,
        "store_bytes_per_input_byte": p["store_bytes"] / max(p["input_bytes"], 1),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    info = {"op_tail_pct": pct, "op_tail_beyond": beyond, "op_samples": len(lat),
            "units": len(p["units"]), "canary_s": res["canary_s"], "gen_s": gen_s,
            "session_s": res["session_s"], "setup_reps_s": res["setup_s"],
            "warmup_s": res["warmup_s"],
            "elapsed_s": elapsed}
    return m, info


# -------------------------------------------------------------- per layer

def per_layer(res):
    """Every per-layer metric from a run's traced pass (0 where the
    workload does not exercise the layer)."""
    out = {name: 0.0 for name, _, _ in per_layer_spec()}
    p, tr = res["traced"], res["trace"]
    cpus = float(res["cpus"])
    spans = tr["spans"]
    by_id = {s["id"]: s for s in spans}
    client = [s for s in spans if s["thread"] == "main"]
    jobs, stages = tr["spark"]["jobs"], tr["spark"]["stages"]
    series = p["series"]

    def med_series(k):
        return median(series.get(k, []))

    # spark: totals over the traced pass
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = len(stages)
    out["spark.tasks"] = sum(s["tasks"] for s in stages)
    out["spark.executor_run_s"] = sum(s["run_ms"] for s in stages) / 1e3
    out["spark.executor_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    out["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
    out["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in stages)
    out["spark.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in stages)
    out["spark.spill_bytes"] = sum(s["spill"] for s in stages)
    out["spark.output_bytes"] = sum(s["output"] for s in stages)
    n_ops = sum(1 for o in p["ops"] if PRIMARY[res["workload"]](o[0])) or 1
    out["spark.input_bytes_per_op"] = sum(s["input"] for s in stages) / n_ops
    out["spark.slot_busy_ratio"] = out["spark.executor_run_s"] / max(p["elapsed"] * cpus, 1e-9)
    timed_stages = [s for s in stages if s["end"] > s["start"] > 0]
    if timed_stages:
        slow = max(timed_stages, key=lambda s: s["end"] - s["start"])
        out["spark.task_skew"] = slow["task_max_ms"] / max(slow["task_med_ms"], 1)
    # driver time: top-level span time with none of its jobs running
    owner = {j["job"]: attribute(j, by_id, client) for j in jobs}
    desc = descendants(spans)
    driver = 0.0
    for s in spans:
        if s["parent"] != 0:
            continue
        ivs = [c for c in (clip((j["start"], j["end"]), s["start"], s["end"])
                           for j in jobs if owner[j["job"]] in desc[s["id"]]) if c]
        driver += (s["end"] - s["start"] - union_length(ivs)) / 1e6
    out["spark.driver_s"] = driver

    # layer self time, span durations by name
    selfs = self_times(spans)
    durs = {}
    for s in spans:
        durs.setdefault(s["name"], []).append((s["end"] - s["start"]) / 1e6)
        layer = s["name"].split(".", 1)[0]
        if layer in LAYERS:
            out[f"self_s.{layer}"] += selfs[s["id"]] / 1e6

    # pipeline
    if res["workload"] == "pipeline_batch":
        out["pipeline.run_s"] = med_series("pipeline.run_s")
        seq = {}
        for st in STAGES:
            out[f"pipeline.stage_s.{st}"] = med_series(f"pipeline.stage_s.{st}")
            seq[st] = med_series(f"pipeline.stage_seq_s.{st}")
            out[f"pipeline.stage_seq_s.{st}"] = seq[st]
        cp = critical_path(res["exports"]["stages"], seq)
        out["pipeline.critical_path_s"] = cp
        run_s = out["pipeline.run_s"]
        out["pipeline.overlap_ratio"] = sum(out[f"pipeline.stage_s.{s}"] for s in STAGES) / max(run_s, 1e-9)
        out["pipeline.gap_s"] = run_s - cp
        out["io.csv_read_s"] = sum(series.get("io.csv_read_s", []))
        out["io.csv_write_s"] = sum(series.get("io.csv_write_s", []))
    out["sources.fetch_s"] = sum(durs.get("sources.FeedPager.fetch", []))
    out["sources.pages"] = len(durs.get("sources.FeedPager.fetch", []))

    # stores
    for c in ADMIT_CALLS + BACKGROUND_CALLS:
        out[f"{c}_s"] = median(durs.get(c, []))
        out[f"{c}_sum_s"] = sum(durs.get(c, []))
    rows = series.get("store.resident_rows", [])
    lats = series.get("store.batch_latency_s", [])
    if len(rows) >= 3:
        x = [r / 1e3 for r in rows]
        y = [l * 1e3 for l in lats]
        mx, my = statistics.fmean(x), statistics.fmean(y)
        sxx = sum((a - mx) ** 2 for a in x)
        out["store.latency_slope_ms_per_krow"] = (
            sum((a - mx) * (b - my) for a, b in zip(x, y)) / sxx if sxx else 0.0)
    offered = sum(series.get("store.offered", []))
    if offered:
        out["store.admit_ratio"] = sum(series.get("store.admitted", [])) / offered
    for k, v in p["layer"].items():
        if k in out and v is not None:
            out[k] = v
    for ph in STREAM_PHASES:
        out[f"stream.{ph}_s"] = median([r["durations"][ph] / 1e3 for r in tr["progress"]
                                        if ph in r["durations"]])

    # plans and queries
    for c in QUERY_CLASSES:
        out[f"plans.plan_s.{c}"] = median(durs.get(f"plans.plan.{c}", []))
        out[f"query.exec_s.{c}"] = median(durs.get(f"queries.exec.{c}", []))
        out[f"query.latency_s.{c}"] = median(durs.get(f"bench.query.{c}", []))
        out[f"query.rows_out.{c}"] = med_series(f"query.rows_out.{c}")
    out["query.recall_at_10"] = res["untraced"]["layer"].get("query.recall_at_10") or 0.0
    out["trace_overhead_s"] = median(p["units"]) - median(res["untraced"]["units"])
    return {k: (0.0 if v is None or (isinstance(v, float) and math.isnan(v)) else v)
            for k, v in out.items()}
