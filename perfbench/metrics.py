"""Metric arithmetic over one run's raw observations (the JSON the JVM side
writes). Kept apart from the runner so the math has its own tests
(`perfbench/test_metrics.py`)."""
import statistics

LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
STREAM_PHASES = {"query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
                 "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def tail_percentile(n: int):
    """The highest percentile of the ladder with at least ten of `n`
    samples beyond it, or None when there are fewer than twenty."""
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(k) - 1]


def tail(xs):
    """(percentile, value) by the tail rule; (None, None) if too few."""
    p = tail_percentile(len(xs))
    return (p, percentile(xs, p)) if p is not None else (None, None)


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans):
    """span id -> self milliseconds: the span's duration minus the part of
    its interval that its child spans cover (children clipped to it)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length([(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                                for c in kids.get(s["id"], [])
                                if c["end_ms"] > lo and c["start_ms"] < hi])
        out[s["id"]] = (hi - lo) - covered
    return out


def rewrite_frac(diffs):
    """Files a merge replaced over files live before it, summed over
    batches, from manifest diffs: (fraction, live files per batch)."""
    replaced = live = 0
    for d in diffs:
        before, after = set(d["live_before"]), set(d["live_after"])
        replaced += len(before - after)
        live += len(before)
    return (replaced / live if live else 0.0), (live / len(diffs) if diffs else 0.0)


def span_summary(spans):
    """Per span name: count, total and self seconds, and the Spark
    listener counts attributed to those spans."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        r = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0,
                                       "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                                       "spill_bytes": 0})
        r["count"] += 1
        r["total_s"] += (s["end_ms"] - s["start_ms"]) / 1e3
        r["self_s"] += selfs[s["id"]] / 1e3
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
            r[k] += s[k]
    return out


# ---- end-to-end ---------------------------------------------------------

def latency_samples(workload, phase):
    """The closed loop's unit latencies in seconds: a batch from file
    rename to read-back (cdc_lake), a warm pass (query_mix)."""
    if workload == "cdc_lake":
        return list(phase["visible_s"])
    return [p["pass_s"] for p in phase["passes"]]


def setup_time(setups):
    """Median set-up time over the repetitions after the first, which
    runs on a cold JVM (class loading, code generation)."""
    return median(setups[1:])


def latency_p50(workload, phase):
    """Median unit latency. A query_mix pass is estimated as the sum over
    queries of each query's median time across the phase's passes, so one
    slow query execution moves one term by its own excess only."""
    if workload == "query_mix":
        per_query = {}
        for p in phase["passes"]:
            for q, s in p["query_s"].items():
                per_query.setdefault(q, []).append(s)
        return sum(median(v) for v in per_query.values())
    return median(latency_samples(workload, phase))


def throughput(workload, phase):
    """Work per second: events (cdc_lake), completed query executions
    (query_mix)."""
    if workload == "cdc_lake":
        return phase["events"] / phase["elapsed_s"]
    ok = phase["attempted"] - phase["failed"]
    return ok / sum(p["pass_s"] for p in phase["passes"])


def end_to_end(raw):
    w = raw["workload"]
    phase = raw["phases"][0]
    return {
        "setup_s": setup_time(raw["setup_s"]),
        "latency_p50_s": latency_p50(w, phase),
        "throughput_per_s": throughput(w, phase),
        "heap_after_gc_mb": phase["heap_after_gc_mb"],
    }


# ---- per layer (traced runs) ----------------------------------------------

def streamlake(drain):
    """The streaming-lake drain of a traced cdc_lake run (sliced: one
    trigger per slice): hop and trigger times, and the state-store totals
    over both hops' triggers. All 0 when the run drained none."""
    if not drain:
        return {k: 0.0 for k in ("streamlake.textual_hop_s", "streamlake.semantic_hop_s",
                                 "streamlake.idle_redrain_s", "streamlake.batch_p50_s",
                                 "streamlake.docs_per_s", "state.instances", "state.rows_total",
                                 "state.memory_bytes", "state.commit_ms")}
    hop1 = [p for p in drain["hop1_progress"] if p["input_rows"] > 0]
    prog = drain["hop1_progress"] + drain["hop2_progress"]
    return {
        "streamlake.textual_hop_s": drain["textual_s"],
        "streamlake.semantic_hop_s": drain["semantic_s"],
        "streamlake.idle_redrain_s": drain["idle_s"],
        "streamlake.batch_p50_s": median([p["durations"]["triggerExecution"] / 1e3
                                          for p in hop1]),
        "streamlake.docs_per_s": drain["docs"] / (drain["textual_s"] + drain["semantic_s"]),
        "state.instances": sum(p["state_instances"] for p in prog),
        "state.rows_total": max([p["state_rows_total"] for p in prog] or [0]),
        "state.memory_bytes": max([p["state_memory_bytes"] for p in prog] or [0]),
        "state.commit_ms": sum(p["state_commit_ms"] for p in prog),
    }


def per_layer(raw, query_names):
    w = raw["workload"]
    plain, traced = raw["phases"][0], raw["phases"][1]
    spans = raw["trace"]["spans"]
    lo, hi = traced["start_ms"], traced["end_ms"]
    in_phase = [s for s in spans if lo <= s["start_ms"] <= hi]
    setup = [s for s in spans if s["end_ms"] <= plain["start_ms"]]

    def durs(name, pool=None):
        return [(s["end_ms"] - s["start_ms"]) / 1e3 for s in (in_phase if pool is None else pool)
                if s["name"] == name]

    m = {}
    m["fullload.run_scan_s"] = median(durs("fullload.run_scan", setup))
    m["txlog.replace_s"] = median(durs("txlog.replace", setup))
    for k in ("cdc.transform", "cdcstream.commit_batch", "txlog.merge", "txlog.read_probe",
              "txlog.latest", "txlog.compact"):
        m[k + "_s"] = median(durs(k))

    # streaming progress of the traced phase's cdc_lake batches
    prog = [p for p in traced.get("progress", []) if p["input_rows"] > 0]
    # progress durations are whole milliseconds: a mean per trigger keeps
    # the digits a median of a few integers would round away
    m["sources.latest_offset_ms"] = mean([p["durations"].get("latestOffset", 0) for p in prog])
    m["sources.input_rows"] = median([p["input_rows"] for p in prog])
    for name, key in STREAM_PHASES.items():
        m["stream." + name] = mean([p["durations"].get(key, 0) for p in prog])
    m.update(streamlake(raw.get("streamlake")))

    diffs = traced.get("merge_diffs", [])
    m["txlog.merge_rewrite_frac"], m["txlog.merge_files_live"] = rewrite_frac(
        [d["current"] for d in diffs])
    landed = sum(traced.get("landed_bytes", []))
    written = sum(d["current"]["added_bytes"] + d["raw"]["added_bytes"] for d in diffs)
    m["txlog.input_bytes"] = landed
    m["txlog.bytes_written_per_input_byte"] = written / landed if landed else 0.0
    probes = traced.get("probes", [])
    live = sum(p["live"] for p in probes)
    m["txlog.read_files_live"] = live / len(probes) if probes else 0.0
    m["txlog.read_pruned_frac"] = 1.0 - sum(p["kept"] for p in probes) / live if live else 0.0
    m["cdc.rows_valid"] = traced.get("rows_valid", 0)
    m["cdc.rows_error"] = traced.get("rows_error", 0)

    # query inventory: per-query medians, SQL listener phases per pass
    for q in query_names:
        m[f"query.{q}_s"] = median(durs("query." + q))
    qspans = [s for s in in_phase if s["name"].startswith("query.q")]
    npass = len(durs("query.pass")) or 1
    sql = [r for r in raw["trace"]["sql"]
           if any(s["start_ms"] <= r["at_ms"] <= s["end_ms"] for s in qspans)]
    m["query.planning_ms"] = sum(r["planning_ms"] for r in sql) / npass if qspans else 0.0
    m["query.execution_ms"] = sum(r["execution_ms"] for r in sql) / npass if qspans else 0.0
    m["query.exchanges"] = sum(r["exchanges"] for r in sql) / npass if qspans else 0.0

    # Spark scheduler counts over every span of the traced phase, per unit
    # (batch, pass or drain), so a faster program doing more units in the
    # window does not read as more work
    units = len(latency_samples(w, traced))
    task_ms = [t for s in in_phase for t in s["task_ms"]]
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        m["spark." + k] = sum(s[k] for s in in_phase) / max(1, units)
    m["spark.task_p50_ms"] = median(task_ms)
    m["spark.task_max_ms"] = max(task_ms) if task_ms else 0
    m["jvm.gc_s"] = traced["gc_s"]

    # the untraced phase of the same JVM: sample count (the tail rule needs
    # twenty) and the tracing overhead on the workload's unit latency
    m["latency.samples"] = len(latency_samples(w, plain))
    m["run.cold_s"] = raw["cold_s"]
    untraced = latency_p50(w, plain)
    m["trace.untraced_p50_s"] = untraced
    m["trace.overhead_frac"] = (latency_p50(w, traced) - untraced) / untraced if untraced else 0.0
    return m
