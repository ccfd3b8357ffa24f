"""Turns the raw samples `graftbench.Main` writes into the metrics
BENCHMARK.json names: the end-to-end metrics of an untraced run and
the per-layer metrics of a traced one."""
import math
import statistics

import plan

PERCENTILES = (50, 90, 99, 99.9)


def quantile(xs, p):
    """Nearest-rank percentile p (0 < p <= 100) of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, _rank(p, len(s)) - 1)]


def _rank(p, n):
    """ceil(p% of n), immune to float error such as 99.9/100*10000."""
    return math.ceil(round(p * n / 100, 9))


def tail_percentile(n):
    """The highest of PERCENTILES that has at least ten of n samples
    beyond it, or None when n is too small for any."""
    best = None
    for p in PERCENTILES:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def tail(xs):
    """(percentile, value) by the rule above; (None, None) if too few."""
    p = tail_percentile(len(xs))
    return (p, quantile(xs, p)) if p is not None else (None, None)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def union_length(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def file_lags(raw, measured):
    """Lag of each measured file: its due time to the return of the merge
    that committed it (None if never committed)."""
    lags = {}
    for b in raw.get("batches", []):
        for name, lag in zip(b["files"], b.get("lags_s", [])):
            lags[name] = lag
    return [lags.get(n) for n in measured]


def op_samples(workload, raw, measured):
    """The workload's unit operation times: file lags or analytics passes."""
    if workload == "replica_stream":
        return [x for x in file_lags(raw, measured) if x is not None]
    return raw.get("pass_s", [])


def op_time(workload, raw, measured):
    """replica_stream: the mean file lag. The measured files sit at the
    same places in the compaction cycle in every run: their lags rise
    with the small files each merge adds, and one file meets the
    compaction. A median of so few rests on one or two of those places,
    so one slow merge moves it; the mean weighs each place once.
    analytics_mix: the median pass, taken entry by entry (the sum of
    each entry's median time), so a stall in one query of one pass
    does not move it."""
    if workload == "replica_stream":
        lags = op_samples(workload, raw, measured)
        return statistics.mean(lags) if lags else float("nan")
    entry_s = raw.get("entry_s", {})
    return sum(median(xs) for xs in entry_s.values()) if entry_s else float("nan")


def end_to_end(workload, raw, measured):
    lookups = [l["s"] for l in raw.get("lookups", [])]
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "op_s": (op_time(workload, raw, measured), "s"),
        "lookup_p50_s": (median(lookups), "s"),
        "live_heap_mb": (raw["jvm"]["live_heap_mb"], "MB"),
    }


def backlog_rows(sched):
    return sum(n for _, _, n, due in sched if due < 0) * plan.ROWS_PER_TXN


def details(workload, raw, measured, sched):
    """Workload-specific figures printed beside the metrics, with their
    sample counts."""
    ops = op_samples(workload, raw, measured)
    lookups = [l["s"] for l in raw.get("lookups", [])]
    out = {"ops_n": (len(ops), "count"), "lookups_n": (len(lookups), "count")}
    lp, lv = tail(lookups)
    if lp is not None:
        out[f"lookup_p{lp:g}_s"] = (lv, "s")
    if "catchup_s" in raw:
        out["catchup_s"] = (raw["catchup_s"], "s")
        out["catchup_rows_per_s"] = (backlog_rows(sched) / raw["catchup_s"], "rows/s")
    if workload == "replica_stream":
        p, v = tail(ops)
        out["lag_p50_s"] = (median(ops), "s")
        if p is not None:
            out[f"lag_p{p:g}_s"] = (v, "s")
        out["files_uncommitted"] = (len(measured) - len(ops), "count")
        out["gen_late_max_s"] = (max(raw.get("gen_late_s", [0.0])), "s")
    else:
        out["mix_pass_s"] = (median(ops), "s")
        out["first_pass_s"] = (raw.get("first_pass_s", float("nan")), "s")
        out["scan_p50_s"] = (median(raw.get("scan_s", [])), "s")
        for name, xs in raw.get("entry_s", {}).items():
            out[f"{name}_s"] = (median(xs), "s")
    out["session_start_s"] = (raw["session_start_s"], "s")
    out["setup_reps_s"] = (raw["setup_s"], "s")
    out["peak_rss_mb"] = (raw["jvm"]["vmhwm_mb"], "MB")
    out["jvm_wall_s"] = (raw["wall_s"], "s")
    return out


def _is_compaction(layout):
    """A merge that carried no live file forward: it rewrote the table."""
    return layout is not None and layout["carried"] == 0 and layout["live_before"] >= 2


def per_layer(workload, raw, sched):
    tr = raw.get("trace", {})
    groups = tr.get("groups", {})
    spans = tr.get("spans", [])
    probes = raw.get("probes", {})
    m = {}

    parse_s = probes.get("parse_s") if probes.get("parse_bytes") else None
    m["binlog.parse_mb_per_s"] = (probes["parse_bytes"] / 1e6 / parse_s if parse_s else 0.0, "MB/s")
    m["binlog.parse_events_per_s"] = (probes["parse_events"] / parse_s if parse_s else 0.0, "1/s")
    m["binlog.scan_s"] = (probes.get("binlog_scan_s", 0.0), "s")

    # batches that carried data: of the workload's own stream when it
    # has one, else of the set-up's catch-up
    data = [p for p in tr.get("progress", []) if "addBatch" in p["duration_ms"] and p["rows"] > 0]
    prog = [p for p in data if p["name"] == workload] or [p for p in data if p["name"] == "catchup"]

    def dur(key):
        xs = [p["duration_ms"].get(key, 0) for p in prog]
        return median(xs) if xs else 0.0
    m["stream.trigger_ms_p50"] = (dur("triggerExecution"), "ms")
    m["stream.latest_offset_ms_p50"] = (dur("latestOffset"), "ms")
    m["stream.wal_commit_ms_p50"] = (dur("walCommit"), "ms")
    m["stream.query_planning_ms_p50"] = (dur("queryPlanning"), "ms")
    m["stream.add_batch_ms_p50"] = (dur("addBatch"), "ms")
    m["stream.files_per_batch"] = (
        statistics.mean(p["end_files"] - p["start_files"] for p in prog) if prog else 0.0, "count")
    m["stream.batches"] = (len(prog), "count")
    m["binlog.offset_json_bytes"] = (prog[-1]["end_offset_bytes"] if prog else 0, "bytes")

    # sink commits: one span per merge, its jobs found by the shared
    # group. The streamed merges of replica_stream, else the set-up's
    # catch-up merge.
    layouts = {l["group"]: l for l in raw.get("merge_layouts", [])}
    merges = [s for s in spans if s["name"] == "sink.merge"]
    catchup = [s for s in merges if merge_batch(s["group"])[0] == "catchup"]
    streamed = [s for s in merges if merge_batch(s["group"])[0] == workload]
    commits = streamed or catchup
    plain = [s for s in commits + catchup if not _is_compaction(layouts.get(s["group"]))]
    compact = [s for s in commits if _is_compaction(layouts.get(s["group"]))]

    def wall(s):
        return s["end_s"] - s["start_s"]

    def gap(s):
        g = groups.get(s["group"], {})
        return wall(s) - union_length(g.get("job_intervals", []), s["start_s"], s["end_s"])

    def mean_of(xs):
        xs = list(xs)
        return statistics.mean(xs) if xs else 0.0

    def per_merge(key, sel):
        return mean_of(groups.get(s["group"], {}).get(key, 0) for s in sel)

    walls = [wall(s) for s in commits]
    tp, tv = tail(walls)
    m["sink.merge_s_p50"] = (median(walls) if walls else 0.0, "s")
    m["sink.merge_s_tail"] = (tv if tp is not None else max(walls, default=0.0), "s")
    m["sink.jobs_per_merge"] = (per_merge("jobs", commits), "count")
    m["sink.stages_per_merge"] = (per_merge("stages", commits), "count")
    m["sink.tasks_per_merge"] = (per_merge("tasks", commits), "count")
    m["sink.driver_gap_s_per_merge"] = (mean_of(map(gap, commits)), "s")
    m["sink.log_bytes_per_commit"] = (
        mean_of(layouts[s["group"]]["log_bytes_added"] for s in commits if s["group"] in layouts), "bytes")
    m["sink.live_files"] = (probes.get("live_files", 0), "count")
    m["sink.catchup_merge_s"] = (median([wall(s) for s in catchup]) if catchup else 0.0, "s")
    m["sink.exec_cpu_s_per_merge"] = (per_merge("cpu_s", plain), "s")
    m["sink.shuffle_bytes_per_merge"] = (per_merge("shuffle_write", plain), "bytes")
    pl = [layouts[s["group"]] for s in plain if s["group"] in layouts]
    m["sink.files_touched_per_merge"] = (mean_of(l["touched"] for l in pl), "count")
    m["sink.files_added_per_merge"] = (mean_of(l["added"] for l in pl), "count")
    rows_in = batch_rows(raw, sched)
    known = sum(rows_in.get(merge_batch(l["group"]), 0) for l in pl)
    m["sink.rewrite_amplification"] = (
        sum(l["rows_written"] for l in pl) / known if known else 0.0, "ratio")
    m["sink.compactions"] = (len(compact), "count")
    m["sink.compact_s_p50"] = (median([wall(s) for s in compact]) if compact else 0.0, "s")

    cover = [l["files_covering"] for l in raw.get("lookups", []) if l.get("files_covering") is not None]
    m["sink.lookup_files_opened_mean"] = (statistics.mean(cover) if cover else 0.0, "count")
    m["sink.scan_s"] = (probes.get("table_scan_s", 0.0), "s")

    # analytics: timed passes only (groups query-<entry>-<pass>; the
    # warm-up passes are tagged w0, w1, ...)
    passes = len(raw.get("pass_s", []))
    qspans = {s["group"]: s for s in spans if s["name"] == "analytics.query"}
    planning = {}
    for p in tr.get("planning", []):
        for g, s in qspans.items():
            if s["start_s"] <= p["start_s"] <= s["end_s"]:
                planning[g] = planning.get(g, 0.0) + p["planning_s"]
    for fam, names in plan.FAMILIES.items():
        sel = [g for g in qspans if not g.rsplit("-", 1)[1].startswith("w")
               and g.split("-", 1)[1].rsplit("-", 1)[0] in names]
        per_pass = (lambda xs: sum(xs) / passes) if passes else (lambda xs: 0.0)
        m[f"analytics.{fam}.planning_s"] = (per_pass([planning.get(g, 0.0) for g in sel]), "s")
        m[f"analytics.{fam}.exec_cpu_s"] = (per_pass([groups.get(g, {}).get("cpu_s", 0.0) for g in sel]), "s")
        m[f"analytics.{fam}.jobs"] = (per_pass([groups.get(g, {}).get("jobs", 0) for g in sel]), "count")
        m[f"analytics.{fam}.shuffle_bytes"] = (
            per_pass([groups.get(g, {}).get("shuffle_write", 0) for g in sel]), "bytes")
        m[f"analytics.{fam}.driver_gap_s"] = (per_pass([gap(qspans[g]) for g in sel]), "s")
    entry_s = raw.get("entry_s", {})
    for names in plan.FAMILIES.values():
        for n in names:
            m[f"analytics.{n}_s"] = (median(entry_s[n]) if entry_s.get(n) else 0.0, "s")

    jvm = raw["jvm"]
    m["jvm.gc_s"] = (jvm["gc_s"], "s")
    m["jvm.heap_peak_mb"] = (jvm["heap_peak_mb"], "MB")
    m["bench.gen_late_max_s"] = (max(raw.get("gen_late_s", [0.0])), "s")
    m["bench.trace_overhead"] = (tr.get("overhead_s", 0.0) / raw["wall_s"], "ratio")
    return m


def merge_batch(group):
    """'<query>-merge-<batch id>' -> (query, batch id)."""
    q, _, b = group.rpartition("-merge-")
    return q, int(b)


def batch_rows(raw, sched):
    """Row images in each (query, batch) the run merged: streamed batches
    from the checkpoint's file lists, the set-up's catch-up (one batch
    of the whole backlog) from the schedule."""
    txns = {name: n for name, _, n, _ in sched}
    out = {("replica_stream", b["batch"]): sum(txns[f] for f in b["files"]) * plan.ROWS_PER_TXN
           for b in raw.get("batches", [])}
    for l in raw.get("merge_layouts", []):
        q, b = merge_batch(l["group"])
        if q == "catchup":
            out[(q, b)] = backlog_rows(sched)
    return out
