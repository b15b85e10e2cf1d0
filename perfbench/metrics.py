"""The benchmark's arithmetic: percentiles, interval unions, per-layer self
time and the metrics derived from one run's records. Pure functions, tested
by test_metrics.py."""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name):
    return NAME_RE.fullmatch(name) is not None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p of the
    samples at or below it."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def beyond(n, p):
    """Number of samples strictly above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p * n))


def tail(values, p, min_beyond=10):
    """The p-th percentile, or None when fewer than `min_beyond` samples lie
    beyond it (too few to say anything about that tail)."""
    if beyond(len(values), p) < min_beyond:
        return None
    return percentile(values, p)


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(lo, hi, layers):
    """Split the wall [lo, hi] among `layers`, a list of (name, intervals)
    ordered innermost first. Each layer keeps only the time no earlier layer
    covers, so the shares never sum past the wall; the remainder is returned
    as the gap."""
    covered, out = [], {}
    for name, ivs in layers:
        before = length(covered)
        covered = union(covered + clip(ivs, lo, hi))
        out[name] = out.get(name, 0.0) + length(covered) - before
    return out, (hi - lo) - length(covered)


def e2e(result):
    """End-to-end metrics from the untraced timed window."""
    timed = [o for o in result["ops"] if o["kind"] == "timed"]
    lat = [(o["end"] - o["start"]) / 1000 for o in timed]
    rounds = [(r["end"] - r["start"]) / 1000 for r in result["rounds"]
              if r["kind"] == "timed"]
    st = result["setup"]
    setup = (st["main_ms"] - st["spawn_ms"]) / 1000 + st["session_s"] + st["warmup_s"]
    return {
        "setup_s": setup,
        "wall_s": statistics.median(rounds),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": tail(lat, 0.9),
        "ops": len(lat),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def _attribute(ops, start):
    """The op running at `start`, else the last op that began before it in
    the same traced window (work an op set off that outlived it)."""
    best = None
    for o in ops:
        if o["start"] <= start:
            best = o
            if start <= o["end"]:
                return o
    return best


def layers(result):
    """Per-layer metrics of the traced rounds, each per round."""
    tr = result["trace"]
    ev = tr["events"]
    ops = sorted((o for o in result["ops"] if o["kind"] == "traced"),
                 key=lambda o: o["start"])
    by_id = {o["id"]: o for o in ops}
    n_rounds = max(1, sum(1 for r in result["rounds"] if r["kind"] == "traced"))
    cpus = result["cpus"]
    per_op = {o["id"]: {"jobs": [], "qes": [], "batches": [], "spans": []} for o in ops}

    for j in ev["jobs"]:
        g = j["group"]
        o = by_id.get(int(g.rsplit("-", 1)[1])) if g.startswith("perfbench-op-") \
            else _attribute(ops, j["start"])
        if o is not None and o["id"] in per_op:
            per_op[o["id"]]["jobs"].append(j)
    for q in ev["query_execs"]:
        ph = q["phases"]
        at = (ph.get("planning") or ph.get("optimization") or ph.get("analysis") or [0])[0]
        o = _attribute(ops, at)
        if o is not None:
            per_op[o["id"]]["qes"].append(q)
    for p in ev["progress"]:
        o = _attribute(ops, p["start"])
        if o is not None:
            per_op[o["id"]]["batches"].append(p)
    for s in ev["spans"]:
        if s["op"] in per_op:
            per_op[s["op"]]["spans"].append(s)

    m = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    skews, sum_frac_max, busy, walls = [], 0.0, 0.0, 0.0
    for o in ops:
        d = per_op[o["id"]]
        lo, hi = o["start"], o["end"]
        walls += (hi - lo) / 1000
        phase = {k: [tuple(q["phases"][k]) for q in d["qes"] if k in q["phases"]]
                 for k in ("analysis", "optimization", "planning")}
        shares, gap = self_times(lo, hi, [
            ("spark.job_s", [(j["start"], j["end"]) for j in d["jobs"]]),
            ("plans.analysis_s", phase["analysis"]),
            ("plans.optimization_s", phase["optimization"]),
            ("plans.planning_s", phase["planning"]),
            ("queries.build_s", [(s["start"], s["end"]) for s in d["spans"]
                                 if s["name"] == "queries.build"])])
        for k, v in shares.items():
            add(k, v / 1000)
        add("spark.driver_gap_s", gap / 1000)
        if hi > lo:
            sum_frac_max = max(sum_frac_max, sum(shares.values()) / (hi - lo))
        add("plans.query_execs", len(d["qes"]))
        add("plans.graft_rules_s", sum(q["graft_rules_ms"] for q in d["qes"]) / 1000)
        for j in d["jobs"]:
            add("spark.jobs", 1)
            add("spark.stages", j["stages"])
            add("spark.tasks", j["tasks"])
            add("spark.tasks_failed", j["failed"])
            add("spark.tasks_retried", j["retried"])
            for k, name, scale in (
                    ("sched_ms", "spark.sched_delay_s", 1e-3),
                    ("run_ms", "spark.task_run_s", 1e-3),
                    ("cpu_ms", "spark.task_cpu_s", 1e-3),
                    ("deser_ms", "spark.task_deser_s", 1e-3),
                    ("gc_ms", "spark.gc_s", 1e-3),
                    ("fetch_wait_ms", "spark.fetch_wait_s", 1e-3),
                    ("shuffle_write_b", "spark.shuffle_write_mb", 1 / 1048576),
                    ("shuffle_read_b", "spark.shuffle_read_mb", 1 / 1048576),
                    ("spill_mem_b", "spark.spill_mem_mb", 1 / 1048576),
                    ("spill_disk_b", "spark.spill_disk_mb", 1 / 1048576),
                    ("input_b", "spark.input_mb", 1 / 1048576)):
                add(name, j.get(k, 0.0) * scale)
            busy += j.get("busy_ms", 0.0) / 1000
            skews.extend(j["skews"])
        if o["name"] in ("ppjoin_pairs", "cc_clusters", "knn_join", "ann_join"):
            add(f"operators.{o['name']}_s", (hi - lo) / 1000)
            if o["name"] == "cc_clusters":
                add("operators.cc_jobs", len(d["jobs"]))
            if o["name"] == "ppjoin_pairs":
                add("operators.bucket_join_rows",
                    sum(q["bucket_join_rows"] for q in d["qes"]))
                add("operators.pairs_out", o["rows"])
        for p in d["batches"]:
            add("streaming.batches", 1)
            dur = p["durations"]
            for k, name in (("addBatch", "streaming.add_batch_s"),
                            ("queryPlanning", "streaming.query_planning_s"),
                            ("walCommit", "streaming.wal_commit_s"),
                            ("commitOffsets", "streaming.commit_offsets_s"),
                            ("latestOffset", "streaming.latest_offset_s")):
                add(name, dur.get(k, 0.0) / 1000)
            for s in p["state"]:
                add("streaming.state_rows_updated", s["rows_updated"])
                add("streaming.state_rows_removed", s["rows_removed"])
                add("streaming.state_commit_s", s["commit_ms"] / 1000)
                add("streaming.state_update_s", s["updates_ms"] / 1000)
                add("streaming.rows_dropped_late", s["dropped_late"])
                add("streaming.rocksdb_gets", s.get("rocksdbGetCount", 0))
                add("streaming.rocksdb_puts", s.get("rocksdbPutCount", 0))
                add("streaming.rocksdb_checkpoint_s",
                    s.get("rocksdbCommitCheckpointLatency", 0) / 1000)

    m = {k: v / n_rounds for k, v in m.items()}
    if m.get("operators.bucket_join_rows"):
        m["operators.pair_yield"] = m["operators.pairs_out"] / m["operators.bucket_join_rows"]
    m["spark.core_busy_frac"] = busy / (cpus * walls) if walls else 0.0
    m["spark.stage_skew"] = statistics.median(skews) if skews else 1.0
    # state size is a level, not a flow: the mean over batches of the rows
    # (and bytes) held by all state operators after each batch
    levels = [(sum(s["rows_total"] for s in p["state"]),
               sum(s["mem_bytes"] for s in p["state"]))
              for d in per_op.values() for p in d["batches"] if p["state"]]
    if levels:
        m["streaming.state_rows"] = statistics.mean(r for r, _ in levels)
        m["streaming.state_mem_mb"] = max(b for _, b in levels) / 1048576
    m["jvm.heap_live_mb"] = tr["heap_live_mb"]
    m["jvm.gc_pause_s"] = tr["gc_ms"] / 1000 / n_rounds
    for k, v in tr["probes"].items():
        m[k] = v
    untraced = [r for r in result["rounds"] if r["kind"] == "reference"]
    traced = [r for r in result["rounds"] if r["kind"] == "traced"]

    def med(rs):
        return statistics.median([(r["end"] - r["start"]) / 1000 for r in rs])

    m["trace.overhead_frac"] = med(traced) / med(untraced) - 1
    m["trace.layer_sum_max_frac"] = sum_frac_max
    return m
