"""Arithmetic of the graft benchmark: percentiles, span self time and the
end-to-end and per-layer metrics derived from one JVM result file."""
import statistics
from collections import defaultdict

FAMILIES = ("brute", "ivf", "hnsw", "fts", "hybrid")
SPARK_TOTALS = ("stages", "tasks", "task_run_ms", "task_cpu_ms", "task_wait_ms",
                "gc_ms", "input_bytes", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "failed_tasks")
SELF_LAYERS = ("queries", "plans", "operators", "sources", "spark")


def tail(samples):
    """The highest percentile with at least 10 samples beyond it.

    With n sorted samples the nearest-rank percentile p is the sample of
    rank ceil(p*n/100), and n - rank samples lie beyond it, so the highest
    p with 10 beyond is 100*(n-10)/n, the sample of rank n-10. Below 20
    samples that percentile falls under the median, which is no tail: the
    maximum is reported instead, with the number of samples beyond it (0).
    Returns (value, percentile, n, beyond).
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 20:
        return xs[-1], 100.0, n, 0
    return xs[n - 11], 100.0 * (n - 10) / n, n, 10


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children may overlap each other)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = [(max(c["start_ms"], lo), min(c["end_ms"], hi))
                   for c in children[s["id"]]]
        out[s["id"]] = (hi - lo) - union_length(covered)
    return out


def merge_siblings(spans):
    """Merges overlapping spans of one parent, so that concurrent jobs of
    one phase count their shared time once."""
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s["parent"]].append(s)
    out = []
    for group in by_parent.values():
        group.sort(key=lambda s: s["start_ms"])
        cur = None
        for s in group:
            if cur is not None and s["start_ms"] <= cur["end_ms"]:
                cur["end_ms"] = max(cur["end_ms"], s["end_ms"])
            else:
                cur = dict(s)
                out.append(cur)
    return out


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _latency_kinds(workload, kind):
    if workload == "ingest":
        return kind.startswith("ingest.search.")
    return True


def _window_ops(res, window):
    return [o for o in res["ops"] if o["window"] == window]


def end_to_end(res):
    """End-to-end metrics of an untraced run, and a report of the ones the
    gate does not carry (they apply to some workloads only)."""
    w = res["workload"]
    win = res["windows"]["main"]
    ops = _window_ops(res, "main")
    wall_s = (win["end_ms"] - win["start_ms"]) / 1000.0
    lat = [o["end_ms"] - o["start_ms"] for o in ops
           if o["ok"] and _latency_kinds(w, o["kind"])]
    t_val, t_pct, t_n, t_beyond = tail(lat)
    metrics = {
        "setup_s": (sum(res["setup"].values()), "s"),
        "ops_per_s": (len(ops) / wall_s, "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_tail_ms": (t_val, "ms"),
        "heap_retained_mb": (res["heap_retained_mb"], "MiB"),
    }
    all_ops = res["ops"]
    report = {
        "latency_tail": {"percentile": round(t_pct, 2), "samples": t_n,
                         "beyond": t_beyond},
        "error_rate": sum(not o["ok"] for o in all_ops) / len(all_ops),
        "timed_ops": len(ops),
        "timed_wall_s": wall_s,
        "setup": res["setup"],
    }
    extra = res.get("report", {})
    if "recall_at_10" in extra:
        report["recall_at_10"] = extra["recall_at_10"]
        report["recall_by_family"] = extra["recall_by_family"]
    if "stored_bytes_per_row" in extra:
        report["stored_bytes_per_row"] = extra["stored_bytes_per_row"]
    writes = [o["end_ms"] - o["start_ms"] for o in ops
              if o["kind"] == "ingest.write" and o["ok"]]
    if writes:
        report["write_p50_ms"] = statistics.median(writes)
    return metrics, report


def per_layer(res):
    """Per-layer metrics of a traced run: means per timed operation of the
    traced window, set-up times, and the tracing overhead."""
    w = res["workload"]
    ops = _window_ops(res, "traced")
    op_ids = {o["id"] for o in ops}
    spans = [s for s in res["spans"] if s["op"] in op_ids]
    by_id = {s["id"]: s for s in spans}
    jobs = [{"id": -1 - j["id"], "parent": int(j["group"]),
             "op": by_id[int(j["group"])]["op"], "name": "spark.job",
             "start_ms": j["start_ms"], "end_ms": j["end_ms"]}
            for j in res["jobs"] if j["group"].isdigit() and int(j["group"]) in by_id]
    tree = spans + merge_siblings(jobs)
    selfs = self_times(tree)
    groups = res["groups"]

    per_op = defaultdict(lambda: defaultdict(float))
    for s in tree:
        layer = s["name"].split(".")[0]
        per_op[s["op"]]["self." + layer] += selfs[s["id"]]
        per_op[s["op"]]["dur." + s["name"]] += s["end_ms"] - s["start_ms"]
    for j in jobs:
        per_op[j["op"]]["jobs"] += 1
        per_op[j["op"]]["jobs." + by_id[j["parent"]]["name"]] += 1
    for s in spans:
        for k, v in groups.get(str(s["id"]), {}).items():
            per_op[s["op"]]["spark." + k] += v
    for o in ops:
        in_op = [(j["start_ms"], j["end_ms"]) for j in jobs if j["op"] == o["id"]]
        wall = o["end_ms"] - o["start_ms"]
        per_op[o["id"]]["driver_self"] = wall - union_length(
            [(max(s, o["start_ms"]), min(e, o["end_ms"])) for s, e in in_op])
        per_op[o["id"]]["rows"] = o["rows"]

    def mean_over(pred, key):
        return _mean([per_op[o["id"]][key] for o in ops if pred(o)])

    def has(name):
        return lambda o: per_op[o["id"]]["dur." + name] > 0

    every = lambda o: True  # noqa: E731
    setup = res["setup"]
    m = {
        "engine.session_s": (setup.get("engine.session", 0.0), "s"),
        "engine.warmup_s": (setup.get("engine.warmup", 0.0), "s"),
        "queries.build_ms": (mean_over(has("queries.build"), "dur.queries.build"), "ms"),
        "queries.build_jobs": (mean_over(has("queries.build"), "jobs.queries.build"), "count"),
        "plans.plan_ms": (mean_over(every, "dur.plans.plan"), "ms"),
        "spark.exec_ms": (mean_over(every, "dur.spark.exec"), "ms"),
        "spark.jobs": (mean_over(every, "jobs"), "count"),
        "driver.self_ms": (mean_over(every, "driver_self"), "ms"),
        "driver.result_rows": (mean_over(every, "rows"), "count"),
    }
    units = {"stages": "count", "tasks": "count", "failed_tasks": "count",
             "input_bytes": "B", "shuffle_write_bytes": "B",
             "shuffle_read_bytes": "B", "spill_bytes": "B"}
    for k in SPARK_TOTALS:
        m["spark." + k] = (mean_over(every, "spark." + k), units.get(k, "ms"))
    for layer in SELF_LAYERS:
        m[layer + ".self_ms"] = (mean_over(every, "self." + layer), "ms")

    extra = res.get("report", {})
    recall = extra.get("recall_by_family", {})
    index_bytes = extra.get("index_bytes", {})
    for fam in FAMILIES:
        def of_fam(o, fam=fam):
            k = o["kind"]
            return k == "search." + fam or k.startswith("ingest.search.%s." % fam)
        build = lambda o, fam=fam: per_op[o["id"]]["dur.operators.%s.build" % fam]  # noqa: E731
        fam_ops = [o for o in ops if of_fam(o)]
        m["operators.%s.search_ms" % fam] = (
            _mean([per_op[o["id"]]["dur.spark.exec"] for o in fam_ops]), "ms")
        m["operators.%s.build_ms" % fam] = (
            _mean([build(o) + per_op[o["id"]]["dur.plans.plan"] for o in fam_ops]), "ms")
        m["operators.%s.build_jobs" % fam] = (
            _mean([per_op[o["id"]]["jobs.operators.%s.build" % fam]
                   + per_op[o["id"]]["jobs.plans.plan"] for o in fam_ops]), "count")
        if fam in ("ivf", "hnsw"):
            m["operators.%s.recall_at_10" % fam] = (recall.get(fam, 0.0), "ratio")
        if fam in ("ivf", "hnsw", "fts"):
            m["operators.%s.index_build_s" % fam] = (
                setup.get("operators.%s.index_build" % fam, 0.0), "s")
            m["operators.%s.index_bytes" % fam] = (index_bytes.get(fam, 0), "B")
        if fam in ("ivf", "hnsw", "fts") and w == "ingest":
            m["operators.%s.append_ms" % fam] = (
                mean_over(has("operators.%s.append" % fam),
                          "dur.operators.%s.append" % fam), "ms")
            m["operators.%s.cold_search_ms" % fam] = (_mean(
                [o["end_ms"] - o["start_ms"] for o in ops
                 if o["kind"] == "ingest.search.%s.cold" % fam]), "ms")
    compact = mean_over(has("sources.compact"), "dur.sources.compact")
    if not compact:
        compact = 1000.0 * setup.get("sources.compact", 0.0)
    m["sources.compact_ms"] = (compact, "ms")
    m["sources.files"] = (extra.get("base_files", 0), "count")

    def p50(window):
        lat = [o["end_ms"] - o["start_ms"] for o in _window_ops(res, window)
               if o["ok"] and _latency_kinds(w, o["kind"])]
        return statistics.median(lat) if lat else 0.0
    plain, traced = p50("untraced"), p50("traced")
    m["trace.overhead_ms"] = (traced - plain, "ms")
    m["trace.overhead_pct"] = (100.0 * (traced - plain) / plain if plain else 0.0, "%")
    return m
