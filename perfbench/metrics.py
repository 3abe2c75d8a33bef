"""Derive the benchmark's metrics from one run's raw result.

The JVM harness (perfbench.Main) writes raw observations: pass walls and
CPU, per-call latency samples, and in a traced run the call spans plus the
job, task and query-planning events Spark's listeners delivered. Every
number the benchmark reports is computed here, from those observations.
"""

import statistics

# (name, unit) of every metric a run with --trace 0 reports as JSON.
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("rows_per_s", "1/s"),
    ("docs_per_s", "1/s"),
    ("recall", "ratio"),
]

# (name, unit) of every metric a run with --trace 1 reports as JSON.
PER_LAYER = [
    ("core.shingle_ns_per_doc", "ns"),
    ("core.minhash_ns_per_doc", "ns"),
    ("core.jaccard_ns_per_pair", "ns"),
    ("core.jaccard_text_ns_per_pair", "ns"),
    ("core.euclid_ns_per_vec", "ns"),
    ("core.family_minhash_us", "us"),
    ("core.family_euclid_us", "us"),
    ("expr.lsh_min_ns_per_row", "ns"),
    ("expr.lsh_min32_ns_per_row", "ns"),
    ("expr.lsh_jaccard_ns_per_row", "ns"),
    ("expr.lsh_euclidean_ns_per_row", "ns"),
    ("expr.lsh_euclidean32_ns_per_row", "ns"),
    ("expr.overhead_ratio", "ratio"),
    ("sql.register_ms", "ms"),
    ("sql.plan_ms", "ms"),
    ("api.candidate_pairs", "count"),
    ("api.verified_pairs", "count"),
    ("api.verify_ratio", "ratio"),
    ("api.max_bucket_rows", "count"),
    ("api.hot_bucket_rows", "count"),
    ("api.index_rows", "count"),
    ("api.index_files", "count"),
    ("stage.executor_cpu_s", "s"),
    ("stage.gc_s", "s"),
    ("stage.shuffle_read_mb", "MB"),
    ("stage.shuffle_write_mb", "MB"),
    ("stage.spill_mb", "MB"),
    ("stage.task_skew", "ratio"),
    ("stage.tasks", "count"),
    ("stage.wall_s", "s"),
    ("driver.jobs", "count"),
    ("driver.plan_ms", "ms"),
    ("driver.idle_gap_s", "s"),
    ("session.start_s", "s"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.self_sum_ratio", "ratio"),
]

MB = float(1 << 20)
# a stage counts for task skew only when its tasks ran this long in total,
# so millisecond-sized bookkeeping stages do not set the worst ratio
SKEW_MIN_STAGE_MS = 100.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, beyond=10):
    """The highest nearest-rank percentile that still has at least `beyond`
    samples above it: (percentile, value, sample count), or None when there
    are not more than `beyond` samples."""
    xs = sorted(samples)
    n = len(xs)
    rank = n - beyond  # 1-based rank with `beyond` samples after it
    if rank < 1:
        return None
    return (100.0 * rank / n, xs[rank - 1], n)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def idle_gap(call, jobs):
    """A call's wall time not covered by any Spark job: planning, driver
    work and waiting between jobs. `call` and `jobs` are (start, end)."""
    return (call[1] - call[0]) - union_length(clip(jobs, call[0], call[1]))


def attribute(spans, jobs):
    """Map each job (start, end) to the innermost span whose interval holds
    its start, or to None when no span does."""
    out = []
    for job in jobs:
        best = None
        for sp in spans:
            if sp["start_ms"] <= job[0] <= sp["end_ms"]:
                if best is None or sp["start_ms"] >= best["start_ms"] and sp["end_ms"] <= best["end_ms"]:
                    best = sp
        out.append(best["id"] if best is not None else None)
    return out


def self_times(pass_iv, spans, jobs):
    """Self time of each layer within one pass, in ms.

    Children of a span are its child spans and the jobs attributed to it;
    a span's self time is its duration minus the union of its children. The
    jobs are the `stage` layer (their union per parent), and the pass's own
    time outside every top-level span and job is the `bench` layer. When
    spans nest and jobs stay inside their callers, the layers add up to the
    pass wall exactly."""
    owner = attribute(spans, jobs)
    children = {sp["id"]: [] for sp in spans}
    jobs_of = {sp["id"]: [] for sp in spans}
    jobs_of[None] = []
    top = []
    for sp in spans:
        iv = (sp["start_ms"], sp["end_ms"])
        if sp["parent"] in children:
            children[sp["parent"]].append(iv)
        else:
            top.append(iv)
    for job, who in zip(jobs, owner):
        jobs_of[who].append(job)
    layers = {}

    def add(layer, ms):
        layers[layer] = layers.get(layer, 0.0) + ms

    for sp in spans:
        s, e = sp["start_ms"], sp["end_ms"]
        kids = clip(children[sp["id"]] + jobs_of[sp["id"]], s, e)
        add(sp["layer"], (e - s) - union_length(kids))
        add("stage", union_length(clip(jobs_of[sp["id"]], s, e)))
    s, e = pass_iv
    add("bench", (e - s) - union_length(clip(top + jobs_of[None], s, e)))
    add("stage", union_length(clip(jobs_of[None], s, e)))
    return layers


def task_skew(tasks):
    """Worst max/median task duration over the stages that did real work.
    `tasks` rows: stageId, launchMs, finishMs, ..."""
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t[0], []).append(t[2] - t[1])
    worst = 1.0
    for durs in by_stage.values():
        med = median(durs)
        if len(durs) >= 2 and sum(durs) >= SKEW_MIN_STAGE_MS and med > 0:
            worst = max(worst, max(durs) / med)
    return worst


def tracing_overhead(passes):
    """Median over traced passes of their wall against the mean of the two
    untraced passes around them, minus 1. Comparing neighbours cancels the
    trend of a JVM that is still getting faster from pass to pass."""
    ratios = []
    for i in range(1, len(passes) - 1):
        before, p, after = passes[i - 1:i + 2]
        if p["traced"] and not before["traced"] and not after["traced"]:
            ratios.append(p["wall_s"] / ((before["wall_s"] + after["wall_s"]) / 2) - 1.0)
    return median(ratios)


def end_to_end(raw):
    """End-to-end metrics of an untraced run."""
    walls = [p["wall_s"] for p in raw["passes"]]
    cpus = [p["cpu_s"] for p in raw["passes"]]
    wall = median(walls)
    return {
        "setup_s": raw["jvm_to_session_s"] + raw["generate_s"] + median(raw["load_s"]) + raw["warmup_s"],
        "wall_s": wall,
        "cpu_s": median(cpus),
        "rows_per_s": raw["rows"] / wall,
        "docs_per_s": raw["docs"] / wall,
        "recall": raw["verify"].get("recall", 0.0),
    }


def samples_named(raw, name):
    return [s["s"] for s in raw["samples"] if s["name"] == name and s["pass"] >= 0]


def lifecycle(raw):
    """index_ingest's phase latencies: build, per-batch admit and compaction."""
    admit = samples_named(raw, "admit")
    out = {
        "build_s": median(samples_named(raw, "saveSignatureIndex")),
        "admit_p50_s": median(admit),
        "compact_s": median(samples_named(raw, "compactSignatureIndex")),
        "admit_tail": tail_percentile(admit),
    }
    return out


def traced_passes(raw):
    """The traced passes with their own spans, jobs, tasks and planning
    events."""
    out = []
    for p in raw["passes"]:
        if not p["traced"]:
            continue
        s, e = p["start_ms"], p["end_ms"]
        spans = [sp for sp in raw.get("spans", []) if sp["pass"] == p["pass"]]
        jobs = [(j[1], j[2]) for j in raw.get("jobs", []) if s <= j[1] <= e]
        tasks = [t for t in raw.get("tasks", []) if s <= t[1] <= e]
        plans = [q[1] for q in raw.get("queries", []) if s <= q[0] <= e]
        out.append((p, spans, jobs, tasks, plans))
    return out


def layers(raw):
    """Per-layer metrics and the self-time table of a traced run."""
    rows = []
    selfs = []
    api_calls = {}
    for p, spans, jobs, tasks, plans in traced_passes(raw):
        wall_ms = p["end_ms"] - p["start_ms"]
        top = [sp for sp in spans if sp["parent"] < 0]
        st = self_times((p["start_ms"], p["end_ms"]), spans, jobs)
        selfs.append({k: v / 1e3 for k, v in st.items()})
        for sp in spans:
            if sp["layer"] == "api":
                api_calls.setdefault(sp["name"], []).append((p["pass"], (sp["end_ms"] - sp["start_ms"]) / 1e3))
        rows.append({
            "stage.executor_cpu_s": sum(t[4] for t in tasks) / 1e9,
            "stage.gc_s": sum(t[5] for t in tasks) / 1e3,
            "stage.shuffle_read_mb": sum(t[6] for t in tasks) / MB,
            "stage.shuffle_write_mb": sum(t[7] for t in tasks) / MB,
            "stage.spill_mb": sum(t[8] for t in tasks) / MB,
            "stage.task_skew": task_skew(tasks),
            "stage.tasks": float(len(tasks)),
            "stage.wall_s": union_length(jobs) / 1e3,
            "driver.jobs": float(len(jobs)),
            "driver.plan_ms": sum(plans),
            "driver.idle_gap_s": sum(idle_gap((sp["start_ms"], sp["end_ms"]), jobs) for sp in top) / 1e3,
            "trace.self_sum_ratio": sum(st.values()) / wall_ms,
        })
    metrics = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    core, expr = raw["core"], raw["expr"]
    metrics.update(core)
    metrics.update(expr)
    kernel = (2 * (core["core.shingle_ns_per_doc"] + core["core.minhash_ns_per_doc"])
              + core["core.jaccard_text_ns_per_pair"] + 2 * core["core.euclid_ns_per_vec"])
    metrics["expr.overhead_ratio"] = sum(expr.values()) / kernel
    metrics["sql.register_ms"] = median(raw["register_ms"])
    metrics["sql.plan_ms"] = raw["sql_plan_ms"]
    metrics["session.start_s"] = raw["session_start_s"]
    for name, _ in PER_LAYER:
        if name.startswith("api."):
            metrics[name] = raw.get("counters", {}).get(name, 0.0)
    metrics["trace.overhead_ratio"] = tracing_overhead(raw["passes"])
    layer_self = {}
    for st in selfs:
        for k, v in st.items():
            layer_self.setdefault(k, []).append(v)
    api_s = {}
    for name, xs in api_calls.items():
        per = {}
        for pass_no, secs in xs:
            per[pass_no] = per.get(pass_no, 0.0) + secs
        api_s["api.%s_s" % name] = median(list(per.values()))
    return metrics, {k: median(v) for k, v in layer_self.items()}, api_s
