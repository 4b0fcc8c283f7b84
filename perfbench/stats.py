"""Turns one raw run record (written by the JVM program) into metrics.

Kept free of I/O and of Spark so the rules are unit-tested on their own
(test_stats.py): the median and tail-percentile rule, the union of job
intervals behind the Spark driver-gap metrics, and self time from nested spans.
"""

import statistics

# The workload's closed-loop operation whose latency is `op_p50_ms`.
MAIN_OP = {"serve": "probe", "cdc": "probe", "curate": "chunk"}

# name -> unit, in the order BENCHMARK.json lists them.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "quality": "ratio",
    "space_amp": "ratio",
}

LAYERS = ["bench", "index", "spark", "streaming", "dedup", "text"]

PER_LAYER = {
    "session.start_ms": "ms",
    "jvm.peak_rss_mb": "MB",
    "index.build_ms": "ms",
    "index.build_jobs": "count",
    "index.probe_build_ms": "ms",
    "spark.probe_exec_ms": "ms",
    "spark.jobs_per_probe": "count",
    "spark.probe_driver_gap_ms": "ms",
    "spark.probe_input_bytes": "bytes",
    "index.live_delta_legs": "count",
    "index.live_tomb_legs": "count",
    "probe.tail_ms": "ms",
    "probe.tail_pct": "%",
    "probe.samples": "count",
    "streaming.batch_ms": "ms",
    "streaming.batch_add_ms": "ms",
    "streaming.batch_planning_ms": "ms",
    "streaming.start_ms": "ms",
    "spark.jobs_per_batch": "count",
    "spark.batch_driver_gap_ms": "ms",
    "io.compactions": "count",
    "io.bytes_written_per_user_byte": "ratio",
    "io.layout_bytes": "bytes",
    "dedup.exact_ms": "ms",
    "dedup.minhash_ms": "ms",
    "dedup.pairs_out": "count",
    "text.quality_ms": "ms",
    "text.tokenize_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}
PER_LAYER.update({f"self.{layer}_ms": "ms" for layer in LAYERS})


def median(xs):
    """Median of a non-empty sequence; 0.0 for an empty one (a layer the
    workload does not exercise)."""
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). The value is the sample with exactly
    `beyond` samples ranked above it, which sits at percentile
    100 * (n - beyond) / n. With `beyond` or fewer samples no such
    percentile exists and (0.0, 0.0, n) is returned.
    """
    n = len(xs)
    if n <= beyond:
        return 0.0, 0.0, n
    s = sorted(xs)
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    """Intervals cut to [start, end], empty ones dropped."""
    out = []
    for a, b in intervals:
        a, b = max(a, start), min(b, end)
        if b > a:
            out.append((a, b))
    return out


def driver_gap(start, end, job_intervals):
    """Wall time of [start, end] not covered by any Spark job: the time
    the Spark driver spent planning, scheduling and waiting between jobs."""
    return (end - start) - union_length(clip(job_intervals, start, end))


class Span:
    __slots__ = ("id", "parent", "name", "req", "start", "end")

    def __init__(self, row):
        self.id, self.parent, self.name, self.req, self.start, self.end = row

    @property
    def layer(self):
        return self.name.split(".", 1)[0]

    @property
    def ms(self):
        return self.end - self.start


def self_times(spans):
    """Self time per span id: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.ms - union_length(clip(children.get(s.id, []), s.start, s.end))
            for s in spans}


def end_to_end(raw):
    """The end-to-end metrics of an untraced run."""
    ops = _ops(raw, MAIN_OP[raw["workload"]])
    if raw["workload"] == "cdc":
        items = raw["rows_committed"] / (raw["drain_ms"] / 1000.0)
    elif raw["workload"] == "curate":
        items = raw["docs"] / (sum(ops) / 1000.0)
    else:
        items = len(ops) / (sum(ops) / 1000.0)
    values = {
        "setup_s": (raw["session_start_ms"] + median(raw["setup_ms"])) / 1000.0,
        "op_p50_ms": median(ops),
        "items_per_s": items,
        "quality": raw["recall"],
        "space_amp": raw["space_amp"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def _ops(raw, kind, traced=None):
    return [o[1] for o in raw["ops"]
            if o[0] == kind and (traced is None or o[2] == traced)]


def per_layer(raw):
    """The per-layer metrics of a traced run (0 for a layer the workload
    does not exercise)."""
    wl = raw["workload"]
    main = MAIN_OP[wl]
    spans = [Span(r) for r in raw.get("spans", [])]
    jobs = raw.get("jobs", [])  # id, start, end, span, batch, cpu, shw, spill, in, out
    span_of = {s.id: s for s in spans}
    traced_reqs = {o[3] for o in raw["ops"] if o[2]}
    main_reqs = {o[3] for o in raw["ops"] if o[2] and o[0] == main}

    def req_of_job(j):
        s = span_of.get(j[3])
        return s.req if s else None

    v = {k: 0.0 for k in PER_LAYER}
    v["session.start_ms"] = raw["session_start_ms"]
    v["jvm.peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    v["trace.spans"] = len(spans)

    builds = [s for s in spans if s.name == "index.build"]
    if builds:
        v["index.build_ms"] = median([s.ms for s in builds])
        v["index.build_jobs"] = median(
            [sum(1 for j in jobs if req_of_job(j) == b.req) for b in builds])

    # probe path: one request per traced probe
    by_req = {}
    for s in spans:
        by_req.setdefault(s.req, []).append(s)
    probe_reqs = sorted(r for r in main_reqs if main == "probe" and r in by_req)
    if probe_reqs:
        plan_ms, exec_ms, njobs, gaps, inbytes = [], [], [], [], []
        for r in probe_reqs:
            ss = by_req.get(r, [])
            plan = [s for s in ss if s.name.startswith("index.search")]
            exe = [s for s in ss if s.name == "spark.collect"]
            rj = [j for j in jobs if req_of_job(j) == r]
            plan_ms += [s.ms for s in plan]
            njobs.append(len(rj))
            inbytes.append(sum(j[8] for j in rj))
            for e in exe:
                exec_ms.append(e.ms)
                gaps.append(driver_gap(e.start, e.end,
                                       [(j[1], j[2]) for j in rj if j[3] == e.id]))
        v["index.probe_build_ms"] = median(plan_ms)
        v["spark.probe_exec_ms"] = median(exec_ms)
        v["spark.jobs_per_probe"] = median(njobs)
        v["spark.probe_driver_gap_ms"] = median(gaps)
        v["spark.probe_input_bytes"] = median(inbytes)
        t, pct, n = tail(_ops(raw, "probe"))
        v["probe.tail_ms"], v["probe.tail_pct"], v["probe.samples"] = t, pct, n
    if raw.get("probe_legs"):
        v["index.live_delta_legs"] = statistics.mean(l[0] for l in raw["probe_legs"])
        v["index.live_tomb_legs"] = statistics.mean(l[1] for l in raw["probe_legs"])

    # write path: micro-batches of the streaming sink
    batches = raw.get("batches", [])
    if batches:
        v["streaming.batch_ms"] = median([b["trigger_ms"] for b in batches])
        v["streaming.batch_add_ms"] = median([b["add_ms"] for b in batches])
        v["streaming.batch_planning_ms"] = median([b["planning_ms"] for b in batches])
        v["streaming.start_ms"] = median([d[0] - d[1] for d in raw["drains"]])
        per_batch = {b["batch"]: [] for b in batches}
        for j in jobs:
            if j[4] in per_batch:
                per_batch[j[4]].append((j[1], j[2]))
        v["spark.jobs_per_batch"] = median([len(x) for x in per_batch.values()])
        v["spark.batch_driver_gap_ms"] = median(
            [b["trigger_ms"] - union_length(per_batch[b["batch"]]) for b in batches])
        written = sum(j[9] for j in jobs if j[4] in per_batch)
        v["io.bytes_written_per_user_byte"] = written / raw["user_bytes"]
        v["io.compactions"] = raw["compactions"]
    if "layout_bytes" in raw:
        v["io.layout_bytes"] = raw["layout_bytes"]

    # curation stages, timed per chunk from outside
    stages = raw.get("stage_ms", [])
    if stages:
        cols = list(zip(*stages))
        v["dedup.exact_ms"], v["dedup.minhash_ms"] = median(cols[0]), median(cols[1])
        v["text.quality_ms"], v["text.tokenize_ms"] = median(cols[2]), median(cols[3])
        v["dedup.pairs_out"] = raw["pairs_out"] / len(stages)

    # Spark work per operation of the measured period, all op kinds
    n_ops = max(1, len(raw["ops"]))
    measured = [j for j in jobs if j[1] >= raw["clock_start_ms"]]
    v["spark.task_cpu_ms"] = sum(j[5] for j in measured) / n_ops
    v["spark.shuffle_write_bytes"] = sum(j[6] for j in measured) / n_ops
    v["spark.spill_bytes"] = sum(j[7] for j in measured) / n_ops

    # self time per layer, per traced operation
    selfs = self_times(spans)
    n_traced = max(1, len(traced_reqs))
    for layer in LAYERS:
        v[f"self.{layer}_ms"] = sum(selfs[s.id] for s in spans
                                    if s.layer == layer and s.req in traced_reqs) / n_traced

    on, off = _ops(raw, main, True), _ops(raw, main, False)
    if on and off:
        v["trace.overhead_ms"] = median(on) - median(off)
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}
