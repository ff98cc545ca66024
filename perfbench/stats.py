"""Reduces the raw record of one run (written by perfbench.Main) to the
benchmark's metrics, and holds the helpers that reduction rests on."""

import json
import math
import os
import statistics


def _declared(kind):
    """(name, unit) of each metric BENCHMARK.json declares under `kind`."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


# End-to-end metrics: every workload reports each of them (untraced run).
END_TO_END = _declared("end_to_end")
# Per-layer metrics: every workload reports each of them (traced run);
# a layer the workload never reaches reads 0.
PER_LAYER = _declared("per_layer")

# End-to-end timings are reported at a nominal machine speed: each op's
# time, and each set-up's, is scaled by NOMINAL_REF_MS over the time the
# reference job (perfbench.Reference) took right after it. The speed of
# a shared host drifts over minutes and the reference job drifts with
# it, while a change of the program moves only the op. The raw timings
# are printed beside them.
NOMINAL_REF_MS = 6.0

# Smallest number of samples a reported percentile must have beyond it.
TAIL_SAMPLES = 10


# ---- helpers --------------------------------------------------------------

def percentile(values, p):
    """The p-quantile (0 <= p <= 1), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, p):
    """How many of n samples lie above the p-quantile."""
    return n - math.ceil(round(p * n, 9))


def reportable(n, p):
    """A percentile is reported only with TAIL_SAMPLES samples beyond it."""
    return samples_beyond(n, p) >= TAIL_SAMPLES


def interval_union(intervals, lo=None, hi=None):
    """Total length covered by the intervals, each clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0
    end = None
    for s, e in sorted(clipped):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Per span name, the summed self time: each span's duration minus the
    part of its interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = interval_union([(c["start"], c["end"]) for c in children.get(s["id"], [])],
                                 s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0) + (s["end"] - s["start"]) - covered
    return out


def link_listener_spans(spans, jobs, stages, slack_ns=1_000_000):
    """Spans for listener jobs and stages (epoch ms) under the program spans
    (epoch ns). A job hangs under the deepest span of its op that was open
    when the job started; a stage hangs under its job."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    depth = {}
    for s in spans:  # parents precede children in the recorded order
        depth[s["id"]] = 0 if s["parent"] < 0 else depth[s["parent"]] + 1
    out = []
    next_id = max((s["id"] for s in spans), default=-1) + 1
    job_span = {}
    for j in sorted(jobs, key=lambda j: j["start"]):
        t = j["start"] * 1_000_000
        open_ = [s for s in by_op.get(j["op"], [])
                 if s["start"] - slack_ns <= t <= s["end"] + slack_ns]
        if not open_:
            continue
        parent = max(open_, key=lambda s: depth[s["id"]])
        span = {"id": next_id, "parent": parent["id"], "op": j["op"], "name": "job",
                "start": t, "end": j["end"] * 1_000_000}
        next_id += 1
        job_span[j["jobId"]] = span
        out.append(span)
    for st in stages:
        parent = job_span.get(st["jobId"])
        if parent is None or st["start"] <= 0:
            continue
        out.append({"id": next_id, "parent": parent["id"], "op": st["op"], "name": "stage",
                    "start": st["start"] * 1_000_000, "end": st["end"] * 1_000_000})
        next_id += 1
    return out


def slope(xs, ys):
    """Least-squares slope of ys on xs (0 when xs do not vary)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


# ---- reduction ------------------------------------------------------------

def kind_median_geomean(ops, ms=None):
    """Geometric mean, over op kinds, of each kind's median latency (ms).
    A workload of one kind gets its plain median; a mix of verbs gets a
    summary that does not jump when the median falls between two verbs."""
    ms = ms or _ms
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(ms(o))
    if not by_kind:
        return 0.0
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_kind.values()))


def median_pass_rows_per_s(ops, ms=None):
    """Input rows per second of one pass of the mix in which every op
    takes its kind's median time: a throughput that, like the medians,
    passes over the ops a burst of other load on the machine slowed."""
    ms = ms or _ms
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o)
    rows = sum(statistics.fmean(o["rows"] for o in v) for v in by_kind.values())
    secs = sum(statistics.median(ms(o) for o in v) for v in by_kind.values()) / 1e3
    return rows / secs if secs else 0.0


def _ms(o):
    return (o["end"] - o["start"]) / 1e6


def norm_ms(o):
    """An op's time at the nominal machine speed."""
    return _ms(o) * NOMINAL_REF_MS / o["ref_ms"]


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def summarize(rec):
    """Returns (end_to_end, per_layer, report, trace_doc).

    end_to_end and per_layer map metric name to value; report is a list of
    (name, value, unit, samples) lines for the human-readable summary;
    trace_doc is what the traced run writes out (spans, per-op layers)."""
    ops = rec["ops"]
    good = [o for o in ops if o["error"] is None and o["wrong"] is None]
    plain = [o for o in good if not o["traced"]]
    traced = [o for o in good if o["traced"]]
    durs = [_ms(o) for o in plain]
    slots = rec["stamp"]["slots"]
    report = []

    e2e = {
        "setup_s": statistics.median(s * NOMINAL_REF_MS / r
                                     for s, r in zip(rec["setup_s"], rec["setup_ref_ms"])),
        "norm_rows_per_s": median_pass_rows_per_s(plain, norm_ms),
        "norm_op_p50_geomean_ms": kind_median_geomean(plain, norm_ms),
    }
    samples = {"setup_s": len(rec["setup_s"]), "norm_rows_per_s": len(durs),
               "norm_op_p50_geomean_ms": len(durs)}
    for name, unit in END_TO_END:
        report.append((name, e2e[name], unit, samples[name]))
    # the same, as timed on this machine
    report.append(("raw_setup_s", statistics.median(rec["setup_s"]), "s", len(rec["setup_s"])))
    report.append(("raw_rows_per_s", median_pass_rows_per_s(plain), "1/s", len(durs)))
    report.append(("raw_op_p50_geomean_ms", kind_median_geomean(plain), "ms", len(durs)))
    report.append(("reference_p50_ms", statistics.median(o["ref_ms"] for o in plain)
                   if plain else 0.0, "ms", len(durs)))
    report.append(("setup_first_s", rec["setup_s"][0], "s", 1))
    report.append(("live_heap_mb", rec["live_heap_mb"], "MB", 1))
    report.append(("op_kinds", len({o["kind"] for o in plain}), "count", len(durs)))
    for p in (0.5, 0.9, 0.99):
        name = f"op_p{round(p * 100)}_ms"
        if reportable(len(durs), p):
            report.append((name, percentile(durs, p), "ms", len(durs)))
        else:
            report.append((name, None, "ms", len(durs)))
    report.append(("failed_ops_ratio", (len(ops) - len(good)) / len(ops) if ops else 0.0,
                   "ratio", len(ops)))
    # ingest_probe only: its append and probe calls, timed inside each batch
    append = [o["values"]["append_ms"] for o in plain if "append_ms" in o["values"]]
    probe = [v for o in plain for k, v in o["values"].items() if k.startswith("probe_ms.")]
    if append:
        for name, xs in (("append", append), ("probe", probe)):
            report.append((f"{name}_p50_ms", percentile(xs, 0.5), "ms", len(xs)))
            report.append((f"{name}_p90_ms",
                           percentile(xs, 0.9) if reportable(len(xs), 0.9) else None,
                           "ms", len(xs)))
        report.append(("stored_bytes_per_row", rec["extras"]["index.stored_bytes_per_row"],
                       "B", 1))

    # ---- traced run: per-layer metrics from spans and listener events
    layer = {name: 0.0 for name, _ in PER_LAYER}
    spans = rec["spans"] + link_listener_spans(rec["spans"], rec["jobs"], rec["stages"])
    ids = {o["id"] for o in traced}
    spans = [s for s in spans if s["op"] in ids]
    per_op = []
    if traced:
        stage_iv = {}
        jobs_of, stages_of = {}, {}
        for st in rec["stages"]:
            stage_iv.setdefault(st["op"], []).append((st["start"] * 1_000_000, st["end"] * 1_000_000))
            stages_of[st["op"]] = stages_of.get(st["op"], 0) + 1
        for j in rec["jobs"]:
            jobs_of[j["op"]] = jobs_of.get(j["op"], 0) + 1
        span_ms = {}
        for s in spans:
            key = (s["op"], s["name"])
            span_ms[key] = span_ms.get(key, 0.0) + (s["end"] - s["start"]) / 1e6
        for o in traced:
            t = rec["tasks"].get(str(o["id"]), {})
            wall = _ms(o)
            gap = (o["end"] - o["start"] - interval_union(stage_iv.get(o["id"], []),
                                                           o["start"], o["end"])) / 1e6
            row = {"op": o["id"], "name": o["name"], "group": o["group"], "rows": o["rows"],
                   "wall_ms": wall, "exec.jobs": jobs_of.get(o["id"], 0),
                   "exec.stages": stages_of.get(o["id"], 0), "exec.driver_gap_ms": gap}
            row.update(t)
            row.update({k: v for k, v in o["values"].items()})
            row["ops.build_ms"] = span_ms.get((o["id"], "ops.build"), 0.0)
            per_op.append(row)

        n = len(per_op)
        mean = lambda k: sum(r.get(k, 0.0) for r in per_op) / n
        walls = sum(r["wall_ms"] for r in per_op)
        for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.sched_delay_ms",
                  "exec.task_deser_ms", "exec.driver_gap_ms", "exec.task_run_ms",
                  "exec.task_cpu_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
                  "exec.shuffle_write_bytes", "exec.spill_bytes", "plan.analysis_ms",
                  "plan.optimization_ms", "plan.planning_ms", "storage.files_discovered",
                  "storage.bytes_read", "storage.bytes_written"):
            layer[k] = mean(k)
        layer["codegen.timed_compiles"] = mean("codegen.compiles")
        layer["ops.build_ms"] = mean("ops.build_ms")
        layer["exec.peak_exec_mem_bytes"] = max(r.get("exec.peak_exec_mem_bytes", 0.0) for r in per_op)
        tasks = sum(r.get("exec.tasks", 0.0) for r in per_op)
        layer["exec.rows_per_task"] = sum(r["rows"] for r in per_op) / tasks if tasks else 0.0
        layer["exec.driver_gap_share"] = sum(r["exec.driver_gap_ms"] for r in per_op) / walls
        layer["exec.slot_busy_ratio"] = sum(r.get("exec.task_run_ms", 0.0) for r in per_op) / (walls * slots)
        rows = sum(r["rows"] for r in per_op)
        layer["storage.bytes_written_per_row"] = layer["storage.bytes_written"] * n / rows
        counted = [r for r in per_op if "progress.ticks" in r]
        if counted:
            layer["progress.ticks"] = sum(r["progress.ticks"] for r in counted)
            layer["progress.ticks_per_row"] = layer["progress.ticks"] / sum(r["rows"] for r in counted)
        if any("append_ms" in r for r in per_op):
            layer["streaming.ingest_ms"] = mean("ingest_ms")
            layer["index.append_ms"] = mean("append_ms")
            layer["index.append_max_ms"] = max(r["append_ms"] for r in per_op)
            layer["index.legs_at_probe"] = mean("index.legs_at_probe")
            pts = [(r["index.legs_at_probe"], v) for r in per_op
                   for k, v in r.items() if k.startswith("probe_ms.")]
            legs = [x for x, _ in pts]
            mid = statistics.median(legs)
            low = [v for x, v in pts if x <= mid]
            high = [v for x, v in pts if x > mid]
            layer["index.probe_ms"] = _mean([v for _, v in pts])
            layer["index.probe_ms_low_legs"] = _mean(low)
            layer["index.probe_ms_high_legs"] = _mean(high)
            layer["index.probe_ms_per_leg"] = slope(legs, [v for _, v in pts])
        selfs = self_times(spans)
        for name, key in (("op", "self.op_ms"), ("ops.build", "self.ops_build_ms"),
                          ("plan", "self.plan_ms"), ("execute", "self.execute_ms"),
                          ("streaming.ingest", "self.streaming_ingest_ms"),
                          ("index.append", "self.index_append_ms"),
                          ("index.probe", "self.index_probe_ms"),
                          ("job", "self.job_ms"), ("stage", "self.stage_ms")):
            layer[key] = selfs.get(name, 0) / 1e6 / n
        # tracing overhead: the same op mix, traced against untraced passes
        if plain:
            base = kind_median_geomean(plain)
            layer["trace.overhead_ms"] = kind_median_geomean(traced) - base
            layer["trace.overhead_share"] = layer["trace.overhead_ms"] / base
    layer["heap.live_mb"] = rec["live_heap_mb"]
    layer["machine.reference_ms"] = statistics.median(o["ref_ms"] for o in ops) if ops else 0.0
    # the first set-up, from JVM start: cold class loading and codegen
    layer["setup.first_s"] = rec["setup_s"][0]
    layer["session.start_ms"] = rec["session_start_ms"][0]
    layer["codegen.compiles"] = rec["setup_counters"][0]["codegen.compiles"]
    layer["codegen.compile_ms"] = rec["setup_counters"][0]["codegen.compile_ms"]
    ex = rec["extras"]
    for k in ("streaming.rows_in", "streaming.rows_kept", "streaming.kept_ratio",
              "index.compactions", "index.stored_bytes_per_row"):
        if k in ex:
            layer[k] = ex[k]
    if ex.get("streaming.planted_kept_ratio"):
        # 1 when exactly the planted originals survive; above 1, copies got through
        layer["streaming.kept_vs_planted"] = ex["streaming.kept_ratio"] / ex["streaming.planted_kept_ratio"]

    trace_doc = {"spans": spans, "per_op": per_op,
                 "self_ms": {k: v / 1e6 for k, v in self_times(spans).items()}} if traced else None
    return e2e, layer, report, trace_doc
