"""Metric arithmetic of the benchmark: percentiles, span self time and the
per-layer roll-up of a trace. Pure functions over the JVM's result file,
so the rules are testable without a JVM (test_metrics.py)."""
import math

# Layers are named after the program's modules (see README.md).
LAYERS = ["sources", "etl.stage", "etl.dim", "etl.reconcile", "etl.alert", "etl.sink",
          "queries", "ext.joins", "store", "ext.dedup", "ext.similarity", "ext.corpus"]
GENERIC = [("wall_s", "s"), ("self_s", "s"), ("task_s", "s"), ("serial_s", "s"),
           ("jobs", "count"), ("tasks", "count"), ("shuffle_write_mb", "MB"),
           ("spill_mb", "MB"), ("failed_tasks", "count")]
SPECIFIC = [("sources.input_mb", "MB"), ("etl.sink.output_mb", "MB"),
            ("etl.sink.files_written", "count"), ("store.build_s", "s"),
            ("store.hit_ratio", "ratio"), ("store.resident_mb", "MB"),
            ("perfbench.trace_overhead_ratio", "ratio"), ("perfbench.stall_s", "s")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in print order."""
    return [(f"{l}.{m}", u) for l in LAYERS for m, u in GENERIC] + SPECIFIC


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    That is the (n-10)-th smallest sample: exactly ten lie above it.
    Returns (value, percentile, n). With ten samples or fewer no
    percentile qualifies; the smallest sample is returned and the
    percentile reads 0, so the sample count shows why.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return float("nan"), 0.0, 0
    if n <= 10:
        return xs[0], 0.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


# Columns of a trace's task rows.
T_SPAN, T_LAUNCH, T_FINISH, T_RUN_MS, T_SHUFFLE_W, T_SPILL, T_FAILED, T_JOB, T_READ, T_CSV = range(10)


def add_tasks(acc, tasks, w):
    """Adds the task counters of `tasks`, weighted by `w`, to `acc`."""
    for t in tasks:
        acc["tasks"] += w
        acc["task_s"] += w * t[T_RUN_MS] / 1e3
        acc["shuffle_write_mb"] += w * t[T_SHUFFLE_W] / 1e6
        acc["spill_mb"] += w * t[T_SPILL] / 1e6
        acc["failed_tasks"] += w * t[T_FAILED]


def trace_overhead(reps, ops):
    """Tracing overhead: the geomean latency of a traced repetition's
    operations over the geometric mean of those of its two untraced
    neighbours, minus one, averaged (geometrically) over the traced
    repetitions that have such neighbours. Bracketing cancels a steady
    drift of speed over the run; the first repetition, still warming
    up, is never a neighbour. A repetition runs the same operations in
    another order (or the next nights), so the sides match."""
    by_rep = {}
    for o in ops:
        if o["kind"] != "replay":
            by_rep.setdefault(o["rep"], []).append(o["ms"])
    g = {r: geomean(v) for r, v in by_rep.items()}
    ratios = [g[i] / math.sqrt(g[i - 1] * g[i + 1]) for i in range(2, len(reps) - 1)
              if reps[i]["traced"] and not reps[i - 1]["traced"]
              and not reps[i + 1]["traced"] and {i - 1, i, i + 1} <= g.keys()]
    return geomean(ratios) - 1.0 if ratios else 0.0


def layer_metrics(trace, reps, ops):
    """Per-layer metrics of a traced run.

    Every figure is per repetition: the sum over the traced
    repetitions' spans divided by their number. `wall_s` and the job
    counters are inclusive of child spans of other layers; `self_s`
    excludes every child span; `serial_s` is span time during which no
    task ran. The job counters of `sources` are those of the tasks that
    scanned raw CSV, in whichever span's job they ran (they count there
    too): reading a CSV only builds a lazy frame.
    """
    spans = {s[0]: dict(id=s[0], parent=s[1], layer=s[2], name=s[3],
                        start=s[4], end=s[5], attrs=s[6]) for s in trace["spans"]}
    kids = {}
    for sp in spans.values():
        kids.setdefault(sp["parent"], []).append(sp["id"])
    task_iv = [(t[T_LAUNCH], t[T_FINISH]) for t in trace["tasks"]]
    tasks_by_span, jobs_by_span = {}, {}
    for t in trace["tasks"]:
        tasks_by_span.setdefault(t[T_SPAN], []).append(t)
    for j in trace["jobs"]:
        jobs_by_span[j[1]] = jobs_by_span.get(j[1], 0) + 1

    def subtree(i):
        out, stack = [], [i]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(kids.get(x, []))
        return out

    def ancestor_layers(sp):
        p, seen = sp["parent"], set()
        while p in spans:
            seen.add(spans[p]["layer"])
            p = spans[p]["parent"]
        return seen

    w = 1.0 / max(1, sum(1 for r in reps if r["traced"]))

    out = {}
    for layer in LAYERS:
        acc = dict.fromkeys([m for m, _ in GENERIC], 0.0)
        for sp in spans.values():
            if sp["layer"] != layer:
                continue
            dur = (sp["end"] - sp["start"]) / 1e3
            children = [(spans[k]["start"], spans[k]["end"]) for k in kids.get(sp["id"], [])]
            acc["self_s"] += w * self_time((sp["start"], sp["end"]), children) / 1e3
            if layer in ancestor_layers(sp):
                continue  # nested in a span of the same layer: counted there
            acc["wall_s"] += w * dur
            busy = union_length(clip(task_iv, sp["start"], sp["end"]))
            acc["serial_s"] += w * max(0.0, dur - busy / 1e3)
            for i in subtree(sp["id"]):
                acc["jobs"] += w * jobs_by_span.get(i, 0)
                add_tasks(acc, tasks_by_span.get(i, []), w)
        if layer == "sources":
            scans = [t for t in trace["tasks"] if t[T_CSV]]
            acc["jobs"] += w * len({t[T_JOB] for t in scans})
            add_tasks(acc, scans, w)
            out["sources.input_mb"] = w * sum(t[T_READ] for t in scans) / 1e6
        for m, _ in GENERIC:
            out[f"{layer}.{m}"] = acc[m]

    def attr_sum(layer, key):
        return sum(w * sp["attrs"].get(key, 0.0)
                   for sp in spans.values() if sp["layer"] == layer)

    out["etl.sink.output_mb"] = attr_sum("etl.sink", "output_bytes") / 1e6
    out["etl.sink.files_written"] = attr_sum("etl.sink", "files_written")
    store = [sp for sp in spans.values() if sp["layer"] == "store"]
    launched = [sp for sp in store if any(jobs_by_span.get(i) for i in subtree(sp["id"]))]
    out["store.build_s"] = sum(w * (sp["end"] - sp["start"]) / 1e3 for sp in launched)
    out["store.hit_ratio"] = (len(store) - len(launched)) / len(store) if store else 0.0
    out["store.resident_mb"] = reps[-1]["resident_mb"] if reps else 0.0
    out["perfbench.trace_overhead_ratio"] = trace_overhead(reps, ops)
    out["perfbench.stall_s"] = sum(r["stall_s"] for r in reps) / max(1, len(reps))
    return out
