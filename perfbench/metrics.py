"""Arithmetic of the benchmark's metrics: percentiles, the tail rule, and
per-layer attribution from the spans, jobs and stages a traced run writes.
"""

LAYERS = [
    "core.setup",
    "sources.ingest",
    "quality.gate",
    "streaming.merge_sink",
    "silver.apply",
    "maint.commit",
    "maint.read",
    "maint.compact",
    "ops.incr_agg",
    "queries.gold",
    "queries.plan",
    "queries.exec",
    "ops.ivf_probe",
    "ops.ivf_append",
    "ops.ivf_maintain",
]

# per-layer metric -> unit
LAYER_FIELDS = {
    "calls": "count",
    "self_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "gc_s": "s",
}

RATIOS = {
    "quality.gate.quarantine_ratio": "ratio",
    "ops.incr_agg.delta_per_state_row": "ratio",
    "maint.commit.bytes_per_input_byte": "ratio",
    "maint.compact.bytes_rewritten_mb": "MB",
    "queries.exec.core_busy_ratio": "ratio",
    "ops.ivf_probe.rescored_per_result": "ratio",
}

# candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated p-th percentile (the 'linear' rule of numpy)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest candidate percentile with at least ten samples beyond it.

    Returns (percentile, value, samples_beyond). With fewer than 20 samples
    no candidate qualifies; the maximum is reported as percentile 100 with
    its true count beyond it (0), so the shortfall is visible, not hidden.
    """
    n = len(values)
    for p in TAIL_CANDIDATES:
        # samples ranked above the percentile's interpolation position
        beyond = n - 1 - int((n - 1) * p / 100.0)
        if beyond >= 10:
            return p, percentile(values, p), beyond
    return 100.0, max(values), 0


def union(intervals):
    """Merge (start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def subtract(intervals, holes):
    """Parts of disjoint sorted `intervals` not covered by `holes`."""
    holes = union(holes)
    out = []
    for s, e in intervals:
        cur = s
        for hs, he in holes:
            if he <= cur or hs >= e:
                continue
            if hs > cur:
                out.append((cur, hs))
            cur = max(cur, he)
        if cur < e:
            out.append((cur, e))
    return out


def length(intervals):
    return sum(e - s for s, e in intervals)


def attribute(spans, jobs, stages):
    """Per-layer sums from a traced run.

    spans:  dicts id, name, parent, start_us, end_us, gc_ms
    jobs:   dicts span, start_ms, end_ms
    stages: dicts span, tasks, cpu_ns, run_ms, shuffle_write_bytes, output_bytes
    Work inside set-up belongs to core.setup whatever layer it called, so
    the measured window's layers are not mixed with set-up work. Jobs and
    stages belong to the innermost span open when they were submitted.
    Returns (layer metrics, extra sums per layer).
    """
    by_id = {s["id"]: s for s in spans}

    def setup_root(s):
        while s is not None:
            if s["name"] == "core.setup":
                return s
            s = by_id.get(s["parent"])
        return None

    owner = {}  # span id -> id of the span that carries its work
    kept = []
    for s in spans:
        root = setup_root(s)
        owner[s["id"]] = root["id"] if root else s["id"]
        if root is None or root is s:
            kept.append(s)
    children = {}
    for s in kept:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    busy = union((j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs if j["end_ms"] >= 0)

    out = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
    sums = {layer: {"output_bytes": 0.0, "run_ms": 0.0, "wall_us": 0.0} for layer in LAYERS}
    child_gc = {}
    for s in kept:
        child_gc[s["parent"]] = child_gc.get(s["parent"], 0.0) + s["gc_ms"]
    for s in kept:
        if s["name"] not in out:
            continue
        m = out[s["name"]]
        own = subtract([(s["start_us"], s["end_us"])], children.get(s["id"], []))
        m["calls"] += 1
        m["self_s"] += length(own) / 1e6
        m["driver_s"] += length(subtract(own, busy)) / 1e6
        m["gc_s"] += max(0.0, s["gc_ms"] - child_gc.get(s["id"], 0.0)) / 1e3
        sums[s["name"]]["wall_us"] += s["end_us"] - s["start_us"]
    name_of = {s["id"]: s["name"] for s in spans}
    for j in jobs:
        layer = name_of.get(owner.get(j["span"]))
        if layer in out:
            out[layer]["jobs"] += 1
    for st in stages:
        layer = name_of.get(owner.get(st["span"]))
        if layer in out:
            m = out[layer]
            m["tasks"] += st["tasks"]
            m["task_cpu_s"] += st["cpu_ns"] / 1e9
            m["shuffle_write_mb"] += st["shuffle_write_bytes"] / 1e6
            sums[layer]["output_bytes"] += st["output_bytes"]
            sums[layer]["run_ms"] += st["run_ms"]
    return out, sums


def layer_metrics(spans, jobs, stages, cores, extras):
    """Every per-layer metric, named <layer>.<field>, plus the six ratios."""
    per, sums = attribute(spans, jobs, stages)
    metrics = {}
    for layer in LAYERS:
        for field, unit in LAYER_FIELDS.items():
            metrics[f"{layer}.{field}"] = (per[layer][field], unit)
    landed = extras.get("landed_bytes", 0.0)
    exec_wall_s = sums["queries.exec"]["wall_us"] / 1e6
    ratios = {
        "quality.gate.quarantine_ratio": extras.get("quality.gate.quarantine_ratio", 0.0),
        "ops.incr_agg.delta_per_state_row": extras.get("ops.incr_agg.delta_per_state_row", 0.0),
        "maint.commit.bytes_per_input_byte":
            sums["maint.commit"]["output_bytes"] / landed if landed else 0.0,
        "maint.compact.bytes_rewritten_mb": sums["maint.compact"]["output_bytes"] / 1e6,
        "queries.exec.core_busy_ratio":
            sums["queries.exec"]["run_ms"] / 1e3 / (exec_wall_s * cores) if exec_wall_s else 0.0,
        "ops.ivf_probe.rescored_per_result": extras.get("ops.ivf_probe.rescored_per_result", 0.0),
    }
    for name, unit in RATIOS.items():
        metrics[name] = (ratios[name], unit)
    return metrics
