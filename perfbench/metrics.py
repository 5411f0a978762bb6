"""Pure metric logic: percentiles, span self time, per-layer rollups and
metric-name validity. No I/O, so test_metrics.py covers it directly."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Layers are named after the program's modules (see METRICS.md).
LAYERS = ["sources", "registry", "join", "transforms", "encode", "io_write",
          "io_read", "ops_lm", "ops_dedup", "ops_similarity", "ops_retrieval",
          "ops_text"]
LAYER_FIELDS = ["self_s", "task_cpu_s", "jobs", "tasks", "shuffle_bytes",
                "spill_bytes", "rows_out", "task_failures"]
SPARK_FIELDS = ["jobs", "stages", "tasks", "task_cpu_s", "executor_run_s",
                "shuffle_bytes", "spill_bytes", "task_failures"]
CORPUS_STEPS = ["clean_text", "quality_filter", "dedup_exact",
                "minhash_filter", "tokenize_against", "pack_sequences"]
RATIOS = [
    ("join.feature_hit_rate", "ratio"),
    ("join.rows_examined_per_row", "ratio"),
    ("transforms.survivor_rate", "ratio"),
    ("encode.bytes_per_record", "B"),
    ("io_write.bytes", "B"),
    ("io_write.files", "count"),
    ("io_write.bytes_per_record", "B"),
]

# (name, unit, better, bound): bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("records_per_s", "1/s", "higher", 0.25),
    ("query_geomean_s", "s", "lower", 0.25),
    ("peak_task_mem_mb", "MB", "lower", 0.2),
]


def _unit(field):
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes"):
        return "B"
    return "count"


def per_layer_names():
    """[(name, unit, better)] of every per-layer metric, in report order."""
    out = []
    for layer in LAYERS:
        out += [(f"{layer}.{f}", _unit(f)) for f in LAYER_FIELDS]
    out += [(f"spark.{f}", _unit(f)) for f in SPARK_FIELDS]
    out += RATIOS
    out += [(f"transforms.{s}.self_s", "s") for s in CORPUS_STEPS]
    out += [("trace.overhead_s", "s"), ("trace.wall_s", "s")]
    higher = {"join.feature_hit_rate", "transforms.survivor_rate"}
    return [(n, u, "higher" if n in higher else "lower") for n, u in out]


def valid_name(name):
    return bool(NAME_RE.match(name))


def tail_percentile(values, min_beyond=10):
    """The highest percentile p (a multiple of 5, above the median) that
    still has at least `min_beyond` samples strictly beyond its rank, and
    the value there: with n samples, rank ceil(p/100 * n) leaves
    n - rank samples above it. Returns (p, value, n) or None when no
    percentile above the median qualifies."""
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in range(55, 100, 5):
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= min_beyond:
            best = (p, xs[rank - 1], n)
    return best


def geomean(values):
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def self_times(spans):
    """span id -> duration minus the part of it its direct children cover
    (children are clipped to the parent and merged where they overlap)."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        ivs = sorted((max(c["start_s"], lo), min(c["end_s"], hi))
                     for c in by_parent.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_of(name):
    return name.split(".", 1)[0]


def layer_metrics(trace, untraced_wall_s):
    """Per-layer metrics of one traced unit (see METRICS.md). Every
    name of per_layer_names() is present; a layer that did no work on
    this workload reports 0."""
    m = {n: 0.0 for n, _, _ in per_layer_names()}
    spans, groups, counts = trace["spans"], trace["groups"], trace["counts"]
    selfs = self_times(spans)
    for s in spans:
        layer = layer_of(s["name"])
        if layer in LAYERS:
            m[f"{layer}.self_s"] += selfs[s["id"]]
        parts = s["name"].split(".")
        if parts[0] == "transforms" and len(parts) == 2 and parts[1] in CORPUS_STEPS:
            m[f"transforms.{parts[1]}.self_s"] += selfs[s["id"]]
    for g, st in groups.items():
        layer = layer_of(g)
        if g != "bench":
            for f in SPARK_FIELDS:
                m[f"spark.{f}"] += st[f]
        if layer in LAYERS:
            for f in ("task_cpu_s", "jobs", "tasks", "shuffle_bytes",
                      "spill_bytes", "task_failures"):
                m[f"{layer}.{f}"] += st[f]
    for k, v in counts.items():
        parts = k.split(".")
        if parts[-1] == "rows_out" and parts[0] in LAYERS:
            m[f"{parts[0]}.rows_out"] += v
    if counts.get("join.features_requested"):
        m["join.feature_hit_rate"] = counts["join.feature_hits"] / counts["join.features_requested"]
    join_read = sum(st["records_read"] for g, st in groups.items() if layer_of(g) == "join")
    if m["join.rows_out"]:
        m["join.rows_examined_per_row"] = join_read / m["join.rows_out"]
    if counts.get("transforms.rows_in"):
        m["transforms.survivor_rate"] = counts["transforms.survivors"] / counts["transforms.rows_in"]
    if counts.get("encode.rows_out"):
        m["encode.bytes_per_record"] = counts["encode.bytes"] / counts["encode.rows_out"]
    m["io_write.bytes"] = counts.get("io_write.bytes", 0.0)
    m["io_write.files"] = counts.get("io_write.files", 0.0)
    if m["io_write.rows_out"]:
        m["io_write.bytes_per_record"] = m["io_write.bytes"] / m["io_write.rows_out"]
    m["trace.wall_s"] = trace["traced_wall_s"]
    m["trace.overhead_s"] = trace["traced_wall_s"] - untraced_wall_s
    return m


def end_to_end(raw):
    """End-to-end metrics of one untraced run from the JVM's raw record."""
    units = raw["units"]
    wall = statistics.median(u["s"] for u in units)
    records = statistics.median(u["records"] for u in units)
    if "queries" in units[0]:
        per_query = [statistics.median(u["queries"][q] for u in units)
                     for q in units[0]["queries"]]
    else:
        per_query = [u["s"] for u in units]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "wall_s": wall,
        "records_per_s": records / wall,
        "query_geomean_s": geomean(per_query),
        "peak_task_mem_mb": statistics.median(u["task_mem_mb"] for u in units),
    }
