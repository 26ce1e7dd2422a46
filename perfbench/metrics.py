"""Metric arithmetic over the harness's raw records (no Spark, no JVM),
so `selftest.py` can check it directly."""
import math
import statistics

LATENCY_EXCLUDED = {"check", "inject"}

# timed layers: explore's, curate's, then batch_ops' query families
LAYER_TIMES = (
    "compile.pipeline_ms", "compile.shim_ms", "runtime.execute_ms", "runtime.fetch_ms",
    "fts.search_ms", "geo.join_ms", "ingest.load_ms", "ingest.file_index_ms", "fts.build_ms",
    "session.history_ms",
    "ops.front_door_ms", "ops.ingest_shard_ms", "ops.barrier_wait_ms", "ops.ann_append_ms",
    "ops.maintain_ms",
    "functions.text_s", "ops.dedup_s", "ops.ann_s", "ops.sample_s", "ops.report_s",
    "ops.quality_s", "queries.relational_s", "queries.events_s",
)


def percentile(values, p):
    """The p-th percentile (0 < p < 1, nearest rank), or None unless at
    least ten samples lie beyond it."""
    xs = sorted(values)
    rank = max(1, math.ceil(round(p * len(xs), 9)))
    if len(xs) - rank < 10:
        return None
    return xs[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def beta_cdf(x, a, b):
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1) / (a + b + 2):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def hd_quantile(values, p):
    """The Harrell-Davis estimate of the p-th quantile: a weighted mean
    of all order statistics, with Beta(p(n+1), (1-p)(n+1)) weights. Unlike
    a single order statistic it moves smoothly when samples near the
    quantile trade places across a gap in the sample, which op latencies
    of mixed kinds always have."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def union_s(intervals, lo, hi):
    """Total seconds covered by the union of [start, end] millisecond
    intervals, clipped to the window [lo, hi]."""
    spans = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total = 0
    cur_s = cur_e = None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def accounting(ops, phases, timed=("measure",)):
    """(attempted, failed) over `phases`, and the latencies of the good
    ops in the `timed` phases."""
    mine = [o for o in ops if o["phase"] in phases]
    failed = [o for o in mine if not o["ok"]]
    lat = [o["ms"] for o in mine
           if o["phase"] in timed and o["ok"] and o["kind"] not in LATENCY_EXCLUDED]
    return len(mine), len(failed), lat


def by_name(ops, phases, per_name):
    """Median latency of the good ops, per op name (or per kind)."""
    groups = {}
    for o in ops:
        if o["phase"] in phases and o["ok"] and o["kind"] not in LATENCY_EXCLUDED:
            groups.setdefault(o["name"] if per_name else o["kind"], []).append(o["ms"])
    return {k: round(median(v), 1) for k, v in sorted(groups.items())}


def passes(res, phase):
    return [p["s"] for p in res["passes"] if p["phase"] == phase]


def end_to_end(workload, res, spec):
    """Every user-visible metric of an untraced run, name -> (value, unit)."""
    attempted, failed, lat = accounting(res["ops"], {"warmup", "measure"})
    run_s = median(passes(res, "measure"))
    m = {
        "setup_s": (median(res["setup_s"]), "s"),
        "run_s": (run_s, "s"),
        "op_p50_ms": (hd_quantile(lat, 0.5), "ms"),
        "failed_ratio": (failed / attempted if attempted else 1.0, "ratio"),
    }
    if percentile(lat, 0.9) is not None:
        m["op_p90_ms"] = (hd_quantile(lat, 0.9), "ms")
    ex = res["extras"]
    if workload == "explore":
        loads = [o["ms"] for o in res["ops"]
                 if o["phase"] == "measure" and o["ok"] and o["kind"] == "load_area"]
        m["load_area_p50_ms"] = (hd_quantile(loads, 0.5), "ms")
    if workload == "curate":
        m["docs_per_s"] = (spec["params"]["docs"] / run_s if run_s else None, "1/s")
        m["compact_s"] = (median(ex.get("measure.maintain_s", [])), "s")
        inp = spec["params"]["input_bytes"]
        idx = median(ex.get("measure.index_bytes", []))
        m["index_bytes_per_input_byte"] = (idx / inp if idx and inp else None, "ratio")
    m["ops_measured"] = (len(lat), "count")
    return m


def per_layer(res, spec):
    """Every per-layer metric of a traced run, per traced pass:
    name -> (value, unit)."""
    traced = passes(res, "traced")
    n = max(1, len(traced))
    lay = res["layers"]
    out = {}
    for name in LAYER_TIMES:
        v = lay.get(name, 0.0) / n
        out[name] = (v / 1000.0, "s") if name.endswith("_s") else (v, "ms")
    out["ops.compacted_prefixes"] = (lay.get("ops.compacted_prefixes", 0.0) / n, "count")
    out["ops.dirty_fraction_max"] = (lay.get("ops.dirty_fraction_max", 0.0), "ratio")
    out["ops.leaves_per_prefix_max"] = (lay.get("ops.leaves_per_prefix_max", 0.0), "count")
    out["ops.index_files"] = (lay.get("ops.index_files", 0.0), "count")
    out["ops.index_bytes"] = (lay.get("ops.index_bytes", 0.0), "bytes")
    ex = lay.get("runtime.executes", 0.0)
    out["runtime.memo_hit_ratio"] = (lay.get("runtime.memo_hits", 0.0) / ex if ex else 0.0, "ratio")
    tot = lay.get("ingest.files_total", 0.0)
    out["ingest.files_kept_ratio"] = (lay.get("ingest.files_kept", 0.0) / tot if tot else 0.0, "ratio")
    docs = spec["params"].get("docs", 0) * n
    out["ops.admitted_ratio"] = (lay.get("ops.admitted", 0.0) / docs if docs else 0.0, "ratio")

    led = res["ledger"]
    lo, hi = led["window_ms"]
    wall = max(1e-9, (hi - lo) / 1000.0)
    c = led["counters"]
    busy = union_s([(s, e) for s, e, _ in led["stages"]], lo, hi)
    cores = res["provenance"]["nproc"]
    out.update({
        "spark.plan_ms": (lay.get("spark.plan_ms", 0.0) / n, "ms"),
        "spark.jobs": (c["jobs"] / n, "count"),
        "spark.stages": (len(led["stages"]) / n, "count"),
        "spark.tasks": (c["tasks"] / n, "count"),
        "spark.single_task_stages": (sum(1 for s in led["stages"] if s[2] == 1) / n, "count"),
        "spark.stage_busy_s": (busy / n, "s"),
        "spark.driver_gap_s": ((wall - busy) / n, "s"),
        "spark.task_s": (c["task_ms"] / 1000.0 / n, "s"),
        "spark.cpu_s": (c["cpu_ns"] / 1e9 / n, "s"),
        "spark.gc_s": (c["gc_ms"] / 1000.0 / n, "s"),
        "spark.shuffle_read_bytes": (c["shuffle_read_bytes"] / n, "bytes"),
        "spark.shuffle_write_bytes": (c["shuffle_write_bytes"] / n, "bytes"),
        "spark.spill_bytes": (c["spill_bytes"] / n, "bytes"),
        "spark.output_bytes": (c["output_bytes"] / n, "bytes"),
        "spark.task_failures": (c["task_failures"] / n, "count"),
        "spark.core_busy_ratio": (c["task_ms"] / 1000.0 / (wall * cores), "ratio"),
    })
    base = median(passes(res, "base"))
    out["trace.overhead_ratio"] = (median(traced) / base if traced and base else None, "ratio")
    return out


def layer_shares(per_layer_metrics, res):
    """Share of a traced pass's run time spent in each timed layer."""
    run_ms = 1000.0 * (median(passes(res, "traced")) or 0.0)
    shares = {}
    for name in LAYER_TIMES:
        v, _ = per_layer_metrics.get(name, (0.0, ""))
        ms = v * 1000.0 if name.endswith("_s") else v
        shares[name] = round(ms / run_ms, 4) if run_ms else None
    return shares
