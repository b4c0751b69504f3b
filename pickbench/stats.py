"""Arithmetic of the Pickaxe benchmark: percentiles, span self time, and
the per-layer metrics of a traced run. Pure functions over the raw record
the JVM side writes (see scala/Main.scala)."""
import math
import statistics

# Layer calls the benchmark wraps in spans (see scala/Workloads.scala).
SPAN_NAMES = ["initialState", "applyFilters", "expandOnce", "pruneToTargets",
              "assignIds", "save", "request", "adductSearch", "peakStats",
              "ms2Search", "query"]
QUERIES = ["q_itemsets", "q_agg_hll_setops", "q_join_salted",
           "q_text_tfidf"]


def tail_percentile(n, cap=90, beyond=10):
    """Highest whole percentile p <= cap whose nearest-rank sample still has
    at least `beyond` samples above it; None when n is too small."""
    for p in range(cap, 0, -1):
        if n - math.ceil(p / 100 * n) >= beyond:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile (p in 1..100)."""
    xs = sorted(values)
    return xs[max(1, math.ceil(p / 100 * len(xs))) - 1]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> self time (ns): its duration minus the part of its
    interval covered by its child spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - union_length(
            kids, s["start_ns"], s["end_ns"])
    return out


def spark_counts(raw, cores, span_ids):
    """Listener counts of the jobs started inside `span_ids`, with the
    wall time of those spans."""
    spans = [s for s in raw["spans"] if s["id"] in span_ids]
    jobs = [j for j in raw["listener"]["jobs"] if j["span"] in span_ids]
    stage_job = {}
    for j in sorted(raw["listener"]["jobs"], key=lambda j: j["id"]):
        for st in j["stages"]:
            stage_job.setdefault(st, j["id"])
    job_ids = {j["id"] for j in jobs}
    stages = [st for st in raw["listener"]["stages"]
              if stage_job.get(st["id"]) in job_ids]
    wall_ns = sum(s["end_ns"] - s["start_ns"] for s in spans
                  if s["parent"] not in span_ids)
    busy_ns = sum(union_length([(j["start_ms"] * 1e6, j["end_ms"] * 1e6)
                                for j in jobs], s["start_ns"], s["end_ns"])
                  for s in spans if s["parent"] not in span_ids)
    task_s = sum(st["task_ms"] for st in stages) / 1e3
    wall_s = wall_ns / 1e9
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(st["tasks"] for st in stages),
        "task_s": task_s,
        "max_task_s": max([st["max_task_ms"] for st in stages] or [0]) / 1e3,
        "core_util": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "driver_s": (wall_ns - busy_ns) / 1e9,
        "shuffle_bytes": sum(st["shuffle_bytes"] for st in stages),
        "spill_bytes": sum(st["spill_bytes"] for st in stages),
        "gc_s": sum(st["gc_ms"] for st in stages) / 1e3,
        "records_read": sum(st["records_read"] for st in stages),
        "wall_s": wall_s,
    }


def end_to_end(raw):
    """The benchmark's end-to-end metrics, from the untraced passes."""
    passes = [p for p in raw["passes"] if not p["traced"]
              and p["wall_s"] is not None]
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "run_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "ops_per_s": (statistics.median(p["ops"] / p["wall_s"]
                                        for p in passes), "1/s"),
    }


def latency_summary(raw):
    """Request latency of the untraced passes: p50 and the tail percentile
    with at least ten samples beyond it, with the sample count."""
    lat = [x for p in raw["passes"] if not p["traced"] for x in p["lat_ms"]]
    if not lat:
        return {"samples": 0, "p50_ms": 0.0, "tail_pct": 0, "tail_ms": 0.0}
    tail = tail_percentile(len(lat))
    return {"samples": len(lat), "p50_ms": statistics.median(lat),
            "tail_pct": tail or 0,
            "tail_ms": percentile(lat, tail) if tail else 0.0}


def per_layer(raw):
    """Per-layer metrics of a traced run, as means per traced pass. The
    tracing overhead is the traced passes' median wall time minus the mean
    of the untraced passes around them."""
    cores = raw["cores"]
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    n = max(1, len(traced))
    iters = {p["i"] for p in traced}
    spans = [s for s in raw["spans"] if s["iter"] in iters]
    ids = {s["id"] for s in spans}
    selfs = self_times(spans)
    layer = raw["layer"]

    def lay(k):
        return layer.get(k, 0.0)

    def per_pass(name, value=lambda s: (s["end_ns"] - s["start_ns"]) / 1e9):
        return sum(value(s) for s in spans if s["name"] == name) / n

    def ratio(a, b):
        return a / b if b else 0.0

    def own_jobs(name):
        sid = {s["id"] for s in spans if s["name"] == name}
        return sum(1 for j in raw["listener"]["jobs"] if j["span"] in sid) / n

    def nth_gen(k):
        vals = []
        for it in iters:
            gs = sorted((s for s in spans if s["iter"] == it
                         and s["name"] == "expandOnce"),
                        key=lambda s: s["start_ns"])
            if len(gs) > k:
                vals.append((gs[k]["end_ns"] - gs[k]["start_ns"]) / 1e9)
        return statistics.mean(vals) if vals else 0.0

    sc = spark_counts(raw, cores, ids)
    expand_ids = {s["id"] for s in spans if s["name"] == "expandOnce"}
    expand_task_s = spark_counts(raw, cores, expand_ids)["task_s"]
    adduct_ids = {s["id"] for s in spans if s["name"] == "adductSearch"}
    records = spark_counts(raw, cores, adduct_ids)["records_read"]
    gens = [s for s in spans if s["name"] == "expandOnce"]
    lat = latency_summary(raw)
    m = {
        "host.cores": cores,
        "host.loadavg_start": raw["loadavg"][0],
        "host.loadavg_end": raw["loadavg"][1],
        "host.steal_share": raw["steal_share"],
        "driver.peak_rss_mb": raw["peak_rss_mb"],
        "trace.overhead_s": (
            statistics.median(p["wall_s"] for p in traced) -
            statistics.mean(p["wall_s"] for p in plain))
        if traced and plain else 0.0,
        "fail_frac": ratio(raw["failed"], raw["attempted"]),
        "jvm.cpu_s": sum(p["cpu_s"] for p in traced) / n,
        "jvm.jit_s": sum(p["jit_s"] for p in traced) / n,
        "spark.codegen_compiles": sum(p["codegen"] for p in traced) / n,
        "chem.standardize_us": lay("chem.standardize_us"),
        "kernel.cpu_s": lay("kernel.cpu_s") / n,
        "kernel.us_per_cpd": ratio(lay("kernel.cpu_s") * 1e6,
                                   lay("kernel.frontier")),
        "kernel.yield": ratio(lay("kernel.emitted"), lay("kernel.attempts")),
        "kernel.task_ratio": ratio(expand_task_s, lay("kernel.cpu_s")),
        "engine.gen_s": ratio(sum((s["end_ns"] - s["start_ns"]) / 1e9
                                  for s in gens), len(gens)),
        "engine.gen1_s": nth_gen(0),
        "engine.gen2_s": nth_gen(1),
        "engine.filter_s": per_pass("applyFilters"),
        "engine.prune_s": per_pass("pruneToTargets"),
        "engine.assign_ids_s": per_pass("assignIds"),
        "engine.frontier": lay("kernel.frontier") / n,
        "engine.new_cpds": lay("engine.new_cpds") / n,
        "engine.dedup_ratio": ratio(lay("kernel.products"),
                                    lay("engine.new_cpds")),
        "engine.rxns": lay("engine.rxns") / n,
        "sink.save_s": per_pass("save"),
        "sink.bytes": lay("sink.bytes") / n,
        "sink.bytes_per_cpd": ratio(lay("sink.bytes"), lay("sink.cpds")),
        "sink.np_stub_cpds": lay("sink.np_stub_cpds") / n,
        "mass.adduct_ms": 1e3 * ratio(per_pass("adductSearch"),
                                      per_pass("adductSearch", lambda s: 1)),
        "mass.ms2_ms": 1e3 * ratio(per_pass("ms2Search"),
                                   per_pass("ms2Search", lambda s: 1)),
        "mass.rows_per_hit": ratio(records, lay("mass.hits")),
        "query.p50_ms": lat["p50_ms"],
        "query.p90_ms": lat["tail_ms"],
        "query.tail_pct": lat["tail_pct"],
        "query.samples": lat["samples"],
    }
    for k, v in sc.items():
        if k not in ("records_read", "wall_s"):
            m[f"spark.{k}"] = v / n if k not in (
                "max_task_s", "core_util") else v
    m["spark.log_errors"] = raw["log_errors"]
    for name in SPAN_NAMES:
        m[f"self.{name}_s"] = per_pass(name, lambda s: selfs[s["id"]] / 1e9)
        m[f"jobs.{name}"] = own_jobs(name)
    runs = raw.get("extra", {}).get("query_runs", [])
    qspans = sorted((s for s in spans if s["name"] == "query"),
                    key=lambda s: s["start_ns"])
    for i, q in enumerate(QUERIES):
        ms = [r["ms"] for r in runs if r["query"] == q and r["i"] >= 0]
        m[f"q.{q}_s"] = statistics.median(ms) / 1e3 if ms else 0.0
        mine = {s["id"] for k, s in enumerate(qspans)
                if k % len(QUERIES) == i}
        m[f"q.{q}_jobs"] = sum(1 for j in raw["listener"]["jobs"]
                               if j["span"] in mine) / n
    return m
