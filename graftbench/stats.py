"""Metrics of one benchmark run, from the raw record the JVM writes.

End-to-end metrics (untraced run) are computed over the timed ops; a failed
op is a miss, never a fast time. op_gmean_s is the geometric mean over op
names of each name's median latency: every op counts by its relative
speed, whatever the mix (a plain median over a mix of fast reads and slow
writes lands on whichever side the mix tips it to). Per-layer metrics (traced run) come from
the spans and Spark job records of the traced cycles.
"""
import math
import statistics

import numpy as np

OP_TYPES = ("query", "write", "refresh", "serve")
KERNELS = ("MinHashSignature", "ShingleHashes", "CosineSimilarity",
           "WsTokenCount", "HyperplaneBuckets")
SPARK = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
         ("task_s", "s"), ("job_wall_s", "s"), ("driver_s", "s"),
         ("core_util", "ratio"), ("shuffle_bytes", "B"),
         ("input_bytes", "B"), ("spill_bytes", "B"))
PLAN = (("exchanges", "count"), ("broadcasts", "count"),
        ("codegen_stages", "count"), ("plan_s", "s"))


def hd_quantile(xs, p, grid=20000):
    """Harrell-Davis estimate of the p-quantile: the mean of all order
    statistics, each weighted by the Beta(p(n+1), (1-p)(n+1)) mass of its
    slice of [0, 1] (midpoint rule on `grid` points). Far steadier than one
    or two order statistics when samples are few."""
    ys = np.sort(np.asarray(xs, dtype=float))
    n = len(ys)
    if n == 1 or np.isinf(ys[-1]):
        return float(ys[-1])  # every slice weighs on the top sample
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(grid) + 0.5) / grid
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    mass = np.exp(logpdf - logpdf.max())
    w = np.bincount((t * n).astype(int), weights=mass, minlength=n)
    return float(np.dot(w / w.sum(), ys))


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples above it, or the 90th when there are fewer than 100 samples
    (below that the rule would fall under the 90th), estimated with
    Harrell-Davis. The percentile and the sample count go with the value."""
    n = len(xs)
    p = max(0.9, 1.0 - 10.0 / n)
    return hd_quantile(xs, p), 100.0 * p, n


def geomean(xs):
    """Geometric mean; infinite when any value is."""
    if any(math.isinf(x) for x in xs):
        return math.inf
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_len(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover (children
    may overlap each other and stick out of the span)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children
               if ce > s and cs < e]
    return (e - s) - union_len(clipped)


def _dur(o):
    return (o["end_ms"] - o["start_ms"]) / 1000.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _metric(value, unit):
    return {"value": float(value), "unit": unit}


def end_to_end(raw, failed):
    ops = raw["ops"]
    loop_s = (raw["loop_end_ms"] - raw["first_op_ms"]) / 1000.0
    # a failed op is a miss: slower than any completed op could be
    lat = [_dur(o) if o["ok"] else math.inf for o in ops]
    by_name = {}
    for o, x in zip(ops, lat):
        by_name.setdefault(o["name"], []).append(x)
    gm = geomean([statistics.median(xs) for xs in by_name.values()])
    t, pct, n = tail(lat)
    ok = len(ops) - failed
    return {
        "setup_s": _metric((raw["first_op_ms"] - raw["launched_ms"]) / 1000.0,
                           "s"),
        "op_gmean_s": _metric(gm if math.isfinite(gm) else loop_s, "s"),
        "op_tail_s": _metric(t if math.isfinite(t) else loop_s, "s"),
        "ops_per_s": _metric(ok / loop_s, "1/s"),
        "retained_heap_mb": _metric(raw["retained_heap_mb"], "MB"),
        "ok_ratio": _metric(ok / len(ops), "ratio"),
    }, (pct, n)


def op_census(raw):
    """Per traced op: wall, Spark job sums, driver time outside jobs, and
    the self time of each layer span inside it."""
    jobs = {}
    for j in raw["jobs"]:
        jobs.setdefault(int(j["op"]), []).append(j)
    spans = {}
    for s in raw["spans"]:
        spans.setdefault(int(s["op"]), []).append(s)
    cores = raw["cores"]
    out = []
    for o in raw["ops"]:
        if not o["traced"]:
            continue
        oid = int(o["id"])
        root = (o["start_ms"], o["end_ms"])
        js = jobs.get(oid, [])
        jiv = [(j["start_ms"], j["end_ms"]) for j in js]
        wall = _dur(o)
        c = {
            "kind": o["kind"], "name": o["name"], "wall_s": wall,
            "jobs": len(js), "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "task_s": sum(j["task_s"] for j in js),
            "job_wall_s": union_len(jiv) / 1000.0,
            "driver_s": self_time(root, jiv) / 1000.0,
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
            "input_bytes": sum(j["input_bytes"] for j in js),
            "spill_bytes": sum(j["spill_bytes"] for j in js),
            "layers": {},
        }
        c["core_util"] = c["task_s"] / (wall * cores) if wall > 0 else 0.0
        c.update(o["counters"])
        for s in spans.get(oid, []):
            if s["layer"] == o["kind"]:
                continue  # the op's own root span
            st = self_time((s["start_ms"], s["end_ms"]), jiv) / 1000.0
            c["layers"][s["layer"]] = c["layers"].get(s["layer"], 0.0) + st
        out.append(c)
    return out


def overhead_ratio(raw):
    """Traced over untraced op time, from the traced run, which traces
    every other op: the sum over op names of the median traced time over
    the same sum untraced, minus one."""
    by = {}
    for o in raw["ops"]:
        if o["ok"]:
            by.setdefault((o["name"], o["traced"]), []).append(_dur(o))
    names = {n for n, t in by if (n, not t) in by}
    on = sum(statistics.median(by[(n, True)]) for n in names)
    off = sum(statistics.median(by[(n, False)]) for n in names)
    return on / off - 1.0 if off > 0 else 0.0


def per_layer(raw):
    census = op_census(raw)
    m = {}
    for t in OP_TYPES:
        cs = [c for c in census if c["kind"] == t]
        for k, unit in SPARK:
            if k == "core_util":
                wall = sum(c["wall_s"] for c in cs)
                v = sum(c["task_s"] for c in cs) / (wall * raw["cores"]) \
                    if wall else 0.0
            else:
                v = _mean([c[k] for c in cs])
            m[f"{t}.spark.{k}"] = _metric(v, unit)
        m[f"{t}.txn.manifest_reads"] = _metric(
            _mean([c.get("manifest_reads", 0.0) for c in cs]), "count")
        m[f"{t}.p50_s"] = _metric(
            statistics.median([c["wall_s"] for c in cs]) if cs else 0.0, "s")
        if t in ("query", "serve"):
            for k, unit in PLAN:
                src = [c["layers"].get("plan", 0.0) for c in cs] \
                    if k == "plan_s" else [c.get(k, 0.0) for c in cs]
                m[f"{t}.plan.{k}"] = _metric(_mean(src), unit)
    writes = [c for c in census if c["kind"] == "write"]
    refreshes = [c for c in census if c["kind"] == "refresh"]
    serves = [c for c in census if c["kind"] == "serve"]
    ranges = [c for c in serves if c["name"] == "key_range"]
    aggs = [c for c in serves if c["name"] == "mv_agg"]
    st = raw["state"]
    scanned = sum(c.get("files_scanned", 0.0) for c in ranges)
    live = sum(c.get("files_live", 0.0) for c in ranges)
    m.update({
        "setup.session_s": _metric(raw["session_s"], "s"),
        "setup.create_s": _metric(raw["create_s"], "s"),
        "setup.warm_s": _metric(raw["warm_s"], "s"),
        "txn.commits": _metric(_mean([c.get("commits", 0.0)
                                      for c in writes]), "count"),
        "txn.call_s": _metric(_mean([c["layers"].get("txn", 0.0)
                                     for c in writes]), "s"),
        "txn.bytes_written": _metric(_mean([c.get("bytes_written", 0.0)
                                            for c in writes]), "B"),
        "txn.live_files": _metric(st.get("live_files", 0.0), "count"),
        "txn.versions": _metric(st.get("versions", 0.0), "count"),
        "txn.files_read_ratio": _metric(scanned / live if live else 0.0,
                                        "ratio"),
        "txn.stored_bytes_per_live_byte": _metric(
            st["stored_bytes"] / st["live_bytes"]
            if st.get("live_bytes") else 0.0, "ratio"),
        "mv.refresh_self_s": _metric(_mean([c["layers"].get("mv", 0.0)
                                            for c in refreshes]), "s"),
        "mv.commits_folded": _metric(_mean([c.get("commits_folded", 0.0)
                                            for c in refreshes]), "count"),
        "sources.sql_plan_s": _metric(_mean([c["layers"].get("sources", 0.0)
                                             for c in serves]), "s"),
        "sources.mv_hit_ratio": _metric(_mean([c.get("mv_hit", 0.0)
                                               for c in aggs]), "ratio"),
        "jvm.gc_s": _metric(raw["gc_s"], "s"),
        "jvm.gc_count": _metric(raw["gc_count"], "count"),
        "jvm.heap_peak_mb": _metric(raw["heap_peak_mb"], "MB"),
        "trace.overhead_ratio": _metric(overhead_ratio(raw), "ratio"),
    })
    for k in KERNELS:
        m[f"functions.{k}.ns_per_row"] = _metric(
            raw["kernels"].get(k, 0.0), "ns")
    return m, census


def result(raw, traced, problems):
    attempted = len(raw["ops"])
    failed = min(attempted, sum(1 for o in raw["ops"] if not o["ok"])
                 + len(problems))
    if traced:
        metrics, _ = per_layer(raw)
    else:
        metrics, _ = end_to_end(raw, failed)
    return {"correct": not problems and failed == 0,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def report(raw, res, traced):
    """Human-readable lines printed before the JSON line."""
    lines = [f"seed {int(raw['seed'])}, {int(raw['cores'])} cores, "
             f"{len(raw['ops'])} timed ops"]
    if not traced:
        _, (pct, n) = end_to_end(raw, res["failed"])
        lines.append(f"op_tail_s is the Harrell-Davis p{pct:.0f} of {n} "
                     "op times")
        return lines
    _, census = per_layer(raw)
    lines.append("per op type (traced ops, mean per op): "
                 "jobs  driver_s  job_wall_s  manifest_reads  wall_s")
    for t in OP_TYPES:
        cs = [c for c in census if c["kind"] == t]
        if cs:
            lines.append(
                f"  {t:8s} n={len(cs):3d}  {_mean([c['jobs'] for c in cs]):6.1f}"
                f"  {_mean([c['driver_s'] for c in cs]):8.3f}"
                f"  {_mean([c['job_wall_s'] for c in cs]):10.3f}"
                f"  {_mean([c.get('manifest_reads', 0) for c in cs]):14.1f}"
                f"  {_mean([c['wall_s'] for c in cs]):6.3f}")
    lines.append(f"tracing overhead (traced/untraced op time - 1): "
                 f"{overhead_ratio(raw):+.3f}")
    return lines
