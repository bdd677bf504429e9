"""Turns one harness record (raw timings, spans, Spark job and SQL events)
into the benchmark's end-to-end and per-layer metrics. Pure functions, so
the arithmetic is unit-tested without a JVM (perfbench/tests)."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

E2E_UNITS = {
    "urls_per_s": "1/s",
    "iter_p50_s": "s",
    "cpu_s_per_iter": "s",
    "setup_s": "s",
    "snapshot_mb": "MB",
}

# per-layer metrics every workload's traced run measures (the JSON result)
LAYER_UNITS = {
    "spark.jobs_per_iter": "count", "spark.tasks_per_iter": "count", "spark.driver_gap_s": "s",
    "spark.exec_cpu_s": "s", "spark.core_util": "ratio", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s",
    "load.s": "s", "load.files_read": "count",
    "schedule.s": "s", "schedule.jobs": "count", "schedule.rows_read": "count", "schedule.winners": "count",
    "trace.overhead_ratio": "ratio", "trace.handler_s": "s", "trace.spans": "count",
}

# layers only the crawl runs: printed as "# layer" lines and kept in the
# trace file, since a metric every run reports must be measured in every run
CRAWL_LAYER_UNITS = {
    "fetch.s": "s", "fetch.pages": "count", "fetch.ok_ratio": "ratio", "fetch.outlinks": "count",
    "resolve.s": "s", "resolve.outlinks": "count",
    "admit.s": "s", "admit.candidates": "count", "admit.admitted_ratio": "ratio",
    "admit.bloom_pos_ratio": "ratio", "admit.bloom_fp_ratio": "ratio",
    "commit.s": "s", "commit.writes_per_iter": "count", "commit.files_per_iter": "count",
    "commit.mb_per_iter": "MB",
    "compact.s": "s", "compact.mb": "MB",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, ladder_permille=(999, 990, 950, 900, 750)):
    """Highest percentile of the ladder (given in per mille) with at least
    ten samples beyond it, as (percentile, nearest-rank value); None when
    even the lowest rung has fewer than ten beyond it (then report the
    median alone)."""
    xs = sorted(samples)
    n = len(xs)
    for pm in ladder_permille:
        k = (pm * n + 999) // 1000  # 1-based nearest rank, exact integer arithmetic
        if n - k >= 10:
            return pm / 10.0, xs[k - 1]
    return None


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def parents(spans, events):
    """Parent span id of each event (Spark job / SQL execution): the
    innermost span that contains the event's start, else 0."""
    inner_first = sorted(spans, key=lambda s: s["end"] - s["start"])
    return [next((s["id"] for s in inner_first if s["start"] <= ev["start"] < s["end"]), 0) for ev in events]


def _closed(events, now):
    return [dict(e, end=e["end"] if e["end"] >= e["start"] else now) for e in events]


def end_to_end(raw):
    ops = [o for o in raw["ops"] if o["measured"]]
    durs = [o["end"] - o["start"] for o in ops]
    info = raw["info"]
    if raw["workload"] == "frontier-schedule":
        urls = info["rows_per_op"] / median(durs)
    else:
        urls = sum(o["count"] for o in ops) / sum(durs)
    return {
        "urls_per_s": urls,
        "iter_p50_s": median(durs),
        "cpu_s_per_iter": median([o["cpu_s"] for o in ops]),
        "setup_s": info["setup_s"],
        "snapshot_mb": info["snapshot_bytes"] / 1e6,
    }


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(raw, untraced_urls_per_s=None):
    """Per-layer metrics of a traced run: the LAYER_UNITS metrics, plus the
    CRAWL_LAYER_UNITS ones for the crawl. Returns (metrics, notes)."""
    spans = raw["spans"]
    last = max([s["end"] for s in spans] + [0.0])
    jobs = _closed(raw["jobs"], last)
    sql = _closed(raw["sql"], last)
    ops = [s for s in spans if s["kind"] == "op"]
    crawl = raw["workload"] != "frontier-schedule"
    m = {k: 0.0 for k in (LAYER_UNITS | CRAWL_LAYER_UNITS if crawl else LAYER_UNITS)}
    notes = {}

    # spark: over the measured operations (crawl iterations / schedule passes)
    def in_span(evs, s):
        return [e for e in evs if s["start"] <= e["start"] < s["end"]]

    if ops:
        n = len(ops)
        window = sum(s["end"] - s["start"] for s in ops)
        op_jobs = [in_span(jobs, s) for s in ops]
        alljobs = [j for js in op_jobs for j in js]
        cpu = sum(j["cpu_s"] for j in alljobs)
        m["spark.jobs_per_iter"] = len(alljobs) / n
        m["spark.tasks_per_iter"] = sum(j["tasks"] for j in alljobs) / n
        m["spark.driver_gap_s"] = _mean([self_time(s, js) for s, js in zip(ops, op_jobs)])
        m["spark.exec_cpu_s"] = cpu / n
        m["spark.core_util"] = cpu / (window * raw["cores"]) if window > 0 else 0.0
        m["spark.shuffle_mb"] = sum(j["shuffle_write_b"] for j in alljobs) / 1e6 / n
        m["spark.spill_mb"] = sum(j["spill_b"] for j in alljobs) / 1e6 / n
        m["spark.gc_s"] = sum(j["gc_s"] for j in alljobs) / n
        # the iteration split: job-covered time + driver gap == wall
        notes["iteration_split"] = [
            {"op": s["name"], "wall_s": s["end"] - s["start"],
             "job_s": union_length([(j["start"], j["end"]) for j in js], s["start"], s["end"]),
             "driver_gap_s": self_time(s, js), "jobs": len(js)}
            for s, js in zip(ops, op_jobs)]

    layer_spans = {}
    for s in spans:
        if s["kind"] == "layer":
            layer_spans.setdefault(s["name"], []).append(s)

    def layer_time(name):
        return _mean([s["end"] - s["start"] for s in layer_spans.get(name, [])])

    layers = raw.get("layers", {})
    m["load.s"] = layer_time("load")
    m["load.files_read"] = _mean([sum(x["files_read"] for x in in_span(sql, s))
                                  for s in layer_spans.get("load", [])])
    if not crawl:
        m["schedule.s"] = median([s["end"] - s["start"] for s in ops])
        m["schedule.jobs"] = m["spark.jobs_per_iter"]
        m["schedule.rows_read"] = _mean([sum(j["input_records"] for j in in_span(jobs, s)) for s in ops])
        m["schedule.winners"] = _mean([s["attrs"].get("winners", 0.0) for s in ops])
    else:
        for name in ("schedule", "fetch", "resolve", "admit"):
            m[name + ".s"] = layer_time(name)
        sched = layer_spans.get("schedule", [])
        m["schedule.jobs"] = _mean([len(in_span(jobs, s)) for s in sched])
        m["schedule.rows_read"] = _mean([sum(j["input_records"] for j in in_span(jobs, s)) for s in sched])
        for k in ("schedule.winners", "fetch.pages", "fetch.ok_ratio", "fetch.outlinks", "resolve.outlinks",
                  "admit.candidates", "admit.admitted_ratio", "admit.bloom_pos_ratio", "admit.bloom_fp_ratio"):
            m[k] = _mean(layers.get(k, []))
        notes["bloom_fpp_configured"] = raw["info"].get("bloom_fpp")
        # commit: snapshot writes inside the measured iterations
        writes = [x for x in sql if x["path"]]
        comp = layer_spans.get("compact", [])
        commits = [x for x in writes if not any(in_span([x], s) for s in comp)]
        per_op = [in_span(commits, s) for s in ops]
        if ops:
            m["commit.s"] = _mean([union_length([(x["start"], x["end"]) for x in ws], s["start"], s["end"])
                                   for s, ws in zip(ops, per_op)])
            m["commit.writes_per_iter"] = _mean([len(ws) for ws in per_op])
            m["commit.files_per_iter"] = _mean([sum(x["files_written"] for x in ws) for ws in per_op])
            m["commit.mb_per_iter"] = _mean([sum(x["bytes_written"] for x in ws) / 1e6 for ws in per_op])
        m["compact.s"] = layer_time("compact")
        m["compact.mb"] = sum(x["bytes_written"] for s in comp for x in in_span(writes, s)) / 1e6

    # tracing cost
    m["trace.spans"] = float(len(spans) + len(jobs) + len(sql))
    m["trace.handler_s"] = raw.get("handler_s", 0.0)
    traced = end_to_end(raw)["urls_per_s"] if ops else 0.0
    if untraced_urls_per_s:
        m["trace.overhead_ratio"] = 1.0 - traced / untraced_urls_per_s
        notes["overhead_base"] = "median urls_per_s of earlier untraced runs of this workload"
    else:
        window = sum(s["end"] - s["start"] for s in ops) or 1.0
        m["trace.overhead_ratio"] = m["trace.handler_s"] / window
        notes["overhead_base"] = "listener handler time / loop wall (no untraced run recorded yet)"
    notes["traced_urls_per_s"] = traced
    notes["untraced_urls_per_s"] = untraced_urls_per_s
    return m, notes


def outcome(raw, pins):
    """(correct, attempted, failed, failure notes) for one run."""
    ops = raw["ops"]
    failures = [c["name"] + ": " + c["detail"] for c in raw["checks"] if not c["ok"]]
    pin = pins.get(raw["workload"])
    digest = raw["info"].get("digest")
    if pin and raw["seed"] == pin["seed"] and digest != pin["digest"]:
        failures.append(f"output digest {digest} != pinned {pin['digest']} for seed {pin['seed']}")
    attempted = max(1, len(ops))
    failed = sum(1 for o in ops if not o["ok"])
    if failures and failed == 0:
        failed = 1
    if not ops:
        failed = attempted
    return not failures and failed == 0, attempted, failed, failures
