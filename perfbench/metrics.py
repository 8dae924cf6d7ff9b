"""Turns the harness's raw record into the benchmark's metrics.

Everything here is plain arithmetic over the JSON the JVM half writes, so
test_metrics.py can pin it without Spark: the tail-percentile rule, span
self time, and the mapping from a call-site frame to a graft module.
"""

import math
import re
import statistics

# Queries whose result is a candidate-pair stream behind an LSH bucket
# self-join; ext.lsh_yield is their output rows over the shuffle records they
# read.
LSH_QUERIES = {29, 42, 50}

DETECTORS = ["feed", "revenue", "transaction", "freshness", "pattern",
             "reconciliation", "sla", "quality"]

KERNELS = ["graft_dot", "graft_hyperplane_lsh", "graft_simhash64",
           "graft_minhash", "graft_shingle_hashes", "graft_lang_id",
           "graft_text_metrics", "graft_media_header", "graft_image_dhash",
           "graft_image_spectral", "graft_audio_spectral"]

# Modules whose self time is reported.
SELF_MODULES = ["core", "queries", "ext", "functions", "ops", "detectors",
                "pipeline", "streaming"]

# The harness calls exactly one public surface from each of these frames, so
# a job whose innermost frame is one of them belongs to that surface's layer:
# a query's plan executed by the harness's collect() is query work.
HARNESS_FRAMES = [
    ("graftbench.Main$QueryBody", "queries"),
    ("graftbench.Main$MonitorBody", "streaming"),
    ("graftbench.Kernels", "functions"),
    ("graftbench.Main.heal", "pipeline"),
    ("graftbench.Main.$anonfun$heal", "pipeline"),
]

_GRAFT_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([A-Za-z0-9_$]+)\.")
_TOP_LEVEL = re.compile(r"^\s*(?:at\s+)?graft\.[A-Z]")
_DETECTOR = re.compile(r"graft\.detectors\.([A-Za-z]+)Detector\b")


def frame_module(frame):
    """Module of one call-site frame, or None when it is not graft's.

    `graft.ext.Dedup$.f(Dedup.scala:1)` -> "ext"; top-level objects such as
    `graft.SparkEntry$` belong to the registry, "queries"; harness frames map
    to the surface they call (HARNESS_FRAMES).
    """
    f = frame.strip()
    if f.startswith("at "):
        f = f[3:]
    for prefix, module in HARNESS_FRAMES:
        if f.startswith(prefix):
            return module
    if _TOP_LEVEL.match(f):
        return "queries"
    m = _GRAFT_FRAME.match(f)
    return m.group(1) if m else None


def innermost_module(call_site):
    """Module of the innermost graft (or harness) frame of a call site."""
    for line in (call_site or "").splitlines():
        m = frame_module(line)
        if m:
            return m
    return None


def detector_of(call_site):
    """`graft.detectors.PatternDetector` anywhere in the stack -> "pattern"."""
    m = _DETECTOR.search(call_site or "")
    return m.group(1).lower() if m else None


def attribute(job, executions):
    """(module, detector) of a job: the SQL execution's call site first, then
    the stage call sites. Stage call sites alone lose the caller under AQE,
    whose stage jobs are submitted from SQLExecution's own thread pool."""
    sites = []
    if job["exec"] >= 0 and job["exec"] in executions:
        sites.append(executions[job["exec"]])
    sites.extend(job.get("stage_sites", []))
    module = next((m for m in map(innermost_module, sites) if m), None)
    detector = next((d for d in map(detector_of, sites) if d), None)
    return module, detector


def harrell_davis(samples, p):
    """Harrell-Davis estimate of quantile p: every order statistic weighted
    by a Beta(p(n+1), (1-p)(n+1)) probability mass. Latencies of a few dozen
    different queries cluster per query, so a single order statistic jumps
    from one query to the next between runs; this weighted form moves
    smoothly."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return float("nan")
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    per = max(1, math.ceil(4000 / n))
    steps = n * per
    dens = []
    for k in range(steps + 1):
        t = k / steps
        if t <= 0 or t >= 1:
            dens.append(0.0 if (t <= 0 and a > 1) or (t >= 1 and b > 1) else float("inf"))
        else:
            dens.append(math.exp((a - 1) * math.log(t) + (b - 1) * math.log(1 - t)))
    dens = [d if math.isfinite(d) else 0.0 for d in dens]
    cdf = [0.0]
    for k in range(steps):
        cdf.append(cdf[-1] + (dens[k] + dens[k + 1]) / 2)
    total = cdf[-1]
    weights = [(cdf[(i + 1) * per] - cdf[i * per]) / total for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs))


def tail_percentile(samples, beyond=10):
    """The highest whole percentile from p50 up with at least `beyond` samples
    above it (nearest rank), estimated by Harrell-Davis. Returns
    (p, value, n, n_beyond). With too few samples for any tail it returns the
    median, and n_beyond says so."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 50, float("nan"), 0, 0
    fits = [p for p in range(50, 100) if n - math.ceil(p * n / 100) >= beyond]
    p = fits[-1] if fits else 50
    return p, harrell_davis(xs, p / 100), n, n - math.ceil(p * n / 100)


def union_length(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children clipped to the parent). Returns
    {span id: self time}, in the spans' time unit."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(covered)
    return out


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


SPAN_MODULE = {"construct": "queries", "execute": "queries", "op": "queries",
               "batch": "streaming", "kernel": "functions", "heal": "pipeline"}


def build_trace(raw):
    """Harness spans plus one leaf span per Spark job, each job under the
    deepest harness span that contains its start and tagged with its module.
    Times are microseconds."""
    spans = [dict(id=s["id"], parent=s["parent"], name=s["name"], kind=s["kind"],
                  start=s["start_us"], end=s["end_us"],
                  module=SPAN_MODULE.get(s["kind"], "bench"))
             for s in raw["spans"]]
    lst = raw.get("listener") or {"jobs": [], "stages": [], "executions": []}
    executions = {e["exec"]: e["details"] for e in lst["executions"]}
    stages = {s["stage"]: s for s in lst["stages"]}
    by_len = sorted(spans, key=lambda s: s["end"] - s["start"])
    next_id = max([s["id"] for s in spans] + [0]) + 1
    jobs = []
    for j in lst["jobs"]:
        start, end = j["start_ms"] * 1000, max(j["end_ms"], j["start_ms"]) * 1000
        host = next((s for s in by_len
                     if s["start"] - 1000 <= start <= s["end"] + 1000), None)
        module, detector = attribute(j, executions)
        st = [stages[i] for i in j["stages"] if i in stages]
        job = dict(id=next_id, parent=host["id"] if host else 0,
                   name="job%d" % j["job"], kind="job", start=start, end=end,
                   module=module or "unattributed", detector=detector,
                   attributed=module is not None,
                   tasks=sum(s["tasks"] for s in st),
                   stages=len(st),
                   task_s=sum(s["run_ms"] for s in st) / 1000.0,
                   **{k: sum(s[k] for s in st) for k in (
                       "shuffle_write_bytes", "shuffle_read_records",
                       "spill_bytes", "input_records", "output_bytes")})
        next_id += 1
        jobs.append(job)
    return spans, jobs


def _ancestors(span_id, by_id):
    while span_id in by_id:
        s = by_id[span_id]
        yield s
        span_id = s["parent"]


def op_latencies(ops):
    """One latency per op of the workload: the mean of its timed samples.
    A run ends inside a pass, so the ops early in the list have one sample
    more than the rest; pooling the samples would let that share, and with
    it the quantiles, move with the speed of the run. The mean, not the
    median, because an op has only two or three samples."""
    per = {}
    for o in ops:
        per.setdefault(o["name"], []).append(o["construct_s"] + o["execute_s"])
    return [statistics.mean(v) for v in per.values()]


def end_to_end(raw):
    """The six end-to-end metrics of an untraced run."""
    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    lat = op_latencies(timed)
    p, tail, n, beyond = tail_percentile(lat)
    failed = sum(1 for o in timed if not o["ok"])
    passes = [x["seconds"] for x in raw["passes"] if x["phase"] == "timed"]
    return {
        "setup_s": raw["setup_s"],
        "pass_s": median(passes),
        "op_p50_s": harrell_davis(lat, 0.5),
        "op_tail_s": tail,
        "ok_ratio": (len(timed) - failed) / max(1, len(timed)),
        "heap_peak_mb": raw["heap_peak_mb"],
    }, dict(percentile=p, samples=n, beyond=beyond)


def per_layer(raw):
    """Per-layer metrics of a traced run, normalised per op (one registry
    query, or one monitor_stream batch) so runs of different length compare."""
    spans, jobs = build_trace(raw)
    by_id = {s["id"]: s for s in spans}
    slots = raw["slots"]
    traced = [o for o in raw["ops"] if o["phase"] == "traced"]
    op_spans = [s for s in spans if s["kind"] == "op"]
    batch_spans = [s for s in spans if s["kind"] == "batch"]
    n_ops = max(1, len(op_spans))
    n_batches = max(1, len(batch_spans))
    n_units = max(1, len(op_spans) + len(batch_spans))

    def owner(job, kind):
        return next((s for s in _ancestors(job["parent"], by_id) if s["kind"] == kind), None)

    in_ops = [j for j in jobs if owner(j, "op") or owner(j, "batch")]
    q_jobs = [j for j in in_ops if owner(j, "op")]
    construct = [j for j in q_jobs if owner(j, "construct")]
    execute = [j for j in q_jobs if owner(j, "execute")]
    m = {}

    m["core.session_start_s"] = raw["session_start_s"]
    m["queries.construct_s"] = sum(o["construct_s"] for o in traced) / n_ops if op_spans else 0.0
    m["queries.execute_s"] = sum(o["execute_s"] for o in traced) / n_ops if op_spans else 0.0
    m["queries.construct_jobs"] = len(construct) / n_ops
    m["queries.execute_jobs"] = len(execute) / n_ops
    m["queries.jobs_per_op"] = len(q_jobs) / n_ops
    m["queries.stages_per_op"] = sum(j["stages"] for j in q_jobs) / n_ops
    m["queries.tasks_per_op"] = sum(j["tasks"] for j in q_jobs) / n_ops
    exec_wall = sum((s["end"] - s["start"]) / 1e6 for s in spans if s["kind"] == "execute")
    m["queries.exec_core_busy"] = (sum(j["task_s"] for j in execute) / (exec_wall * slots)
                                   if exec_wall > 0 else 0.0)
    for k in ("shuffle_write_bytes", "shuffle_read_records", "spill_bytes", "input_records"):
        m["queries." + k] = sum(j[k] for j in execute) / n_ops
    m["queries.output_rows"] = (sum(o["rows"] for o in traced) / n_ops) if op_spans else 0.0
    traced_passes = max(1, sum(1 for x in raw["passes"] if x["phase"] == "traced"))
    m["queries.leaked_persists"] = sum(o["leaked"] for o in traced) / traced_passes

    ext = [j for j in in_ops if j["module"] == "ext"]
    m["ext.jobs"] = len(ext) / n_units
    m["ext.job_s"] = sum((j["end"] - j["start"]) / 1e6 for j in ext) / n_units
    m["ext.task_s"] = sum(j["task_s"] for j in ext) / n_units
    for k in ("shuffle_write_bytes", "shuffle_read_records", "spill_bytes"):
        m["ext." + k] = sum(j[k] for j in ext) / n_units
    lsh_rows = lsh_read = 0
    rows_of = {}
    for o in traced:
        rows_of.setdefault(o["name"], []).append(o["rows"])
    for s in op_spans:
        if _qnum(s["name"]) in LSH_QUERIES:
            lsh_read += sum(j["shuffle_read_records"] for j in q_jobs if owner(j, "op") is s)
    for name, rows in rows_of.items():
        if _qnum(name) in LSH_QUERIES:
            lsh_rows += sum(rows)
    m["ext.lsh_yield"] = lsh_rows / lsh_read if lsh_read else 0.0

    kernels = raw.get("extra", {}).get("kernels", {})
    for k in KERNELS:
        r = kernels.get(k)
        m["functions.%s.rows_per_s" % k] = (r["rows"] / median(r["seconds"])) if r else 0.0

    core = [j for j in in_ops if j["module"] == "core"]
    m["core.jobs"] = len(core) / n_units
    m["core.job_s"] = sum((j["end"] - j["start"]) / 1e6 for j in core) / n_units
    written = sum(j["output_bytes"] for j in in_ops)
    m["core.output_bytes"] = written / n_units
    m["core.output_files"] = sum(o["new_files"] for o in traced) / n_units
    m["core.table_files"] = raw.get("final_files", 0)
    ingested = sum(o["extra"].get("ingested_bytes", 0) for o in traced)
    m["core.write_amp"] = written / ingested if ingested else 0.0

    b_jobs = [j for j in in_ops if owner(j, "batch")]
    det_jobs = [j for j in b_jobs if j["detector"]]
    for d in DETECTORS:
        mine = [j for j in det_jobs if j["detector"] == d]
        m["detectors.%s.jobs" % d] = len(mine) / n_batches if batch_spans else 0.0
        m["detectors.%s.job_s" % d] = (sum((j["end"] - j["start"]) / 1e6 for j in mine) / n_batches
                                       if batch_spans else 0.0)
    shares, overlaps = [], []
    for b in batch_spans:
        mine = [j for j in det_jobs if owner(j, "batch") is b]
        if not mine:
            continue
        fan = max(j["end"] for j in mine) - min(j["start"] for j in mine)
        if fan <= 0:
            continue
        per_det = {}
        for j in mine:
            per_det.setdefault(j["detector"], []).append(j)
        slowest = max(max(j["end"] for j in js) - min(j["start"] for j in js)
                      for js in per_det.values())
        shares.append(slowest / fan)
        overlaps.append(sum(j["end"] - j["start"] for j in mine) / fan)
    m["detectors.slowest_share"] = median(shares)
    m["pipeline.fanout_overlap"] = median(overlaps)
    heal = raw.get("extra", {}).get("heal", {})
    m["pipeline.heal_s"] = heal.get("seconds", 0.0)
    m["pipeline.heal_attempts"] = heal.get("attempts", 0)
    ingest = [j for j in b_jobs if j["module"] in ("streaming", "core")]
    m["streaming.ingest_job_s"] = (sum((j["end"] - j["start"]) / 1e6 for j in ingest) / n_batches
                                   if batch_spans else 0.0)
    batch_rows = sum(o["rows"] for o in traced if o["extra"].get("batch") is not None)
    m["streaming.read_amp"] = (sum(j["input_records"] for j in b_jobs) / batch_rows
                               if batch_rows else 0.0)
    m["alerts.sent"] = sum(o["extra"].get("alerts_sent", 0) for o in traced)
    m["alerts.suppressed"] = sum(o["extra"].get("alerts_triggered", 0)
                                 - o["extra"].get("alerts_sent", 0) for o in traced)

    # self time per module over the traced ops (jobs are leaves; concurrent
    # jobs each count in full, so a module's self time is its busy time)
    selfs = self_times(spans + jobs)
    unit_ids = {s["id"] for s in op_spans + batch_spans}
    per_module = {}
    for s in spans + jobs:
        if s["id"] in unit_ids or any(a["id"] in unit_ids for a in _ancestors(s["parent"], by_id)):
            per_module[s["module"]] = per_module.get(s["module"], 0) + selfs[s["id"]]
    for mod in SELF_MODULES:
        m["%s.self_s" % mod] = per_module.get(mod, 0) / 1e6 / n_units

    passes = raw["passes"]
    m["trace.overhead_s"] = (median(x["seconds"] for x in passes if x["phase"] == "traced")
                             - median(x["seconds"] for x in passes if x["phase"] == "untraced"))
    m["trace.unattributed_share"] = (sum(1 for j in in_ops if not j["attributed"]) / len(in_ops)
                                     if in_ops else 0.0)
    m["trace.jobs"] = len(in_ops)
    return m, spans + jobs


def _qnum(name):
    m = re.match(r"q(\d+)", name)
    return int(m.group(1)) if m else -1


def per_layer_units():
    """Unit of every per-layer metric, in report order."""
    u = {"core.session_start_s": "s"}
    for k in ("construct_s", "execute_s"):
        u["queries." + k] = "s"
    for k in ("construct_jobs", "execute_jobs", "jobs_per_op", "stages_per_op", "tasks_per_op"):
        u["queries." + k] = "count"
    u["queries.exec_core_busy"] = "ratio"
    u.update({"queries.shuffle_write_bytes": "bytes", "queries.shuffle_read_records": "count",
              "queries.spill_bytes": "bytes", "queries.input_records": "count",
              "queries.output_rows": "count", "queries.leaked_persists": "count",
              "ext.jobs": "count", "ext.job_s": "s", "ext.task_s": "s",
              "ext.shuffle_write_bytes": "bytes", "ext.shuffle_read_records": "count",
              "ext.spill_bytes": "bytes", "ext.lsh_yield": "ratio"})
    for k in KERNELS:
        u["functions.%s.rows_per_s" % k] = "1/s"
    u.update({"core.jobs": "count", "core.job_s": "s", "core.output_bytes": "bytes",
              "core.output_files": "count", "core.table_files": "count",
              "core.write_amp": "ratio"})
    for d in DETECTORS:
        u["detectors.%s.jobs" % d] = "count"
        u["detectors.%s.job_s" % d] = "s"
    u.update({"detectors.slowest_share": "ratio", "pipeline.fanout_overlap": "ratio",
              "pipeline.heal_s": "s", "pipeline.heal_attempts": "count",
              "streaming.ingest_job_s": "s", "streaming.read_amp": "ratio",
              "alerts.sent": "count", "alerts.suppressed": "count"})
    for mod in SELF_MODULES:
        u["%s.self_s" % mod] = "s"
    u.update({"trace.overhead_s": "s", "trace.unattributed_share": "ratio",
              "trace.jobs": "count"})
    return u
