"""Per-layer metrics of a traced run, from the driver's spans and the
listener's per-job records.

Spans are recorded by the benchmark around each call into a layer. Jobs
attach to the span open when they were submitted. Inside a span, jobs
whose call site lies in a known module form a derived child span (for
example the gradient jobs of `DistributedTrainer.measure` inside
`pipeline.run`), since spans inside the program are not recorded.

Every value is per timed op of the traced phase (its sum over the phase
divided by the phase's op count), so runs of different lengths compare.
"""

import statistics


def is_gradient_job(site):
    """A `DistributedTrainer.measure` job: treeReduce, or collect on a
    single partition, at DistributedTrainer.scala."""
    return "DistributedTrainer.scala" in site and site.startswith(("treeReduce ", "collect "))


# derived child spans: (name, predicate on the job's call site)
DERIVED = [
    ("train.measure", is_gradient_job),
    ("train.prepare", lambda s: "DistributedTrainer.scala" in s),
    ("encode.fit", lambda s: any(f in s for f in
                                 ("Encoder.scala", "KeyDiscovery.scala", "Moments.scala"))),
    ("pipeline.report", lambda s: "Pipeline.scala" in s),
]

SELF_SPANS = [
    "sources.scan", "pipeline.run", "relational.stage", "encode.fit",
    "train.prepare", "train.measure", "pipeline.report", "encode.score",
    "llm.exact_dedup", "llm.quality_filter", "llm.neardup", "llm.components",
    "llm.decontaminate", "relational.sample", "llm.pack",
    "llm.ivf_probe", "llm.bm25_probe", "llm.ivf_append", "llm.bm25_append",
]
# key spans carry the listener family
KEY_SPANS = [
    "encode.fit", "train.measure", "encode.score",
    "llm.exact_dedup", "llm.quality_filter", "llm.neardup", "llm.components",
    "llm.decontaminate", "relational.sample", "llm.pack",
    "llm.ivf_probe", "llm.bm25_probe", "llm.ivf_append", "llm.bm25_append",
]
FAMILY = ["jobs", "tasks", "shuffle_bytes", "gc_s", "outside_jobs_ms"]
EXTRA = [
    "train.rows_evaluated", "train.accept_ratio", "train.result_bytes",
    "llm.neardup_candidates", "llm.neardup_pairs",
    "llm.neardup_precision", "llm.docs_kept", "llm.ivf_rows_scanned_per_query",
    "llm.manifest_resolve_ms", "llm.index_files", "core.cached_blocks_after_op",
    "trace.overhead_ms", "trace.overhead_ratio",
]

UNITS = {"self_s": "s", "jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
         "gc_s": "s", "outside_jobs_ms": "ms"}
EXTRA_UNITS = {
    "train.rows_evaluated": "count", "train.accept_ratio": "ratio",
    "train.result_bytes": "bytes",
    "llm.neardup_candidates": "count", "llm.neardup_pairs": "count",
    "llm.neardup_precision": "ratio", "llm.docs_kept": "count",
    "llm.ivf_rows_scanned_per_query": "count", "llm.manifest_resolve_ms": "ms",
    "llm.index_files": "count", "core.cached_blocks_after_op": "count",
    "trace.overhead_ms": "ms", "trace.overhead_ratio": "ratio",
}


# family members that read zero on every workload: derived spans are made
# of jobs (nothing outside them), and these spans' jobs never shuffle
ALWAYS_ZERO = {
    "encode.fit.outside_jobs_ms", "train.measure.outside_jobs_ms",
    "train.measure.shuffle_bytes", "encode.score.shuffle_bytes",
    "llm.ivf_probe.shuffle_bytes",
}


def metric_names():
    """Every per-layer metric name with its unit, in output order."""
    out = [(f"{s}.self_s", "s") for s in SELF_SPANS]
    out += [(f"{s}.{m}", UNITS[m]) for s in KEY_SPANS for m in FAMILY
            if f"{s}.{m}" not in ALWAYS_ZERO]
    out += [(n, EXTRA_UNITS[n]) for n in EXTRA]
    return out


def _union_ms(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _accepted_steps(history, monitored):
    """Accepted line-search steps, from the loss history: the monitor
    fires at each iteration start, so history entries it did not see end
    a schedule stage; inside a stage every accepted step lowers the loss
    and a failed search leaves it unchanged."""
    seen = {i for i, _ in monitored}
    accepted, prev = 0, None
    for i, loss in enumerate(history):
        if prev is not None and loss < prev:
            accepted += 1
        prev = None if i not in seen else loss
    return accepted


def gradient_stats(res):
    """Per train op: its gradient jobs, the rows they ran forward and
    backward, their task-result bytes, and the schedule stages seen. An
    op's jobs run from its first job to the next op's; each schedule
    stage opens with its sample's count query (one SQL execution, maybe
    several jobs)."""
    rows = res["facts"]["stage_rows"]
    firsts = [o["first_job"] for o in res["ops"]] + [float("inf")]
    out = {}
    for o, lo, hi in zip(res["ops"], firsts, firsts[1:]):
        stage, counts, n, r, rb = -1, set(), 0, 0, 0
        for j in res["jobs"]:
            if not lo <= j["id"] < hi:
                continue
            if j["site"].startswith("count at DistributedTrainer"):
                if j["execution"] not in counts:
                    counts.add(j["execution"])
                    stage += 1
            elif is_gradient_job(j["site"]):
                n += 1
                r += rows[min(max(stage, 0), len(rows) - 1)]
                rb += j["result_bytes"]
        out[o["index"]] = {"grad_jobs": n, "rows_evaluated": r,
                           "grad_result_bytes": rb, "stages_seen": stage + 1}
    return out


def per_layer(workload, res):
    spans = res["spans"]
    jobs = res["jobs"]
    ops = [o for o in res["ops"] if o["phase"] == "traced"]
    n_ops = max(len(ops), 1)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    jobs_of = {}
    for j in jobs:
        if j["span"] >= 0:
            jobs_of.setdefault(j["span"], []).append(j)

    def derived_name(site):
        return next((n for n, p in DERIVED if p(site)), None)

    agg = {}  # name -> {self_s, jobs, tasks, ...}

    def add(name, **kv):
        a = agg.setdefault(name, {k: 0.0 for k in ["self_s"] + FAMILY})
        for k, v in kv.items():
            a[k] += v

    def subtree_jobs(s):
        out = list(jobs_of.get(s["id"], []))
        for c in children.get(s["id"], []):
            out += subtree_jobs(c)
        return out

    def job_family(js):
        return {"jobs": len(js), "tasks": sum(j["tasks"] for j in js),
                "shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
                "gc_s": sum(j["gc_ms"] for j in js) / 1000}

    for s in spans:
        dur = s["end"] - s["start"]
        own = jobs_of.get(s["id"], [])
        derived = {}
        for j in own:
            n = derived_name(j["site"])
            if n:
                derived.setdefault(n, []).append(j)
        child_ms = sum(c["end"] - c["start"] for c in children.get(s["id"], []))
        derived_ms = sum(j["end"] - j["start"] for js in derived.values() for j in js)
        sub = subtree_jobs(s)
        add(s["name"], self_s=(dur - child_ms - derived_ms) / 1000,
            outside_jobs_ms=dur - _union_ms([(j["start"], j["end"]) for j in sub]),
            **job_family(sub))
        for n, js in derived.items():
            add(n, self_s=sum(j["end"] - j["start"] for j in js) / 1000, **job_family(js))

    metrics = {}
    for name, unit in metric_names():
        span, _, key = name.rpartition(".")
        if span in agg and key in agg[span]:
            metrics[name] = {"value": agg[span][key] / n_ops, "unit": unit}
        else:
            metrics[name] = {"value": 0.0, "unit": unit}

    def put(name, value):
        metrics[name] = {"value": float(value), "unit": EXTRA_UNITS[name]}

    ok = [o for o in ops if o["error"] is None]
    if workload == "train" and ok:
        grad = sum(o["grad_jobs"] for o in ok)
        put("train.rows_evaluated", sum(o["rows_evaluated"] for o in ok) / len(ok))
        put("train.accept_ratio", sum(_accepted_steps(o["loss_history"], o["monitor"])
                                      for o in ok) / max(grad, 1))
        put("train.result_bytes", sum(o["grad_result_bytes"] for o in ok) / len(ok))
    if workload == "corpus" and ok:
        cand = sum(o.get("neardup_candidates", 0) for o in ok) / len(ok)
        pairs = sum(o["neardup_pairs"] for o in ok) / len(ok)
        put("llm.neardup_candidates", cand)
        put("llm.neardup_pairs", pairs)
        put("llm.neardup_precision", pairs / cand if cand else 0.0)
        put("llm.docs_kept", sum(o["sampled"] for o in ok) / len(ok))
    if workload == "search":
        q = [o for o in ok if o["kind"] == "query"]
        probe_ids = {s["id"] for s in spans if s["name"] == "llm.ivf_probe"}
        rows = sum(j["input_records"] for j in jobs if j["span"] in probe_ids)
        returned = sum(len(o["knn"]) for o in q)
        put("llm.ivf_rows_scanned_per_query", rows / returned if returned else 0.0)
        if q:
            put("llm.manifest_resolve_ms", statistics.median(o["manifest_resolve_ms"] for o in q))
        put("llm.index_files", res["facts"].get("index_files", 0))
    if ok:
        put("core.cached_blocks_after_op",
            statistics.mean(o["cached_blocks_after_op"] for o in ok))

    # tracing overhead: traced minus untraced median op latency, same
    # process, same inputs, same op kind (queries for search)
    kind = "query" if workload == "search" else None

    def med(phase):
        xs = [o["ms"] for o in res["ops"] if o["phase"] == phase and o["error"] is None
              and (kind is None or o["kind"] == kind)]
        return statistics.median(xs) if xs else None

    u, t = med("untraced"), med("traced")
    if u and t:
        put("trace.overhead_ms", t - u)
        put("trace.overhead_ratio", (t - u) / u)

    doc = {"workload": workload, "seed": res["seed"], "spans": spans, "jobs": jobs,
           "per_layer": metrics}
    return metrics, doc
