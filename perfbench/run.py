"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload train|corpus|search --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the driver JVM, checks the outputs
(perfbench/checks.py) and prints, as the last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer metrics, and the spans go to .bench_out/. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("train", "corpus", "search")
JVM_TIMEOUT_S = 170
# copied from build.sbt: Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JAVA_OPTS = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # a fixed 2 GB heap with a fixed 512 MB young generation, not
    # pre-touched: RSS counts the pages the program touches (the young
    # generation it cycles through, the old-generation peak, off-heap),
    # and no heap resizing driven by GC timing moves it between runs
    "-Xms2g", "-Xmx2g", "-Xmn512m",
]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal():
    """(steal, total) jiffies over all CPUs: time the hypervisor gave to
    other guests while this one had work to run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if len(xs) * (1 - p / 100) >= 10:
            return {"value": xs[min(len(xs) - 1, int(len(xs) * p / 100))],
                    "percentile": p, "samples": len(xs)}
    return {"value": None, "percentile": None, "samples": len(xs)}


def end_to_end(w, res, ops, launch_s):
    """The BENCHMARK.json metrics plus the workload's own named metrics."""
    boot_s = res["ready_ms"] / 1000 - launch_s
    setup_s = boot_s + median(res["setup_reps_s"])
    ok = [o for o in ops if o["error"] is None and o["phase"] == "untraced"]
    named = {}
    if w == "train":
        pipeline_s = median([o["pipeline_ms"] / 1000 for o in ok])
        examples = median([o["rows_evaluated"] / (o["pipeline_ms"] / 1000) for o in ok])
        named = {"train.pipeline_s": pipeline_s, "train.examples_per_s": examples,
                 "train.score_rows_per_s":
                     median([o["score_rows"] / (o["score_ms"] / 1000) for o in ok]),
                 "train.heldout_accuracy":
                     median([o["score_correct"] / o["score_rows"] for o in ops]),
                 "train.majority_share":
                     median([o["score_majority"] / o["score_rows"] for o in ops])}
        # training-split rows per second of Pipeline.run: examples/s also
        # counts line-search probes, whose number the seed decides (8,700-
        # 11,600 rows evaluated per op over 20 seeds), which doubled its
        # spread between seeds
        train_rows = res["facts"]["stage_rows"][-1]
        items = median([train_rows / (o["pipeline_ms"] / 1000) for o in ok])
        p50 = median([o["ms"] for o in ok])
    elif w == "corpus":
        docs = res["facts"]["docs"]
        items = median([docs / (o["ms"] / 1000) for o in ok])
        p50 = median([o["ms"] for o in ok])
        named = {"corpus.docs_per_s": items}
    else:
        # the timed phase runs whole rounds of the stream (7 queries, then
        # an append), so the mix is the stream's whatever the run's length
        q = [o for o in ok if o["kind"] == "query"]
        ap = [o["ms"] for o in ok if o["kind"] != "query"]
        items = 1000 * len(ok) / sum(o["ms"] for o in ok)
        p50 = median([o["ms"] for o in q])
        knn_tail, bm25_tail = tail([o["knn_ms"] for o in q]), tail([o["bm25_ms"] for o in q])
        named = {"search.ops_per_s": items,
                 "search.knn_p50_ms": median([o["knn_ms"] for o in q]),
                 "search.knn_tail_ms": knn_tail,
                 "search.bm25_p50_ms": median([o["bm25_ms"] for o in q]),
                 "search.bm25_tail_ms": bm25_tail,
                 "search.append_p50_ms": median(ap)}
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": res["peak_rss_kb"] / 1024, "unit": "MB"},
        "items_per_s": {"value": items, "unit": "1/s"},
        "op_p50_ms": {"value": p50, "unit": "ms"},
    }
    named.update({"setup_s": setup_s, "boot_s": boot_s,
                  "setup_reps_s": res["setup_reps_s"], "warmup_s": res["warmup_s"],
                  "op_ms": [round(o["ms"]) for o in ops],
                  "peak_rss_mb": res["peak_rss_kb"] / 1024,
                  "heap_live_mb": res["heap_live_kb"] / 1024})
    return metrics, named


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    load_start = loadavg()
    steal_start = cpu_steal()
    classes = build.build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        t0 = time.time()
        info = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - t0
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(work, "results.json")
        cmd = (["java"] + JAVA_OPTS + [
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", build.classpath(classes), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", inputs, "--work", work, "--out", out, "--cpus", str(cpus)])
        launch_s = time.time()
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"driver JVM exceeded {JVM_TIMEOUT_S} s")
        jvm_end_s = time.time()
        if code != 0:
            raise SystemExit(f"driver JVM failed with exit code {code}")
        with open(out) as f:
            res = json.load(f)

        ops = res["ops"]
        if a.workload == "train":
            stats = layers.gradient_stats(res)
            for o in ops:
                o.update(stats[o["index"]])
        per_op, run_failures = checks.CHECKS[a.workload](res, inputs)
        failed_ops = {o["index"] for o in ops if o["error"] is not None} | set(per_op)
        for o in ops:
            if o["index"] in per_op:
                o["error"] = "; ".join(per_op[o["index"]])
        e2e, named = end_to_end(a.workload, res, ops, launch_s)
        named["fail_ratio"] = len(failed_ops) / len(ops)
        if a.trace:
            metrics, trace_doc = layers.per_layer(a.workload, res)
            os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
            trace_file = os.path.join(root, ".bench_out", f"trace-{a.workload}-seed{a.seed}.json")
            with open(trace_file, "w") as f:
                json.dump(trace_doc, f)
        else:
            metrics = e2e
        errors = sorted({o["error"] for o in ops if o["error"]})[:5]
        print(json.dumps({
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "inputs": info, "input_gen_s": gen_s, "ops": len(ops),
            "checks": {"passed": not failed_ops and not run_failures,
                       "run_failures": run_failures, "op_errors": errors},
            "metrics_by_name": named,
            # where the run's wall time went, in seconds
            "run_time_s": {
                "inputs": gen_s, "boot": named["boot_s"],
                "warmup_and_setups": res["setup_phase_s"],
                "timed": res["timed_end_ms"] / 1000 - launch_s - named["boot_s"]
                - res["setup_phase_s"],
                "after_timed": jvm_end_s - res["timed_end_ms"] / 1000,
                "checks": time.time() - jvm_end_s},
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "cpu_steal_share": (cpu_steal()[0] - steal_start[0])
            / max(cpu_steal()[1] - steal_start[1], 1),
        }))
        print(json.dumps({
            "correct": not failed_ops and not run_failures,
            "attempted": len(ops),
            "failed": len(failed_ops),
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
