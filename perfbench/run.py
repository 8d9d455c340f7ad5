"""RAG workload benchmark: ingest, chat and churn on local Spark.

    python3 perfbench/run.py --workload {ingest,chat,churn} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It compiles the engine and the harness into
`.bench_build/` (first run only), generates the workload's inputs from the
seed, runs the harness in one JVM on local[N] (N = min(4, cores)) with one
closed-loop client, verifies the answers outside the timed window and
prints one JSON result as the last line. With `--trace 1` it runs the loop
a second time with tracing on and reports the per-layer metrics; spans go
to `.bench_build/traces/`. Metric definitions: perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ingest", "chat", "churn")
RUN_TIMEOUT_S = 170
PRIMARY = {"ingest": "build", "chat": "read", "churn": "read"}
WRITES = {"build", "upsert", "delete", "compact"}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_harness(classes, workload, inputs, run_dir, seconds, trace, spans_out,
                deadline):
    out = os.path.join(run_dir, "raw.json")
    log = os.path.join(run_dir, "harness.log")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-Djava.io.tmpdir=" + run_dir,
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(os.getcwd(), classes), "perfbench.RagBench",
            workload, inputs, run_dir, str(seconds), str(trace), str(cores()),
            out, spans_out]
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness timed out")
    with open(log) as fh:
        text = fh.read()
    if r.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(text[-6000:])
        raise RuntimeError(f"harness exited with {r.returncode}")
    for line in text.splitlines():
        if line.startswith("perfbench:"):
            print(line)
    with open(out) as fh:
        return json.load(fh)


def ops_of(loop, kinds):
    return [o for o in loop["ops"] if o["kind"] in kinds]


def per(total, n):
    return total / n if n else 0.0


def end_to_end(workload, raw, gen_s):
    """Contract metrics of the untraced loop, and the same figures under
    the names each workload's users know them by."""
    loop = raw["loops"][0]
    ops = loop["ops"]
    prim = [o["ms"] for o in ops_of(loop, {PRIMARY[workload]})]
    p, tail_ms = stats.tail(prim)
    spent_s = sum(o["ms"] for o in ops) / 1000.0
    su = raw["setup"]
    setup_s = gen_s + su["session_s"] + su["prepare_s"] + su["warmup_s"]
    space = loop["layout_bytes"] / loop["text_bytes"]
    # ingest: chunks/s; chat: questions/s; churn: ops/s
    rate = (len(ops) if workload == "churn"
            else sum(o["items"] for o in ops)) / spent_s
    contract = {"setup_s": (setup_s, "s"),
                "latency_p50_ms": (statistics.median(prim), "ms"),
                "throughput_per_s": (rate, "1/s"),
                "space_amp": (space, "ratio")}
    named = {"setup_s": (setup_s, "s"),
             "failed_ratio": (stats.failed_ratio(ops), "ratio"),
             "space_amp": (space, "ratio")}
    if workload == "ingest":
        named["chunks_per_s"] = (rate, "1/s")
    else:
        reads = ops_of(loop, {"read"})
        named["answer_p50_ms"] = (statistics.median(prim), "ms")
        named["answer_tail_ms"] = (tail_ms, f"ms@p{p:g}/n={len(prim)}")
        named["questions_per_s"] = (
            per(sum(o["items"] for o in reads), spent_s), "1/s")
    if workload == "churn":
        w = [o["ms"] for o in ops if o["kind"] in WRITES]
        wp, wt = stats.tail(w)
        named["write_p50_ms"] = (statistics.median(w), "ms")
        named["write_tail_ms"] = (wt, f"ms@p{wp:g}/n={len(w)}")
        named["ops_per_s"] = (rate, "1/s")
    return contract, named


def per_layer(workload, raw, spans, n_cores):
    """Per-layer metrics of the traced loop (the second loop)."""
    untraced, loop = raw["loops"][0], raw["loops"][1]
    ops = loop["ops"]
    by_req = {}
    for s in spans:
        by_req.setdefault(s["request"], []).append(s)

    def span_ms(op_index, name):
        return sum((s["end_ns"] - s["start_ns"]) / 1e6
                   for s in by_req.get(op_index, []) if s["name"] == name)

    def mean_span(kinds, name):
        idx = [i for i, o in enumerate(ops) if o["kind"] in kinds]
        return per(sum(span_ms(i, name) for i in idx), len(idx))

    def c(o, k):
        return o["counters"][k]

    builds = {"build"}
    reads = [o for o in ops if o["kind"] == "read"]
    writes = [o for o in ops if o["kind"] in WRITES]
    prim = [o for o in ops if o["kind"] == PRIMARY[workload]]
    ids = {s["id"]: s for s in spans}
    ivf_jobs = sum(1 for s in spans if s["name"] == "spark.job"
                   and ids.get(s["parent"], {}).get("name") == "sources.ensure_ivfpq")
    n_builds = sum(1 for o in ops if o["kind"] == "build")
    user_bytes = sum(o["user_bytes"] for o in writes)
    written = sum(c(o, "bytes_written") for o in writes)
    wall_ms = sum(o["ms"] for o in ops)
    untraced_p50 = statistics.median([o["ms"] for o in untraced["ops"]
                                 if o["kind"] == PRIMARY[workload]])
    traced_p50 = statistics.median([o["ms"] for o in prim])
    m = {
        "text.chunk_ms": (mean_span(builds, "text.chunk"), "ms"),
        "rag.embed_ms": (mean_span(builds, "rag.embed"), "ms"),
        "sources.ensure_sq8_ms": (mean_span(builds, "sources.ensure_sq8"), "ms"),
        "sources.ensure_postings_ms":
            (mean_span(builds, "sources.ensure_postings"), "ms"),
        "sources.ensure_ivfpq_ms": (mean_span(builds, "sources.ensure_ivfpq"), "ms"),
        "sources.ensure_ivfpq_jobs": (per(ivf_jobs, n_builds), "count"),
        "sources.upsert_ms": (mean_span({"upsert"}, "sources.upsert"), "ms"),
        "sources.delete_ms": (mean_span({"delete"}, "sources.delete"), "ms"),
        "sources.compact_ms": (mean_span({"compact"}, "sources.compact"), "ms"),
        "sources.jobs_per_write":
            (per(sum(c(o, "jobs") for o in writes), len(writes)), "count"),
        "sources.write_amp": (per(written, user_bytes), "ratio"),
        "sources.bytes_written": (per(written, len(writes)), "bytes"),
        "sources.files_written":
            (per(sum(o["files_written"] for o in writes), len(writes)), "count"),
        "sources.pending_deltas":
            (per(sum(o["pending_deltas"] for o in reads), len(reads)), "count"),
        "sources.tombstone_rows":
            (per(sum(o["tomb_rows"] for o in reads), len(reads)), "count"),
        "rag.call_ms": (mean_span({"read"}, "rag.call"), "ms"),
        "rag.exec_ms": (mean_span({"read"}, "rag.exec"), "ms"),
        "catalyst.analysis_ms":
            (per(sum(c(o, "analysis_ms") for o in prim), len(prim)), "ms"),
        "catalyst.optimization_ms":
            (per(sum(c(o, "optimization_ms") for o in prim), len(prim)), "ms"),
        "catalyst.planning_ms":
            (per(sum(c(o, "planning_ms") for o in prim), len(prim)), "ms"),
        "catalyst.codegen_compiles":
            (per(sum(c(o, "codegen_compiles") for o in prim), len(prim)), "count"),
        "catalyst.codegen_ms":
            (per(sum(c(o, "codegen_ns") for o in prim) / 1e6, len(prim)), "ms"),
        "spark.jobs_per_answer":
            (per(sum(c(o, "jobs") for o in reads), len(reads)), "count"),
        "spark.stages_per_answer":
            (per(sum(c(o, "stages") for o in reads), len(reads)), "count"),
        "spark.tasks_per_answer":
            (per(sum(c(o, "tasks") for o in reads), len(reads)), "count"),
        "spark.broadcasts_per_answer":
            (per(sum(c(o, "broadcasts") for o in reads), len(reads)), "count"),
        "spark.shuffle_bytes":
            (per(sum(c(o, "shuffle_bytes") for o in prim), len(prim)), "bytes"),
        "spark.task_busy_share":
            (per(sum(c(o, "exec_run_ms") for o in ops), wall_ms * n_cores), "ratio"),
        "functions.rows_scored_per_result":
            (per(sum(c(o, "rows_scored") for o in reads),
                 sum(o["rows_returned"] for o in reads)), "ratio"),
        "jvm.gc_ms": (per(sum(c(o, "gc_ms") for o in ops), len(ops)), "ms"),
        "trace.overhead_pct":
            (100.0 * (traced_p50 - untraced_p50) / untraced_p50, "%"),
    }
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # SIGTERM unwinds through subprocess.run, which kills the harness
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + RUN_TIMEOUT_S
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    classes, built = build.build(root, build_dir)
    if built:
        deadline = time.time() + RUN_TIMEOUT_S  # the first run may build
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    traces = os.path.join(build_dir, "traces")
    os.makedirs(traces, exist_ok=True)
    spans_out = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")
    try:
        t0 = time.perf_counter()
        inputs = gen.generate(a.workload, a.seed)
        text = gen.dumps(inputs)
        gen_s = time.perf_counter() - t0
        inputs_path = os.path.join(run_dir, "inputs.json")
        with open(inputs_path, "w") as fh:
            fh.write(text)
        raw = run_harness(classes, a.workload, inputs_path, run_dir, a.seconds,
                          a.trace, spans_out, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    props = dict(inputs["properties"], **raw["properties"],
                 warmup_calls=raw["setup"]["warmup_calls"])
    print("inputs " + json.dumps(props, sort_keys=True))
    bad = [c for c in raw["checks"] if not c["ok"]]
    for c in bad:
        print(f"check FAILED {c['name']}: {c['detail']}")
    print(f"checks {len(raw['checks']) - len(bad)} ok, {len(bad)} failed")
    measured = raw["loops"][1:] if a.trace else raw["loops"][:1]
    ops = [o for lp in measured for o in lp["ops"]]
    contract, named = end_to_end(a.workload, raw, gen_s)
    print("ops " + " ".join(f"{o['kind']}:{o['items']}:{o['ms']:.0f}"
                           for o in raw["loops"][0]["ops"]))
    print("end_to_end " + json.dumps(
        {k: f"{v:.6g} {u}" for k, (v, u) in named.items()}, sort_keys=True))
    if a.trace:
        with open(spans_out) as fh:
            spans = [json.loads(line) for line in fh if line.strip()]
        metrics = per_layer(a.workload, raw, spans, cores())
        traced, _ = end_to_end(a.workload, dict(raw, loops=raw["loops"][1:]), gen_s)
        print("trace_overhead " + json.dumps(
            {k: traced[k][0] - contract[k][0] for k in contract
             if k not in ("setup_s", "space_amp")}, sort_keys=True))
        n_ops = max(1, len(raw["loops"][1]["ops"]))
        print("self_ms_per_op " + json.dumps(
            {k: v / n_ops for k, v in stats.layer_self_ms(spans).items()},
            sort_keys=True))
        print(f"spans {spans_out}")
    else:
        metrics = contract
    print(json.dumps({
        "correct": not bad,
        "attempted": len(ops),
        "failed": sum(1 for o in ops if not o["ok"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RuntimeError, FileNotFoundError, OSError, ValueError,
            subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
