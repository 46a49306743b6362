"""Benchmark of the graft engine: seeded workloads timed end to end.

    python3 perfbench/run.py --workload pipeline-cold --seed 1 \
        --seconds 10 --trace 0

Builds the engine and the harness from the checkout's sources
(`build.py`), generates the seed's corpus (`gen.py`), runs the workload
in a fresh JVM (`graftbench.Main`), checks the outputs (`check.py`) and
prints every metric by name and unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the run is made
twice, untraced and then traced, and the metrics are the per-layer
ones plus the tracing overhead.

Every run is appended to .perfbench_work/runs.jsonl with its host
window probes, so no run is dropped silently.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("pipeline-cold", "analyst-warm", "stream-ingest")
SF = 0.001
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "latency_p50_s": "s",
    "latency_tail_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}

# additive per-layer totals are reported per timed pass
PER_LAYER = {
    "ops.build_s": "s", "ops.inner_actions": "count",
    "ops.inner_action_s": "s",
    "scratchindex.builds": "count", "scratchindex.build_mb": "MB",
    "scratchindex.build_call_s": "s", "scratchindex.reads": "count",
    "scratchindex.hit_ratio": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.plans": "count",
    "codegen.compile_s": "s", "codegen.compiles": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.task_run_s": "s",
    "exec.task_gc_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "sources.scan_mb": "MB", "sources.scan_rows": "count",
    "sources.files": "count",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.batch_p50_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.state_rows_peak": "count", "streaming.state_commit_ms": "ms",
    "streaming.state_mb_peak": "MB",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.heap_peak_mb": "MB",
    "session.leaked_views": "count", "session.conf_drift": "count",
    "session.cached_relations": "count",
    "host.cpu_par_x": "x", "host.io_mbps": "MB/s", "host.scan_mbps": "MB/s",
    "host.degraded": "flag", "trace.overhead_x": "x", "scratch_mb": "MB",
}
SPANS = ("query", "ops.build", "ops.inner_action", "scratchindex.build",
         "catalyst.analysis", "catalyst.optimization", "catalyst.planning",
         "exec", "exec.noop_write", "exec.job", "exec.stage",
         "streaming.batch")
PER_LAYER.update({f"span.{n}.self_s": "s" for n in SPANS})
NOT_PER_PASS = {
    "scratchindex.hit_ratio", "streaming.batch_p50_ms",
    "streaming.state_rows_peak", "streaming.state_mb_peak",
    "jvm.heap_peak_mb", "session.leaked_views", "session.conf_drift",
    "session.cached_relations", "scratch_mb",
}

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, workload, data, seed, seconds, trace, work, deadline):
    """Runs one harness session; returns its result record."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch", "out"):
        os.makedirs(os.path.join(work, d))
    result = os.path.join(work, "result.json")
    # a fixed, pre-touched heap: peak RSS then measures heap size plus
    # native growth (code cache, metaspace, direct and native buffers)
    # rather than when the collector happened to grow the heap
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-Xss8m",
            f"-Djava.io.tmpdir={work}/tmp"]
           + ADD_OPENS
           + ["-cp", classes + os.pathsep + build.spark_classpath(),
              "graftbench.Main", workload, data, str(seed), str(seconds),
              str(trace), work, result])
    # spark.local.dir must come from the session (scratch root), as in
    # graft.Bench; SPARK_LOCAL_DIRS would override it
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["GRAFT_SCRATCH_DIR"] = os.path.join(work, "scratch")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=work)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"{workload}: harness JVM timed out ({log_path})")
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"{workload}: harness JVM failed "
                         f"(exit {proc.returncode}):\n{tail}")
    shutil.copy(log_path, os.path.join(os.path.dirname(work), "last-jvm.log"))
    with open(result) as fh:
        return json.load(fh)


def tail_percentile(times):
    """Highest percentile with at least k samples beyond it, where k is
    10, or a quarter of the samples when there are fewer than 40 (ten
    beyond would put the tail of a short pass below its median).
    Returns (value, percentile, sample count)."""
    xs = sorted(times)
    n = len(xs)
    k = min(10, -(-n // 4))
    return xs[n - 1 - k], 100.0 * (n - k) / n, n


def failures(res, bad_outputs):
    """Failed query executions: errors, dropped operators, bad outputs."""
    last = res["passes"]
    out = []
    for q in res["queries"]:
        why = q["error"] or ("dropped " + ",".join(q["dropped"])
                             if q["dropped"] else None)
        if why is None and q["pass"] == last and q["name"] in bad_outputs:
            why = bad_outputs[q["name"]]
        if why:
            out.append((q["name"], q["pass"], why))
    return out


def degraded(host, cpus):
    return host["cpu_par_x"] < 0.6 * cpus or host["io_mbps"] < 60.0


def end_to_end(res):
    times = [q["build_s"] + q["exec_s"] for q in res["queries"]
             if q["error"] is None]
    tail, pct, n = tail_percentile(times or [0.0])
    return {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(res["pass_wall_s"]),
        "latency_p50_s": statistics.median(times or [0.0]),
        "latency_tail_s": tail,
        "cpu_s": statistics.median(res["pass_cpu_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }, f"p{pct:.0f} of {n} query runs"


def per_layer(res, untraced_wall):
    layers = res["layers"]
    m = {}
    for k in PER_LAYER:
        v = float(layers.get(k, 0.0))
        m[k] = v if k in NOT_PER_PASS else v / res["passes"]
    hosts = (res["host_pre"], res["host_post"])
    m["host.cpu_par_x"] = min(h["cpu_par_x"] for h in hosts)
    m["host.io_mbps"] = min(h["io_mbps"] for h in hosts)
    m["host.scan_mbps"] = min(h["scan_mbps"] for h in hosts)
    m["host.degraded"] = float(any(degraded(h, res["cpus"]) for h in hosts))
    wall = statistics.median(res["pass_wall_s"])
    m["trace.overhead_x"] = wall / untraced_wall if untraced_wall else 0.0
    m["scratch_mb"] = res["scratch_mb"]
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S

    classes = build.build()
    state = os.path.join(ROOT, ".perfbench_work")
    with open(gen.__file__, "rb") as fh:
        gen_tag = hashlib.sha256(fh.read()).hexdigest()[:8]
    data = gen.generate(os.path.join(
        state, "data", f"sf{SF}-seed{a.seed}-{gen_tag}"), a.seed, SF)
    work = os.path.join(state, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    untraced = None
    if a.trace:
        untraced = run_jvm(classes, a.workload, data, a.seed, a.seconds, 0,
                           work, deadline)
    res = run_jvm(classes, a.workload, data, a.seed, a.seconds, a.trace,
                  work, deadline)

    ok_names = sorted({q["name"] for q in res["queries"]
                       if q["pass"] == res["passes"] and q["error"] is None})
    bad = dict(res["dump_errors"])
    bad.update(check.check(data, os.path.join(work, "out"),
                           [n for n in ok_names if n not in bad]))
    failed = failures(res, bad)
    attempted = len(res["queries"])
    warmup_errors = res["warmup_errors"]
    if untraced:  # the reference run's query runs count too
        failed += failures(untraced, {})
        attempted += len(untraced["queries"])
        warmup_errors += untraced["warmup_errors"]
    correct = not failed and not warmup_errors

    e2e, tail_note = end_to_end(res)
    if a.trace:
        metrics = per_layer(res, statistics.median(untraced["pass_wall_s"]))
        units = PER_LAYER
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        spans = f"spans-{a.workload}-{a.seed}.jsonl"
        shutil.copy(os.path.join(work, spans),
                    os.path.join(state, "traces", spans))
    else:
        metrics, units = e2e, END_TO_END
    shutil.rmtree(work, ignore_errors=True)

    record = {"time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workload": a.workload, "seed": a.seed, "trace": a.trace,
              "passes": res["passes"], "host_pre": res["host_pre"],
              "host_post": res["host_post"],
              "degraded": any(degraded(h, res["cpus"])
                              for h in (res["host_pre"], res["host_post"])),
              "attempted": attempted, "failed": len(failed),
              "end_to_end": e2e, "metrics": metrics,
              "queries": [[q["name"], q["pass"], q["build_s"], q["exec_s"]]
                          for q in res["queries"]]}
    with open(os.path.join(state, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")

    print(f"# {a.workload} seed={a.seed} passes={res['passes']} "
          f"queries/pass={len(ok_names)} sf={SF} cpus={res['cpus']}")
    for name, p, why in failed:
        print(f"# FAILED {name} (pass {p}): {why}")
    for err in warmup_errors:
        print(f"# FAILED in warm-up: {err}")
    print(f"# fail_ratio {len(failed) / attempted:.4f} "
          f"({len(failed)} of {attempted} query runs)")
    for when in ("pre", "post"):
        h = res[f"host_{when}"]
        print(f"# host {when}: cpu_par_x {h['cpu_par_x']:.2f} "
              f"io_mbps {h['io_mbps']:.0f} scan_mbps {h['scan_mbps']:.0f}"
              + (" DEGRADED" if degraded(h, res["cpus"]) else ""))
    for k, v in metrics.items():
        note = f"  ({tail_note})" if k == "latency_tail_s" else ""
        print(f"{k:32s} {v:14.6f} {units[k]}{note}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
