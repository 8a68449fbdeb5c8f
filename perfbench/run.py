#!/usr/bin/env python3
"""Seeded benchmark of the detanalysis Spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, starts one JVM with Spark on local[nproc], runs a
closed loop with one client and no think time, checks every output once
(untimed), and prints the metrics. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 prints the end-to-end metrics; --trace 1 runs a fixed number
of rounds under a SparkListener and prints the per-layer metrics, and
writes the spans to perfbench/.work/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("analysis_session", "curation_batch")
SIZES = {
    "analysis_session": {"events": 100_000},
    "curation_batch": {"base_docs": 50, "replicas": 4, "edit_share": 0.5},
}
GENERATIONS = 3  # inputs are generated this many times; the median counts
TIME_LIMIT_S = 175
LAYERS = ("core", "cuts", "stats", "traces", "vibration", "calib", "llm")
PIPELINES = ("suffix_dedup", "dup_spans", "decontaminate_spans", "c4_clean",
             "neardup_dedup", "minhash_neardup", "hits", "hybrid_rrf")
LAYER_METRICS = (
    ("calls", "count"), ("failed", "count"), ("busy_s", "s"), ("job_s", "s"),
    ("driver_s", "s"), ("jobs", "count"), ("stages", "count"),
    ("tasks", "count"), ("task_s", "s"), ("wait_s", "s"),
    ("utilization", "ratio"), ("input_mb", "MB"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("leaked_cache_blocks", "count"))
JVM_FLAGS = ["-Xmx3g"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class Fail(Exception):
    pass


def nproc():
    return len(os.sched_getaffinity(0))


def source_files():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith((".scala", ".java")):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build(log_dir):
    """Compile engine + harness when the sources changed; return the
    runtime classpath."""
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log = os.path.join(log_dir, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HERE, env, out, timeout=850)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise Fail(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    with open(cp_file) as fh:
        return fh.read()


def run_bounded(cmd, cwd, env, out, timeout):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise Fail(f"{cmd[0]} exceeded {timeout:.0f} s")


def generate(workload, seed, data_dir):
    times, tables, facts = [], None, None
    for _ in range(GENERATIONS):
        t0 = time.perf_counter()
        tables, facts = gen.tables_for(workload, seed, SIZES[workload])
        gen.write(tables, data_dir)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), gen.digest(tables), facts


def run_jvm(classpath, args, work, deadline):
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
              "perfbench.Main"] + args)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        rc = run_bounded(cmd, work, env, out, deadline - time.time())
    result = os.path.join(work, "out", "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise Fail(f"benchmark JVM exited with {rc}")
    with open(result) as fh:
        return json.load(fh)


def secs(c):
    return (c["end_ms"] - c["start_ms"]) / 1000.0


def round_s(res):
    """Mean wall time of one round. A run makes whole rounds until its
    time is up, so a faster engine may make more of them; per round, that
    reads as faster and never as more time."""
    rounds = [(r["end_ms"] - r["start_ms"]) / 1000.0 for r in res["rounds"]]
    return sum(rounds) / len(rounds)


def p90(sorted_values):
    """Nearest-rank 90th percentile: the same for a sample and for that
    sample repeated, so more rounds of equal calls do not move it."""
    if not sorted_values:
        return 0.0
    return sorted_values[math.ceil(0.9 * len(sorted_values)) - 1]


def end_to_end(res, gen_s, bad_ops):
    calls = res["calls"]
    ok = [c for c in calls if c["status"] == "ok" and c["op"] not in bad_ops]
    rounds = [(r["end_ms"] - r["start_ms"]) / 1000.0 for r in res["rounds"]]
    lat = sorted(secs(c) for c in ok)
    jvm = (res["first_timed_ms"] - res["launch_ms"]) / 1000.0
    setup = gen_s + jvm
    failed = len(calls) - len(ok)
    m = {
        "setup_s": (setup, "s"),
        "run_s": (round_s(res), "s"),
        "rows_per_s": (sum(c["rows_in"] for c in ok) / sum(rounds), "1/s"),
        "op_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "op_p90_s": (p90(lat), "s"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
        "ok_ops_ratio": (len(ok) / len(calls), "ratio"),
    }
    notes = {
        "setup_s": f"generate {gen_s:.3f} (median of {GENERATIONS}) + jvm launch to first call"
                   f" {jvm:.3f} (of which session start {res['session_start_s']:.3f},"
                   f" input warm-up {res['warmup_s']:.3f})",
        "run_s": f"wall time of one round, mean of {len(rounds)} rounds of"
                 f" {len(calls) // len(rounds)} calls",
        "rows_per_s": f"{sum(c['rows_in'] for c in ok)} input rows read by ok calls"
                      f" in {sum(rounds):.3f} s",
        "op_p50_s": f"{len(lat)} samples",
        "op_p90_s": f"{len(lat)} samples, {sum(1 for x in lat if x > m['op_p90_s'][0])} above p90",
        "peak_heap_mb": "driver heap in use after full GCs (lowest of six) at the end"
                        " of each round, before its caches are released; peak over the rounds",
        "ok_ops_ratio": f"1 - failed_ops_ratio; failed_ops_ratio = {failed}/{len(calls)}"
                        f" = {failed / len(calls):.4f}",
    }
    return m, notes, len(calls), failed


def per_layer(res, bad_ops, n_cpu):
    calls = res["calls"]
    m = {}
    for layer in LAYERS:
        cs = [c for c in calls if c["layer"] == layer]
        s = {k: sum(c.get(k, 0) for c in cs) for k in
             ("jobs", "stages", "tasks", "job_s", "task_s", "wait_s", "input_mb",
              "shuffle_write_mb", "spill_mb", "leaked_cache_blocks")}
        s["calls"] = len(cs)
        s["failed"] = sum(1 for c in cs if c["status"] != "ok" or c["op"] in bad_ops)
        s["busy_s"] = sum(secs(c) for c in cs)
        s["driver_s"] = s["busy_s"] - s["job_s"]
        s["utilization"] = s["task_s"] / (s["job_s"] * n_cpu) if s["job_s"] > 0 else 0.0
        for name, unit in LAYER_METRICS:
            m[f"{layer}.{name}"] = (s[name], unit)
    for p in PIPELINES:
        cs = [c for c in calls if c["op"] == f"llm_{p}"]
        m[f"llm.{p}.busy_s"] = (sum(secs(c) for c in cs), "s")
        m[f"llm.{p}.jobs"] = (sum(c.get("jobs", 0) for c in cs), "count")
    m["llm.neardup.verified_per_candidate"] = (
        res["waste_ratios"].get("llm.neardup.verified_per_candidate", 0.0), "ratio")
    return m


def compare_counts(path, m):
    """Print every call/job/stage count that differs from the previous
    traced run of the same workload and seed, then record these."""
    counts = {k: v for k, (v, _) in m.items()
              if k.endswith((".calls", ".jobs", ".stages"))}
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        diff = [k for k in counts if prev.get(k) != counts[k]]
        for k in diff:
            print(f"count differs from the previous traced run: {k} {prev.get(k)} -> {counts[k]}")
        if not diff:
            print("calls, jobs and stages equal the previous traced run of this seed")
    with open(path, "w") as fh:
        json.dump(counts, fh)


def main():
    launch = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-op", help="make every call of this op throw (harness self-test)")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        print("perfbench: the engine sources (src/main/scala/graft) are not beside "
              "perfbench/; run from the root of a source checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(HERE, ".work", "traces")
    os.makedirs(work)
    os.makedirs(traces, exist_ok=True)
    try:
        t0 = time.time()
        classpath = build(work)
        deadline = launch + TIME_LIMIT_S + (time.time() - t0)
        data = os.path.join(work, "data")
        out = os.path.join(work, "out")
        os.makedirs(out)
        gen_s, digest, facts = generate(a.workload, a.seed, data)
        n_cpu = nproc()
        rows = {"events": facts.get("events", 0), "documents": facts.get("documents", 0)}
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--out", out, "--nproc", str(n_cpu),
                "--launch-ms", str(int(time.time() * 1000)),
                "--rows", ",".join(f"{k}={v}" for k, v in rows.items())]
        if a.fail_op:
            args += ["--fail-op", a.fail_op]
        res = run_jvm(classpath, args, work, deadline)

        t_checks = time.time()
        problems = check.oracle_checks(data, os.path.join(out, "ref"), res["oracle_sql"],
                                       sorted({c["op"] for c in res["calls"]}), n_cpu,
                                       os.path.join(work, "tmp"))
        bad_ops = {op for op, p in problems.items() if p}

        print(f"workload={a.workload} seed={a.seed} loop=closed clients=1 think_time=0 "
              f"spark=local[{n_cpu}] shuffle_partitions={n_cpu}")
        print("input " + json.dumps(facts) + f" digest={digest}")
        for op, p in sorted(problems.items()):
            if p:
                print(f"check FAILED {op}: {'; '.join(p)}")
        print(f"checks: {len(problems) - len(bad_ops)}/{len(problems)} ops pass"
              f" ({time.time() - t_checks:.1f} s, untimed)")
        if a.trace:
            metrics = per_layer(res, bad_ops, n_cpu)
            attempted = len(res["calls"])
            failed = sum(1 for c in res["calls"] if c["status"] != "ok" or c["op"] in bad_ops)
            name = f"{a.workload}-seed{a.seed}"
            shutil.copy(os.path.join(out, "spans.json"), os.path.join(traces, f"{name}.spans.json"))
            print(f"spans: perfbench/.work/traces/{name}.spans.json")
            compare_counts(os.path.join(traces, f"{name}.counts.json"), metrics)
            traced_s = round_s(res)
            untraced = os.path.join(traces, f"{name}.untraced_run_s")
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    u = float(fh.read())
                print(f"tracing overhead: traced run_s {traced_s:.3f} - untraced run_s {u:.3f}"
                      f" (last untraced run of this seed) = {traced_s - u:.3f} s")
            else:
                print(f"traced run_s {traced_s:.3f}; no untraced run of this seed recorded"
                      " to give the tracing overhead")
            for k, (v, unit) in metrics.items():
                print(f"  {k:<40} {v:>14.4f} {unit}")
        else:
            metrics, notes, attempted, failed = end_to_end(res, gen_s, bad_ops)
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.untraced_run_s"), "w") as fh:
                fh.write(repr(metrics["run_s"][0]))
            for k, (v, unit) in metrics.items():
                print(f"  {k:<14} {v:>14.4f} {unit:<6} {notes[k]}")
        errors = sorted({(c["op"], c["error"]) for c in res["calls"] if c["status"] != "ok"})
        for op, err in errors[:10]:
            print(f"call failed: {op}: {err[:300]}")
        print(json.dumps({
            "correct": not bad_ops and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    except Fail as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
