#!/usr/bin/env python3
"""graft's benchmark: one command per run, from the root of a checkout.

    python3 graftbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Builds the library and the harness from source (sbt, offline; skipped
when the sources have not changed), then starts one fresh JVM with
`local[<nproc - 1>]` and the library's own `graft.Session.local`:

  * the seed's sf0.1 corpus is generated with the in-tree
    `graft.tools.GenData` before anything is timed (and outside setup_s);
  * the workload's pass (workloads.json `pass`: a stratified sample of
    its `members`, drawn from measured per-query times by
    select_pass.py) runs closed loop, one query at a time, each exactly
    as graft.Bench runs it; a workload with a `stream` entry also drains
    the streaming ingest path once per pass. The first pass is reported
    alone, then steady passes repeat until --seconds have passed and at
    least three have run;
  * the outputs are checked: after the timed passes an untimed check
    pass writes each query's result, which the unmodified tools/check.py
    compares with its registry DuckDB oracle while the JVM winds down;
    each stream drain's final sink state is compared with `Upsert.batch`.

--trace 0 measures the end-to-end metrics with no listener attached.
--trace 1 attaches the tracer (spans and per-layer counters) on alternate
passes, reports the per-layer metrics and the tracing overhead, runs the
stream's open loop (event lag at a fixed slice rate), and writes spans
plus a self-time summary under .graftbench/traces/.

Report lines come first; the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end_to_end metrics of
BENCHMARK.json with --trace 0, its per_layer metrics with --trace 1).
Each run works in its own directory under .graftbench/runs/ (its own
java.io.tmpdir and spark.local.dir), removed when the run ends.

`cd graftbench && sbt test` runs the benchmark's own checks: every bench
query belongs to exactly one workload, each pass query has an oracle, and
every metric name is one the harness reports.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".graftbench")
DEADLINE_S = 175
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
# Every end-to-end number a user sees, printed when the workload has it,
# including those BENCHMARK.json cannot gate on: failed_frac is 0 on a
# healthy run, the stream's drain rate exists only where a workload runs
# the stream, and its event lag only in the traced run's open loop.
REPORT = ["setup_s", "first_pass_s", "pass_s", "query_p50_s", "query_p90_s",
          "failed_frac", "heap_live_mb", "event_lag_p50_ms", "event_lag_p99_ms",
          "drain_events_per_s"]
EXTRA_UNITS = {"event_lag_p50_ms": "ms", "event_lag_p99_ms": "ms",
               "drain_events_per_s": "events/s"}


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles library + harness; returns the runtime classpath."""
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "graftbench.stamp")
    digest = sources_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as f:
                    return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    with open(cp_file) as f:
        return f.read().strip()


def heap_gb():
    """About 7 GB, or half the machine when it has less than 14."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(re.search(r"MemTotal:\s+(\d+)", fh.read()).group(1))
        return max(2, min(7, kb // (2 * 1024 * 1024)))
    except (OSError, AttributeError):
        return 4


def git_commit():
    """HEAD of the checkout, when the checkout itself is a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
        return out[1]
    return "unknown"


def start_check(corpus, check_dir, procs=3):
    """Starts tools/check.py over the check pass's outputs.

    The queries (the keys of the pass's oracle_sql.json) are split among a
    few check.py processes that run side by side; the check is untimed,
    so this only shortens the run. Returns (queries, process) pairs.
    """
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        names = sorted(json.load(fh))
    groups = [names[i::procs] for i in range(min(procs, len(names)))]
    return [(g, subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), corpus, check_dir] + g,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        stdin=subprocess.DEVNULL)) for g in groups]


def collect_check(running, deadline):
    """Waits for the check.py processes: (name, reason) of each failure."""
    failed = []
    for g, proc in running:
        try:
            out, err = proc.communicate(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            failed += [(n, "check.py did not finish in time") for n in g]
            continue
        lines = out.splitlines()
        passed = {m.group(1) for m in (re.match(r"PASS (\S+)", l) for l in lines) if m}
        for i, l in enumerate(lines):
            m = re.match(r"FAIL (\S+): (.*)", l)
            if m:
                detail = lines[i + 1].strip() \
                    if i + 1 < len(lines) and lines[i + 1].startswith("   ") else ""
                failed.append((m.group(1), (m.group(2) + " " + detail).strip()))
        seen = passed | {n for n, _ in failed}
        for n in g:
            if n not in seen:
                failed.append((n, f"check.py gave no verdict (exit {proc.returncode}): "
                                  f"{err.strip().splitlines()[-1:] or ''}"))
    return failed


def main():
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_json) as fh:
        bench = json.load(fh)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload}")
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check.py", "build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a full checkout of the repository")

    classpath = build()
    # the deadline counts from here: a build is allowed its own time
    t_built = time.monotonic()

    run_dir = os.path.join(STATE, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, d))
    work = os.path.join(run_dir, "work")
    check_dir = os.path.join(work, "check")
    # Spark's task slots: one fewer than the cores the run may use. The
    # JIT compiler threads, which keep compiling the code Spark generates
    # for each query through every pass, and the driver thread need a
    # core; with a task thread on every core they oversubscribe the
    # machine and the timings follow the scheduler.
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    out = os.path.join(run_dir, "result.json")
    cmd = [java, f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--spec", os.path.join(BENCH, "workloads.json"),
            "--work", work, "--out", out,
            "--trace-dir", os.path.join(STATE, "traces"),
            "--cores", str(cores), "--python", sys.executable,
            "--flatten", os.path.join(BENCH, "flatten.py")]

    proc = None
    checks = None

    def stop(*_):
        raise SystemExit(143)

    signal.signal(signal.SIGTERM, stop)
    log_path = os.path.join(run_dir, "jvm.log")
    deadline = t_built + DEADLINE_S - 5
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            # the oracle check starts as soon as the harness has written the
            # check pass (after its last timed step), beside the harness's
            # untimed wind-down
            while proc.poll() is None and time.monotonic() < deadline - 15:
                if checks is None and os.path.isfile(os.path.join(check_dir, "oracle_sql.json")):
                    t_check = time.monotonic()
                    checks = start_check(os.path.join(work, "corpus"), check_dir)
                time.sleep(0.1)
            rc = proc.poll()
        t_jvm = time.monotonic() - t_built
        if rc != 0 or not os.path.isfile(out):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail("harness " + ("timed out" if rc is None else f"exited {rc}"), 4)
        with open(out) as fh:
            res = json.load(fh)

        failures = list(res["failures"])
        if checks is None and res["check"]["queries"]:
            t_check = time.monotonic()
            checks = start_check(os.path.join(work, "corpus"), check_dir)
        for name, why in collect_check(checks or [], deadline):
            failures.append({"name": name, "phase": "oracle check", "reason": why})
        t_check = time.monotonic() - t_check if checks else 0.0
        attempted = int(res["attempted"])
        failed = len({f["name"] for f in failures})
        e2e = dict(res["e2e"])
        rep = res["report"]
        e2e["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
        for name, unit in EXTRA_UNITS.items():
            if name in rep:
                e2e[name] = {"value": rep[name], "unit": unit}

        tag = f"[{args.workload} seed={args.seed} trace={args.trace}]"
        for name in REPORT:
            if name in e2e:
                m = e2e[name]
                print(f"{tag} {name} = {m['value']:.6g} {m['unit']}")
        print(f"{tag} wall: total {time.monotonic() - t_start:.1f} s, build "
              f"{t_built - t_start:.1f} s, harness {t_jvm:.1f} s (corpus generation "
              f"{rep['corpus_s']:.1f} s, check pass {rep['check_pass_s']:.1f} s), oracle check "
              f"{t_check:.1f} s")
        print(f"{tag} query samples = {rep['query_samples']} over "
              f"{len(rep['queries'])} queries: " + ", ".join(
                  f"{q} {t:.3f}s" for q, t in sorted(rep["per_query_s"].items())))
        print(f"{tag} first pass: " + ", ".join(
            f"{q} {t:.3f}s" for q, t in sorted(rep["first_pass_query_s"].items())))
        print(f"{tag} passes: " + ", ".join(
            f"{p['s']:.3f}s" + (" traced" if p["traced"] else "") for p in rep["passes_s"])
            + f" (waited {rep['jit_wait_s']:.1f} s for the JIT around the first)")
        for f in failures:
            print(f"{tag} FAILED {f['name']} ({f['phase']}): {f['reason']}")
        env = rep["env"]
        print(f"{tag} env commit={git_commit()} nproc={env['nproc']} cores={env['cores']} "
              f"heap_max_mb={env['heap_max_mb']:.0f} "
              f"contended={env['contended']} fingerprint={json.dumps(env['fingerprint'])} "
              f"scratch_entries_at_start={env['scratch_entries_at_start']}")
        if args.trace:
            for k, v in sorted(res["layer"].items()):
                print(f"{tag} {k} = {v['value']:.6g} {v['unit']}")
            for k, v in sorted(rep.get("streaming_layers", {}).items()):
                print(f"{tag} {k} = {v:.6g}")
            print(f"{tag} tracing overhead (traced - untraced steady pass) = "
                  f"{rep['tracing_overhead_s']:.4f} s")
            print(f"{tag} spans and self-time summary in "
                  f"{os.path.relpath(os.path.join(STATE, 'traces'), ROOT)}/")

        section = "per_layer" if args.trace else "end_to_end"
        source = res["layer"] if args.trace else e2e
        metrics = {}
        for m in bench[section]:
            v = source.get(m["name"])
            if v is None or not math.isfinite(v["value"]):
                fail(f"metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        for p in [proc] + [c for _, c in checks or []]:
            if p is not None and p.poll() is None:
                p.kill()
                p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
