#!/usr/bin/env python3
"""Layered benchmark for the graft Spark engine.

    python3 perfbench/run.py --workload geo_report --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It builds the engine together with the
harness in perfbench/jvm (sbt, offline; skipped while the sources are
unchanged), generates the workload's inputs from the seed, and runs one
benchmark JVM: session set-up, three untimed warm-up passes (the first also
checks correctness), then whole timed passes for --seconds (at least five).
With --trace 1 a second JVM times the kernels afterwards.
Oracle queries are compared against DuckDB with tools/crosscheck.py; every
other query must give the same all-column checksum on every pass.

The last line of standard output is one JSON object with keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Everything the run writes stays under
.perfbench/ in the checkout; only the latest run's outputs and JVM log per
workload are kept.
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
JVM = os.path.join(HERE, "jvm")
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(HERE, "workloads.json")) as f:
    WORKLOADS = json.load(f)

END_TO_END = [("pass_s", "s"), ("cpu_s", "s"), ("query_cpu_s.p50", "s"), ("query_cpu_s.p90", "s"),
              ("setup_s", "s"), ("peak_rss_mb", "MB")]
MODULES = ["ops.Spatial", "sources.GeoTiff", "llm.Dedup", "streaming.Streams", "ops.Ingest"]
PER_LAYER = ([
    ("builder_s", "s"), ("action_s", "s"), ("actions_per_query", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_run_s", "s"),
    ("task_cpu_s", "s"), ("gc_s", "s"), ("tasks_failed", "count"),
    ("core_busy_frac", "ratio"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("shuffle_fetch_wait_s", "s"),
    ("spill_mb", "MB"), ("peak_exec_mem_mb", "MB"),
    ("input_mb", "MB"), ("input_rows", "count"), ("output_mb", "MB"),
    ("output_rows", "count"), ("write_amp", "ratio"),
    ("batches", "count"), ("batch.add_s", "s"), ("batch.wal_s", "s"), ("batch.plan_s", "s"),
    ("state_rows", "count"), ("state_commit_s", "s"),
    ("batch_s.p50", "s"), ("batch_s.p90", "s"),
    ("kernel.wkb_parse_ns", "ns"), ("kernel.pip_ns", "ns"), ("kernel.area_ns", "ns"),
    ("kernel.crs_ns", "ns"), ("kernel.minhash_us_per_doc", "us"),
    ("kernel.simhash_us_per_doc", "us"), ("kernel.winnow_ns", "ns"), ("kernel.jw_ns", "ns"),
    ("kernel.pq_encode_ns", "ns"),
    ("setup.session_s", "s"), ("setup.warmup_s", "s"),
    ("traced_pass_s", "s"), ("untraced_pass_s", "s"), ("trace_overhead_s", "s"),
    ("trace_overhead_min_s", "s"), ("trace_overhead_max_s", "s")]
    + [(f"module.{m}.s", "s") for m in MODULES])

HEAP = "2g"
YOUNG = "512m"
RUN_LIMIT_S = 170
ORDER_PASSES = 256


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(JVM, "src")]
    files = [os.path.join(JVM, "build.sbt"), os.path.join(JVM, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def tree_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile engine + harness once per source tree; returns the classpath."""
    stamp = os.path.join(JVM, "target", "perfbench.stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest and all(os.path.exists(p) for p in s["classpath"][:1]):
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=JVM, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "target" in ln and ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        die(f"build failed (see {log})")
    classpath = cp[-1].strip().split(os.pathsep)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(classpath, run_dir, args, c1=True):
    # Passes run under C1 alone (c1=True). The engine compiles new code
    # every pass (codegen classes), so under tiered C2 the JIT took about
    # half of each pass's CPU even after ten passes, and pass CPU spread
    # 17-24% between runs of one seed on a 4-core VM against about 10% with
    # C1. The kernel timings get a tiered JVM (c1=False) of their own, so
    # C2-only effects (loop optimisation, vectorisation, escape analysis)
    # show there. Fixed heap and young generation: G1's adaptive sizing
    # otherwise makes peak RSS depend on when it chose to grow.
    cmd = ["java"] + (["-XX:TieredStopAtLevel=1"] if c1 else []) + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args


def run_jvm(cmd, run_dir, timeout, log_name="jvm.log"):
    # two malloc arenas: glibc's default of 8 per core makes the JVM's
    # native footprint, and so peak RSS, vary from run to run
    env = dict(os.environ, GRAFT_ARTIFACTS=os.path.join(run_dir, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"), MALLOC_ARENA_MAX="2")
    for d in ("tmp", "local", "artifacts"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    with open(os.path.join(run_dir, log_name), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields[:8])
    except (OSError, ValueError, IndexError):
        return None


def crosscheck(data_dir, verify_dir, report, timeout):
    """tools/crosscheck.py on the warm-up pass's oracle dumps; returns
    {query: error or None}."""
    if not os.path.exists(os.path.join(verify_dir, "oracle_sql.json")):
        return {}
    try:
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "crosscheck.py"),
                        data_dir, verify_dir, report], cwd=ROOT, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL, timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        names = json.load(f).keys()
    rep = {}
    if os.path.exists(report):
        with open(report) as f:
            rep = json.load(f)
    return {q: (None if rep.get(q, {}).get("hash_match") else
                (rep.get(q, {}).get("err") or "no crosscheck verdict")) for q in names}


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    if not os.path.exists(os.path.join(ROOT, "tools", "crosscheck.py")):
        die("tools/crosscheck.py missing: run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    digest = tree_digest()
    classpath = build(digest)

    t_start = time.monotonic()
    wl = WORKLOADS[a.workload]
    sf, copies = wl["sf"], wl["copies"]
    run_dir = os.path.join(WORK, f"{a.workload}.trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data", f"sf{sf * copies:g}")
    gen.generate(a.seed, data_dir, sf, copies)
    orders = os.path.join(run_dir, "orders.txt")
    with open(orders, "w") as f:
        for k in range(ORDER_PASSES):
            f.write(",".join(gen.query_order(wl["queries"], a.seed, k)) + "\n")
    cores = os.cpu_count() or 1
    out_dir = os.path.join(run_dir, "out")
    cmd = java_cmd(classpath, run_dir, [
        "mode=run", f"data={data_dir}", f"out={out_dir}", f"orders={orders}",
        f"seconds={a.seconds}", f"trace={a.trace}", f"seed={a.seed}", f"cores={cores}"])
    try:
        t_jvm = time.monotonic()
        ticks0 = cpu_ticks()
        rc = run_jvm(cmd, run_dir, RUN_LIMIT_S - (t_jvm - t_start) - 25)
        ticks1 = cpu_ticks()
        t_after = time.monotonic()
        result_path = os.path.join(out_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            die(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'} "
                f"(see {run_dir}/jvm.log)")
        with open(result_path) as f:
            r = json.load(f)
        if a.trace:
            kcmd = java_cmd(classpath, run_dir, ["mode=kernels", f"data={data_dir}",
                                                 f"out={out_dir}", f"seed={a.seed}",
                                                 f"cores={cores}"], c1=False)
            krc = run_jvm(kcmd, run_dir, RUN_LIMIT_S - (time.monotonic() - t_start) - 15,
                          "kernels.log")
            kpath = os.path.join(out_dir, "kernels.json")
            if krc != 0 or not os.path.exists(kpath):
                die(f"kernel JVM {'timed out' if krc is None else f'exited {krc}'} "
                    f"(see {run_dir}/kernels.log)")
            with open(kpath) as f:
                r["per_layer"].update(json.load(f))
        checks = crosscheck(data_dir, os.path.join(out_dir, "verify"),
                            os.path.join(out_dir, "crosscheck.json"),
                            max(5, RUN_LIMIT_S - (time.monotonic() - t_start)))
    finally:
        # keep only the run's outputs and log: data, scratch, artifacts and
        # the oracle dumps go
        for name in os.listdir(run_dir):
            if name not in ("out", "jvm.log", "kernels.log"):
                p = os.path.join(run_dir, name)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
        shutil.rmtree(os.path.join(out_dir, "verify"), ignore_errors=True)
    t_end = time.monotonic()
    failures = [(x["where"], x["query"], x["error"]) for x in r["failures"]]
    failures += [("oracle", q, e) for q, e in sorted(checks.items()) if e]
    attempted = r["attempted"]
    failed = len(failures)
    plain = [p for p in r["passes"] if not p["traced"]]
    untraced = {p["pass"] for p in plain}
    samples = [s for s in r["samples"] if s["pass"] in untraced]
    correct = failed == 0 and bool(samples)

    stamp = {"workload": a.workload, "seed": a.seed, "commit": commit(), "tree": digest[:12],
             "nproc": cores, "heap": HEAP, "sf": sf, "copies": copies,
             "spark": r["spark_version"], "passes": len(r["passes"]),
             "query_samples": len(samples), "oracle_checked": len(checks)}
    print("# perfbench " + " ".join(f"{k}={v}" for k, v in stamp.items()))
    print(f"# run phases: inputs {t_jvm - t_start:.1f} s, benchmark JVM {t_after - t_jvm:.1f} s, "
          f"{'kernel JVM and ' if a.trace else ''}oracle check {t_end - t_after:.1f} s")
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests while the JVM ran:
        # on a shared host it, not the code, explains most run-to-run spread
        print(f"# host steal during the JVM: "
              f"{100 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.1f}% of CPU time")
    for where, q, err in failures:
        print(f"# FAILED [{where}] {q}: {err}")

    if a.trace:
        layer = r["per_layer"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        with open(os.path.join(out_dir, "metrics.json"), "w") as f:
            json.dump({"stamp": stamp, "per_layer": layer}, f, indent=1, sort_keys=True)
        lo, hi = layer["trace_overhead_min_s"], layer["trace_overhead_max_s"]
        pairs = (f"{layer['trace_overhead_pairs']:.0f} traced passes, each minus the mean of "
                 f"its untraced neighbours: {lo:+.4f} to {hi:+.4f} s")
        if lo > 0:
            print(f"# tracing overhead: {layer['trace_overhead_s']:+.4f} s per "
                  f"{layer['untraced_pass_s']:.4f} s pass, the median of {pairs}")
        else:
            print(f"# tracing overhead: not resolved ({pairs}); the listeners cost less "
                  f"than the drift between passes")
    else:
        # pass_s is the fastest timed pass: steal bursts on a shared host
        # slow some passes, not all, and only ever add time. CPU figures
        # are medians; per query, the median over the timed passes, then
        # the percentile across the workload's queries.
        wall, cpu = {}, {}
        for s in samples:
            wall.setdefault(s["query"], []).append(s["builder_s"] + s["action_s"])
            cpu.setdefault(s["query"], []).append(s["cpu_s"])
        # with no sample at all (every execution failed) correct is false
        # and the figures still print
        qw = [statistics.median(v) for v in wall.values()] or [0.0]
        qc = [statistics.median(v) for v in cpu.values()] or [0.0]
        batch = r["batch_s"]
        e2e = {"pass_s": min(p["wall_s"] for p in plain),
               "cpu_s": statistics.median(p["cpu_s"] for p in plain),
               "query_cpu_s.p50": statistics.median(qc), "query_cpu_s.p90": pct(qc, 0.9),
               "setup_s": r["setup_s"], "peak_rss_mb": r["peak_rss_mb"]}
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        extra = {"query_s.p50": statistics.median(qw), "query_s.p90": pct(qw, 0.9),
                 "failed_frac": failed / max(1, attempted)}
        if batch:
            extra.update({"batch_s.p50": statistics.median(batch), "batch_s.p90": pct(batch, 0.9)})
        for n, m in metrics.items():
            print(f"# {n:<16} {m['value']:.4f} {m['unit']}")
        for n in ("query_s.p50", "query_s.p90"):
            print(f"# {n:<16} {extra[n]:.4f} s (wall, not gated)")
        print(f"# {'failed_frac':<16} {extra['failed_frac']:.4f} ratio "
              f"({failed} of {attempted} query executions)")
        if batch:
            print(f"# {'batch_s.p50':<16} {extra['batch_s.p50']:.4f} s  "
                  f"batch_s.p90 {extra['batch_s.p90']:.4f} s ({len(batch)} micro-batches)")
        with open(os.path.join(out_dir, "metrics.json"), "w") as f:
            json.dump({"stamp": stamp, "end_to_end": {**e2e, **extra}}, f, indent=1, sort_keys=True)

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def commit():
    """HEAD of the checkout, or "-" outside a git work tree; the `tree`
    digest of the compiled sources identifies the code either way."""
    try:
        out = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "-"


if __name__ == "__main__":
    main()
