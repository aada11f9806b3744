#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads, one JSON result line.

    python3 perfbench/run.py --workload <batch_10x|serve_mix|refresh_ticks>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program and the
harness (``perfbench/harness``, an sbt build that depends on the repo
root) unless the build stamp is current, generates the workload's inputs
from ``--seed``, runs the harness JVM, checks every output outside the
timed region, and prints a human report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. See
``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # importing tools/check.py must not write into the repo

WORKLOADS = ("batch_10x", "serve_mix", "refresh_ticks")
LIMIT_S = 170          # a run must end within 180 s; keep a margin
BUILD_LIMIT_S = 850    # the first run of a checkout may take 900 s
TICK_S = 7.0           # warm tick length on a 4-core box, sets the tick count
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
LISTENERS = ["-Dspark.extraListeners=perfbench.JobListener",
             "-Dspark.sql.queryExecutionListeners=perfbench.QeListener",
             "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamListener"]


def finish(code):
    """Flush and leave without interpreter teardown: a native thread pool
    (pyarrow, DuckDB) can abort the process while it shuts down."""
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    finish(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, deadline, **kw):
    """Run ``cmd`` in its own process group; kill the group and wait for it
    if it outlives ``deadline`` (a time.monotonic() value)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} exceeded the time limit")
    return p.returncode


# ------------------------------------------------------------------ build

def source_stamp(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/harness"]
    for top in tops:
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(base)
            if "target" not in os.path.relpath(d, base).split(os.sep) for f in files)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, deadline):
    """Compile the program and the harness; returns the runtime classpath."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building the program and the harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    logf = os.path.join(out, "sbt.log")
    with open(logf, "w") as fh:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           deadline, cwd=os.path.join(root, "perfbench", "harness"),
                           env=env, stdout=fh, stderr=subprocess.STDOUT)
    lines = open(logf).read().splitlines()
    if code != 0 or not lines:
        die(f"build failed (see {logf}):\n" + "\n".join(lines[-20:]))
    open(cp_file, "w").write(lines[-1].strip())
    open(stamp_file, "w").write(stamp)
    return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, seconds, work):
    import numpy as np
    import pyarrow.parquet as pq
    import gen
    rng = np.random.default_rng(seed)
    data = os.path.join(work, "data")
    opts = []
    if workload == "batch_10x":
        gen.write_tables(gen.scale10(rng, gen.corpus(rng, 0.001, n_docs=100, n_vec=150)), data)
    elif workload == "serve_mix":
        tables = gen.corpus(rng, 0.001, n_docs=500, n_vec=500)
        gen.write_tables(tables, data)
        reqs = gen.serve_requests(rng, 4000, tables["embeddings"].num_rows)
        with open(os.path.join(work, "requests.tsv"), "w") as fh:
            fh.writelines(f"{k}\t{p}\n" for k, p in reqs)
    else:
        ticks = max(2, round(seconds / TICK_S))
        landed = []
        for k in range(ticks + 1):  # the cold tick and the measured ones
            stage = os.path.join(work, "stage", f"tick-{k:03d}")
            os.makedirs(stage)
            lines, recs = gen.news_batch(rng, k, 200, 200 * k, landed)
            landed += recs
            with open(os.path.join(stage, "news.json"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
            ev = gen.event_slice(rng, k, 2000, 300)
            pq.write_table(ev, os.path.join(stage, "events.parquet"))
        opts.append(f"-Dperfbench.ticks={ticks}")
    return data, opts


def trace_overhead(root, workload, seed, res):
    """The traced run's median op time minus that of the ``--trace 0`` run
    of the same seed (its result stays in ``.bench_work``), as a line for
    the report. The cold op runs untraced in both, so its change measures
    how far the host's speed moved between the two runs. The figure is
    unresolved while it is within that drift plus the op times' own range
    in either run."""
    base = os.path.join(root, ".bench_work", f"{workload}-{seed}-0", "result.json")
    plain = json.load(open(base)) if os.path.exists(base) else {}
    if "cold_ms" not in plain:
        return f"unknown: no --trace 0 run of seed {seed} by this harness in .bench_work"
    t, u = res["e2e"]["latency_p50_ms"]["value"], plain["e2e"]["latency_p50_ms"]["value"]
    drift = res["cold_ms"] / plain["cold_ms"] - 1
    noise = abs(drift) * u + max(max(r["op_ms"]) - min(r["op_ms"]) for r in (res, plain))
    line = (f"{t - u:+.1f} ms ({100 * (t - u) / u:+.1f} %) median op, traced {t:.1f} ms "
            f"(n={len(res['op_ms'])}) vs untraced {u:.1f} ms (n={len(plain['op_ms'])}); "
            f"untraced cold op {100 * drift:+.1f} % between the runs")
    if abs(t - u) <= noise:
        line += f"; unresolved: within the noise of {noise:.1f} ms"
    return line


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "fixtures",
                 "perfbench/harness/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} is missing: run from the root of a graft checkout")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))

    cp = build(root, t_start + BUILD_LIMIT_S)
    t_run = time.monotonic()

    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    data, opts = make_inputs(args.workload, args.seed, args.seconds, work)

    nproc = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        nproc = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
           opts + (LISTENERS if args.trace else []) +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--data", data,
            "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--seed", str(args.seed)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
               GRAFT_FIXTURES_DIR=os.path.join(root, "fixtures"))
    with open(os.path.join(work, "jvm.log"), "w") as fh:
        code = run_bounded(cmd, t_run + LIMIT_S - 10, cwd=work, env=env,
                           stdout=fh, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-30:]
        die(f"harness exited with {code}:\n" + "\n".join(tail))
    res = json.load(open(out))
    if res["invalid"]:
        die("invalid run, no result reported: " + "; ".join(res["invalid"]), code=3)

    import checks
    oracle_fail, n_checks, notes = checks.run(args.workload, args.seed, work, data, root)
    failures = res["failures"] + oracle_fail
    attempted = res["attempted"] + n_checks

    # Human report: the workload-specific figures with units and sample counts.
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} nproc {res['nproc']} loadavg "
          f"{res['loadavg_start']:.2f}->{res['loadavg_end']:.2f}")
    for k, v in sorted(res["report"].items()):
        print(f"  {k:28s} {v['value']:12.4f} {v['unit']:6s} (n={v['samples']})")
    print(f"  {'setup_s':28s} {res['e2e']['setup_s']['value']:12.4f} s      "
          f"(n={len(res['setup_samples_s'])})")
    print(f"  {'peak_rss_mb':28s} {res['e2e']['peak_rss_mb']['value']:12.4f} MB")
    print(f"  {'failed_share':28s} {len(failures) / max(1, attempted):12.4f} ratio  "
          f"(n={attempted})")
    for k in sorted(res):
        if k.startswith("guard_") or k.startswith("self_check"):
            print(f"  {k}: {json.dumps(res[k])}")
    for n in notes:
        print(f"  check: {n}")
    for f in failures[:20]:
        print(f"  FAILED: {f}")

    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        got = res["layers"]
        # A layer the workload does not exercise reads 0 (for example
        # streaming.* on batch_10x).
        metrics = {n: {"value": got[n]["value"] if n in got else 0.0, "unit": u} for n, u in names}
    else:
        got = res["e2e"]
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in got]
        if missing:
            die(f"harness reported no {', '.join(missing)}")
        metrics = {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    if args.trace:
        print("  per-layer self time (ms per op):")
        for n in sorted(k for k in got if k.endswith(".self_ms")):
            print(f"    {n:26s} {got[n]['value']:12.3f}")
        print(f"  trace overhead: {trace_overhead(root, args.workload, args.seed, res)}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    finish(0)


if __name__ == "__main__":
    main()
