#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 \
        --trace 0 [--record out.json]

Run from the root of a source tree. The first run builds the library and
this harness from source with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/.build; later runs reuse it while the sources are
unchanged. Each run then:

1. generates the workload's inputs from --seed (gen.py) in a private
   scratch directory that also holds java.io.tmpdir, spark.local.dir and
   the warehouse, and is deleted on exit;
2. starts one JVM (graft.perfbench.Main) that sets up a session like
   graft.Bench, runs the workload's untimed warm-up passes (the first
   dumps each query's output), times the host-speed probe (Probe.scala),
   then times whole passes over the queries until --seconds have elapsed;
3. checks every dumped output against its DuckDB oracle (check.py);
4. prints every metric on its own line with its unit and, last, one JSON
   object: end-to-end metrics with --trace 0, per-layer metrics with
   --trace 1.

--record writes the full run record (per-query walls, layers, spans, host
evidence) for compare.py.
"""
import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from stats import geomean, percentile  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
START = time.time()
RUN_LIMIT_S = 150  # JVM limit after any build; leaves the check time inside 180 s
# A fixed heap and young generation: G1's adaptive young sizing otherwise
# decides how much of the heap a run touches, and VmHWM swings with it.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
# The JDK 17 module opens Spark needs outside spark-submit (as build.sbt).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = {
    "setup_s": "s", "query_geomean_s_ref": "s", "queries_per_s_ref": "1/s",
    "rows_per_s_ref": "rows/s", "peak_rss_mb": "MB",
}
# The *_ref metrics are the query timings scaled to a host on which the
# host-speed probe (Probe.scala, run just before the timed pass) takes
# PROBE_REF_S, its median on the 4-vCPU VM the benchmark was built on. The
# speed of that shared VM drifts: set-up, a fixed piece of work, took
# 12.7 s and 20.0 s ten minutes apart, and every query wall drifted with it.
PROBE_REF_S = 0.230
LAYER_SUMS = {
    "sources.jobs": "count", "sources.job_s": "s",
    "build.self_s": "s", "build.jobs": "count", "build.job_s": "s",
    "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.exchanges": "count", "plans.sorts": "count",
    "plans.wscg_stages": "count", "plans.pinned_scans": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.job_s": "s",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.input_rows": "rows",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.driver_gap_s": "s",
    "streaming.replay_s": "s", "streaming.startup_s": "s",
    "streaming.addbatch_s": "s", "streaming.commit_s": "s",
    "streaming.batches": "count", "streaming.state_rows": "rows",
}
KERNELS = ("student_t_cdf", "dot_product", "word_shingles", "shingle_min_hash",
           "epoch_us", "ewma_vol", "garch_vol", "acd_psi", "hawkes_kernel_sum",
           "quantized_dot")
PER_LAYER = {
    "sources.load_s": "s", "sources.load_jobs": "count",
    **LAYER_SUMS,
    **{f"expressions.{k}.ns_per_row": "ns/row" for k in KERNELS},
    "jvm.gc_s": "s", "jvm.heap_used_peak_mb": "MB",
    "trace.query_geomean_s": "s", "trace.driver_frac": "ratio",
    "trace.streaming_frac": "ratio", "trace.reconciled_frac": "ratio",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, keying the classpath cache."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    """Build with sbt once per source digest; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no graft sources under {ROOT}/src/main/scala")
    cache = os.path.join(HERE, ".build", f"classpath-{source_digest()}.txt")
    if os.path.isfile(cache):
        with open(cache) as f:
            return f.read().strip()
    tmp = os.path.join(HERE, ".build", "tmp")  # keeps sbt's sockets in the tree
    os.makedirs(tmp, exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-J-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "graft-perfbench" in lines[-1] \
            or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("sbt build failed")
    for old in glob.glob(os.path.join(HERE, ".build", "classpath-*.txt")):
        os.remove(old)
    with open(cache, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def host_sample():
    """Host-pressure evidence: load averages and cumulative steal ticks."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    ticks = [int(x) for x in cpu]
    return {"loadavg": load, "steal_ticks": ticks[7] if len(ticks) > 7 else 0,
            "total_ticks": sum(ticks), "time": time.time()}


def run_jvm(cp, work, data, queries, warm_passes, seconds, trace, deadline):
    record = os.path.join(work, "record.json")
    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(queries) + "\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    t0_ms = int(time.time() * 1000)
    cmd = [java, *ADD_OPENS, *HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "graft.perfbench.Main", record, data, os.path.join(work, "check"),
           qfile, str(warm_passes), str(seconds), str(trace), str(t0_ms)]
    log_path = os.path.join(work, "jvm.log")
    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded its time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    after = resource.getrusage(resource.RUSAGE_CHILDREN)
    wall = time.time() - t0_ms / 1000
    if proc.returncode != 0 or not os.path.isfile(record):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    with open(record) as f:
        rec = json.load(f)
    rec["process"] = {"wall_s": wall,
                      "cpu_s": (after.ru_utime + after.ru_stime)
                      - (before.ru_utime + before.ru_stime)}
    return rec


def end_to_end(rec, input_rows):
    ok = [q["wall_s"] for q in rec["queries"] if not q["error"]]
    walls = sum(q["wall_s"] for q in rec["queries"])
    if not ok:
        fail("every query failed")
    raw = {
        "query_geomean_s": geomean(ok),
        "queries_per_s": len(ok) / walls,
        "rows_per_s": rec["passes"] * input_rows / walls,
    }
    probe_s = statistics.median(rec["probe_s"])
    slow = probe_s / PROBE_REF_S  # > 1: the host runs slower than the reference
    return {
        "setup_s": rec["setup_s"],
        "query_geomean_s_ref": raw["query_geomean_s"] / slow,
        "queries_per_s_ref": raw["queries_per_s"] * slow,
        "rows_per_s_ref": raw["rows_per_s"] * slow,
        "peak_rss_mb": rec["peak_rss_mb"],
        **raw, "probe_s": probe_s,
    }


def per_layer(rec):
    layers = rec["layers"]
    wall = sum(q["wall_s"] for q in layers)
    m = {k: sum(q[k] for q in layers) for k in LAYER_SUMS}
    m.update(rec["probes"])
    m["jvm.gc_s"] = rec["gc_s"]
    m["jvm.heap_used_peak_mb"] = rec["heap_used_peak_mb"]
    m["trace.query_geomean_s"] = geomean([q["wall_s"] for q in layers])
    m["trace.driver_frac"] = sum(q["driver_s"] for q in layers) / wall
    m["trace.streaming_frac"] = m["streaming.replay_s"] / wall
    m["trace.reconciled_frac"] = sum(
        q["reconcile_err"] <= 0.05 for q in layers) / len(layers)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the full run record here")
    args = ap.parse_args()
    w = WORKLOADS[args.workload]

    cp = classpath()
    deadline = time.time() + RUN_LIMIT_S  # the build, if any, is not counted
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        host0 = host_sample()
        t = time.time()
        data = os.path.join(work, "data")
        rows = gen.write(data, args.seed, w["sf"])
        gen_s = time.time() - t
        rec = run_jvm(cp, work, data, w["queries"], w["warm_passes"], args.seconds,
                      args.trace, deadline)
        t = time.time()
        wrong = {n: r for n, r in check.check(data, os.path.join(work, "check"),
                                              rec["dumped"]).items() if r}
        check_s = time.time() - t
        host1 = host_sample()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    errors = {q["name"]: q["error"] for q in rec["queries"] if q["error"]}
    errors.update(rec["dump_errors"])
    attempted = len(rec["queries"])
    failed = sum(1 for q in rec["queries"] if q["error"]) + len(rec["dump_errors"])
    checked = len(rec["dumped"])
    e2e = end_to_end(rec, sum(rows.values()))
    ok = [q["wall_s"] for q in rec["queries"] if not q["error"]]
    extra = {**{k: e2e[k] for k in ("query_geomean_s", "queries_per_s", "rows_per_s",
                                     "probe_s")},
             "query_p50_s": percentile(ok, 50), "query_p90_s": percentile(ok, 90),
             "failed_frac": failed / attempted,
             "wrong_frac": len(wrong) / checked if checked else 1.0}
    ticks = host1["total_ticks"] - host0["total_ticks"]
    rec.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sf": w["sf"], "input_rows": rows,
        "gen_s": gen_s, "check_s": check_s, "run_s": time.time() - START,
        "source_digest": source_digest(),
        "errors": errors, "wrong": wrong, "end_to_end": e2e, **extra,
        "host": {"start": host0, "end": host1,
                 "steal_frac": (host1["steal_ticks"] - host0["steal_ticks"]) / ticks
                 if ticks else 0.0,
                 "cpu_per_wall": rec["process"]["cpu_s"] / rec["process"]["wall_s"]},
    })
    if args.trace:
        rec["per_layer"] = per_layer(rec)
        metrics = {k: {"value": rec["per_layer"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    if args.record:
        with open(args.record, "w") as f:
            json.dump(rec, f, indent=1)

    n_ok = sum(1 for q in rec["queries"] if not q["error"])
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: "
          f"{n_ok}/{attempted} queries ok over {rec['passes']} pass(es), "
          f"{checked} outputs checked, sf={w['sf']} "
          f"({sum(rows.values())} input rows), steal "
          f"{rec['host']['steal_frac']:.1%}, load {host1['loadavg'][0]}")
    for k, u in END_TO_END.items():
        print(f"#   {k:<20} {e2e[k]:>14.4f} {u}")
    print("#   ungated, as measured on this host:")
    for k, v in extra.items():
        u = {"queries_per_s": "1/s", "rows_per_s": "rows/s"}.get(
            k, "s" if k.endswith("_s") else "ratio")
        print(f"#   {k:<20} {v:>14.4f} {u}")
    if args.trace:
        for k, u in PER_LAYER.items():
            print(f"#   {k:<36} {rec['per_layer'][k]:>16.4f} {u}")
    for name, why in list(errors.items()) + list(wrong.items()):
        print(f"#   FAILED {name}: {why}")
    print(json.dumps({"correct": failed == 0 and not wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
