#!/usr/bin/env python3
"""Benchmark of the paper's ETL job and the weekly corpus refresh.

Usage, from the repository root:

  python3 perfbench/run.py --workload <daily_scan|corpus_week>
                           --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --smoke

The first form builds the program and the harness from source with sbt
(once per source state), generates the seeded inputs (cached by seed
and generator version), runs the workload in a fresh JVM, checks every
output independently (check.py), and prints one JSON object as the last
line of standard output: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. `--smoke` runs both workloads
at a small size with every check and the checks' own self-test, and
exits non-zero if anything fails.

Everything it writes stays under perfbench/.work and the sbt target
directories of the checkout.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = ("daily_scan", "corpus_week")
END_TO_END = [("setup_s", "s"), ("job_s", "s"), ("read_p50_ms", "ms"),
              ("written_mb", "MB"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("sources.scan_s", "s"), ("sources.rows", "count"),
    ("sources.mb_in", "MB"), ("sources.tasks", "count"),
    ("agg.dedup_s", "s"), ("agg.amplify_s", "s"),
    ("agg.distinct_rows", "count"), ("agg.groups_kept_ratio", "ratio"),
    ("agg.shuffle_mb", "MB"), ("agg.spill_mb", "MB"),
    ("star.cubes_s", "s"), ("star.dim_date_s", "s"),
    ("star.shuffle_mb", "MB"),
    ("repair.country_s", "s"), ("repair.asn_s", "s"),
    ("repair.rows_added", "count"),
    ("sinks.unload_s", "s"), ("sinks.parquet_s", "s"),
    ("sinks.files_written", "count"), ("sinks.jdbc_s", "s"),
    ("sinks.jdbc_rows_per_s", "rows/s"), ("sinks.ddl_s", "s"),
    ("refdata.refresh_s", "s"),
    ("read.files_per_query", "count"), ("read.mb_per_query", "MB"),
    ("dedup.within_batch_s", "s"), ("dedup.probe_minhash_s", "s"),
    ("dedup.probe_hamming_s", "s"), ("dedup.probe_chunks_s", "s"),
    ("dedup.index_files", "count"),
    ("pipeline.jobs", "count"), ("pipeline.stages", "count"),
    ("pipeline.tasks", "count"), ("pipeline.idle_between_jobs_s", "s"),
    ("pipeline.executor_cpu_s", "s"), ("pipeline.gc_s", "s"),
    ("host.canary_ms", "ms"),
]
# what Spark needs opened on JDK 17 outside spark-submit, as in the
# program's own build (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170  # a run must end within 180 s once built


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                h.update(open(p, "rb").read())
    for p in ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"):
        h.update(open(os.path.join(ROOT, p), "rb").read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness; return (source stamp, run
    classpath)."""
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "build", f"{stamp}.classpath")
    if os.path.exists(cp_file):
        return stamp, open(cp_file).read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    log("building the program and the harness with sbt")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.forcestart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = p.stdout.splitlines()
    cps = [x for x in lines if x.startswith("/") and ".jar" in x]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return stamp, cps[-1]


def standing_corpus(stamp, cp, indir, size, cpus):
    """The corpus and indexes week0's refresh leaves, built once per
    source state in a JVM of its own and copied into every run."""
    d = os.path.join(WORK, f"standing-{size}-{stamp}")
    if not os.path.exists(os.path.join(d, "result.json")):
        tmp = d + ".tmp"
        log("building the standing corpus")
        run_harness(cp, ["--workload", "corpus_week", "--bootstrap", "1",
                         "--seconds", "0", "--trace", "0", "--seed", "0"],
                    indir, tmp, cpus, RUN_LIMIT_S)
        shutil.rmtree(os.path.join(tmp, "tmp"))
        os.rename(tmp, d)
    return d


def run_harness(cp, args, indir, work, cpus, limit_s, seed_dir=None):
    shutil.rmtree(work, ignore_errors=True)
    if seed_dir:
        # the traced run probes a second, untouched copy of the index
        copies = [("index", "index"), ("corpus", "corpus")]
        if "--trace" in args and args[args.index("--trace") + 1] == "1":
            copies.append(("index", "index_probe"))
        for src, dst in copies:
            shutil.copytree(os.path.join(seed_dir, src),
                            os.path.join(work, dst))
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + ADD_OPENS + [
        "-Xms1g", "-Xmx1g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", cp, "perfbench.Harness", "--in", indir, "--work", work,
        "--cpus", str(cpus)] + args)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {args} did not finish in "
                             f"{limit_s:.0f} s")
    sys.stdout.write(out)
    if p.returncode != 0:
        tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: harness {args} exited "
                         f"{p.returncode}")
    return json.load(open(os.path.join(work, "result.json")))


def check(workload, indir, work):
    """Independent checks plus the checks' self-test on this run."""
    import check as ck
    if workload == "corpus_week":
        errs, exp, actual = ck.check_corpus(indir, work)
        errs += ck.self_test_corpus(exp, actual)
    else:
        errs, exp, actual = ck.check_etl(indir, work)
        errs += ck.self_test_etl(exp, actual)
        if not ck.unload_in_reference_order(actual):
            log("note: the unload CSV is not in the reference's ORDER BY "
                "order")
    return errs


def end_to_end(r):
    setup = r["boot_s"] + statistics.median(r["setup_reps_s"])
    # the read kinds of a round differ in cost, so the median is taken
    # over whole rounds (each round's mean read latency): a median over
    # the mixed reads would jump between the kinds' modes
    k = r["reads_per_round"]
    rounds = [statistics.fmean(r["read_ms"][i:i + k])
              for i in range(0, len(r["read_ms"]), k)]
    return {"setup_s": setup, "job_s": r["job_s"],
            "read_p50_ms": statistics.median(rounds),
            "written_mb": r["written_mb"], "peak_rss_mb": r["peak_rss_mb"]}


def one_run(workload, size, seed, seconds, trace, cpus):
    import gen
    stamp, cp = build()
    t0 = time.time()
    indir = gen.ensure(os.path.join(WORK, "inputs"), workload, size, seed,
                       cpus)
    standing = (standing_corpus(stamp, cp, indir, size, cpus)
                if workload == "corpus_week" else None)
    work = os.path.join(WORK, "run")
    r = run_harness(cp, ["--workload", workload, "--seconds", str(seconds),
                         "--trace", str(trace), "--seed", str(seed)],
                    indir, work, cpus, RUN_LIMIT_S - (time.time() - t0),
                    seed_dir=standing)
    errs = check(workload, indir, work)
    for e in errs[:20]:
        log(f"CHECK FAILED {e}")
    if trace:
        layers = dict(r["layers"], **{"host.canary_ms": r["canary_ms"]})
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
        log(f"traced job_s={r['job_s']:.3f}")
    else:
        e2e = end_to_end(r)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    return {"correct": not errs, "attempted": 1 + r["reads_attempted"],
            "failed": r["reads_failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala",
                                       "graft", "Pipeline.scala")):
        raise SystemExit("perfbench: the program's sources are not next to "
                         "the benchmark; run it from a full checkout")
    if not (a.smoke or a.workload):
        ap.error("--workload or --smoke is required")
    cpus = len(os.sched_getaffinity(0))
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            t = time.time()
            res = one_run(w, "smoke", a.seed, 1, 0, cpus)
            ok &= res["correct"] and res["failed"] == 0
            log(f"smoke {w}: correct={res['correct']} "
                f"attempted={res['attempted']} failed={res['failed']} "
                f"in {time.time() - t:.0f} s")
        raise SystemExit(0 if ok else 1)
    print(json.dumps(one_run(a.workload, "full", a.seed, a.seconds, a.trace,
                             cpus)))


if __name__ == "__main__":
    main()
