#!/usr/bin/env python3
"""Benchmark of the nemscraperspark engine: one command per workload.

    python3 perfbench/run.py --workload ingest|analytics|registry \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala
compiler shipped in the Spark distribution into `.bench_build/`. The JVM
runs the workload and writes raw samples; this script checks the outputs
(DuckDB for `analytics`, recorded digests for `registry`, the JVM's own
checks for `ingest`), derives the metrics and prints one JSON line as the
last line of standard output. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

BUILD = os.path.join(ROOT, ".bench_build")

def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the
    directory the sbt build names as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
WORKLOADS = ("ingest", "analytics", "registry")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = ["setup_s", "latency_p50_ms", "batch_s", "throughput_per_s", "heap_retained_mb"]
UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "batch_s": "s", "throughput_per_s": "1/s",
         "heap_retained_mb": "MB"}

PANELS = ["bucket5m", "pivot", "percent", "timeline", "latest_forecast", "fpp_perf"]
FAMILIES = ["a", "p", "j", "u", "w", "dd", "ta", "ann", "mm", "nem", "sql"]


def per_layer_names():
    """Every per-layer metric, in catalogue order."""
    names = [
        "streaming.IngestDaemon.tick_p50_s", "streaming.IngestDaemon.tick_max_s",
        "streaming.IngestDaemon.driver_s", "streaming.IngestDaemon.backlog_max_zips",
        "gen.late_s",
        "sources.Fetch.requests", "sources.Fetch.bytes", "sources.Fetch.retries",
        "sources.HistoryTable.jobs", "sources.HistoryTable.job_s",
        "sources.HistoryTable.files", "sources.HistoryTable.vacuum_s",
        "sources.NemCsv.jobs", "sources.NemCsv.job_s", "sources.NemCsv.task_s",
        "sources.NemCsv.rows", "sources.NemCsv.files_written", "sources.NemCsv.bytes_written",
        "plans.Compactor.sweeps", "plans.Compactor.jobs", "plans.Compactor.job_s",
        "plans.Compactor.files_in", "plans.Compactor.files_out",
        "plans.Compactor.bytes_read", "plans.Compactor.bytes_written",
        "plans.Compactor.rewrite_amp", "plans.SchemaEvolution.widened_cols",
        "pipeline.Reconcile.run_s", "pipeline.Reconcile.mismatches",
        "pipeline.Crunch.step1_s", "pipeline.Crunch.step2_s", "pipeline.Crunch.step3_s",
        "pipeline.Crunch.step4_s", "pipeline.Crunch.settlement_s", "pipeline.Crunch.jobs",
        "pipeline.Crunch.exchanges", "pipeline.Crunch.shuffle_bytes",
        "pipeline.Crunch.spill_bytes", "pipeline.Crunch.cached_bytes_end",
    ]
    names += [f"queries.panel.{p}.p50_ms" for p in PANELS]
    names += ["queries.plan_ms", "queries.jobs_per_load", "queries.tasks_per_load",
              "queries.files_read", "queries.bytes_read"]
    for f in FAMILIES:
        names += [f"queries.Registry.{f}.{m}" for m in ("warm_s", "cold_s", "jobs", "plan_ms")]
    names += ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
              "spark.shuffle_bytes", "spark.spill_bytes", "spark.busy_ratio",
              "spark.driver.idle_s", "spark.unattributed.job_s", "trace.overhead_s"]
    names += ["freshness_p50_s", "freshness_max_s", "backfill_rows_per_s",
              "compact_sweep_p50_s", "lake_bytes_per_csv_byte", "write_amp",
              "crunch_day_s", "dashboard_p50_ms", "dashboard_max_ms",
              "registry_cold_s", "registry_warm_s", "error_rate"]
    return names


def per_layer_unit(name):
    last = name.rsplit(".", 1)[-1]
    if last == "backfill_rows_per_s":
        return "1/s"
    if "bytes" in last and last != "lake_bytes_per_csv_byte":
        return "bytes"
    for suffix, unit in (("_ms", "ms"), ("_s", "s")):
        if last.endswith(suffix):
            return unit
    if last in ("rewrite_amp", "write_amp", "lake_bytes_per_csv_byte", "busy_ratio", "error_rate"):
        return "ratio"
    return "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return main, bench


def jvm_flags(tmp):
    """JVM options shared by every harness JVM; `tmp` holds all scratch."""
    return (["-Xmx3g", "-Xss8m"]
            + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/hadoop",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"])


def classpath(out):
    return os.path.join(out, "bench.jar") + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    """Compile engine + harness once per source state into a jar, then dump
    a class-data-sharing archive from one self-test run so that later JVMs
    start faster. Returns the build directory."""
    main, bench = sources()
    if not main or not bench:
        raise SystemExit("perfbench: engine sources (src/main/scala) or harness "
                         "sources (perfbench/src) are missing")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    h = hashlib.sha256()
    for p in main + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes", h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes", "*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(main + bench) + "\n")
    log(f"compiling {len(main)} engine + {len(bench)} harness sources")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-classpath", classes, "-nowarn",
         "-d", classes, "@" + args_file],
        cwd=out, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    jar = os.path.join(out, "bench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for fn in sorted(files):
                p = os.path.join(d, fn)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    r = subprocess.run(
        ["java", f"-XX:ArchiveClassesAtExit={os.path.join(out, 'app.jsa')}"] + jvm_flags(tmp)
        + ["-cp", classpath(out), "perfbench.Main", "selftest"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        # the archive only speeds start-up; perfbench/tests reports the failure
        log("self-test failed during the class-archive run:\n" + r.stdout[-3000:])
    log(f"class archive done at {time.time() - t0:.1f} s")
    open(os.path.join(out, ".ok"), "w").close()
    return out


def run_jvm(build_dir, workload, seed, seconds, trace, work, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    logf = os.path.join(work, "jvm.log")
    archive = os.path.join(build_dir, "app.jsa")
    cds = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    cmd = (["java"] + cds + jvm_flags(tmp)
           + ["-cp", classpath(build_dir), "perfbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
              "--work", os.path.join(work, "w"), "--out", out] + list(extra))
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0 or not os.path.exists(out):
        with open(logf, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def metrics_for(workload, res):
    """End-to-end metrics and the per-layer map of one run."""
    S = res["samples"]
    V = res["values"]
    L = dict(res["layers"])
    med = statistics.median
    e2e = {"setup_s": med(S["setup_round_s"]), "heap_retained_mb": V["heap_retained_mb"]}
    extra = {}
    if workload == "ingest":
        fr = S["freshness_ms"]
        # a repeated batch counts at its fastest repetition: the earlier
        # ones still pay JIT compilation, and the fastest is the least
        # disturbed by other load on the host
        e2e.update(latency_p50_ms=med(fr), batch_s=min(S["backfill_day_s"]),
                   throughput_per_s=max(S["backfill_rows_per_s"]))
        extra.update(freshness_p50_s=med(fr) / 1000, freshness_max_s=max(fr) / 1000,
                     backfill_rows_per_s=max(S["backfill_rows_per_s"]),
                     compact_sweep_p50_s=med(S["sweep_s"]),
                     lake_bytes_per_csv_byte=V["lake_bytes_per_csv_byte"],
                     write_amp=V["write_amp"])
        L["streaming.IngestDaemon.tick_p50_s"] = med(S["tick_s"])
        L["streaming.IngestDaemon.tick_max_s"] = max(S["tick_s"])
        L["streaming.IngestDaemon.backlog_max_zips"] = V["backlog_max_zips"]
        L["gen.late_s"] = V["gen.late_s"]
    elif workload == "analytics":
        d = S["dashboard_ms"]
        e2e.update(latency_p50_ms=med(d), batch_s=min(S["crunch_day_s"]),
                   throughput_per_s=V["panels_per_s"])
        extra.update(crunch_day_s=min(S["crunch_day_s"]), dashboard_p50_ms=med(d),
                     dashboard_max_ms=max(d))
        for step in ("step1", "step2", "step3", "step4", "settlement"):
            L[f"pipeline.Crunch.{step}_s"] = med(S[f"crunch.{step}_s"])
        for p in PANELS:
            L[f"queries.panel.{p}.p50_ms"] = med(S[f"panel.{p}"])
    else:
        qs = res["queries"]
        warm = {q: min(S[f"warm.{q}"]) for q in qs if f"warm.{q}" in S}
        cold = {q: S[f"cold.{q}"][0] for q in qs if f"cold.{q}" in S}
        w = [v * 1000 for v in warm.values()]
        e2e.update(latency_p50_ms=med(w), batch_s=sum(cold.values()),
                   throughput_per_s=len(warm) / sum(warm.values()))
        extra.update(registry_cold_s=sum(cold.values()), registry_warm_s=sum(warm.values()))
        for f in FAMILIES:
            fam = [q for q in qs if res["families"][q] == f]
            L[f"queries.Registry.{f}.warm_s"] = sum(warm.get(q, 0.0) for q in fam)
            L[f"queries.Registry.{f}.cold_s"] = sum(cold.get(q, 0.0) for q in fam)
    extra["error_rate"] = res["failed"] / max(1, res["attempted"])
    L.update(extra)
    layers = {n: float(L.get(n, 0.0)) for n in per_layer_names()}
    return e2e, layers


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    os.makedirs(BUILD, exist_ok=True)
    build_dir = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = []
        if a.workload == "registry":
            extra = ["--data", os.path.join(HERE, "data", "sf0.01")]
        res = run_jvm(build_dir, a.workload, a.seed, a.seconds, a.trace, work, extra)
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
        import checks
        failures = list(res["failures"])
        if a.workload == "analytics":
            failures += checks.check_analytics(res)
        elif a.workload == "registry":
            failures += checks.check_registry(res)
        for f in failures:
            log(f"CHECK FAILED: {f}")
        e2e, layers = metrics_for(a.workload, res)
        if a.trace:
            metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layers.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
        print(json.dumps({"correct": not failures, "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
