#!/usr/bin/env python3
"""Benchmark entry point: build, check answers, run one workload, print one
JSON result line.

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 25 --trace 0

Run it from the root of a checkout. It compiles the engine and the
benchmark's JVM side from source (perfbench/build.sbt) when the sources changed
since the last build, then starts one JVM that drives the engine with one
client thread. Everything it writes lives under perfbench/out/ and the run's
own directory there is deleted when the run ends.

Inputs: the testdata scale factor named by SPARK_GRAFT_SF_DIR (default
~/testdata/sf0.1) and, for warm-up, its sibling sf0.001
(SPARK_GRAFT_WARMUP_DIR overrides). Spark comes from SPARK_HOME.

The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every per-layer
metric (--trace 1). See perfbench/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("corpus_pipeline", "index_lifecycle")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# the corpus ops d01-d44, for graft.Verify's SPARK_GRAFT_ONLY
CORPUS_OPS = r"^d(0[1-9]|[1-3][0-9]|4[0-4])_"
# A fixed heap and young generation with a stop-the-world collector: the
# heap's size and the collector's threads then do not vary from run to run
# with the timing of concurrent collections.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
# the module openings Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build depends on, relative to the checkout root."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return sorted(os.path.relpath(p, ROOT) for p in out)


def stamp():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or interrupt, and always wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build(st):
    mark = os.path.join(OUT, "build.stamp")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(mark) and open(mark).read() == st:
        return classes
    log("building (sbt compile)")
    t0 = time.time()
    rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                   cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        die(f"build failed (sbt exit {rc})")
    with open(mark, "w") as f:
        f.write(st)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def jvm(classes, work, argv, main="graft.perfbench.Main", env=None, ok=(0,)):
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", f"{classes}{os.pathsep}{jars}",
            main] + argv
    rc = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                   stdin=subprocess.DEVNULL, env=env)
    if rc not in ok:
        die(f"{main} exited {rc}")


def oracle_check(sf_dir, dump_dir):
    """op -> row count of its checked answer, or -1 where graft.Verify
    wrote no answer or it differs from its DuckDB oracle."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import TABLES, normalize  # the oracle comparison's own rules
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    checked = {}
    for op, sql in sorted(oracles.items()):
        n = -1
        try:
            g = normalize(pd.read_parquet(os.path.join(dump_dir, op)))
            w = normalize(con.sql(sql).df())
            if list(g.columns) == list(w.columns) and len(g) == len(w):
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
                n = len(g)
        except Exception as e:  # noqa: BLE001 - a failed compare is a failed check
            log(f"{op}: {type(e).__name__}: {str(e)[:200]}")
        if n < 0:
            log(f"{op}: answer does not match its oracle")
        checked[op] = n
    return checked


def checked_answers(classes, st, work, sf_dir):
    """The oracle check of the corpus ops, once per build of a checkout, in
    whichever run comes first after the build: the scale factor's answers
    do not depend on the seed. graft.Verify writes the answers (it exits 2
    when an op throws; that op then has no answer and fails its check).
    Each corpus_pipeline run then compares every timed count with the
    checked row count."""
    path = os.path.join(OUT, f"checked-{st}.tsv")
    if not os.path.exists(path):
        log("checking corpus_pipeline answers against their oracles")
        dump_dir = os.path.join(work, "dump")
        env = dict(os.environ, SPARK_GRAFT_ONLY=CORPUS_OPS, SPARK_GRAFT_CPUS=str(os.cpu_count()))
        t0 = time.time()
        jvm(classes, work, [sf_dir, dump_dir], main="graft.Verify", env=env, ok=(0, 2))
        t1 = time.time()
        checked = oracle_check(sf_dir, dump_dir)
        log(f"answers dumped in {t1 - t0:.1f} s, compared in {time.time() - t1:.1f} s")
        shutil.rmtree(dump_dir, ignore_errors=True)
        log(f"{sum(v >= 0 for v in checked.values())}/{len(checked)} answers match their oracles")
        with open(path + ".tmp", "w") as f:
            f.writelines(f"{k}\t{v}\n" for k, v in sorted(checked.items()))
        os.replace(path + ".tmp", path)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("no engine sources next to perfbench/ (run from the root of a checkout)")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("no BENCHMARK.json at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(os.path.join(os.environ["SPARK_HOME"], "jars")):
        die("SPARK_HOME does not name a Spark installation")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR", os.path.join(os.path.dirname(sf_dir), "sf0.001"))
    for d in (sf_dir, warm_dir):
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            die(f"no testdata at {d}")

    os.makedirs(OUT, exist_ok=True)
    st = stamp()
    classes = build(st)
    work = os.path.join(OUT, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    try:
        base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--sf-dir", sf_dir, "--warmup-dir", warm_dir,
                "--work", os.path.join(work, "jvm")]
        argv = list(base)
        checked = checked_answers(classes, st, work, sf_dir)
        if a.workload == "corpus_pipeline":
            argv += ["--checked", checked]
        if a.trace:
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            argv += ["--trace-out", os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
        out = os.path.join(work, "result.json")
        jvm(classes, work, argv + ["--out", out])
        with open(out) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        values = dict(r["layers"])
        wanted = spec["per_layer"]
    else:
        values = dict(r["metrics"], peak_rss_mb=r["peak_rss_mb"])
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            if not a.trace:
                die(f"metric {m['name']} was not measured")
            v = 0.0  # the workload never calls this layer
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = int(r["failed"])
    info = {k: r.get(k) for k in ("digest", "samples", "seconds", "cycles", "loadavg", "nproc",
                                  "warmup_s", "probe_ms", "extra", "failures")}
    info.update(workload=a.workload, seed=a.seed, trace=a.trace)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": bool(r.get("correct", True)) and failed == 0,
                      "attempted": int(r["attempted"]), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
