#!/usr/bin/env python3
"""Lakehouse benchmark: build, run one workload, check its outputs, print
one JSON result line.

    python3 perfbench/run.py --workload lakehouse_ingest --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout. The library (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) are compiled with the Scala
compiler that ships in Spark's jars into .bench_build/classes, once per
distinct source tree. Everything a run writes stays under .bench_build.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
The full artifact of every run, with the environment fingerprint and the
host canary, is kept in .bench_build/artifacts/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402

WORKLOADS = ("lakehouse_ingest", "corpus_curation")
BUILD = ".bench_build"
JVM_TIMEOUT_S = 170


def spark_home():
    """$SPARK_HOME, else the first `spark-submit` on PATH whose
    installation ships the Scala compiler among its jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
                return home
    raise SystemExit("no Spark installation found: set SPARK_HOME")


SPARK_JARS = os.path.join(spark_home(), "jars")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

# Per-layer metrics printed with --trace 1: (span, field). Every time and
# count is per timed op (per day, per curation pass). Fields a layer never
# moves are left out; the artifact keeps every field of every span.
SPANS = ["ingest.write", "ingest.dml", "ingest.read", "ingest.cdf",
         "ingest.maintain", "stream", "clean", "gold", "dq", "sql",
         "functions", "scale.curation", "scale.dedup", "scale.similarity",
         "scale.retrieval", "scale.bpe"]
SHUFFLING = {"ingest.dml", "ingest.maintain", "stream", "clean", "gold", "dq",
             "sql", "scale.curation", "scale.dedup", "scale.similarity",
             "scale.retrieval", "scale.bpe"}
SPILLING = {"ingest.dml", "scale.curation", "scale.dedup", "scale.retrieval",
            "scale.bpe"}
NESTING = {"gold", "dq", "sql"}
UNITS = {"wall_s": "s", "self_s": "s", "driver_s": "s", "cpu_s": "s",
         "jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB"}


def layer_fields():
    out = []
    for s in SPANS:
        fields = ["wall_s", "driver_s", "jobs", "cpu_s"]
        if s in NESTING:
            fields.insert(1, "self_s")
        if s in SHUFFLING:
            fields.append("shuffle_mb")
        if s in SPILLING:
            fields.append("spill_mb")
        out += [(s, f) for f in fields]
    return out


EXTRA_LAYER = [
    ("ingest.commits", "count"), ("ingest.files_live", "count"),
    ("ingest.dv_files", "count"), ("ingest.log_mb", "MB"),
    ("ingest.write_amp", "ratio"), ("ingest.space_amp", "ratio"),
    ("ingest.read.rows_scanned_per_row", "ratio"),
    ("stream.batches", "count"), ("stream.batch_p50_s", "s"),
    ("stream.overhead_s", "s"), ("sql.plan_s", "s"), ("jvm.gc_s", "s"),
    ("unattributed_s", "s"), ("trace.op_s", "s")]

END_TO_END = [("setup_s", "s"), ("op_s", "s"), ("items_per_s", "1/s"),
              ("live_heap_mb", "MB")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    lib = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not lib:
        raise SystemExit("no library sources under src/main/scala: run from "
                         "the root of a checkout")
    return lib + bench


def java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr or r.stdout).splitlines()[0] if r.returncode == 0 else "?"


def build():
    """Compile library + benchmark sources once per distinct tree."""
    srcs = sources()
    h = hashlib.sha256(java_version().encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return stamp
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(tmp)
    jtmp = os.path.join(BUILD, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
         f"-Djava.io.tmpdir={jtmp}",
         "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", f"{SPARK_JARS}/*", f"@{argfile}"],
        capture_output=True, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built {len(srcs)} sources in {time.time() - t0:.1f}s")
    return stamp


def canary():
    """A fixed CPU probe, one hashing thread per core: seconds to hash
    256 MB in 1 MB blocks on each. hashlib releases the GIL on large
    buffers, so the threads run in parallel and a busy host shows."""
    block = bytes(range(256)) * 4096

    def work():
        h = hashlib.sha256()
        for _ in range(256):
            h.update(block)

    threads = [threading.Thread(target=work) for _ in range(os.cpu_count())]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def canary_label(probe):
    """Compare the probe with the fastest one seen in this checkout; a
    window more than 30% slower is labelled contended (and kept)."""
    path = os.path.join(BUILD, "canary.json")
    hist = []
    if os.path.exists(path):
        hist = json.load(open(path))
    best = min(hist + [probe])
    json.dump((hist + [probe])[-200:], open(path, "w"))
    return {"canary_s": probe, "canary_best_s": best,
            "contended": probe > 1.3 * best}


def git_revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, work, out_json, scale, log_path):
    jtmp = os.path.join(work, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    # no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g",
            f"-Djava.io.tmpdir={jtmp}", f"-Dspark.local.dir={jtmp}",
            f"-Dspark.sql.warehouse.dir={jtmp}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS",
            "-cp", f"{BUILD}/classes:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out_json, "--scale", scale]
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; "
                             f"log in {log_path}")
    if rc != 0 or not os.path.exists(out_json):
        raise SystemExit(f"benchmark JVM failed (exit {rc}); log in {log_path}")
    return json.load(open(out_json))


def end_to_end(r):
    ops = r["ops"]
    lat = [o["lat_s"] for o in ops]
    return {
        "setup_s": r["session_s"] + r["setup_s"],
        "op_s": statistics.median(lat),
        "items_per_s": sum(o["items"] for o in ops) / sum(lat),
        "live_heap_mb": r["live_heap_mb"],
    }


def per_layer(r):
    n = max(1, len(r["ops"]))
    layers = r.get("layers", {})
    out = {}
    for span, field in layer_fields():
        out[f"{span}.{field}"] = layers.get(span, {}).get(field, 0.0) / n
    ws = r["workload_stats"]
    # the snapshot read is lazy: its scan runs in the gold job that
    # consumes it, so the ratio is gold's task input over the live rows
    # gold's snapshot returned
    scanned = layers.get("gold", {}).get("input_records", 0)
    rows = r.get("rows_returned", {}).get("ingest.read", 0)
    table = ws.get("table_state", {})
    stream = r.get("stream", {})
    out.update({
        "ingest.commits": ws.get("commits_per_day", 0.0),
        "ingest.files_live": table.get("files_live", 0),
        "ingest.dv_files": table.get("dv_files", 0),
        "ingest.log_mb": table.get("log_mb", 0.0),
        "ingest.write_amp": ws.get("write_amp", 0.0),
        "ingest.space_amp": ws.get("space_amp", 0.0),
        "ingest.read.rows_scanned_per_row":
            scanned / rows if rows else 0.0,
        "stream.batches": stream.get("batches", 0) / n,
        "stream.batch_p50_s": stream.get("batch_p50_s", 0.0),
        "stream.overhead_s": stream.get("overhead_s", 0.0) / n,
        "sql.plan_s": layers.get("sql", {}).get("plan_s", 0.0) / n,
        "jvm.gc_s": r["gc_s"] / n,
        "unattributed_s": r.get("unattributed_s", 0.0) / n,
        "trace.op_s": statistics.median(o["lat_s"] for o in r["ops"]),
    })
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    stamp = build()
    probe = canary_label(canary())
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.scale}"
    work = os.path.abspath(os.path.join(BUILD, "work", f"{tag}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = run_jvm(args, work, os.path.join(work, "result.json"), args.scale,
                    os.path.join(BUILD, "logs", f"{tag}.log"))
        t0 = time.perf_counter()
        verdict = checks.check(args.workload, r, os.path.join(work, "duck"))
        checks_s = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(r["ops"])
    failed_ops = {i for i, o in enumerate(r["ops"]) if o["error"]}
    failed_ops |= set(verdict["failed_ops"])
    failed = len(failed_ops)
    e2e = end_to_end(r)
    layer = per_layer(r) if args.trace else {}
    units = dict(END_TO_END + EXTRA_LAYER)
    units.update({f"{s}.{f}": UNITS[f] for s, f in layer_fields()})
    shown = layer if args.trace else e2e
    metrics = {k: {"value": v, "unit": units[k]} for k, v in shown.items()}

    artifact = {
        "fingerprint": {
            "seed": args.seed, "nproc": os.cpu_count(),
            "jvm_cpus": r["cpus"], "java": r["java"], "spark": r["spark"],
            "git_revision": git_revision(), "source_stamp": stamp,
            "python": platform.python_version(), "host": platform.node()},
        "host_canary": probe,
        "args": vars(args), "correct": verdict["correct"],
        "checks": verdict["checks"], "checks_s": checks_s,
        "attempted": attempted,
        "failed": failed, "failed_frac": failed / attempted,
        "end_to_end": e2e, "per_layer": per_layer(r) if args.trace else None,
        "raw": r}
    with open(os.path.join(BUILD, "artifacts", f"{tag}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({"correct": verdict["correct"] and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
