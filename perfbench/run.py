#!/usr/bin/env python3
"""Benchmark of the medallion pipeline, the LLM-curation faces and the
streaming drains.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the harness from source (perfbench/build.sbt,
output under .bench_build), starts one JVM that sets a Spark session up,
runs untimed warm passes and then timed passes of the workload for the
given seconds, checks every op's output, and prints each metric by name
with its unit. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 listeners and
spans are on and the metrics are the per-layer ones.

Every run also leaves a result file with the box conditions and the op
samples under .bench_build/results, which perfbench/compare.py reads.
`--record` re-records the expected op outputs into perfbench/expected.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected.json"
HEAP = "3g"
# The JVM is shown half the box's CPUs: Spark runs local[CPUS], and the
# collector and the JIT size their thread pools to it, so the run leaves
# head-room for the scheduler instead of waiting on it.
CPUS = max(1, (os.cpu_count() or 2) // 2)
PER_PAGE = 200  # Ingest.PerPage: the driver-loop ingest writes one CSV per page

# Why each workload exists is recorded in BENCHMARK.json; how the faces were
# chosen from the measured per-face times, in perfbench/DESIGN.md.
WORKLOADS = {
    "medallion": {"medallion": 10000, "min_passes": 4},
    "faces": {"faces": [
        "t25_gram_novelty", "c02_dup_clusters", "st05_stream_stream_join",
        "st13_store_purge", "st15_store_lookup", "st19_store_cdc_source"],
        "min_passes": 3},
}
DEDUP_WRITES = {"st13_store_purge"}
DEDUP_READS = {"st15_store_lookup", "st19_store_cdc_source"}
FAMILIES = ["TrainingPrepQueries", "NorthStarQueries", "StreamMediaQueries"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("pass_cpu_s", "s"),
              ("retained_heap_mb", "MB")]
ENGINE = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
          ("task_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"), ("planning_s", "s"),
          ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
          ("spill_bytes", "bytes"), ("serial_stage_s", "s")]
STREAMING = [("queries", "streaming_queries", "count"), ("batches", "batches", "count"),
             ("batch_s", "batch_s", "s"), ("add_batch_s", "add_batch_s", "s"),
             ("query_planning_s", "query_planning_s", "s"),
             ("wal_commit_s", "wal_commit_s", "s"),
             ("commit_offsets_s", "commit_offsets_s", "s"),
             ("state_commit_s", "state_commit_s", "s"),
             ("state_rows", "state_rows", "count"), ("state_bytes", "state_bytes", "bytes")]
PER_LAYER = (
    [("ingest.s", "s"), ("ingest.rows", "count"), ("ingest.files", "count"),
     ("ingest.bytes", "bytes"), ("silver.s", "s"), ("silver.files", "count"),
     ("silver.bytes", "bytes"), ("gold.s", "s"), ("gold.rows", "count"),
     ("gold.files", "count"), ("layers.discover_s", "s"),
     ("output_files", "count"), ("output_bytes", "bytes"),
     ("setup.jvm_s", "s"), ("setup.session_s", "s"), ("setup.warm_pass_s", "s")]
    + [(f"queries.{f}.s", "s") for f in FAMILIES]
    + [(f"engine.{k}", u) for k, u in ENGINE] + [("engine.parallelism", "ratio")]
    + [(f"streaming.{k}", u) for k, _, u in STREAMING]
    + [("dedupstore.write_s", "s"), ("dedupstore.read_s", "s"),
       ("span.pass_self_s", "s"), ("span.op_self_s", "s"), ("span.job_s", "s"),
       ("trace.pass_s", "s")])


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def sources(root):
    files = sorted(p for d in (root / "src" / "main", HERE / "src", HERE / "project")
                   for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    return files + [HERE / "build.sbt"]


def source_digest(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def build(root, out):
    """Compiles the program and the harness unless the sources are unchanged
    since the last build in this checkout."""
    digest = source_digest(root)
    stamp = out / "build.stamp"
    classes = HERE / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == digest and classes.is_dir():
        return classes, digest, False
    if not shutil.which("sbt"):
        fail("sbt not found")
    log = out / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840,
                           env=dict(os.environ, SPARK_HOME=spark_home()))
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (log in {log})")
    stamp.write_text(digest)
    return classes, digest, True


# ---------------------------------------------------------------- box

def cpu_ticks():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]  # total (user..steal), steal


def box(before, after, digest, root, spark_version):
    total = after[0] - before[0]
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": os.cpu_count(), "loadavg": load,
            "steal_frac": (after[1] - before[1]) / total if total else 0.0,
            "heap": f"-Xms{HEAP} -Xmx{HEAP}", "jvm_cpus": CPUS, "spark": spark_version,
            "commit": commit, "source_sha256": digest}


# ---------------------------------------------------------------- harness

def java_cmd(classes, home, work, out_json, args, launch_ms):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    java = shutil.which("java") or fail("java not found")
    return ([java] + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={CPUS}",
               "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dspark.local.dir={work / 'spark'}",
               "-cp", f"{classes}{os.pathsep}{Path(home) / 'jars' / '*'}",
               "graft.perfbench.Harness", "--out", str(out_json), "--work", str(work),
               "--t0-ms", repr(launch_ms)] + args)


def harness_args(name, seed, seconds, trace):
    w = WORKLOADS[name]
    args = ["--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--min-passes", str(w["min_passes"])]
    if "faces" in w:
        return args + ["--faces", str(DATA), ",".join(w["faces"])]
    return args + ["--medallion", str(w["medallion"])]


# ---------------------------------------------------------------- checks

def check_op(name, op, expected):
    """Whether one op ran and its output matches what was recorded."""
    if not op["ok"]:
        return False
    w = WORKLOADS[name]
    if "faces" in w:
        return expected.get(op["name"]) == [op["rows"], op["digest"]]
    rows = w["medallion"]
    if op["name"] == "ingest":
        return op["rows"] == rows and op["files"] == math.ceil(rows / PER_PAGE)
    if op["name"] == "silver":
        return op["rows"] == rows
    return (op["brewery_count_sum"] == rows
            and expected.get(f"gold{rows}") == [op["rows"], op["digest"]])


# ---------------------------------------------------------------- metrics

def end_to_end(h):
    passes = h["passes"]
    return {"setup_s": h["setup"]["total_s"],
            "pass_s": stats.median([p["s"] for p in passes]),
            "pass_cpu_s": stats.median([p["cpu_s"] for p in passes]),
            "retained_heap_mb": h["retained_heap_mb"]}


def per_layer(h):
    passes = h["passes"]
    n = len(passes)
    m = {k: 0.0 for k, _ in PER_LAYER}
    by_name = {}
    for p in passes:
        for o in p["ops"]:
            by_name.setdefault(o["name"], []).append(o)
            c = o.get("counters", {})
            for k, _ in ENGINE:
                m[f"engine.{k}"] += c.get(k, 0.0) / n
            for k, src, _ in STREAMING:
                m[f"streaming.{k}"] += c.get(src, 0.0) / n
            if o["family"] in FAMILIES:
                m[f"queries.{o['family']}.s"] += o["s"] / n
            if o["name"] in DEDUP_WRITES:
                m["dedupstore.write_s"] += o["s"] / n
            if o["name"] in DEDUP_READS:
                m["dedupstore.read_s"] += o["s"] / n
        m["layers.discover_s"] += p["discover_s"] / n

    def mean(op, key):
        vals = [o.get(key, 0) for o in by_name.get(op, [])]
        return sum(vals) / len(vals) if vals else 0.0

    for layer in ("ingest", "silver", "gold"):
        m[f"{layer}.s"] = mean(layer, "s")
        m[f"{layer}.files"] = mean(layer, "files")
        m[f"{layer}.bytes"] = mean(layer, "bytes")
        m[f"{layer}.rows"] = mean(layer, "rows")
    m["output_files"] = m["ingest.files"] + m["silver.files"] + m["gold.files"]
    m["output_bytes"] = m["ingest.bytes"] + m["silver.bytes"] + m["gold.bytes"]
    for k in ("jvm_s", "session_s", "warm_pass_s"):
        m[f"setup.{k}"] = h["setup"][k]
    op_wall = sum(o["s"] for p in passes for o in p["ops"])
    m["engine.parallelism"] = m["engine.task_s"] * n / op_wall if op_wall else 0.0
    self_ms = stats.self_times(h["spans"])
    m["span.pass_self_s"] = self_ms.get("pass", 0.0) / 1e3 / n
    m["span.op_self_s"] = self_ms.get("op", 0.0) / 1e3 / n
    m["span.job_s"] = self_ms.get("job", 0.0) / 1e3 / n
    m["trace.pass_s"] = stats.median([p["s"] for p in passes])
    return {k: m[k] for k, _ in PER_LAYER}


# ---------------------------------------------------------------- main

def record(out, classes, home):
    """Runs each workload once and writes the op outputs to expected.json."""
    expected = {}
    for name in WORKLOADS:
        h = run_harness(out, classes, home, name, 1, 1, 0)
        for p in h["warm"] + h["passes"]:
            for o in p["ops"]:
                if not o["ok"]:
                    fail(f"{name}/{o['name']} failed: {o.get('error')}")
                if o["name"] == "gold":
                    o = dict(o, name=f"gold{WORKLOADS[name]['medallion']}")
                if "digest" in o:
                    prev = expected.setdefault(o["name"], [o["rows"], o["digest"]])
                    if prev != [o["rows"], o["digest"]]:
                        fail(f"{o['name']} output differs between passes")
    EXPECTED.write_text(json.dumps(dict(sorted(expected.items())), indent=1) + "\n")
    print(f"recorded {len(expected)} outputs in {EXPECTED}")


def run_harness(out, classes, home, name, seed, seconds, trace, deadline=175.0):
    work = out / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_json = work / "harness.json"
    log = out / "logs" / f"{name}-seed{seed}-trace{trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    launch_ms = time.time() * 1e3
    cmd = java_cmd(classes, home, work, out_json, harness_args(name, seed, seconds, trace),
                   launch_ms)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=deadline)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also when this process is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    try:
        if rc != 0 or not out_json.exists():
            sys.stderr.write("".join(open(log, errors="replace").readlines()[-40:]))
            fail(f"harness {'timed out' if rc is None else f'exited with {rc}'} (log in {log})")
        return json.loads(out_json.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the harness JVM is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir() or not (HERE / "build.sbt").is_file():
        fail("run from the root of a checkout of the program")
    if not DATA.is_dir():
        fail(f"missing fixture tables in {DATA}")
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    home = spark_home()
    classes, digest, built = build(root, out)
    if a.record:
        return record(out, classes, home)
    if not a.workload:
        ap.error("--workload is required")
    expected = json.loads(EXPECTED.read_text())

    ticks0 = cpu_ticks()
    # a run must end within 180 s; the one that builds may take 900 s
    deadline = (890.0 if built else 175.0) - (time.time() - started)
    h = run_harness(out, classes, home, a.workload, a.seed, a.seconds, a.trace,
                    deadline)
    conditions = box(ticks0, cpu_ticks(), digest, root, h["spark_version"])

    ops = [o for p in h["warm"] + h["passes"] for o in p["ops"]]
    failed = [o for o in ops if not check_op(a.workload, o, expected)]
    for o in failed:
        print(f"FAILED {o['name']}: {o.get('error') or 'output differs from expected.json'}",
              file=sys.stderr)
    samples = [o["s"] for p in h["passes"] for o in p["ops"]]
    tail = stats.tail_percentile(samples)
    if a.trace:
        values, units = per_layer(h), dict(PER_LAYER)
    else:
        values, units = end_to_end(h), dict(END_TO_END)
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}

    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"ops = {len(samples)} timed in {len(h['passes'])} passes; "
          f"op p50 = {stats.median(samples):.4f} s; op tail = "
          + (f"p{tail[0]:g} {tail[1]:.4f} s" if tail else "n/a (fewer than 20 op samples)"))
    print(f"failed_frac = {len(failed)}/{len(ops)}")
    print("box = " + json.dumps(conditions))

    result = {"correct": not failed, "attempted": len(ops), "failed": len(failed),
              "metrics": metrics}
    results = out / "results"
    results.mkdir(exist_ok=True)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(started)}.json").write_text(
        json.dumps(dict(result, workload=a.workload, seed=a.seed, trace=a.trace,
                        seconds=a.seconds, box=conditions, op_samples=samples,
                        op_names=[o["name"] for p in h["passes"] for o in p["ops"]],
                        setup=h["setup"])) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
