#!/usr/bin/env python3
"""Layered benchmark for the graft engine: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script
  1. builds the program with the benchmark runner from source (sbt, its
     own build under perfbench/), reusing the build while no source
     changed;
  2. locates the inputs: the shipped test tables, copied verbatim under
     perfbench/data and checked against perfbench/expected/data.sha256,
     and, for ingest_stream, the event slices cut at seeded points;
  3. runs the workload in one JVM (perfbench.Main) under a temporary
     root that is deleted at exit;
  4. prints, as its last stdout line, one JSON object with `correct`,
     `attempted`, `failed` and the metrics BENCHMARK.json lists for the
     mode: end_to_end with --trace 0, per_layer with --trace 1.

Workloads, metrics and the layer each metric belongs to are described
in perfbench/LAYERS.md. `--record 1` rewrites the expected output
fingerprints from the current program.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

# input scale per workload; ingest_stream also cuts SLICES event slices
WORKLOADS = {"pipeline": "0.001", "ingest_stream": "0.01"}
SLICES = 3
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile the program and the runner unless the stamp still matches."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t = time.time()
    log("building program and benchmark runner (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die(f"build failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t:.1f}s")


def sha256(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def inputs(scale):
    """The shipped test tables at `scale` (a verbatim copy under
    perfbench/data), checked file by file against expected/data.sha256.
    The directory must hold exactly the listed files."""
    want = {}
    with open(os.path.join(EXPECTED, "data.sha256")) as fh:
        for line in fh:
            if line.strip():
                digest, rel = line.split()
                if rel.startswith(f"sf{scale}/"):
                    want[os.path.basename(rel)] = digest
    d = os.path.join(DATA, f"sf{scale}")
    if not want or not os.path.isdir(d):
        die(f"input tables sf{scale} not found under {os.path.relpath(DATA, ROOT)}")
    got = {n: sha256(os.path.join(d, n)) for n in sorted(os.listdir(d))}
    if got != want:
        bad = sorted(n for n in set(got) | set(want) if got.get(n) != want.get(n))
        die(f"input tables sf{scale} differ from expected/data.sha256: {bad}")
    return d


def cut_slices(data_dir, seed, out):
    """Time-ordered event slices, cut at seeded points around equal sizes."""
    import pyarrow.parquet as pq
    t = time.time()
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    n = events.num_rows
    rng = random.Random(seed)
    cuts = [0] + [round((i + rng.uniform(-0.15, 0.15)) * n / SLICES)
                  for i in range(1, SLICES)] + [n]
    for i in range(SLICES):
        d = os.path.join(out, f"s{i:02d}")
        os.makedirs(d)
        part = events.slice(cuts[i], cuts[i + 1] - cuts[i])
        pq.write_table(part, os.path.join(d, "events.parquet"),
                       row_group_size=max(1, part.num_rows))
    log(f"cut {SLICES} event slices in {time.time() - t:.2f}s (not part of setup_s)")


def published(trace):
    """Metric names and units BENCHMARK.json publishes for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its temporary root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found: run from a checkout root")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(os.path.join(os.environ["SPARK_HOME"], "jars")):
        die("SPARK_HOME with a jars/ directory is required")
    if shutil.which("java") is None:
        die("java not found on PATH")
    want = published(bool(a.trace))

    build()
    fx = inputs(WORKLOADS[a.workload])
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    proc = None
    try:
        slices = ""
        if a.workload == "ingest_stream":
            slices = os.path.join(run_dir, "slices")
            cut_slices(fx, a.seed, slices)
        spans = os.path.join(HERE, "out", f"spans_{a.workload}_seed{a.seed}.jsonl") if a.trace else ""
        cp = os.pathsep.join([CLASSES, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
        cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-Xmx3g", "-XX:ReservedCodeCacheSize=256m",
                  f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                  f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                  "-cp", cp, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--data", fx, "--work", run_dir, "--slices", slices,
                  "--expected", os.path.join(EXPECTED, f"{a.workload}.tsv"),
                  "--record", str(a.record), "--spans", spans,
                  "--t0-ms", str(int(time.time() * 1000))])
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                stderr=sys.stderr, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"workload run exceeded {JVM_TIMEOUT_S}s", 3)
        lines = [l for l in out.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l, file=sys.stderr)
        if proc.returncode != 0 or not lines:
            die(f"workload run failed with exit code {proc.returncode}", 3)
        res = json.loads(lines[-1])
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    got = res["metrics"]
    missing = [k for k, u in want.items() if k not in got or got[k]["unit"] != u]
    if missing:
        die(f"run did not produce metrics {missing}", 3)
    res["metrics"] = {k: got[k] for k in want}
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
