#!/usr/bin/env python3
"""EOD cascade and store-ingest benchmark.

Run from the repository root:

    python3 eodbench/run.py --workload eod_restate_stream --seed 1 --seconds 3 --trace 0

Builds the program and the benchmark (sbt, first run only), generates the
workload's inputs from the seed, runs the workload in a fresh JVM, checks
its outputs against a DuckDB computation made apart from the program, and
prints one JSON object as the last line of standard output. With `--trace 0`
it reports the end-to-end metrics; with `--trace 1` the per-layer ones.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("eod_daily", "eod_restate_stream", "store_ingest")
END_TO_END = {
    "setup_s": "s", "batch_p50_s": "s", "rows_per_s": "rows/s", "serve_s": "s",
    "stored_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB",
}
SPARK_LAYER = [("spark.sql_execs", "count"), ("spark.jobs", "count"),
               ("spark.tasks", "count"), ("spark.shuffle_bytes", "bytes"),
               ("spark.spill_bytes", "bytes")]
# per-layer metrics of the EOD workloads (the ones BENCHMARK.json lists)
EOD_LAYER = dict(
    [(f"pipeline.stage.{s}_s", "s") for s in
     ("copy", "check", "premerge", "merge_core", "dim_security", "dim_date",
      "fact", "postmerge")]
    + [("pipeline.driver_s", "s")] + SPARK_LAYER
    + [("ingest.scan_amplification", "ratio"),
       ("pipeline.write_amplification", "ratio"),
       ("metrics.audit_jobs", "count"), ("dim.new_security_ids", "count"),
       ("dim.rows_rewritten", "count"), ("streaming.trigger_overhead_s", "s")]
    + [(f"sa.{m}_s", "s") for m in
       ("returns", "liquidity", "volatility", "topn", "share")])
# per-layer metrics of store_ingest
STORE_LAYER = dict(
    [(f"ext.stage.{s}_s", "s") for s in
     ("exact", "neardup", "vector", "decontam", "lm", "verdicts")]
    + [("core.ledger_s", "s"), ("core.append_s", "s"), ("core.compact_s", "s"),
       ("core.files_per_bucket", "files")] + SPARK_LAYER
    + [(f"ext.probe.{s}_s", "s") for s in
       ("exact", "neardup", "vector", "decontam", "lm")])
# every per-layer metric, in BENCHMARK.json's order: a traced run prints all
# of them, and a layer its workload leaves idle reads 0
LAYER = {**EOD_LAYER, **STORE_LAYER}

JVM_TIMEOUT_S = 160
HEAP = "2g"
CPUS = 2
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# the program's own sources, one directory above the benchmark
PROGRAM_MARKER = os.path.join("src", "main", "scala", "graft", "EodPipeline.scala")


def fail(msg, code=2):
    print(f"eodbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------- build

def _sources_digest(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(root, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(base):
            # build output and sbt's meta-build are not sources
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(root, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the program and the benchmark once per source state; return
    the runtime classpath."""
    target = os.path.join(BENCH, "target")
    stamp = os.path.join(target, "build.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    digest = _sources_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    with open(os.path.join(target, "build.log"), "w") as log:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
            cwd=BENCH, stdout=log, stderr=subprocess.STDOUT, env=env, timeout=840)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (see {os.path.relpath(target, root)}/build.log)", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as fh:
        return fh.read().strip()


# ------------------------------------------------------------------- inputs

def generate(workload, seed, inputs):
    """Write the workload's inputs; return manifest lines and a summary."""
    lines = []
    if workload == "eod_daily":
        m = gen.eod_inputs(inputs, seed, rows=4_000, n_dates=1 + 2)
    elif workload == "eod_restate_stream":
        m = gen.eod_inputs(inputs, seed, rows=4_000, n_dates=1 + 2, restate_lag=1)
    else:
        m = gen.doc_inputs(inputs, seed, n_seed=200, n_bench=50,
                           shard_sizes=(200, 200), n_probe=100)
        lines += [f"seed\t{m['seed']}", f"bench\t{m['bench']}", f"probe\t{m['probe']}"]
        lines += [f"shard\t{s['batch_id']}\t{s['file']}\t{s['docs']}" for s in m["shards"]]
        return lines, m
    for d in m["dates"]:
        lines.append("\t".join(["date", d["date"], d["file"], str(d["rows"])] +
                               ([d["correction"]] if "correction" in d else [])))
    return lines, m


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (for check.py --selftest)")
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, PROGRAM_MARKER)):
        fail("run from the repository root: the program's sources are missing")
    classpath = build(root)

    run_dir = os.path.join(BENCH, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t0 = time.monotonic()
        lines, summary = generate(a.workload, a.seed, os.path.join(run_dir, "inputs"))
        gen_s = time.monotonic() - t0
        manifest = os.path.join(run_dir, "manifest.tsv")
        with open(manifest, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        with open(os.path.join(run_dir, "inputs.json"), "w") as fh:
            json.dump(summary, fh)
        # no -Xms: the heap grows with what the program uses, so peak_rss_mb
        # follows the program rather than the heap setting. Two processors
        # (so `local[2]`, and two GC and two JIT threads): a unit is driver
        # overhead of many small Spark jobs, not parallel work, so it runs no
        # slower than on four, and the JVM leaves cores free on a shared host
        cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-XX:ActiveProcessorCount={CPUS}",
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "eodbench.Main", a.workload, str(a.seconds),
                  str(a.trace), run_dir, manifest])
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail("the workload did not finish in time", 4)
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                tail = fh.read()[-3000:]
            fail(f"the workload failed (exit {rc}):\n{tail}", 5)
        with open(os.path.join(run_dir, "out", "result.json")) as fh:
            res = json.load(fh)
        t0 = time.monotonic()
        results = check.run_checks(a.workload, run_dir)
        check_s = time.monotonic() - t0
        for name, ok, detail in results:
            print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}")
        correct = all(ok for _, ok, _ in results)

        setup_s = gen_s + res["session_s"] + res["once_s"] + res["serve_warmup_s"]
        e2e = {"setup_s": setup_s, "batch_p50_s": res["batch_p50_s"],
               "rows_per_s": res["rows_per_s"], "serve_s": res["serve_s"],
               "stored_bytes_per_input_byte": res["stored_bytes_per_input_byte"],
               "peak_rss_mb": res["peak_rss_mb"]}
        units = len(res["unit_s"])
        print(f"info units={units} unit_s={res['unit_s']} "
              f"gen_s={gen_s:.3f} session_s={res['session_s']} once_s={res['once_s']} "
              f"serve_warmup_s={res['serve_warmup_s']} serve_pass_s={res['serve_pass_s']} check_s={check_s:.1f} wall_s={time.monotonic() - t_start:.1f}")
        if a.trace:
            layer = res["layer"]
            for k in layer:
                if k not in LAYER:
                    print(f"info layer {k}={layer[k]}")
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                       for k, u in LAYER.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        out = {"correct": correct, "attempted": units + int(res["serve_passes"]),
               "failed": 0, "metrics": metrics}
        print(json.dumps(out))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
