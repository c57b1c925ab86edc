#!/usr/bin/env python3
"""Repo benchmark: end-to-end and per-layer measurements of the lake.

Usage (from the repository root):
  python3 perfbench/run.py --workload <star|docs> --seed <n>
                           --seconds <s> --trace <0|1>

Builds the library and the benchmark harness from source with scalac
(into $CARGO_TARGET_DIR, default .bench_build; rebuilt only when a source
file changes), generates the workload's corpus from the seed, and runs
the workload on local[<nproc>] in one fresh JVM with its own empty
warehouse under .bench_run/: set-up, then a cold pass and a fixed number
of steady passes over the workload's queries. The workloads, their corpora, query sets
and set-up calls are declared in perfbench/workloads.json.

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics of a traced run, which also dumps the timed queries with
graft.Verify and checks them against their DuckDB oracles with
tools/check_oracle.py and, where the workload declares it, runs the
reference pipeline. A per-layer metric of a layer the workload does not
run reads 0; each is measured on another workload. The last stdout line
is one JSON object with the keys correct, attempted, failed and metrics.
A failed operation, an output that differs between passes or from the
oracle makes correct false and the exit code 1. A missing source tree, a
failed build or a metric that was not produced exits 2 with no result
line.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
MAIN = "graft.perfbench.PerfBench"

# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one build.sbt
    compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        log("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")
        sys.exit(2)
    return m.group(1)


def scala_files():
    out = []
    for src in SOURCES:
        for d, _, fs in os.walk(src):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(build_dir):
    """Compile the library and the harness into one class directory."""
    if not os.path.isdir(SOURCES[0]):
        log(f"no library sources under {SOURCES[0]}")
        sys.exit(2)
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"building {len(files)} scala files into {classes}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp, f"@{argfile}"]
    t0 = time.time()
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        log("build failed")
        sys.exit(2)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def jvm(classes, run_dir, args, heap, main=MAIN, env=None):
    """Run `main` in a fresh JVM with `run_dir` as its working directory;
    returns (launch epoch ms, rc)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, RESOURCES,
                                      os.path.join(spark_jars(), "*")]),
              main] + [str(a) for a in args])
    launched = time.time() * 1000
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir,
                            env=dict(os.environ, **(env or {})))
    try:
        rc = proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return launched, rc


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs; (0, 0) where unknown."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def oracle_failures(classes, run_dir, corpus, w, heap, cores):
    """Dumps the workload's queries with graft.Verify and compares them
    with their DuckDB oracles through tools/check_oracle.py. Returns the
    number of queries that fail the comparison."""
    odir = os.path.join(run_dir, "oracle")
    only = w["queries"] + w.get("oracle_dumps", [])
    jvm(classes, os.path.join(run_dir, "verify"), [corpus, odir], heap, main="graft.Verify",
        env={"SPARK_GRAFT_CPUS": str(cores), "SPARK_GRAFT_ONLY": ",".join(only)})
    path = os.path.join(odir, "oracle_sql.json")
    if not os.path.exists(path):
        log("graft.Verify wrote no oracle_sql.json")
        return len(w["queries"])
    with open(path) as fh:
        oracle = json.load(fh)
    unchecked = [q for q in w["queries"] if q not in oracle]
    if unchecked:
        log(f"no oracle SQL for {unchecked}")
    # Verify writes the oracle of every query; keep the dumped ones
    kept = {q: oracle[q] for q in w["queries"] if q in oracle}
    with open(path, "w") as fh:
        json.dump(kept, fh)
    reads = {d for sql in kept.values() for d in re.findall(re.escape(odir) + r"/(q\w+)/", sql)}
    if reads - set(os.listdir(odir)):
        log(f"oracles read dumps not made: {sorted(reads - set(os.listdir(odir)))}; "
            "list them under oracle_dumps in workloads.json")
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        corpus, odir], stdout=subprocess.PIPE, text=True)
    sys.stderr.write(p.stdout)
    fails = sum(l.startswith("FAIL ") for l in p.stdout.splitlines())
    return fails or (1 if p.returncode != 0 else 0)


# The counters Layers.scala emits for each module; any other per-layer
# name `<layer>_ms` is the wall time of a set-up call or a pipeline step.
COUNTERS = {"build_ms", "build_jobs", "plan_ms", "exec_ms", "driver_gap_ms", "jobs",
            "single_task_stages", "task_cpu_ms", "shuffle_mb"}
PIPELINE_LAYERS = ("datagen.", "store.", "model.")


def layer_of(name):
    """The layer a per-layer metric belongs to, and the key Layers.scala
    reports it under."""
    if name.startswith(("spark.", "trace.", "wall.")):
        return "run", name
    prefix, counter = name.rsplit(".", 1)
    if counter in COUNTERS:
        return prefix, name
    return name[:-3], name[:-3] + ".wall_ms"


def owns(w, module, layer):
    """Whether workload `w` measures `layer`."""
    if layer == "run":
        return True
    if layer.startswith("setup."):
        return layer[len("setup."):] in w["setup"]
    if layer.startswith(PIPELINE_LAYERS):
        return bool(w.get("traced_pipeline_n"))
    return any(module[q] == layer for q in w["queries"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # turn a termination request into an exception, so the finally blocks
    # stop the harness JVM and remove the run's directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.workload not in spec["workloads"]:
        log(f"unknown workload {a.workload}")
        sys.exit(2)
    w = spec["workloads"][a.workload]
    with open(os.path.join(HERE, "queries.tsv")) as fh:
        rows = [l.rstrip("\n").split("\t") for l in fh if l.strip() and not l.startswith("#")]
    family = {q: f for q, _, f in rows}
    module = {q: m for q, m, _ in rows}
    foreign = [q for q in w["queries"] if family.get(q) != a.workload]
    if foreign:
        log(f"queries not in the {a.workload} family: {foreign}")
        sys.exit(2)
    # every per-layer metric must be measured by some workload; on the
    # others it reads 0
    unowned = [m["name"] for m in bench["per_layer"]
               if not any(owns(x, module, layer_of(m["name"])[0])
                          for x in spec["workloads"].values())]
    if unowned:
        log(f"per-layer metrics no workload measures: {unowned}")
        sys.exit(2)

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)

    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = measure(a, w, spec, classes, run_dir, module,
                         [m["name"] for m in bench["per_layer"]])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        sys.exit(2)
    out, ok = result
    names = [m["name"] for m in bench["end_to_end" if a.trace == 0 else "per_layer"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    metrics = out["metrics"]
    missing = [n for n in names if n not in metrics]
    if missing:
        log(f"metrics not produced: {missing}")
        sys.exit(2)
    print(json.dumps({
        "correct": ok, "attempted": out["attempted"], "failed": out["failed"],
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names}}))
    sys.exit(0 if ok else 1)


def measure(a, w, spec, classes, run_dir, module, layer_names):
    cores = os.cpu_count() or 1
    corpus = os.path.join(run_dir, "corpus")
    c = w["corpus"]
    subprocess.run([sys.executable, os.path.join(HERE, "corpus.py"), corpus,
                    str(a.seed), str(c["sf"]), str(c["documents"]),
                    str(c["embeddings"])], check=True, stdout=sys.stderr)
    lake = os.path.join(run_dir, "lake")
    res_file = os.path.join(run_dir, "run.json")
    steal0 = cpu_ticks()
    launched, rc = jvm(classes, run_dir, [
        "--setup", ",".join(w["setup"]), "--corpus", corpus, "--cores", cores,
        "--registry", os.path.join(HERE, "queries.tsv"),
        "--queries", ",".join(w["queries"]),
        "--lake", lake, "--out", res_file,
        "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace,
        "--pipeline-n", w.get("traced_pipeline_n", 0) if a.trace else 0,
        # a traced run needs four steady passes for its T,U,U,T order
        "--min-steady", 4 if a.trace else w["steady_passes"]], spec["heap"])
    if not os.path.exists(res_file):
        log(f"harness exited {rc} without a result")
        return None
    with open(res_file) as fh:
        r = json.load(fh)
    setup_wall = (r["setup_end_ms"] - launched) / 1000
    steal1 = cpu_ticks()
    if steal1[1] > steal0[1]:
        # time the hypervisor gave to other guests: the main source of
        # run-to-run noise on a shared virtual machine
        log(f"cpu steal {(steal1[0] - steal0[0]) / (steal1[1] - steal0[1]):.1%}")
    for e in r["errors"]:
        log(f"error: {e}")
    for name, ms in r["setup_calls_ms"].items():
        log(f"{name}: {ms:.0f} ms (cold set-up)")
    for name, ms in r["op_ms"].items():
        log(f"{name}: " + " ".join(f"{x:.0f}" for x in ms) + " ms")
    first = r["first_steady_pass"]
    for what, setup, passes in (("wall", setup_wall, r["pass_s"]),
                                ("process cpu", r["setup_cpu_s"], r["pass_cpu_s"])):
        log(f"{what}: setup {setup:.3f} passes {[round(x, 3) for x in passes]}")
    ok = rc == 0 and r["failed"] == 0
    out = {"attempted": r["attempted"], "failed": r["failed"]}

    if a.trace == 1:
        # the traced run also checks every query against its DuckDB oracle
        bad = oracle_failures(classes, run_dir, corpus, w, spec["heap"], cores)
        out["failed"] += bad
        ok = ok and not bad
        layers = dict(r["layers"])
        log(f"jobs outside any span: {layers.get('trace.unattributed_jobs', 0):.0f}")
        # the wall time next to the CPU time steady_cpu_s reports, from the
        # untraced steady passes (set-up and cold pass walls are logged above)
        layers["wall.steady_pass_s"] = statistics.median(
            x for x, t in zip(r["pass_s"][first:], r["pass_traced"][first:]) if not t)
        out["metrics"] = {}
        for n in layer_names:
            layer, key = layer_of(n)
            if owns(w, module, layer):
                if key in layers:
                    out["metrics"][n] = layers[key]
            else:
                out["metrics"][n] = 0.0  # measured on another workload
        return out, ok

    # The timed metrics are CPU seconds of the whole JVM process (all
    # threads, JIT compiler and GC included): wall time swings with the
    # CPU time the hypervisor gives to other guests on a shared virtual
    # machine. Wall times go to stderr and, from the traced run, to the
    # wall.steady_pass_s per-layer metric.
    out["metrics"] = {
        "setup_s": r["setup_cpu_s"],
        "cold_pass_cpu_s": r["pass_cpu_s"][0],
        "steady_cpu_s": statistics.median(r["pass_cpu_s"][first:]),
        "lake_bytes_ratio": r["lake_bytes"] / r["input_bytes"],
        "retained_heap_mb": r["retained_heap_mb"],
    }
    return out, ok


if __name__ == "__main__":
    main()
