"""graft's benchmark: one command per run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the benchmark's JVM half from source (once per
checkout), writes the fixed corpus, turns the seed into the workload's
inputs, runs them in one fresh JVM, checks every output, writes the
full record to `.bench_results/`, and prints one JSON line last:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.

`--record` runs the full 129-query sweep and rewrites `expected.json`
from its outputs (only after the repo's DuckDB oracle has passed on the
same corpus, see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_corpus  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402

ROOT = build.ROOT
RESULTS = os.path.join(ROOT, ".bench_results")
EXPECTED = os.path.join(HERE, "expected.json")
CORPUS_SCALE = 0.01
CORPUS_SEED = 42
SETUPS = 3
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def corpus_dir():
    with open(os.path.join(HERE, "gen_corpus.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(build.BUILD_DIR, f"corpus-{CORPUS_SCALE:g}-{CORPUS_SEED}-{tag}")
    if not os.path.exists(os.path.join(out, ".complete")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_corpus.write(tmp, CORPUS_SCALE, CORPUS_SEED)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def jvm_cmd(out, *args, cds=None):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cds = cds or f"-XX:SharedArchiveFile={os.path.join(out, 'classes.jsa')}"
    return (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", cds] + opens
            + ["-cp", os.pathsep.join([os.path.join(out, "bench.jar"), build.classpath()]),
               "perfbench.GraftBench"] + list(args))


def class_archive(out, corpus):
    """Once per build, a class-data sharing archive of the classes a
    session, an index build and a few queries load, dumped by a short
    training JVM. Every measured JVM maps it, which takes a few seconds of
    class loading off each run's start. A run without it is refused, so
    every run of a build starts the same way. Returns its size in bytes."""
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(archive):
        return os.path.getsize(archive)
    run_dir = os.path.join(build.BUILD_DIR, f"train-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    inp = {"workload": "search-warm", "corpus": corpus, "run_dir": run_dir,
           "cpus": len(os.sched_getaffinity(0)), "seconds": 1, "trace": True,
           "setups": 1, "cold": ["vec_knn_ivf", "fts_bm25", "graph_khop", "dsl_agg"]}
    with open(os.path.join(run_dir, "inputs.json"), "w") as fh:
        json.dump(inp, fh)
    cmd = jvm_cmd(out, os.path.join(run_dir, "inputs.json"),
                  os.path.join(run_dir, "raw.json"),
                  cds=f"-XX:ArchiveClassesAtExit={archive}.tmp")
    cmd.insert(1, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    log_path = os.path.join(run_dir, "train.log")
    try:
        with open(log_path, "w") as log:
            res = subprocess.run(cmd, cwd=run_dir, stdout=log,
                                 stderr=subprocess.STDOUT, timeout=300)
        if res.returncode != 0 or not os.path.exists(archive + ".tmp"):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-3000:])
            raise SystemExit("run: dumping the class-data sharing archive "
                             f"failed (code {res.returncode})")
        os.rename(archive + ".tmp", archive)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return os.path.getsize(archive)


def list_queries(out):
    """Names in `SparkEntry.queries`, listed once per build."""
    path = os.path.join(out, "queries.txt")
    if not os.path.exists(path):
        res = subprocess.run(jvm_cmd(out, "--list"), stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=120,
                             check=True)
        with open(path + ".tmp", "w") as fh:
            fh.write(res.stdout)
        os.rename(path + ".tmp", path)
    with open(path) as fh:
        return [q for q in fh.read().split() if q]


def loadavg():
    with open("/proc/loadavg") as fh:
        return fh.read().split()[:3]


def cpu_steal_jiffies():
    """Time the hypervisor ran other guests while this host's CPUs were
    ready to run, summed over CPUs (USER_HZ ticks since boot)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def meminfo_kb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return None


def run_jvm(out, inp, run_dir, timeout_s):
    in_path = os.path.join(run_dir, "inputs.json")
    raw_path = os.path.join(run_dir, "raw.json")
    with open(in_path, "w") as fh:
        json.dump(inp, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = jvm_cmd(out, in_path, raw_path)
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            raise SystemExit("run: the JVM did not finish in time")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(raw_path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"run: the JVM exited with code {code}")
    with open(raw_path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    out = build.build()
    corpus = corpus_dir()
    cds_bytes = class_archive(out, corpus)
    all_queries = list_queries(out)
    expected = {}
    if not a.record:
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    workload = "cold-sweep" if a.record else a.workload
    nproc = len(os.sched_getaffinity(0))
    stamp = {"workload": workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "nproc": nproc,
             "mem_total_kb": meminfo_kb(), "xmx": HEAP,
             "corpus": {"scale": CORPUS_SCALE, "seed": CORPUS_SEED},
             "class_data_archive_bytes": cds_bytes,
             "loadavg_start": loadavg(),
             "cpu_steal_jiffies_start": cpu_steal_jiffies(),
             "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    inp = workloads.inputs(workload, a.seed, all_queries, corpus, a.seconds)
    inp.update({"workload": workload, "corpus": corpus, "cpus": nproc,
                "seconds": a.seconds, "trace": bool(a.trace), "setups": SETUPS})
    os.makedirs(RESULTS, exist_ok=True)
    run_dir = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inp["run_dir"] = run_dir
    try:
        raw = run_jvm(out, inp, run_dir, 1800 if a.record else JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    stamp["loadavg_end"] = loadavg()
    stamp["cpu_steal_jiffies_end"] = cpu_steal_jiffies()
    stamp["spark_conf"] = raw.pop("spark_conf", {})
    stamp["max_heap_bytes"] = raw.pop("max_heap_bytes", None)
    if a.record:
        report.record_expected(raw, EXPECTED)
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    result = report.build(workload, inp, raw, expected, stamp)
    name = f"{workload}-seed{a.seed}-trace{a.trace}-{int(t_start)}.json"
    with open(os.path.join(RESULTS, name), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    metrics = result["per_layer"] if a.trace else result["end_to_end"]
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
