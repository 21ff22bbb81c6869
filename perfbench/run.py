#!/usr/bin/env python3
"""graft benchmark: one command, four workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from src/main/scala (perfbench/build.py), generates the
input tables once per checkout (perfbench/datagen.py for the base tables,
graft.ScaleProbe for their 10x replica), runs the workload in one `local[N]`
JVM with N = the CPUs this process may use, and prints one JSON line last:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones (a separate run with Spark listeners on).
Every run also writes a stamped result file (workload, seed, CPUs, heap,
Spark version, time) under .bench_results/, never overwriting another.
The seed sets the query order, the DSL element-to-key assignment and the
micro-batch boundaries; the tables themselves come from one fixed data seed.

Extra options: --smoke (tiny inputs, for perfbench/smoke_test.py),
--wrong-digest <query> (expect a wrong digest for that query),
--record-digests (write observed digests to perfbench/digests.json).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402

HEAP = "4g"
# wall allowed for the harness JVM of one run, after build and data generation
JVM_TIMEOUT_S = 165
DIGESTS = os.path.join(HERE, "digests.json")
DATA = os.path.join(ROOT, ".bench_data")
RESULTS = os.path.join(ROOT, ".bench_results")

# Six of the 202 benchmark QueryDefs, chosen so that their sums match the
# full suite's traced profile at sf0.1 on 4 cores (README.md, "Query mix"):
# construction share of wall, share of jobs run before the plan, task-seconds
# per wall second, share of queries under 0.5 task-seconds, jobs per query
# and median query wall. About 3.7 s a warm pass; the full suite takes ~210 s.
SUITE = ["q03_join_broadcast_star", "q08_join_full_outer", "q11_window_lag_delta",
         "r07_dsl_load_pipeline", "s09_knn_graph", "s15_proximity_search"]
# Two of the round-9 heavy set whose time is execution and whose frames go
# through OpCache: about 6 s a pass on the sf1 replica on 4 cores. The whole
# set (14 queries, about 110 s a pass) does not fit one run.
HEAVY = ["s11_semantic_clusters", "d19_crosslingual_mirrors"]

# pass_s: nominal wall of one timed pass on 4 cores; a run makes
# round(seconds / pass_s) passes (at least one), so the work is fixed by
# --seconds and never by how fast a pass happened to be.
WORKLOADS = {
    "suite-sf0.1": {"kind": "suite", "data": "sf0.1", "queries": SUITE, "pass_s": 3.7},
    "heavy-sf1": {"kind": "suite", "data": "sf1", "queries": HEAVY, "pass_s": 6.0},
    # elements per Compiler path (expression, typed, stateful) and for the
    # single-thread interpreter; all multiples of 10 for the closed form. The
    # typed path is sized to run longest, so query_p50_s (the middle path)
    # reads the stateful fallback: the best wall of the typed path moved ~18%
    # between runs (JIT), that of the stateful one ~8%
    "dsl-load": {"kind": "dsl", "sizes": [181_440_000, 18_144_000, 1_814_400, 2_000_000],
                 "pass_s": 3.3},
    # micro-batches of 10k heavy-sf1 events, one file per trigger
    "stream-fsm": {"kind": "stream", "data": "sf1", "rows_per_batch": 10_000, "batch_s": 0.55},
}
SMOKE_DATA = {"sf0.1": "sf0.001", "sf1": "sf0.001x10"}
# Per-layer metrics each kind of workload exercises (name prefixes). A traced
# run reports 0 for the layers its workload bypasses.
COMMON_LAYERS = ("planning.", "execution.", "host.", "trace.", "failed_ratio", "rss_peak_mb",
                 "query_p90_s")
EXERCISED = {
    "suite": COMMON_LAYERS + ("tables.", "operators.", "opcache."),
    "dsl": COMMON_LAYERS + ("dsl",),
    "stream": COMMON_LAYERS + ("batch_", "stream_rows_s", "streaming."),
}


def cpus():
    return len(os.sched_getaffinity(0))


SCALE_PROBE = os.path.join(ROOT, "src", "main", "scala", "graft", "ScaleProbe.scala")
# replicas: data key -> the key of the data set graft.ScaleProbe replicates
REPLICAS = {"sf1": "sf0.1", "sf0.001x10": "sf0.001"}


def _version(key):
    """Hash of the code that writes a data set."""
    h = hashlib.sha256()
    for f in [os.path.join(HERE, "datagen.py")] + ([SCALE_PROBE] if key in REPLICAS else []):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scale_probe(cp, src, out):
    """Writes the 10x disjoint replica of `src` with graft.ScaleProbe."""
    local = out + "-local"
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    try:
        rc = run_jvm(java_cmd(cp, local, "graft.ScaleProbe") + [out, src], local + ".log", None, env)
        if rc != 0:
            sys.stderr.write(open(local + ".log").read()[-6000:])
            raise SystemExit(f"data: graft.ScaleProbe exited with code {rc}")
    finally:
        shutil.rmtree(local, ignore_errors=True)
        if os.path.exists(local + ".log"):
            os.remove(local + ".log")


def dataset(key, cp):
    """Path of a generated data set, generating it on first use."""
    path = os.path.join(DATA, key)
    stamp = os.path.join(path, "_GENERATED")
    version = _version(key)
    if os.path.isfile(stamp) and open(stamp).read() == version:
        return path
    tmp = path + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    if key in REPLICAS:
        scale_probe(cp, dataset(REPLICAS[key], cp), tmp)
    else:
        datagen.generate(tmp, float(key[2:]))
    with open(os.path.join(tmp, "_GENERATED"), "w") as fh:
        fh.write(version)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    sys.stderr.write(f"data: generated {key} in {time.time() - t0:.1f} s\n")
    return path


def data_key(cfg, smoke):
    """The data set a workload reads: its own, or the tiny one of --smoke."""
    return SMOKE_DATA[cfg["data"]] if smoke else cfg["data"]


def jvm_args(w, a, run_dir, cp):
    cfg = WORKLOADS[w]
    args = ["--kind", cfg["kind"], "--seed", str(a.seed), "--trace", str(a.trace),
            "--cores", str(cpus())]
    if cfg["kind"] == "suite":
        key = data_key(cfg, a.smoke)
        passes = 1 if a.smoke else max(1, round(a.seconds / cfg["pass_s"]))
        args += ["--data", dataset(key, cp), "--data-key", key, "--expect", DIGESTS,
                 "--queries", ",".join(cfg["queries"]), "--passes", str(passes)]
        if a.record_digests:
            args += ["--record", "1"]
        if a.wrong_digest:
            if a.wrong_digest not in cfg["queries"]:
                raise SystemExit(f"run: {a.wrong_digest} is not a query of {w}")
            args += ["--wrong-digest", a.wrong_digest]
    elif cfg["kind"] == "dsl":
        sizes = [s // 1000 * 10 for s in cfg["sizes"]] if a.smoke else cfg["sizes"]
        passes = 1 if a.smoke else max(1, round(a.seconds / cfg["pass_s"]))
        args += ["--sizes", ",".join(map(str, sizes)), "--passes", str(passes)]
    else:
        rows = 100 if a.smoke else cfg["rows_per_batch"]
        batches = 5 if a.smoke else max(10, round(a.seconds / cfg["batch_s"]))
        src = dataset(data_key(cfg, a.smoke), cp)
        datagen.stream_batches(src, os.path.join(run_dir, "stream-in"), batches, rows, a.seed)
        datagen.stream_batches(src, os.path.join(run_dir, "stream-warm"), 3,
                               rows, a.seed + 1)
        args += ["--stream-dir", os.path.join(run_dir, "stream-in"),
                 "--warm-dir", os.path.join(run_dir, "stream-warm"),
                 "--batches", str(batches), "--passes", "1"]
    return args


def java_cmd(cp, tmp, main_class="perfbench.Main"):
    """A JVM on the built classes; it keeps its temporary files inside the checkout."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-cp", cp, main_class]


def run_jvm(cmd, log_path, timeout, env=None):
    """Runs a JVM in its own process group; kills the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def run_harness(cp, args, run_dir):
    """Runs the harness JVM with its own local dir; returns its result file."""
    local = os.path.join(run_dir, "local")
    os.makedirs(local)
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    cmd = java_cmd(cp, local) + args + ["--out", out, "--local-dir", local]
    rc = run_jvm(cmd, log, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log).read()[-6000:])
        raise SystemExit(f"run: harness JVM exited with code {rc}")
    return json.load(open(out))


def self_times(spans):
    """Self time per layer: a span's duration minus its child spans'."""
    dur = lambda s: (s["end_ms"] - s["start_ms"]) / 1e3
    children = {}
    for s in spans:
        if s["parent"]:
            children[(s["id"], s["parent"])] = children.get((s["id"], s["parent"]), 0.0) + dur(s)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + dur(s) - children.get((s["id"], s["layer"]), 0.0)
    return out


def record_digests(key, observed):
    """Merges observed digests: a query whose digest differs from an earlier
    recording is checked by row count only from then on."""
    book = json.load(open(DIGESTS)) if os.path.isfile(DIGESTS) else {}
    known = book.setdefault(key, {})
    for q, d in observed.items():
        old = known.get(q)
        if old is None:
            known[q] = d
        elif old != d and old.split(":")[0] == d.split(":")[0]:
            known[q] = d.split(":")[0] + ":*"
        elif old != d:
            raise SystemExit(f"digests: {q} row count changed between recordings ({old} vs {d})")
    with open(DIGESTS, "w") as fh:
        json.dump(book, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--wrong-digest")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build.classpath()
    run_dir = os.path.join(DATA, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = jvm_args(a.workload, a, run_dir, cp)
        t_jvm = time.time()
        res = run_harness(cp, args, run_dir)
        res["info"]["jvm_wall_s"] = time.time() - t_jvm
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    cfg = WORKLOADS[a.workload]
    key = data_key(cfg, a.smoke) if "data" in cfg else None
    if a.record_digests and cfg["kind"] == "suite":
        record_digests(key, res["info"]["digests"])

    m = res["metrics"]
    metrics, missing, bypassed = {}, [], []
    for spec_m in wanted:
        name = spec_m["name"]
        v = m.get(name)
        if v is None and a.trace and not name.startswith(EXERCISED[cfg["kind"]]):
            v = 0.0
            bypassed.append(name)
        if v is None:
            missing.append(name)
        else:
            metrics[name] = {"value": v, "unit": spec_m["unit"]}
    res["info"]["bypassed_layers"] = bypassed
    for f in res["failures"]:
        sys.stderr.write(f"FAILED {f}\n")
    if missing:
        sys.stderr.write(f"missing metrics: {missing}\n")
    result = {"correct": res["failed"] == 0 and not missing, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}

    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "smoke": a.smoke, "nproc": cpus(), "heap": HEAP,
             "spark_version": res["info"].get("spark_version"), "data": key,
             "utc": time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())}
    if a.trace:
        res["self_s"] = self_times(res["spans"])
    os.makedirs(RESULTS, exist_ok=True)
    name = "{workload}_seed{seed}_trace{trace}_cpu{nproc}_heap{heap}_spark{spark_version}_{utc}".format(**stamp)
    path = os.path.join(RESULTS, f"{name}_{os.getpid()}.json")
    with open(path, "x") as fh:
        json.dump({"stamp": stamp, "result": result, "run": res}, fh)
    sys.stderr.write(f"result file: {os.path.relpath(path, ROOT)}\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
