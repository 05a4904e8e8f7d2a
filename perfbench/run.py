#!/usr/bin/env python3
"""graft end-to-end benchmark: one command, two workloads, output checks.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <cube_serve|query_mix> --seed N \
      --seconds S --trace <0|1>

The first run in a checkout compiles graft from `src/main/scala` together
with the harness in `perfbench/src` (sbt, offline; Spark jars from
$SPARK_HOME/jars) into `.bench_build/`. Every run then:

  1. generates its inputs from --seed (cube_serve: a staged merged cube
     group built from the sf0.1 tables, three times over, checking the
     three stagings are byte-identical; query_mix: none, the seed picks
     which query's output is re-checked);
  2. runs the workload in a fresh JVM (`graftbench.Main`);
  3. checks the outputs against DuckDB;
  4. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.

With --trace 1 it runs the workload twice, untraced and traced, prints
the per-layer metrics of the traced run and writes the trace artifact
(spans, per-layer counts, tracing overhead, config) to
`.bench_build/traces/`. See perfbench/README.md for the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170

# sf tables the generator and the query mix read
SF_GEN = os.environ.get("GRAFT_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
SF_MIX = os.environ.get("GRAFT_MIX_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))

# cube_serve: one merged group (master + sibling sharing its dimensions)
# and a tiny standalone product loaded in setup to warm the JVM
MASTER, SIBLING, WARMUP = 98100001, 98100002, 98100009
PRODUCTS = [
    dict(pid=WARMUP, per_mille=1, dims=["size"], estimates=1, freq=12),
    dict(pid=MASTER, per_mille=20, dims=["brand", "size"], estimates=2, freq=12),
    dict(pid=SIBLING, per_mille=8, dims=["brand", "size"], estimates=2, freq=12,
         salt="sibling"),
]
GENERATIONS = 3

# query_mix: graft's graph and snap operators plus q14, which uses none
# of graft's custom operators
MIX = ["q14_multiway_join", "q272_two_hop_reach", "q326_snap_rebucket",
       "q334_snap_bloom_two_tier"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "main", "**", "*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850).returncode
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "target" in l and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def generate(stage_root, seed):
    """Stage the cube_serve inputs GENERATIONS times; returns the stage
    dir, the median seconds, observations per measured pid, and whether
    every staging was byte-identical."""
    sys.path.insert(0, HERE)
    import gen_cube
    times, digests, obs = [], [], {}
    for k in range(GENERATIONS):
        stage = os.path.join(stage_root, f"stage{k}")
        os.makedirs(stage)
        t0 = time.perf_counter()
        con = gen_cube.connect(SF_GEN)
        gen_cube.stage_lookups(con, stage, seed)
        for spec in PRODUCTS:
            obs[spec["pid"]] = gen_cube.stage_product(con, stage, seed, spec)
        gen_cube.stage_merge_config(stage, {MASTER: [SIBLING]})
        con.close()
        times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        for f in sorted(os.listdir(stage)):
            h.update(f.encode())
            h.update(open(os.path.join(stage, f), "rb").read())
        digests.append(h.hexdigest())
    loaded = {p: n for p, n in obs.items() if p != WARMUP}
    return os.path.join(stage_root, "stage0"), statistics.median(times), loaded, \
        len(set(digests)) == 1


def run_jvm(cp, args, work, deadline):
    # temporary and shuffle files stay inside the run's directory
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
         "-cp", cp, "graftbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    spawn = time.time()
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload timed out (log: {log})")
    if proc.returncode != 0:
        sys.stderr.write(open(log).read()[-3000:])
        fail(f"workload JVM exited with {proc.returncode} (log: {log})")
    return spawn


def one_run(cp, a, trace, work, stage, gen_s, deadline):
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--stage", stage or "", "--work", work,
            "--out", out, "--seconds", str(a.seconds), "--seed", str(a.seed),
            "--trace", str(trace), "--cores", str(len(os.sched_getaffinity(0)))]
    if a.workload == "cube_serve":
        args += ["--sequence", str(MASTER), "--warmup", str(WARMUP)]
    else:
        args += ["--sf", SF_MIX, "--queries", ",".join(MIX)]
    spawn = run_jvm(cp, args, work, deadline)
    r = json.load(open(out))
    r["setup_s"] = gen_s + (r["ready_epoch_ms"] / 1e3 - spawn) if "ready_epoch_ms" in r else None
    return r


def e2e_metrics(r):
    """Every end-to-end figure of one JVM run; BENCHMARK.json picks the
    ones that are printed and bounded, the trace artifact keeps all."""
    ops, batches = r.get("op_s", []), r.get("batch_s", [])
    attempted = max(1, r.get("attempted", 0))
    m = {
        "setup_s": (r["setup_s"], "s"),
        "batch_s": (statistics.median(batches) if batches else None, "s"),
        "batch_cpu_s": (statistics.median(r["batch_cpu_s"]) if r.get("batch_cpu_s") else None, "s"),
        "success_rate": (1 - r.get("failed", 0) / attempted, "ratio"),
        "op_p50_ms": (statistics.median(ops) * 1e3 if ops else None, "ms"),
        "ops_per_s": (len(ops) / sum(ops) if ops else None, "1/s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cube_serve", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    sf = SF_GEN if a.workload == "cube_serve" else SF_MIX
    if not os.path.isfile(os.path.join(sf, "lineitem.parquet")):
        fail(f"sf tables not found at {sf} (set GRAFT_SF_DIR / GRAFT_MIX_SF_DIR)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, HERE)
    import checks
    try:
        stage, gen_s, obs, deterministic = None, 0.0, {}, True
        if a.workload == "cube_serve":
            stage, gen_s, obs, deterministic = generate(os.path.join(work, "inputs"), a.seed)
        history = os.path.join(BUILD, "history", f"{a.workload}.jsonl")
        baselines = [json.loads(l) for l in open(history)] if os.path.exists(history) else []
        # a traced run compares itself with this checkout's untraced runs;
        # without three of them it makes its own untraced run first
        modes = [0, 1] if a.trace and len(baselines) < 3 else [a.trace]
        runs = [one_run(cp, a, t, os.path.join(work, f"run{t}"), stage, gen_s, deadline)
                for t in modes]
        problems = [] if deterministic else ["generator: repeated stagings differ"]
        for r in runs:
            problems += [f"jvm: {e}" for e in r.get("errors", [])]
            problems += checks.check(a.workload, r["checks"], stage, obs, SF_MIX, work)
        r = runs[-1]
        result = {"correct": not problems,
                  "attempted": int(sum(x.get("attempted", 0) for x in runs)),
                  "failed": int(sum(x.get("failed", 0) for x in runs))}
        if result["attempted"] < 1:
            result["attempted"] = 1
            result["failed"] = 1
        e2e = e2e_metrics(r)
        untraced = [e2e_metrics(x) for x in runs if "trace" not in x]
        if untraced and not problems:
            os.makedirs(os.path.dirname(history), exist_ok=True)
            with open(history, "a") as f:
                f.write(json.dumps({k: v["value"] for k, v in untraced[0].items()}) + "\n")
            baselines.append({k: v["value"] for k, v in untraced[0].items()})
        if a.trace:
            base = {k: {"value": statistics.median(b[k] for b in baselines[-10:]),
                        "unit": v["unit"]} for k, v in e2e.items()}
            layers = dict(r["trace"]["layers"])
            loaded = sum(obs.values())
            layers["io.stored_bytes_per_obs"] = \
                r["counts"].get("stored_bytes", 0.0) / loaded if loaded else 0.0
            if a.workload == "cube_serve":
                layers["cube.serve.request_p50_ms"] = e2e["op_p50_ms"]["value"]
            for k in ("batch_s", "op_p50_ms"):
                b, t = base[k]["value"], e2e[k]["value"]
                layers[f"trace.{k}_overhead_frac"] = t / b - 1 if b and t else 0.0
            result["metrics"] = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                                             "unit": m["unit"]} for m in spec["per_layer"]}
            write_artifact(a, runs, base, e2e, obs, problems)
        else:
            result["metrics"] = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        missing = [k for k, v in result["metrics"].items() if v["value"] is None]
        if missing:
            problems.append(f"metrics not measured: {missing}")
            result["correct"] = False
            for k in missing:
                result["metrics"][k]["value"] = 0.0
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        print(json.dumps(result))
    finally:
        logs = os.path.join(BUILD, "logs")
        os.makedirs(logs, exist_ok=True)
        for log in glob.glob(os.path.join(work, "run*", "jvm.log")):
            run = os.path.basename(os.path.dirname(log))
            shutil.copy(log, os.path.join(logs, f"{a.workload}-seed{a.seed}-{run}.log"))
        shutil.rmtree(work, ignore_errors=True)


def write_artifact(a, runs, base, traced, obs, problems):
    t = runs[-1]["trace"]
    art = {
        "workload": a.workload,
        "config": {"cores": len(os.sched_getaffinity(0)), "seed": a.seed,
                   "seconds": a.seconds, "observations": obs,
                   "products": t["products"], "requests": t["requests"],
                   "mix": MIX if a.workload == "query_mix" else None,
                   "warehouse_bytes": runs[-1]["counts"].get("stored_bytes"),
                   "indicators": runs[-1]["checks"].get("indicators")},
        "untraced": base, "traced": traced,
        "overhead": {k: traced[k]["value"] - base[k]["value"]
                     for k in ("batch_s", "op_p50_ms")
                     if traced[k]["value"] is not None and base[k]["value"] is not None},
        "layers": t["layers"], "self_s_by_span": t["self_s_by_span"],
        "unattributed": t.get("unattributed"), "spans": t["spans"],
        "check_problems": problems,
    }
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{a.workload}-seed{a.seed}.json"), "w") as f:
        json.dump(art, f, indent=1)


if __name__ == "__main__":
    main()
