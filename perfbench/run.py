#!/usr/bin/env python3
"""graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from this checkout's sources on first
use (sbt, into perfbench/.build and the build's own target directories),
generates the workload's inputs from the seed (untimed), runs the JVM
harness, and prints one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are BENCHMARK.json's end_to_end
list, with --trace 1 its per_layer list. Every run also leaves a full
artifact (provenance, every op, failures; spans when traced) under
perfbench/out/. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input size and op count per workload. The op count is fixed by the
# arguments: ceil(seconds x ops_per_s) ops, or one corpus pass per pass_s
# seconds. At --seconds 10 that is 40 ops, the fewest that leave ten
# samples above p75.
WORKLOADS = {
    "dashboard": {"sf": 0.002, "ops_per_s": 4.0},
    "modeling": {"sf": 0.01, "ops_per_s": 4.0},
    "corpus": {"docs": 1000, "vecs": 500, "pass_s": 12.0},
}
SETUPS = 3
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build reads, to detect a stale build and to
    identify the code in the artifact when the checkout is not a git
    repository."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            paths += [os.path.join(d, f) for f in fs]
    for p in sorted(paths):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    out = os.path.join(HERE, ".build")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("perfbench: building engine and harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(digest)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or None


def run_jvm(args, work, data, prov, artifact, params):
    cores = min(4, len(os.sched_getaffinity(0)))
    cp = open(os.path.join(HERE, ".build", "classpath")).read().strip()
    jopts = [l for l in open(os.path.join(HERE, ".build", "javaopts")).read().splitlines() if l]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *jopts, "-cp", cp, "graftbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
           "--data", data, "--work", work, "--setups", str(SETUPS), "--cores", str(cores),
           "--passes", str(params.get("passes", 0)), "--prov", json.dumps(prov), "--artifact", artifact]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    prov["cores"] = cores
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=errf, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGQUIT)  # thread dump into jvm.log
            time.sleep(2)
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, "harness timed out"
    if p.returncode != 0 or not out.strip():
        return None, open(os.path.join(work, "jvm.log")).read()[-4000:]
    return json.loads(out.strip().splitlines()[-1]), None


def run_one(args, bench):
    w = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    params = {}
    try:
        t0 = time.time()
        if args.workload == "corpus":
            gen.gen_corpus(data, args.seed, w["docs"], w["vecs"])
            ops = [{"kind": "stage", "sql": s} for s in gen.corpus_pass()]
            params["passes"] = max(1, round(args.seconds / w["pass_s"]))
        else:
            gen.gen_tables(data, args.seed, w["sf"])
            n = max(10, math.ceil(args.seconds * w["ops_per_s"]))
            ops = (gen.dashboard_ops if args.workload == "dashboard" else gen.modeling_ops)(args.seed, n)
        with open(os.path.join(data, "ops.jsonl"), "w") as f:
            for i, op in enumerate(ops):
                f.write(json.dumps(dict(op, id=f"op{i:04d}")) + "\n")
        params["gen_s"] = time.time() - t0
        prov = {"seed": args.seed, "workload": args.workload, "seconds": args.seconds,
                "nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
                "load_avg_before": os.getloadavg(), "git_commit": git_commit(),
                "source_sha256": source_digest(), "inputs": dict(w, **params),
                "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
        outdir = os.path.join(HERE, "out")
        os.makedirs(outdir, exist_ok=True)
        artifact = os.path.join(outdir, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                                        f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}.json")
        res, err = run_jvm(args, work, data, prov, artifact, params)
        if res is None:
            shutil.copy(os.path.join(work, "jvm.log"), artifact.replace(".json", ".failed.log"))
            log(err)
            sys.exit(f"perfbench: {args.workload} run failed")
        with open(artifact) as f:
            art = json.load(f)
        art["provenance"]["load_avg_after"] = os.getloadavg()
        with open(artifact, "w") as f:
            json.dump(art, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    want = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    missing = [m for m in want if m not in res["metrics"]]
    if missing:
        sys.exit(f"perfbench: harness did not report {missing}")
    res["metrics"] = {m: res["metrics"][m] for m in want}
    log(f"perfbench: artifact {os.path.relpath(artifact, ROOT)}")
    for f in art.get("failures", []):
        log(f"perfbench: FAILED {f['op']} pass {f['pass']} ({f['kind']}): {f['error'][:300]}")
    return res


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src", "main")):
        sys.exit("perfbench: the engine's sources (build.sbt, src/main) are not in this checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build(source_digest())
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    for name in names:
        args.workload = name
        res = run_one(args, bench)
        if len(names) > 1:
            log(f"== {name}: " + ", ".join(f"{k} {v['value']:.4g} {v['unit']}" for k, v in res["metrics"].items()))
        print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
