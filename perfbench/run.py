#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, into perfbench/target); later runs reuse the
build while no source file changes. Inputs are generated from the seed and
cached under perfbench/.cache/inputs, outside the timed region. The JVM
runs one closed-loop client on local[4].

The last line of stdout is one JSON object: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics. Every run's full result, with
a traced run's spans and per-layer numbers, is kept in
perfbench/.cache/results/<workload>-<size>-<seed>-trace<0|1>.json.
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
ROOT = os.getcwd()
CACHE = os.path.join(BENCH, ".cache")
sys.path.insert(0, BENCH)

WORKLOADS = ("ice_specimen", "curation_stream", "catalog")

# Input sizes per workload. "tiny" is the smoke test's.
SIZES = {
    "full": {
        "ice_specimen": dict(specimens=30, grains=150, samples=4000,
                             iterations=6, particles=50000, steps=10),
        "curation_stream": dict(waves=16, wave_docs=500),
        "catalog": dict(n_li=6000, n_docs=500, n_emb=500),
    },
    "tiny": {
        "ice_specimen": dict(specimens=3, grains=30, samples=2000,
                             iterations=2, particles=2000, steps=3),
        "curation_stream": dict(waves=8, wave_docs=120),
        "catalog": dict(n_li=3000, n_docs=200, n_emb=200),
    },
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 170  # a run must end within 180 s; the build is exempt


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath and the sources' hash."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(CACHE, "build")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file) and open(os.path.join(out, "stamp")).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(out, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(os.path.join(out, "stamp"), "w") as f:
        f.write(stamp)
    return cp, stamp


def inputs(workload, size, seed):
    """Generate the workload's inputs for this seed once; reuse after."""
    import gen_inputs
    d = os.path.join(CACHE, "inputs", f"{workload}-{size}-{seed}")
    if os.path.exists(os.path.join(d, "_done")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate = {"ice_specimen": gen_inputs.ice, "curation_stream": gen_inputs.stream,
                "catalog": gen_inputs.tables}[workload]
    generate(tmp, seed, **SIZES[size][workload])
    open(os.path.join(tmp, "_done"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def run_jvm(cp, args, timeout):
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={args['work']}/tmp",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    os.makedirs(os.path.join(args["work"], "tmp"), exist_ok=True)
    # the JVM's own output goes to stderr: stdout ends with the result line
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the run exceeded {timeout:.0f} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing from the current directory")
    with open(spec_path) as f:
        spec = json.load(f)
    cp, stamp = build()
    started = time.time()
    inp = inputs(a.workload, a.size, a.seed)
    work = os.path.join(CACHE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    try:
        code = run_jvm(cp, {"workload": a.workload, "inputs": inp, "work": work,
                            "seconds": a.seconds, "trace": a.trace,
                            "result": result, "run-id": f"{a.workload}-{a.seed}"},
                       RUN_LIMIT_S - (time.time() - started))
        if code != 0 or not os.path.exists(result):
            fail(f"the benchmark JVM exited with code {code}")
        with open(result) as f:
            res = json.load(f)
        os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
        shutil.copy(result, os.path.join(
            CACHE, "results", f"{a.workload}-{a.size}-{a.seed}-trace{a.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # the same seed must give the same outputs in every run of one build
    digest_file = os.path.join(inp, f"digest-{stamp[:16]}")
    if os.path.exists(digest_file):
        same = open(digest_file).read() == res["digest"]
        res["checks"]["same_seed_same_digest"] = same
        res["attempted"] += 1
        res["failed"] += 0 if same else 1
    else:
        with open(digest_file, "w") as f:
            f.write(res["digest"])

    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layers = {m["name"]: m for m in spec["per_layer"]}
    metrics = {}
    if a.trace:
        for name, m in layers.items():
            metrics[name] = {"value": res["layers"].get(name, 0.0), "unit": m["unit"]}
    else:
        for name, m in e2e.items():
            metrics[name] = {"value": res["end_to_end"][name], "unit": m["unit"]}
    for e in res["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    # the workload's own names for its figures, then the result line
    print(json.dumps({"workload": a.workload, "digest": res["digest"],
                      "checks": res["checks"], "end_to_end": res["end_to_end"],
                      "values": res["values"]}, separators=(",", ":")))
    print(json.dumps({"correct": res["failed"] == 0 and all(res["checks"].values()),
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
