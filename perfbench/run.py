#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the benchmark
(perfbench/build.sbt compiles the benchmark's sources on top of the
graft build in the parent directory) and later runs reuse the build
while the sources are unchanged. Each
run generates its inputs from the seed (cached per seed and verified
by row count and checksum), starts one JVM in a fresh run directory,
checks the outputs, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

as the last line of stdout: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. DESIGN.md beside
this file explains the workloads and what each metric means.
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
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
sys.path.insert(0, HERE)

# Input sizes per workload: (documents, embeddings).
SIZES = {"search": (2000, 2000), "curate": (400, 400)}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(d, f) for d in (ROOT, HERE)
           for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith((".scala", ".java"))]
    return out


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Build unless the last build was of these sources; return their hash."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under src/main/scala; run from a repository checkout")
    want = source_hash()
    if (os.path.exists(STAMP) and open(STAMP).read() == want and os.path.exists(CLASSPATH)
            and all(os.path.exists(p) for p in open(CLASSPATH).read().strip().split(os.pathsep))):
        return want
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false -Dsbt.supershell=false"
    log = os.path.join(WORK, "build.log")
    os.makedirs(WORK, exist_ok=True)
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=out, limit=BUILD_LIMIT_S)
    lines = [x.strip() for x in open(log).read().splitlines() if x.strip()]
    if rc != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    # The last line of the export is the runtime classpath.
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    with open(STAMP, "w") as f:
        f.write(want)
    return want


def run_group(cmd, cwd, env, stdout, limit):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `limit` seconds, and always wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def inputs(seed, docs, vecs):
    import gen
    data = os.path.join(WORK, "data", f"d{docs}-v{vecs}-s{seed}")
    if not gen.verify(data, seed, docs, vecs):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(seed, docs, vecs, data)
        if not gen.verify(data, seed, docs, vecs):
            fail(f"generated inputs in {data} do not verify")
    return data


def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def overhead_pct(res):
    """Tracing overhead: how much lower the traced window's throughput
    is than the median of the untraced runs of the same workload made
    in this checkout from the same sources with the same --seconds.
    0 when there are none yet."""
    base = []
    for name in os.listdir(os.path.join(WORK, "results")):
        if name.startswith(res["workload"] + "-") and name.endswith("-t0.json"):
            with open(os.path.join(WORK, "results", name)) as f:
                r = json.load(f)
            if (r.get("source_sha256"), r.get("seconds")) == (res["source_sha256"], res["seconds"]):
                base.append(r["e2e"]["throughput_per_s"])
    if not base:
        print("perfbench: no untraced run of these sources yet; tracing overhead reads 0")
        return 0.0
    base.sort()
    med = (base[(len(base) - 1) // 2] + base[len(base) // 2]) / 2
    return (med / max(res["layers"]["trace.throughput_per_s"], 1e-9) - 1.0) * 100.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sources_sha256 = build()
    # The run's time limit starts after the build: only a checkout's
    # first run pays the build.
    started = time.time()
    e2e_spec, layer_spec = metric_spec()
    data = inputs(a.seed, *SIZES[a.workload])
    t_inputs = time.time()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run, d))
    result = os.path.join(WORK, "results", f"{tag}.json")
    spans = os.path.join(WORK, "spans", f"{a.workload}-s{a.seed}.jsonl")
    if os.path.exists(result):
        os.remove(result)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "local"))
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"] +
           [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] +
           ["-cp", open(CLASSPATH).read().strip(),
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--run", run, "--result", result, "--spans", spans,
            "--cpus", str(len(os.sched_getaffinity(0)))])
    jvm_log = os.path.join(run, "jvm.log")
    limit = RUN_LIMIT_S - (time.time() - started) - 15
    with open(jvm_log, "w") as out:
        rc = run_group(cmd, cwd=ROOT, env=env, stdout=out, limit=max(limit, 30))
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(jvm_log, errors="replace").read()[-6000:])
        shutil.rmtree(run, ignore_errors=True)
        fail(f"benchmark JVM exited with {rc}")
    with open(result) as f:
        res = json.load(f)
    # Tag the result with what made it, for the tracing-overhead baseline.
    res["source_sha256"], res["seconds"] = sources_sha256, a.seconds
    with open(result, "w") as f:
        json.dump(res, f)
    t_jvm = time.time()

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res.get("failures", []))
    if a.workload == "curate":
        import oracle
        outs = res["detail"]["outputs"]
        failures += oracle.check(data, outs, cache=os.path.join(WORK, "oracle"))
        # Each key whose output is missing or disagrees with its oracle
        # is one failed op.
        failed = len({f_.split(":")[0] for f_ in failures})
    shutil.rmtree(run, ignore_errors=True)

    print(f"perfbench: inputs {t_inputs - started:.1f}s, jvm {t_jvm - t_inputs:.1f}s, "
          f"checks {time.time() - t_jvm:.1f}s")
    cal = res["calibrate"]
    print(f"perfbench: host spin before {cal['spin_before_s']:.3f}s after "
          f"{cal['spin_after_s']:.3f}s; detail in {os.path.relpath(result, ROOT)}")
    for f_ in failures[:10]:
        print(f"perfbench: check failed: {f_}"[:500])
    if a.trace:
        res["layers"]["trace.overhead_pct"] = overhead_pct(res)
    values = res["layers"] if a.trace else res["e2e"]
    spec = layer_spec if a.trace else e2e_spec
    # A layer the workload never calls has no figure and reads 0.
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec}
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        fail(f"non-finite figures: {bad}")
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
