#!/usr/bin/env python3
"""Benchmark for the paduaspark library.

    python3 perfbench/run.py --workload lfq_workflow|corpus_ingest|all \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles the
library and the benchmark's Scala harness (perfbench/build.sbt) into
.bench_build; later runs reuse the build while the sources hash the
same. Inputs are generated from the seed (perfbench/gen.py) and reused
only after their checksums and row counts verify.

One JVM per workload: a cold set-up (session and first pass), warm-up
passes, then warm passes back to back (one client thread, closed loop) for
`--seconds`. Passes are independent: caches are cleared and index
directories deleted between them. With `--trace 0` the last stdout line
holds the end-to-end metrics; with `--trace 1` it holds the per-layer
metrics of the traced passes, the prefix-timed self time of each chain
step, and the tracing overhead. Outputs are checked in every run; any
mismatch sets "correct": false and the exit code to 1. A self-describing
artifact with every sample goes to .bench_build/results/.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import arith  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load_benchmark():
    """BENCHMARK.json: workload names and why sentences, metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({w["name"]: w["why"] for w in bench["workloads"]},
            {m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


WORKLOADS, END_TO_END, PER_LAYER = load_benchmark()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """sha256 over every file the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build(digest):
    """Classpath of the compiled library + harness, compiling when the
    sources changed since the last build."""
    stamp = os.path.join(BUILD, "build.json")
    try:
        with open(stamp) as f:
            done = json.load(f)
        if done["digest"] == digest and all(os.path.exists(p) for p in done["classpath"]):
            return done["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(BUILD, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    # keep sbt's state, sockets and temporary files inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
            "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    # JAVA_TOOL_OPTIONS reaches the JVMs the sbt launcher script starts itself
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData", SPARK_HOME=spark_home())
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}), see {log}")
    classpath = [os.path.normpath(p) for p in lines[-1].split(":")]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def run_jvm(workload, inputs, manifest, seed, seconds, trace, classpath):
    work = os.path.join(BUILD, "work", workload)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "perfbench.Main",
            "--workload", workload, "--inputs", inputs, "--work", work, "--out", out,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--launched-ms", str(int(time.time() * 1000))]
    if workload == "corpus_ingest":
        s = manifest["sizes"]["splits"]
        cmd += ["--splits", ",".join(f"{lo}:{hi}" for lo, hi in
                                     [s["base"]] + s["batches"] + [s["holdout"]])]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        rc = subprocess.run(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload}: JVM exited {rc}, see {log}")
    with open(out) as f:
        return json.load(f), work


def span_seconds(passes, name):
    return [(s["end_ns"] - s["start_ns"]) / 1e9
            for p in passes for s in p["spans"] if s["name"] == name]


def layer_metrics(res, untraced, traced):
    """Every per-layer metric; layers a workload does not exercise read 0."""
    out = {name: 0.0 for name in PER_LAYER}
    if traced:
        for name in traced[0]["counters"]:
            out[name] = arith.median([p["counters"][name] for p in traced])
        out["spark.gc_s"] = arith.median([p["gc_s"] for p in traced])
        out["spark.build_s"] = arith.median([
            sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in p["spans"] if s["phase"] == "build")
            for p in traced])
        for name, span in metrics.SPAN_METRICS.items():
            secs = span_seconds(traced, span)
            if secs:
                out[name] = arith.median(secs)
        out["trace.overhead_s"] = (arith.median([p["wall_s"] for p in traced])
                                   - arith.median([p["wall_s"] for p in untraced]))
    reps = {}
    for p in res["prefixes"]:
        reps.setdefault(p["name"], (p["parent"], []))[1].append(p["s"])
    selfs = arith.self_times({n: (parent, arith.median(s)) for n, (parent, s) in reps.items()})
    for name, steps in metrics.SELF_TIME_STEPS.items():
        if all(s in selfs for s in steps):
            out[name] = sum(selfs[s] for s in steps)
    out.update(res["layer_counts"])
    return out


def run_workload(workload, seed, seconds, trace, classpath, digest):
    load0 = os.getloadavg()
    inputs, manifest, reused = gen.ensure_inputs(os.path.join(BUILD, "inputs"), workload, seed)
    res, work = run_jvm(workload, inputs, manifest, seed, seconds, trace, classpath)
    passes = res["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]

    checks = [dict(c) for c in res["checks"]]
    errors = [p["error"] for p in passes if p["error"]]
    digests = {p["digest"] for p in passes if not p["error"]}
    checks.append({"name": "passes_identical", "ok": len(digests) <= 1,
                   "detail": f"{len(digests)} distinct output digests over {len(passes)} passes"})
    if workload == "lfq_workflow":
        problems = oracle.compare(
            oracle.replay(os.path.join(inputs, "sites.tsv"), os.path.join(inputs, "design.tsv")),
            os.path.join(work, "lfq_volcano.tsv"))
        checks.append({"name": "lfq.duckdb_replay", "ok": not problems,
                       "detail": "; ".join(problems[:5]) or "feature set, n and ratios agree"})

    per_pass = res["ops_per_pass"]
    attempted = per_pass * len(passes) + len(checks)
    failed = per_pass * len(errors) + sum(1 for c in checks if not c["ok"])
    correct = failed == 0 and len(untraced) > 0

    sizes = manifest["sizes"]
    items = sizes["n_intensity_cells"] if workload == "lfq_workflow" else sizes["n_docs"]
    ops = [o for p in untraced for o in p["ops_s"]]
    e2e, layers = {}, {}
    if untraced and not errors:
        pass_s = arith.median([p["wall_s"] for p in untraced])
        e2e = {
            "setup_s": res["jvm_start_s"] + res["setup_pass_s"],
            "pass_s": pass_s,
            "op_p50_s": arith.median(ops),
            "items_per_s": arith.items_per_s(items, pass_s),
            "cpu_s": arith.median([p["cpu_s"] for p in untraced]),
            "alloc_mb": arith.median([p["alloc_mb"] for p in untraced]),
        }
        if trace:
            layers = layer_metrics(res, untraced, traced)

    artifact = {
        "workload": workload, "why": WORKLOADS[workload], "seed": seed,
        "seconds": seconds, "trace": trace,
        "inputs": {"dir": os.path.relpath(inputs, ROOT), "reused": reused, **manifest},
        "host": {"nproc": os.cpu_count(), "jvm_cores": res["cores"],
                 "heap_max_mb": res["heap_max_mb"], "loadavg_start": load0,
                 "loadavg_end": os.getloadavg()},
        "code": {"git_commit": git_commit(), "source_sha256": digest},
        "loop": "closed loop, one client thread; passes independent (caches cleared, "
                "index directories deleted between passes)",
        "samples": {"passes_untraced": len(untraced), "passes_traced": len(traced),
                    "ops": len(ops)},
        "op_p90_s": arith.p90(ops),
        "failed_frac": failed / attempted,
        "checks": checks, "errors": errors,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "per_layer": {k: {"value": v, "unit": PER_LAYER[k], "moves": metrics.TARGETS[k][0],
                          "on": metrics.TARGETS[k][1]} for k, v in layers.items()},
        "raw": res,
    }
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(artifact, f, indent=1)

    chosen = layers if trace else e2e
    table = PER_LAYER if trace else END_TO_END
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": table[k]} for k, v in chosen.items()}}


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # a plain source checkout; source_sha256 identifies the code
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources next to the benchmark; run from a source checkout")
    digest = source_digest()
    classpath = build(digest)
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {w: run_workload(w, a.seed, a.seconds, bool(a.trace), classpath, digest)
               for w in names}
    if len(results) == 1:
        final = results[names[0]]
    else:
        for w, r in results.items():
            print(w, json.dumps(r))
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}.{k}": v for w, r in results.items()
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final))
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
