#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload search_batch --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The first run builds the program from
its sources (sbt, offline) together with the harness in
perfbench/src, and generates the input corpus (perfbench.DataGen, fixed
seed) into the build directory: $CARGO_TARGET_DIR if set, else
.bench_build. Later runs reuse both while the sources are unchanged.

The seed permutes query order within each pass. Every run prints the
end-to-end metrics (setup_s, first_pass_s, wall_s, query_geomean_s,
cpu_s, peak_rss_mb, failed_frac) and each query's median warm time
(op.<query>_s). The last line of stdout is {"correct", "attempted",
"failed", "metrics"}: with --trace 0 the end-to-end metrics that
BENCHMARK.json gates, with --trace 1 its per-layer metrics, taken from
traced warm passes that alternate with untraced ones. The full artifact,
with provenance, per-query layers and failures, is written under
<build dir>/results/.

Other modes: --record (re-record perfbench/goldens.json from the current
code) and --selftest (inject one throwing and one wrong-output query and
check that both are counted as failures and contribute no timing).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = os.path.join(BENCH, "workloads.json")
GOLDENS = os.path.join(BENCH, "goldens.json")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
           os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
HEAP = "3g"
# A fixed young generation keeps GC frequency, process CPU and RSS from
# depending on G1's adaptive sizing, which made cpu_s bimodal across runs.
# C1 only: with C2, warm passes keep speeding up for ~15 s and its
# compiler threads double the process CPU, so short runs measured warm-up.
JVM_FLAGS = ["-XX:+UseG1GC", f"-Xms{HEAP}", "-Xmn1g", "-XX:TieredStopAtLevel=1"]
RUN_DEADLINE_S = 170  # hard stop for every JVM the run starts
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def build(out, digest):
    """Compile program + harness once per source digest; return the classpath."""
    stamp = os.path.join(out, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            done = json.load(f)
        if done.get("digest") == digest:
            return done["classpath"]
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_jars())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(out, "build.log"), "w") as log:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=840)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {os.path.join(out, 'build.log')}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def java_cmd(out, classpath, main, args):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
    return (["java", f"-Xmx{HEAP}"] + JVM_FLAGS + opens + props +
            ["-cp", classpath, main] + args)


def launch(cmd, log_path):
    """Run a JVM to completion under the deadline; return its exit code."""
    with open(log_path, "a") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=log)
        try:
            return p.wait(timeout=RUN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def ensure_data(out, classpath):
    """Generate the input corpus once per generator source and sizes."""
    with open(WORKLOADS) as f:
        spec = json.load(f)["input"]
    with open(os.path.join(BENCH, "src", "main", "scala", "perfbench", "DataGen.scala"), "rb") as f:
        key = hashlib.sha256(f.read() + json.dumps(spec, sort_keys=True).encode()).hexdigest()
    data = os.path.join(out, "data-" + key[:12])
    if not os.path.exists(os.path.join(data, "_READY")):
        shutil.rmtree(data, ignore_errors=True)
        s = spec["sizes"]
        cmd = java_cmd(out, classpath, "perfbench.DataGen",
                       [data, str(spec["seed"]), str(s["documents"]), str(s["embeddings"]),
                        str(s["events"]), str(s["orders"])])
        code = launch(cmd, os.path.join(out, "datagen.log"))
        if code != 0:
            fail(f"data generation failed, see {os.path.join(out, 'datagen.log')}")
        open(os.path.join(data, "_READY"), "w").close()
    return data


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, to judge host contention."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def other_jvms():
    count = 0
    for pid in os.listdir("/proc") if os.path.isdir("/proc") else []:
        if pid.isdigit() and int(pid) != os.getpid():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    count += f.read().strip() == "java"
            except OSError:
                pass
    return count


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return p.stdout.strip() or None


def run_jvm(out, classpath, data, mode, seconds, trace, workload, seed, n, tag):
    result = os.path.join(out, "results", f"{tag}.jvm.json")
    os.makedirs(os.path.dirname(result), exist_ok=True)
    if os.path.exists(result):
        os.remove(result)
    harness = ["--mode", mode, "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace), "--n", str(n),
               "--data", data, "--workloads", WORKLOADS, "--goldens", GOLDENS,
               "--out", result]
    log = os.path.join(out, "results", f"{tag}.log")
    open(log, "w").close()
    code = launch(java_cmd(out, classpath, "perfbench.Harness", harness), log)
    if code != 0 or not os.path.exists(result):
        fail(f"{mode} failed (exit {code}), see {log}")
    with open(result) as f:
        return json.load(f)


def record(out, classpath, data, n):
    """Record goldens: each workload's queries hashed in two fresh JVMs;
    a query whose hashes differ is marked non-deterministic."""
    with open(WORKLOADS) as f:
        names = list(json.load(f)["workloads"])
    goldens = {}
    for w in names:
        runs = [run_jvm(out, classpath, data, "record", 0, 0, w, seed, n, f"record-{w}-{seed}")
                for seed in (1, 2)]
        goldens[w] = {}
        for q, first in runs[0].items():
            seen = [r[q] for r in runs]
            if len({s["rows"] for s in seen}) != 1:
                fail(f"{w}/{q}: row count differs between runs: {seen}")
            goldens[w][q] = {"rows": first["rows"], "hash": first["hash"],
                             "deterministic": len({s["hash"] for s in seen}) == 1}
        print(w, json.dumps(goldens[w]), flush=True)
    with open(GOLDENS, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


def selftest(out, classpath, data, n, seconds):
    art = run_jvm(out, classpath, data, "selftest", seconds, 1, "selftest", 7, n, "selftest")
    execs = art["executions"]
    injected = [e for e in execs if e["query"].startswith("selftest_")]
    checks = {
        "the throwing query fails every execution":
            all(not e["ok"] for e in execs if e["query"] == "selftest_throw"),
        "the wrong-output query fails its content check": any(
            f["query"] == "selftest_wrong" and f["pass"] == "hash" for f in art["failures"]),
        "failed counts every injected execution and both hash checks":
            art["failed"] == len(injected) + 2,
        "failed_frac is failed over attempted":
            abs(art["end_to_end"]["failed_frac"] - art["failed"] / art["attempted"]) < 1e-12,
        "only the good query has a timing": list(art["op_s"]) == ["dense_topk"],
        "pass walls sum only the good query": all(
            abs(w - sum(e["wall_s"] for e in execs if e["pass"] == p and e["query"] == "dense_topk"))
            < 1e-9 for p, w in enumerate(art["pass_wall_s"], start=1)),
        "the run is reported incorrect": art["correct"] is False,
    }
    for name, ok in checks.items():
        print(f"selftest {'ok  ' if ok else 'FAIL'} {name}")
    return all(checks.values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("graft sources not found next to perfbench/ (run from a graft checkout)")
    with open(WORKLOADS) as f:
        workloads = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not (a.record or a.selftest) and a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(workloads)}")

    out = build_dir()
    digest = source_digest()
    classpath = build(out, digest)
    data = ensure_data(out, classpath)
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    n = min(4, nproc)

    if a.record:
        record(out, classpath, data, n)
        return
    if a.selftest:
        sys.exit(0 if selftest(out, classpath, data, n, a.seconds) else 1)

    provenance = {"git_sha": git_sha(), "source_sha256": digest, "seed": a.seed,
                  "workload": a.workload, "trace": a.trace, "seconds": a.seconds,
                  "nproc": nproc, "n": n, "heap": HEAP, "loadavg_before": loadavg(),
                  "other_jvms_at_start": other_jvms()}
    ticks0 = cpu_ticks()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    art = run_jvm(out, classpath, data, "run", a.seconds, a.trace, a.workload, a.seed, n, tag)
    provenance["loadavg_after"] = loadavg()
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        provenance["cpu_steal_frac"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    art["provenance"] = provenance
    with open(os.path.join(out, "results", f"{tag}.json"), "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units["failed_frac"] = "ratio"
    print(f"perfbench {a.workload} seed={a.seed} N={n} passes={art['warm_passes']} "
          f"attempted={art['attempted']} failed={art['failed']} "
          f"provenance={json.dumps(provenance, sort_keys=True)}")
    untraced = len({e["pass"] for e in art["executions"] if e["pass"] > 0 and not e["traced"]})
    samples = {"setup_s": len(art["setup_s_samples"]), "first_pass_s": 1, "peak_rss_mb": 1,
               "failed_frac": art["attempted"]}
    for k, v in art["end_to_end"].items():
        print(f"  {k:<18} {v:12.4f} {units.get(k, ''):<6} n={samples.get(k, untraced)}")
    for q, v in sorted(art["op_s"].items()):
        print(f"  op.{q}_s = {v:.4f} s")
    for k, v in sorted(art["per_layer"].items()):
        print(f"  {k:<28} {v}")
    if art["nondeterministic"]:
        print(f"  row count only (output varies run to run): {', '.join(art['nondeterministic'])}")
    for fl in art["failures"][:20]:
        print(f"  FAILED {fl['query']} pass {fl['pass']}: {fl['error']}")

    section = "per_layer" if a.trace else "end_to_end"
    names = [(m["name"], m["unit"]) for m in spec[section]]
    # A metric with no sample (every execution failed) reads 0; the run
    # is then reported incorrect.
    metrics = {k: {"value": art[section].get(k) or 0.0, "unit": u} for k, u in names}
    print(json.dumps({"correct": art["correct"], "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
