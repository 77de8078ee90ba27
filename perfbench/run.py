#!/usr/bin/env python3
"""graft's benchmark runner.

    python3 perfbench/run.py --workload allpairs_perm --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload scores_dense --seed 1 --seconds 2 --trace 1 --smoke

Run from the root of a checkout. Compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler shipped in Spark's
jars into .bench_build/, runs one workload in one JVM (perfbench.GraftBench),
checks its outputs, and prints every metric by name with its unit. The last
stdout line is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones with
--trace 1). --smoke runs the workload at a toy shape with one set-up.
Exits non-zero without a result when the program cannot be built.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
DEADLINE_S = 175  # the whole invocation, build included
HEAP = "2g"
SETUPS = 2  # set-ups per run; setup_s is their median
# artifact-only metrics: the bases of link.scaling_eff_1_to_n, and the
# permutation mask's expected sum
EXTRA_UNITS = {"link.scaling_t1_s": "s", "link.scaling_tn_s": "s", "cluster.matched_pairs": "count"}
# BENCHMARK.json lists the workloads the regression gate runs; scores_dense
# is runnable by hand (see perfbench/README.md)
WORKLOADS = ["allpairs_perm", "scores_dense", "linkjob_blocked"]

# Spark 4 on JDK 17 outside spark-submit needs these (the same list build.sbt passes)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    fail("no Spark jars: set SPARK_HOME")


def sources(d):
    return sorted(str(p) for p in d.rglob("*.scala"))


def scalac(jars, classpath, srcs, out, deadline):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-Ybackend-parallelism", "4", "-d", str(out)]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=max(deadline - time.time(), 1))
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compile failed: {out.name}")


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compiles the program, then the benchmark against it, each only when
    its sources (or, for the benchmark, the program's) changed."""
    if not PROGRAM_SRC.is_dir() or not sources(PROGRAM_SRC):
        fail(f"no program sources under {PROGRAM_SRC.relative_to(ROOT)}")
    jars = spark_jars()
    prog, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    out_prog, out_bench = BUILD / "program", BUILD / "bench"
    stamps = [(prog, out_prog, None, digest(prog)),
              (bench, out_bench, str(out_prog), digest(prog + bench))]
    for srcs, out, classpath, want in stamps:
        stamp = out.with_suffix(".stamp")
        if stamp.is_file() and stamp.read_text() == want:
            continue
        if stamp.exists():
            stamp.unlink()
        scalac(jars, classpath, srcs, out, deadline)
        stamp.write_text(want)
    return jars, [out_prog, out_bench]


def git_sha():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def units(bench):
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]} | EXTRA_UNITS


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    t_start = time.time()
    deadline = t_start + DEADLINE_S
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    bench = json.loads(bench_file.read_text())
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}")
    jars, classes = build(deadline)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-smoke' if a.smoke else ''}"
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    result_file = BUILD / "results" / f"{tag}.json"
    result_file.parent.mkdir(parents=True, exist_ok=True)
    if result_file.exists():
        result_file.unlink()
    log_file = BUILD / "results" / f"{tag}.log"
    cp = os.pathsep.join([str(c) for c in classes] + [f"{jars}/*"])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.GraftBench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(0 if a.smoke else a.seconds), "--trace", str(a.trace),
              "--smoke", "1" if a.smoke else "0", "--setups", "1" if a.smoke else str(SETUPS),
              "--work", str(work), "--out", str(result_file)])

    load_before = os.getloadavg()
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=str(work))
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    load_after = os.getloadavg()
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not result_file.is_file():
        sys.stderr.write(log_file.read_text()[-4000:])
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")

    r = json.loads(result_file.read_text())
    r["host"].update({"loadavg_before": load_before[0], "loadavg_after": load_after[0],
                      "git_sha": git_sha(), "wall_s": time.time() - t_start})
    unit = units(bench)
    e2e, layers = r["e2e"], r.get("per_layer", {})

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} shape={r['shape']} "
          f"t={r['threshold']} closed loop, 1 client thread, local[{r['host']['nproc']}]")
    print(f"run_s = {e2e['run_s']:.4f} s (median of {len(r['run_s_samples'])} runs)")
    print(f"pairs_per_s = {e2e['pairs_per_s']:.4g} 1/s")
    print(f"setup_s = {e2e['setup_s']:.4f} s (median of {len(r['setup_s_samples'])} set-ups)")
    print(f"peak_rss_mb = {e2e['peak_rss_mb']:.1f} MB (-Xmx{HEAP})")
    print(f"failed_frac = {e2e['failed_frac']:.4f} ratio ({r['failed']} of {r['attempted']} runs)")
    if r["pairwise_f1"] is not None:
        print(f"pairwise_f1 = {r['pairwise_f1']:.4f} ratio")
    for why in r["failures"]:
        print(f"FAILED: {why}")
    for k in sorted(layers):
        print(f"{k} = {layers[k]:.6g} {unit[k]}")
    print(json.dumps({"host": r["host"]}))

    section = "end_to_end" if a.trace == 0 else "per_layer"
    source = e2e if a.trace == 0 else layers
    metrics, missing = {}, []
    for m in bench[section]:
        v = source.get(m["name"])
        if v is None:
            missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
    correct = r["failed"] == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
