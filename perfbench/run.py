#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, makes seeded
inputs, runs one workload in a fresh JVM, checks its outputs and prints one
JSON result as the last line of standard output.

    python3 perfbench/run.py --workload advise --seed 1 --seconds 18 --trace 0

Run it from the root of a checkout. Everything it writes stays under that
root: `.bench_build/` (compiled classes, reused while the sources are
unchanged), `.bench_work/` (one run's inputs and outputs, removed at exit)
and `.bench_out/` (stamps and traced spans). Workloads, metrics and the
per-layer map are described in perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")


def spark_jars():
    """Spark's jars (the program's only dependencies, and the Scala
    compiler): $SPARK_HOME/jars, else the Spark install found on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    return None


JARS = spark_jars()
SCALA = "2.13.17"
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
GEN_REPS = 3  # input generation is repeated and its median reported
DEADLINE_S = 170  # a run must end within 180 s of starting, build aside

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=1):
    log(msg)
    sys.exit(code)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, bench


def source_hash(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the benchmark with the Scala compiler that
    ships in the Spark jars; reuse the classes while no source changed."""
    main, bench = sources()
    if not main:
        die("no program sources under src/main/scala: run from a checkout root", 2)
    if JARS is None:
        die("Spark jars not found: set SPARK_HOME", 2)
    digest = source_hash(main + bench)
    classes = os.path.join(BUILD, f"classes-{digest}")
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes, digest
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    scalac = os.pathsep.join(os.path.join(JARS, f"scala-{n}-{SCALA}.jar")
                             for n in ("compiler", "library", "reflect"))
    log(f"building {len(main)} program + {len(bench)} benchmark sources")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        rc = subprocess.call(["java", "-Xss8m", "-Xmx2g", "-cp", scalac, "scala.tools.nsc.Main",
                              "-nowarn", "-classpath", os.path.join(JARS, "*"), "-d", classes,
                              *main, *bench], stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(BUILD, "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die("build failed")
    open(os.path.join(classes, ".ok"), "w").close()
    log(f"built in {time.time() - t0:.1f} s")
    return classes, digest


def stamp(digest):
    """Which tree and host produced a result: git SHA (-dirty when the tree
    differs from HEAD; `nogit` outside a repository), source hash, cores."""
    sha = "nogit"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.check_output(["git", "rev-parse", "--short=12", "HEAD"],
                                          cwd=ROOT, text=True).strip()
            if subprocess.check_output(["git", "status", "--porcelain"], cwd=ROOT, text=True).strip():
                sha += "-dirty"
        except (OSError, subprocess.CalledProcessError):
            sha = "unknown"
    return {"git_sha": sha, "src_hash": digest, "nproc": os.cpu_count()}


def loadavg():
    with open("/proc/loadavg") as fh:
        return ",".join(fh.read().split()[:3])


def oracle_check(work, fixture):
    """Each key's result against its DuckDB twin, compared by
    scripts/check_oracle.py. Returns failure messages."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check_oracle
    out = os.path.join(work, "oracle")
    os.environ["SPARK_GRAFT_ONLY"] = ",".join(json.load(open(os.path.join(out, "oracle_sql.json"))))
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check_oracle.main(fixture, out)
    return [line[len("FAIL "):] for line in report.getvalue().splitlines() if line.startswith("FAIL ")]


def tracing_overhead(workload, digest, passes, got):
    """This traced run's first warm pass against the median first warm pass
    of the untraced runs of the workload made in this checkout from the same
    sources."""
    untraced = []
    for f in glob.glob(os.path.join(OUT, f"stamp-{workload}-*-trace0.json")):
        stamp = json.load(open(f))
        if stamp.get("src_hash") == digest:
            untraced += (stamp.get("pass_samples_s") or [])[1:2]
    if len(passes) < 2 or not untraced:
        log("tracing overhead: no untraced run of this workload in this checkout yet")
        return
    base = statistics.median(untraced)
    got["trace.traced_pass_s"] = {"value": passes[1]}
    got["trace.untraced_pass_s"] = {"value": base}
    got["trace.overhead_ratio"] = {"value": passes[1] / base - 1}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found: run from a checkout root", 2)
    spec = json.load(open(spec_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}", 2)
    classes, digest = build()
    deadline = time.monotonic() + DEADLINE_S
    info = stamp(digest)
    info["loadavg_before"] = loadavg()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        # inputs: the same seed gives the same tables; made GEN_REPS times
        # (median reported in setup_s) and compared byte for byte
        gen_s, dirs = [], []
        for i in range(GEN_REPS):
            d = os.path.join(work, f"fixture{i}")
            t0 = time.perf_counter()
            gen.tables(d, a.seed)
            gen_s.append(time.perf_counter() - t0)
            dirs.append(d)
        fixture = dirs[0]
        failed_checks = []
        for d in dirs[1:]:
            for f in sorted(os.listdir(fixture)):
                if open(os.path.join(fixture, f), "rb").read() != open(os.path.join(d, f), "rb").read():
                    failed_checks.append(f"generator: seed {a.seed} gave different bytes for {f}")
            shutil.rmtree(d)
        wide = os.path.join(work, "widelog")
        if a.trace and a.workload == "operators":
            gen.write_wide_log(wide, a.seed)
            failed_checks += gen.selfcheck(a.seed)

        result = os.path.join(work, "result.json")
        t0_ms = int(time.time() * 1000)
        proc = subprocess.Popen(
            ["java", "-Xmx3g", "-Xss8m", *JVM_OPENS, f"-Djava.io.tmpdir={work}/tmp",
             "-cp", os.pathsep.join([classes, os.path.join(JARS, "*")]), "perfbench.PerfBench",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--fixture", fixture, "--wide-log", wide,
             "--spans-dir", OUT, "--t0-ms", str(t0_ms), "--out", result,
             "--deadline-ms", str(t0_ms + int((deadline - time.monotonic() - 5) * 1000))],
            cwd=work, stdout=sys.stderr, stderr=sys.stderr,
            # scratch space stays in the run's directory (spark.local.dir),
            # which these variables would override
            env={k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")})
        proc.wait(timeout=deadline - time.monotonic() - 5)  # 5 s for the checks after
        if proc.returncode != 0 or not os.path.isfile(result):
            die(f"benchmark JVM exited with {proc.returncode} and no result")
        res = json.load(open(result))
        if a.workload == "operators" and not a.trace:
            t0 = time.perf_counter()
            failed_checks += oracle_check(work, fixture)
            log(f"oracle comparison: {time.perf_counter() - t0:.1f} s")
    except subprocess.TimeoutExpired:
        die(f"benchmark JVM did not finish within {DEADLINE_S} s of the run's start")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    for msg in failed_checks:
        log(f"FAIL: {msg}")
    got = res["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.trace:
        tracing_overhead(a.workload, digest, res["notes"].get("pass_samples_s", []), got)
    if not a.trace:
        got["setup_s"] = {"value": statistics.median(gen_s) + got["session_s"]["value"]
                          + got.get("prepare_s", {"value": 0.0})["value"], "unit": "s"}
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {}).get("value")
        if v is None and not a.trace:
            die(f"metric {m['name']} was not measured ({len(res['errors'])} errors)")
        # a layer a workload does not exercise reads 0 in its traced run
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    attempted = res["attempted"] + len(failed_checks)
    failed = res["failed"] + len(failed_checks)
    info["loadavg_after"] = loadavg()
    info.update(res["notes"])
    info["failed_ratio"] = failed / max(attempted, 1)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"stamp-{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(info, fh)
    print(json.dumps({"stamp": info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
