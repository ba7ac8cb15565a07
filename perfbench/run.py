#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a source checkout. Compiles the engine (src/main) and
the benchmark (perfbench/src) with the Scala compiler shipped in Spark's
jars, caches the classes under $CARGO_TARGET_DIR (default .bench_build),
runs one workload in one JVM at local[4], and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("build", "query-hot", "query-selective", "update-mix")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def files(d, suffix=None):
    return [p for p in d.rglob("*") if p.is_file() and (suffix is None or p.suffix == suffix)]


def toolchain():
    java = Path(os.environ.get("JAVA_HOME", "/nonexistent"), "bin", "java")
    java = str(java) if java.exists() else shutil.which("java")
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (str(Path(submit).resolve().parent.parent) if submit else "")
    jars = Path(home, "jars")
    if not java or not list(jars.glob("scala-compiler-*.jar")) or not list(jars.glob("spark-core_*.jar")):
        die("needs a JDK 17 `java` and Spark's jars ($SPARK_HOME/jars, with scala-compiler)")
    return java, f"{jars}/*"


def compile_once(java, cp, out, sources, extra_cp=None):
    """Compile `sources` into `out` unless it is already there."""
    if (out / "DONE").exists():
        return
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java, "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", "4", "-d", str(tmp)]
    if extra_cp:
        cmd += ["-classpath", str(extra_cp)]
    print(f"perfbench: compiling {len(sources)} files into {out.name}", file=sys.stderr)
    r = subprocess.run(cmd + [str(s) for s in sources], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed", 1)
    (tmp / "DONE").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def fs_type(path):
    """Filesystem type of the mount holding `path`."""
    best, kind = "", "unknown"
    try:
        for line in Path("/proc/mounts").read_text().splitlines():
            parts = line.split()
            if len(parts) > 2 and str(path).startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def host(work):
    mem = "unknown"
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                mem = " ".join(line.split()[1:])
    except OSError:
        pass
    sha = "not a git checkout"
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True)
        sha = r.stdout.strip() or sha
    return {"nproc": os.cpu_count(), "mem_total": mem, "git_sha": sha,
            "source_hash": tree_hash(files(ROOT / "src" / "main")),
            "spark_local_dir_fs": fs_type(work), "client_threads_max": 4}


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return 0, 0


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}; run from a source checkout")

    java, spark_cp = toolchain()
    build = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    build.mkdir(parents=True, exist_ok=True)
    engine_src = files(ROOT / "src" / "main" / "scala", ".scala")
    engine = build / f"engine-{tree_hash(engine_src)}"
    compile_once(java, spark_cp, engine, engine_src)
    bench_src = files(HERE / "src", ".scala")
    bench = build / f"bench-{tree_hash(bench_src + engine_src)}"
    compile_once(java, spark_cp, bench, bench_src, extra_cp=engine)

    cp = os.pathsep.join([str(bench), str(engine), str(ROOT / "src" / "main" / "resources"), spark_cp])
    work = build / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # no -XX perf-data file in the system temp dir: the run writes only here
    jvm = [java, "-XX:-UsePerfData", "-Xmx4g", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if a.self_test:
        r = subprocess.run(jvm + ["-cp", cp, "perfbench.SelfTest"], cwd=ROOT)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(r.returncode)

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work)]
    # Spark would put its scratch space there instead of under `work`
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    steal0, total0 = cpu_ticks()
    proc = subprocess.Popen(jvm + ["-cp", cp, "perfbench.Main"] + args, cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"workload {a.workload} did not finish within {JVM_TIMEOUT_S} s", 1)
    shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.startswith("DETAIL "):
            detail = json.loads(line[len("DETAIL "):])
            detail["master"] = "local[4]"
            detail.update(host(work))
            # CPU time the hypervisor gave to others while this run was on
            detail["host_steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
            print("DETAIL " + json.dumps(detail, sort_keys=True))
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        die(f"workload {a.workload} exited with {proc.returncode} and no result", 1)
    want = expected_metrics(a.trace)
    got = result["metrics"]
    if sorted(got) != sorted(want):
        die(f"metrics {sorted(got)} differ from BENCHMARK.json's {sorted(want)}", 1)
    bad = [k for k, v in got.items() if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if bad:
        die(f"metrics without a measured value: {bad}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
