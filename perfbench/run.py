#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: batch_suite, keyed_stream (see perfbench/README.md).

The first run in a checkout builds the harness against the root build
(sbt, offline) and records the runtime classpath and the root build's JVM
options under .bench_build/; later runs reuse them while the sources are
unchanged. Each
run starts one JVM, which writes a result file; this script prints a
report (host stamp, every metric by name with its unit), then, as the last
line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. A run whose open-loop generator fell behind, or whose broker lag
grew, is invalid: it exits with code 3 and prints no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("batch_suite", "keyed_stream")
BENCH = Path(__file__).resolve().parent
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads: both build definitions, the engine
    sources and the harness package."""
    trees = [root / "src" / "main", BENCH / "src"]
    files = [root / "build.sbt", root / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for t in trees:
        files += [p for p in t.rglob("*") if p.is_file()]
    return sorted(files)


def source_hash(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(root, out, src_hash):
    """Compile once per source state; return the runtime classpath and
    the JVM options."""
    stamp = out / "build.stamp"
    cp_file, opts_file = out / "classpath.txt", out / "javaOptions.txt"

    # the root build reads SPARK_DRIVER_MEM into -Xmx when it loads
    key = f"{src_hash} SPARK_DRIVER_MEM={os.environ.get('SPARK_DRIVER_MEM')!r}"

    def built():
        return cp_file.read_text().strip(), opts_file.read_text().splitlines()

    if stamp.exists() and cp_file.exists() and opts_file.exists() \
            and stamp.read_text() == key:
        cp, opts = built()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp, opts
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = out / "build.log"
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (see {log})")
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (see {log})")
    for f in (cp_file, opts_file):
        shutil.copyfile(BENCH / "target" / f.name, f)
    stamp.write_text(key)
    return built()


def host_stamp(root, src_hash, seed, jvm_host):
    def first(path, prefix):
        try:
            for line in open(path):
                if line.startswith(prefix):
                    return line.split(":", 1)[1].strip()
        except OSError:
            pass
        return "unknown"
    commit = "unknown"
    if (root / ".git").exists():
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                    capture_output=True, text=True,
                                    timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total": first("/proc/meminfo", "MemTotal"),
        "cpu_model": first("/proc/cpuinfo", "model name"),
        "jdk": jvm_host.get("java.version", "unknown"),
        "spark": jvm_host.get("spark.version", "unknown"),
        "git_commit": commit,
        "source_hash": src_hash,
        "seed": seed,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {root}/src/main/scala/graft; "
             "run from the root of a graft checkout")
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    src_hash = source_hash(root)
    cp, jvm_opts = build(root, out, src_hash)

    work = out / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work), "--out", str(result)]
    log = work / "jvm.log"
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=root, stdout=fh,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"{a.workload} did not finish in {RUN_TIMEOUT_S} s", 1)
        if rc != 0 or not result.exists():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"{a.workload} exited with code {rc}", 1)
        res = json.loads(result.read_text())
        if a.trace == "1":
            traces = out / "trace"
            traces.mkdir(exist_ok=True)
            for spans in work.glob("*.spans.jsonl"):
                shutil.copyfile(spans, traces / spans.name)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    host = host_stamp(root, src_hash, a.seed, res.get("host", {}))
    if res.get("invalid"):
        fail(f"invalid run: {res['invalid']}", 3)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    metrics = res["per_layer"] if a.trace == "1" else res["end_to_end"]
    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("# host " + " ".join(f"{k}={json.dumps(v)}" for k, v in host.items()))
    print(f"failed_ratio = {failed / max(attempted, 1):.6g} ratio "
          f"({failed} of {attempted})")
    for note in res.get("notes", []):
        print(f"# failure: {note}")
    for section in ("end_to_end", "detail", "per_layer"):
        for k, m in res.get(section, {}).items():
            print(f"{k} = {m['value']:.6g} {m['unit']}")
    with open(out / "results.jsonl", "a") as fh:
        fh.write(json.dumps({"workload": a.workload, "trace": int(a.trace),
                             "host": host, "attempted": attempted,
                             "failed": failed, **{k: res[k] for k in
                             ("end_to_end", "per_layer", "detail")}}) + "\n")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in metrics.items()},
    }))


if __name__ == "__main__":
    main()
