"""Benchmark launcher: one fresh JVM per workload, one at a time.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 1 --smoke

Run from the root of a checkout. Each workload runs in a child process
(perfbench/engine.py) on local[min(nproc, 4)] with a JVM heap sized to the
machine's RAM, C1-only JIT, OSPM_LAYER_CACHE=0, and every temporary,
warehouse and Spark local directory inside the checkout (removed afterwards). The last line of
standard output is the workload's JSON result; a detail line with provenance,
sample counts and failed checks precedes it. The exit code is 0 only if every
operation and output check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("curation", "spatial")  # engine.WORKLOADS, in the same order
CHILD_TIMEOUT_S = 170


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 8 * 2**30


def source_sha(root: str) -> str:
    """sha1 over the engine's sources (the checkout may not be a git repo)."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "osm_public_space_mapper_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    with open(os.path.join(root, "__spark_entry__.py"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def provenance(root: str, seed: int, cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "seed": seed, "git_sha": git_sha(root), "source_sha1": source_sha(root),
        "nproc": os.cpu_count(), "cores_used": cores, "ram_gb": round(ram_bytes() / 2**30, 1),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def run_workload(root: str, args, workload: str) -> tuple[int, str, str]:
    cores = min(os.cpu_count() or 1, 4)
    work = os.path.join(root, ".perfbench_work", f"{workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_gb = max(1, min(6, ram_bytes() // 2**30 // 3))
    env = dict(
        os.environ,
        OSPM_LAYER_CACHE="0",
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        # every JVM (the spark-submit launcher too) keeps its files in the
        # checkout. C1 only: in runs this short C2's background compiling took
        # about half of all CPU, by an amount that varied with host load, and
        # kept the per-pass figures falling pass after pass
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.retainedJobs=10000 --conf spark.ui.retainedStages=10000 "
            "--conf spark.sql.ui.retainedExecutions=10000 pyspark-shell"
        ),
    )
    cmd = [sys.executable, os.path.join(HERE, "engine.py"), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", work]
    if args.smoke:
        cmd.append("--smoke")
    if args.trace_out:
        cmd += ["--trace-out", os.path.abspath(args.trace_out) + f".{workload}.json"]
    t0, ticks0 = time.perf_counter(), cpu_ticks()
    try:
        proc = subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True, timeout=CHILD_TIMEOUT_S)
        code, out, err = proc.returncode, proc.stdout, proc.stderr
    except subprocess.TimeoutExpired as e:
        code, out, err = 124, e.stdout or "", (e.stderr or "") + "\ntimed out"
        if isinstance(out, bytes):
            out, err = out.decode(), err.decode() if isinstance(err, bytes) else err
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    lines = [ln for ln in out.splitlines() if ln.strip()]
    detail = next((ln[len("DETAIL "):] for ln in reversed(lines) if ln.startswith("DETAIL ")), "{}")
    result = lines[-1] if lines and lines[-1].startswith("{") else ""
    # host CPU time stolen by other guests while the run lasted: the share
    # of run-to-run spread that comes from the machine, not the engine
    d = [b - a for a, b in zip(ticks0, cpu_ticks())]
    info = dict(json.loads(detail), workload=workload, wall_s=time.perf_counter() - t0,
                host_steal_frac=d[7] / max(sum(d), 1), provenance=provenance(root, args.seed, cores))
    if code != 0 or not result:
        sys.stderr.write(err[-4000:])
    return code, result, json.dumps(info, default=str)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs: every check in seconds")
    ap.add_argument("--trace-out", default=None, help="write the span JSON to <path>.<workload>.json")
    args = ap.parse_args()

    root = os.getcwd()
    needed = ("__spark_entry__.py", os.path.join("osm_public_space_mapper_spark", "__init__.py"))
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        sys.stderr.write(f"not a checkout of the engine (missing {', '.join(missing)}); run from its root\n")
        return 2

    status = 0
    for workload in WORKLOADS if args.workload == "all" else (args.workload,):
        code, result, detail = run_workload(root, args, workload)
        print("DETAIL " + detail, flush=True)
        if not result:
            sys.stderr.write(f"{workload}: no result (exit {code})\n")
            return code or 1
        print(result, flush=True)
        if code != 0 or not json.loads(result)["correct"]:
            status = 1
    return status


if __name__ == "__main__":
    sys.exit(main())
