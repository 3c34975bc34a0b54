#!/usr/bin/env python3
"""Benchmark entry point.

    python3 layerbench/run.py --workload olap_sf1 --seed 1 --seconds 8 --trace 0
    python3 layerbench/run.py --smoke        # self-test at sf0.001

Run from the root of a checkout. The data is the engine's own read-only
seed fixture (the directory that holds ``catalog.DEFAULT_SF_DIR``):
sf0.01 and sf0.001 as they are, and sf1 built from sf0.1 once per
checkout with ``tools/make_sf1.py`` into ``.scratch/sf1``, validated by
row counts, outside every metric. Each run starts ``worker.py`` in a
fresh process group, waits for it, stops every process left in the group
(the JVM and its Python daemons) and removes the run's scratch and Spark
local directories. The last line of standard output is the run's JSON
result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

#: Driver heap. The engine's own default (16g) exceeds a 15 GB box.
DRIVER_MEM = "4g"
#: The whole run, build excluded, must end well inside 180 s.
RUN_TIMEOUT_S = 170
#: The one-time sf1 build: ten replicas of sf0.1 (``tools/make_sf1.py``).
SF1_SOURCE, SF1_REPLICAS = "sf0.1", 10
BUILD_TIMEOUT_S = 600


def group_pids(pgid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                if os.getpgid(int(p)) == pgid:
                    out.append(int(p))
            except OSError:
                pass
    return out


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the group; wait for all."""
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait
        while time.time() < end:
            if not group_pids(pgid):
                return
            time.sleep(0.1)


def new_entries(before: set[str], path: str) -> list[str]:
    try:
        return [os.path.join(path, e) for e in os.listdir(path) if e not in before]
    except OSError:
        return []


def listing(path: str) -> set[str]:
    try:
        return set(os.listdir(path))
    except OSError:
        return set()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="self-test: every workload at sf0.001, short runs")
    a = ap.parse_args()
    # a terminated run still stops its worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cloudberry_spark", "registry.py")) \
            or not os.path.isfile(os.path.join(root, "tools", "driver_sim.py")):
        print("run from the root of a checkout of the engine "
              "(cloudberry_spark/ and tools/driver_sim.py not found)",
              file=sys.stderr)
        return 2
    if a.smoke:
        return smoke(root)
    if not a.workload:
        ap.error("--workload is required")
    result = run_once(root, a.workload, a.seed, a.seconds, a.trace,
                      workloads.WORKLOADS[a.workload]["sf"])
    if result is None:
        return 1
    print("# run-record " + json.dumps(result.pop("extra", {})))
    compare_untraced(root, a.workload, a.seed, a.trace, result)
    print(json.dumps(result))
    return 0


def compare_untraced(root: str, workload: str, seed: int, trace: int,
                     result: dict) -> None:
    """Keep each untraced result; a traced run of the same workload and
    seed prints its overhead against the kept one."""
    path = os.path.join(root, ".layerbench", "untraced", f"{workload}-{seed}.json")
    if not trace:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(result, f)
        return
    try:
        with open(path) as f:
            base = json.load(f)["metrics"]["queries_per_s"]["value"]
    except (OSError, KeyError, ValueError):
        print("# trace overhead: no untraced run of this workload and seed "
              "in this checkout")
        return
    traced = result["metrics"]["op.wall_s"]["value"]
    print(f"# trace overhead: mean op wall {traced:.4f} s traced vs "
          f"{1 / base:.4f} s untraced (seed {seed}): "
          f"{100 * (traced * base - 1):+.1f}%")


def fixture_root(root: str) -> str:
    """The directory of the engine's seed fixtures (sf0.001, sf0.01,
    sf0.1): the parent of the catalog's default fixture."""
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    sys.path.insert(0, root)
    from cloudberry_spark.catalog import DEFAULT_SF_DIR

    return os.path.dirname(DEFAULT_SF_DIR)


def row_counts(path: str) -> dict[str, int] | None:
    """Rows per fixture table, from parquet footers; a table may be one
    file or a directory of files. None if a table is missing."""
    import glob

    import pyarrow.parquet as pq
    from cloudberry_spark.catalog import TABLES

    out = {}
    for t in TABLES:
        p = os.path.join(path, f"{t}.parquet")
        files = sorted(glob.glob(os.path.join(p, "*.parquet"))) \
            if os.path.isdir(p) else [p]
        try:
            out[t] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        except OSError:
            return None
        if not files:
            return None
    return out


def ensure_data(root: str, sf: float) -> str:
    fixtures = fixture_root(root)
    if sf < 1:
        path = os.path.join(fixtures, f"sf{sf:g}")
        if not row_counts(path):
            raise SystemExit(f"seed fixture sf{sf:g} not found in {fixtures}")
        return path
    src = row_counts(os.path.join(fixtures, SF1_SOURCE))
    if not src:
        raise SystemExit(f"seed fixture {SF1_SOURCE} not found in {fixtures}")
    keys = load_tool(root, "make_sf1").KEYS
    want = {t: n * (SF1_REPLICAS if t in keys else 1) for t, n in src.items()}
    path = os.path.join(root, ".scratch", "sf1")
    if row_counts(path) != want:
        t = time.time()
        build_sf1(root, os.path.join(fixtures, SF1_SOURCE))
        got = row_counts(path)
        if got != want:
            raise SystemExit(f"sf1 at {path} failed validation: {got} != {want}")
        print(f"# built sf1 in {time.time() - t:.1f} s: {got}", flush=True)
    return path


def load_tool(root: str, name: str):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        name, os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def spark_env(root: str, scratch: str) -> dict[str, str]:
    """Environment of one Spark process tree whose temporary and local
    files all go under ``scratch``."""
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}/tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.retainedJobs=1000000 "
            "--conf spark.ui.retainedStages=1000000 "
            "--conf spark.sql.ui.retainedExecutions=1000000 pyspark-shell"),
    })
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def scratch_dir(root: str, name: str) -> str:
    scratch = os.path.join(root, ".layerbench", name)
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, d))
    return scratch


def run_group(cmd: list[str], cwd: str, env: dict, timeout: float,
              **kw) -> int | None:
    """Run ``cmd`` in a fresh process group and stop the whole group
    afterwards. Returns its exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, **kw)
    code = None
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"# {os.path.basename(cmd[1])} exceeded {timeout} s; stopped",
              flush=True)
    finally:
        stop_group(proc.pid)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
    return code


def build_sf1(root: str, src: str) -> None:
    scratch = scratch_dir(root, f"build-{os.getpid()}")
    try:
        code = run_group(
            [sys.executable, os.path.join(root, "tools", "make_sf1.py"),
             src, str(SF1_REPLICAS), "sf1"],
            scratch, spark_env(root, scratch), BUILD_TIMEOUT_S,
            stdout=sys.stderr)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if code != 0:
        raise SystemExit(f"tools/make_sf1.py exited with {code}")


def run_once(root: str, workload: str, seed: int, seconds: float, trace: int,
             sf: float) -> dict | None:
    sf_dir = ensure_data(root, sf)
    scratch = scratch_dir(root, f"run-{os.getpid()}")
    program_scratch = os.path.join(root, ".scratch")
    before = listing(program_scratch)
    before_tag = listing(os.path.join(program_scratch, os.path.basename(sf_dir)))
    out = os.path.join(scratch, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--root", root, "--sf-dir", sf_dir,
           "--scratch", scratch, "--out", out]
    result = None
    try:
        code = run_group(cmd, scratch, spark_env(root, scratch), RUN_TIMEOUT_S)
        if code == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        tag_dir = os.path.join(program_scratch, os.path.basename(sf_dir))
        for p in new_entries(before, program_scratch) + new_entries(before_tag, tag_dir):
            shutil.rmtree(p, ignore_errors=True)
    return result


def smoke(root: str) -> int:
    """Self-test: each workload at sf0.001 with a 1-second timed phase
    must finish, pass every check and report every metric, traced and
    untraced."""
    ok = True
    for name in sorted(workloads.WORKLOADS):
        for trace in (0, 1):
            r = run_once(root, name, 1, 1, trace, 0.001)
            good = bool(r and r["correct"] and r["failed"] == 0 and r["metrics"])
            print(f"# smoke {name} trace={trace}: {'ok' if good else 'FAILED'}",
                  flush=True)
            ok = ok and good
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
