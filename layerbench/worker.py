"""One benchmark run in a fresh process (started by ``run.py``).

Phases: session and registry start; a cold check pass that runs every op
once, keeps its output for the oracle and is the only warm-up; at least
two timed passes (host probe before and after); then, outside every
timing, the status-store reads, the oracle and model checks, and the
metrics. Writes the result as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads  # noqa: E402

#: Fewest timed passes, so every op type's median and the per-pass
#: repeat check rest on more than one sample.
MIN_PASSES = 2

PY_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                 "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas", "PythonMapInArrow")


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


def process_age() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / layers.CLK_TCK


class Run:
    def __init__(self, a):
        self.a = a
        self.t_process = time.time() - process_age()
        self.w = workloads.WORKLOADS[a.workload]
        self.trace = bool(a.trace)
        self.records: list[dict] = []
        self.trace_overhead_s = 0.0
        self.failures: list[str] = []

    # -- setup -------------------------------------------------------------

    def start(self) -> None:
        sys.path.insert(0, self.a.root)
        t = time.time()
        from cloudberry_spark.session import get_session

        self.spark = get_session("layerbench")
        self.session_start_s = time.time() - t
        self.sc = self.spark.sparkContext
        self.probe = layers.SparkProbe(self.spark)
        t = time.time()
        from cloudberry_spark.registry import all_queries

        self.queries = all_queries()
        self.registry_load_s = time.time() - t
        missing = [o for o in self.w["ops"] if o not in self.queries]
        if missing:
            raise SystemExit(f"ops not in the registry: {missing}")
        self.spans = layers.Spans()
        if self.trace:
            say("spans on: " + ", ".join(self.spans.install()))
        self.client = None
        if self.w["snapshot"]:
            self.client = workloads.SnapshotClient(
                self.spark, os.path.join(self.a.scratch, "snapshot"),
                self.a.seed)

    # -- one op --------------------------------------------------------------

    def run_op(self, op: str, mode: str, pass_no: int, idx: int) -> dict:
        from cloudberry_spark import planhook

        group = f"lb:{mode}:{pass_no}:{idx}:{op}"
        rec = {"op": op, "mode": mode, "pass": pass_no, "group": group}
        if self.trace:
            planhook.ACTIVE = []
            tc = time.time()
            rec["counters0"] = self.probe.counters()
            self.trace_overhead_s += time.time() - tc
        c = self.client
        changed0, retries0 = (c.rows_changed, c.conflict_retries) if c else (0, 0)
        df = None
        self.sc.setJobGroup(group + ":fn", op)
        t0 = time.time()
        try:
            if op in workloads.SNAPSHOT_OPS:
                rec["rows"] = c.run(op)
                rec["changed"] = c.rows_changed - changed0
                rec["retries"] = c.conflict_retries - retries0
                t1 = time.time()
            else:
                df = self.queries[op].fn(self.spark, self.a.sf_dir)
                t1 = time.time()
                self.sc.setJobGroup(group + ":exec", op)
                frame = df.toPandas()
                rec["rows"] = len(frame)
                if mode == "check":
                    rec["frame"] = frame
            rec["ok"] = True
        except Exception as ex:  # an op failure is counted, not fatal
            t1 = time.time()
            rec["ok"] = False
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            self.failures.append(f"{op} ({mode}): {rec['error']}")
        rec["t0"], rec["t1"], rec["t2"] = t0, t1, time.time()
        rec["wall"] = rec["t2"] - t0
        rec["fn"] = t1 - t0
        if self.trace:
            tc = time.time()
            rec["counters1"] = self.probe.counters()
            rec["materialize_steps"] = len(planhook.ACTIVE or [])
            planhook.ACTIVE = None
            if df is not None and rec["ok"]:
                # toPandas() ran on the frame's own QueryExecution, whose
                # tracker recorded the real analysis, optimization and
                # planning; plans run inside fn() are not included
                phases = self.sc._jvm.scala.jdk.javaapi.CollectionConverters \
                    .asJava(df._jdf.queryExecution().tracker().phases())
                rec["phases"] = {k: phases.get(k).durationMs() / 1e3
                                 for k in phases.keySet()}
            self.trace_overhead_s += time.time() - tc
        self.sc.setJobGroup("lb:idle", "")
        self.records.append(rec)
        return rec

    def run_pass(self, mode: str, pass_no: int) -> float:
        t = time.time()
        order = workloads.pass_order(self.a.workload, self.a.seed, pass_no)
        for i, op in enumerate(order):
            self.run_op(op, mode, pass_no, i)
        return time.time() - t

    # -- phases ----------------------------------------------------------------

    def check_pass(self) -> None:
        self.check_wall = self.run_pass("check", -1)
        say(f"check pass: {self.check_wall:.3f} s (" + ", ".join(
            f"{r['op']} {r['wall']:.2f}" for r in self.records) + ")")

    def timed(self) -> None:
        self.host_before = layers.host_probe()
        self.cpu0 = layers.cpu_snapshot(self.probe.jvm_pid)
        self.steal0 = layers.steal_ticks()
        self.t_timed0 = time.time()
        self.setup_s = self.t_timed0 - self.t_process - self.host_before
        # the same whole passes on every run: as many as come closest to
        # --seconds at the workload's nominal pass time, and at least two
        self.pass_walls = []
        for p in range(max(MIN_PASSES, round(self.a.seconds / self.w["pass_s"]))):
            self.pass_walls.append(self.run_pass("timed", p))
            say(f"timed pass {p}: {self.pass_walls[-1]:.3f} s")
        self.t_timed1 = time.time()
        self.cpu1 = layers.cpu_snapshot(self.probe.jvm_pid)
        steal1 = layers.steal_ticks()
        self.steal_share = (steal1[0] - self.steal0[0]) / max(1, steal1[1] - self.steal0[1])
        self.host_after = layers.host_probe()
        say(f"host probe: before {self.host_before:.4f} s, "
            f"after {self.host_after:.4f} s; CPU steal "
            f"{100 * self.steal_share:.1f}% of the timed phase")

    # -- checks ----------------------------------------------------------------

    def check(self) -> dict:
        """Oracle-check each distinct registry op once, check every timed
        op's row count against it, and model-check the snapshot client."""
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "driver_sim", os.path.join(self.a.root, "tools", "driver_sim.py"))
        argv, sys.argv = sys.argv, [sys.argv[0]]
        try:
            sim = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(sim)
        finally:
            sys.argv = argv
        con = duckdb.connect()
        for t in sim.TABLES:
            path = os.path.join(self.a.sf_dir, f"{t}.parquet")
            if os.path.isdir(path):  # one directory of files per table
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        verified, unverified, attempted, failed = {}, [], 0, 0
        for rec in self.records:
            if rec["mode"] != "check" or rec["op"] in workloads.SNAPSHOT_OPS:
                continue
            attempted += 1
            op = rec["op"]
            if not rec["ok"]:
                failed += 1
                continue
            oracle = self.queries[op].oracle
            if oracle is None:
                unverified.append(op)
                verified[op] = rec["rows"]
                continue
            try:
                problems = sim.frames_match(
                    sim.canon_frame(rec.pop("frame")),
                    sim.canon_frame(con.execute(oracle).df()))
            except Exception as ex:
                problems = [f"{type(ex).__name__}: {str(ex)[:200]}"]
            if problems:
                failed += 1
                self.failures.append(f"{op}: oracle mismatch: {problems[0][:300]}")
            else:
                verified[op] = rec["rows"]
        for rec in self.records:
            rec.pop("frame", None)
            if rec["mode"] != "timed":
                continue
            attempted += 1
            want = verified.get(rec["op"])
            if not rec["ok"]:
                failed += 1
            elif rec["op"] not in workloads.SNAPSHOT_OPS and rec["rows"] != want:
                failed += 1
                self.failures.append(
                    f"{rec['op']} pass {rec['pass']}: {rec['rows']} rows, "
                    f"verified {want}")
        versions = 0
        if self.client is not None:
            versions = self.client.model_check()
            attempted += versions
            failed += len(self.client.failures)
            self.failures.extend(self.client.failures)
        return {"attempted": attempted, "failed": failed,
                "oracle_verified": sorted(k for k in verified if k not in unverified),
                "rows_only": sorted(unverified), "snapshot_versions": versions}

    # -- metrics -----------------------------------------------------------------

    def spark_view(self) -> None:
        """Attach jobs, stages and SQL executions to each op record."""
        self.probe.settle()
        jobs = self.probe.jobs()
        stages = {}
        for s in self.probe.stages():
            stages.setdefault(s["stageId"], []).append(s)
        execs = self.probe.executions() if self.trace else []
        self.plan_nodes = {}
        if self.trace:
            self._plan_nodes(execs)
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        job_exec = {}
        for e in execs:
            for jid in (e.get("jobs") or {}):
                job_exec[int(jid)] = e
        for rec in self.records:
            fn_jobs = by_group.get(rec["group"] + ":fn", [])
            all_jobs = fn_jobs + by_group.get(rec["group"] + ":exec", [])
            rec["fn_jobs"] = len(fn_jobs)
            rec["jobs"] = len(all_jobs)
            sids = {sid for j in all_jobs for sid in j["stageIds"]}
            st = [a for sid in sids for a in stages.get(sid, [])
                  if a["status"] != "SKIPPED"]
            rec["stages"] = len(st)
            rec["job_spans"] = [
                (j["submissionTime"] / 1e3, (j.get("completionTime") or j["submissionTime"]) / 1e3)
                for j in all_jobs if j.get("submissionTime")]
            agg = {}
            for key in ("numTasks", "executorRunTime", "executorCpuTime",
                        "jvmGcTime", "inputBytes", "inputRecords",
                        "shuffleReadBytes", "shuffleWriteBytes",
                        "shuffleFetchWaitTime", "diskBytesSpilled",
                        "outputBytes", "outputRecords"):
                agg[key] = sum(a.get(key) or 0 for a in st)
            rec["stage"] = agg
            ex = {}
            seen = set()
            for j in all_jobs:
                e = job_exec.get(j["jobId"])
                if e is not None and e["executionId"] not in seen:
                    seen.add(e["executionId"])
                    for k, v in e["metric_totals"].items():
                        ex[k] = ex.get(k, 0.0) + v
                    for k, v in self.plan_nodes.get(e["executionId"], {}).items():
                        ex["node:" + k] = ex.get("node:" + k, 0.0) + v
            rec["sql"] = ex

    def _plan_nodes(self, execs: list[dict]) -> None:
        """Per execution: node counts (exchanges, Python evals) and the
        bytes and build time of broadcast exchanges, from the plan graph."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        for e in execs:
            counts = {"exchanges": 0, "python_evals": 0,
                      "broadcast_bytes": 0.0, "broadcast_build_s": 0.0}
            try:
                nodes = self.probe._json(store.planGraph(e["executionId"]).allNodes())
            except Exception:
                nodes = []
            for n in nodes:
                name = n.get("name", "")
                counts["exchanges"] += "Exchange" in name
                counts["python_evals"] += any(p in name for p in PY_EVAL_NODES)
                if name != "BroadcastExchange":
                    continue
                for m in n.get("metrics", []):
                    v = e["values"].get(m["accumulatorId"], 0.0)
                    if m["name"] == "data size":
                        counts["broadcast_bytes"] += v
                    elif m["name"] == "time to build":
                        counts["broadcast_build_s"] += v
            self.plan_nodes[e["executionId"]] = counts

    def end_to_end(self) -> dict:
        timed = [r for r in self.records if r["mode"] == "timed" and r["ok"]]
        n_ops = len([r for r in self.records if r["mode"] == "timed"])
        wall = self.t_timed1 - self.t_timed0
        by_type: dict[str, list[float]] = {}
        for r in timed:
            by_type.setdefault(r["op"], []).append(r["wall"])
        p50 = {k: statistics.median(v) for k, v in by_type.items()}
        geo = math.exp(statistics.fmean(math.log(v) for v in p50.values()))
        walls = sorted(r["wall"] for r in timed)
        k = max(0, len(walls) - 11)
        tail_pct = 100.0 * (k + 1) / len(walls)
        task_cpu = sum(r["stage"]["executorCpuTime"] for r in timed) / 1e9
        py_worker = self.cpu1["py_worker"] - self.cpu0["py_worker"]
        py_driver = self.cpu1["py_driver"] - self.cpu0["py_driver"]
        self.op_p50 = p50
        self.tail = (walls[k], tail_pct, len(walls))
        # reported, not gated: task CPU follows how fast the JIT compiles
        # each pass's new codegen classes, and spread up to 0.26 between
        # runs on a 4-core box (STEADINESS.md)
        self.cpu_per_query = (task_cpu + py_worker + py_driver) / max(1, n_ops)
        return {
            "setup_s": (self.setup_s, "s", 1),
            "queries_per_s": (n_ops / wall, "1/s", n_ops),
            "latency_geo_p50_s": (geo, "s", len(timed)),
        }

    def per_layer(self) -> dict:
        timed = [r for r in self.records if r["mode"] == "timed"]
        n = max(1, len(timed))

        def per_op(values) -> float:
            return sum(values) / n

        spans = self.spans.since(self.t_timed0)
        spans = [s for s in spans if s[2] <= self.t_timed1]

        def span_s(layer: str) -> float:
            # outermost calls of the layer only, so recursion is not
            # counted twice
            return per_op(b - a for name, a, b, d in spans if name == layer
                          and not any(o[0] == layer and o[1] <= a and b <= o[2]
                                      and o[3] < d for o in spans))

        def c_delta(key: str) -> float:
            return per_op(r["counters1"][key] - r["counters0"][key] for r in timed)

        def sql(key: str) -> float:
            return per_op(r["sql"].get(key, 0.0) for r in timed)

        def stage(key: str, scale: float = 1.0) -> float:
            return per_op(r["stage"][key] for r in timed) * scale

        unattributed = []
        for r in timed:
            covered = [(a, b) for _, a, b, _ in spans if r["t0"] <= a <= r["t2"]]
            covered += r["job_spans"]
            unattributed.append(r["wall"] - layers.intervals_union(
                covered, r["t0"], r["t2"]))
        gaps = [r["wall"] - layers.intervals_union(r["job_spans"], r["t0"], r["t2"])
                for r in timed]
        compiles = c_delta("compile_count")
        cpu = {k: (self.cpu1[k] - self.cpu0[k]) / n for k in self.cpu0}
        commits = [s for s in spans if s[0] == "sources.snapshot_commit"]
        reads = [s for s in spans if s[0] == "sources.snapshot_read"]
        writes = [r for r in timed if r["op"] in ("snap_append", "snap_rewrite")]
        wall_sum = sum(r["wall"] for r in timed)
        m = {
            "session.start_s": self.session_start_s,
            "registry.load_s": self.registry_load_s,
            "registry.fn_s": per_op(r["fn"] for r in timed),
            "registry.fn_jobs": per_op(r["fn_jobs"] for r in timed),
            "catalog.ensure_views_s": span_s("catalog"),
            "catalog.files_discovered": c_delta("files_discovered"),
            "catalog.file_cache_hits": c_delta("file_cache_hits"),
            "sql.translate_s": span_s("sql.translate"),
            "sql.spec_views_s": span_s("sql.spec_views"),
            "spark.catalyst.analysis_s": per_op(r.get("phases", {}).get("analysis", 0.0) for r in timed),
            "spark.catalyst.optimization_s": per_op(r.get("phases", {}).get("optimization", 0.0) for r in timed),
            "spark.catalyst.planning_s": per_op(r.get("phases", {}).get("planning", 0.0) for r in timed),
            "spark.codegen.compile_count": compiles,
            "spark.codegen.compile_s": compiles * self.probe.counters()["compile_mean_ms"] / 1e3,
            "spark.sched.jobs": per_op(r["jobs"] for r in timed),
            "spark.sched.stages": per_op(r["stages"] for r in timed),
            "spark.sched.tasks": stage("numTasks"),
            "spark.sched.driver_gap_s": per_op(gaps),
            "spark.executor.run_s": stage("executorRunTime", 1e-3),
            "spark.executor.cpu_s": stage("executorCpuTime", 1e-9),
            "spark.executor.gc_s": stage("jvmGcTime", 1e-3),
            "spark.scan.bytes_read": stage("inputBytes"),
            "spark.scan.rows_read": stage("inputRecords"),
            "spark.scan.files_read": sql("number of files read"),
            "spark.shuffle.write_bytes": stage("shuffleWriteBytes"),
            "spark.shuffle.read_bytes": stage("shuffleReadBytes"),
            "spark.shuffle.fetch_wait_s": stage("shuffleFetchWaitTime", 1e-3),
            "spark.shuffle.exchanges": sql("node:exchanges"),
            "spark.broadcast.bytes": sql("node:broadcast_bytes"),
            "spark.broadcast.build_s": sql("node:broadcast_build_s"),
            "spark.spill.disk_bytes": stage("diskBytesSpilled"),
            "functions.arrow_bytes_to_python": sql("data sent to Python workers"),
            "functions.arrow_bytes_from_python": sql("data returned from Python workers"),
            "functions.python_worker_cpu_s": cpu["py_worker"],
            "functions.python_evals": sql("node:python_evals"),
            "lineage.materialize_steps": per_op(r.get("materialize_steps", 0) for r in timed),
            "pipeline.scratch_bytes_written": stage("outputBytes"),
            "sources.snapshot_commit_s": per_op(b - a for _, a, b, _ in commits),
            "sources.snapshot_read_s": per_op(b - a for _, a, b, _ in reads),
            "sources.snapshot_commits": float(len(writes)),
            "sources.snapshot_conflict_retries": float(sum(
                r.get("retries", 0) for r in writes)),
            # rows the commits' Spark jobs wrote per row the client changed
            "sources.write_amp": sum(r["stage"]["outputRecords"] for r in writes)
            / max(1, sum(r.get("changed", 0) for r in writes)),
            "streaming.matview_s": span_s("streaming"),
            "cpu.task_s": cpu["task"],
            "cpu.jvm_driver_s": cpu["jvm_driver"],
            "cpu.jvm_jit_s": cpu["jvm_jit"],
            "cpu.jvm_gc_s": cpu["jvm_gc"],
            "cpu.py_driver_s": cpu["py_driver"],
            "cpu.py_worker_s": cpu["py_worker"],
            "jvm.heap_used_mb": self.probe.counters()["heap_used_mb"],
            "process.peak_rss_mb": layers.peak_rss_mb(
                [os.getpid(), self.probe.jvm_pid]
                + layers.descendants(self.probe.jvm_pid)),
            "op.wall_s": per_op(r["wall"] for r in timed),
            "op.cpu_s": self.cpu_per_query,
            "op.unattributed_s": per_op(unattributed),
            "op.unattributed_share": sum(unattributed) / max(1e-9, wall_sum),
            "trace.overhead_s": self.trace_overhead_s / max(1, len(self.records)),
            "trace.spans": float(len(self.spans.records)),
        }
        return m

    def repeat_check(self) -> list[str]:
        """Per timed pass, the counts that should repeat exactly."""
        keys = ("jobs", "stages", "tasks", "exchanges", "fn_jobs",
                "materialize_steps", "bytes_written", "compiles")
        rows = []
        for p in sorted({r["pass"] for r in self.records if r["mode"] == "timed"}):
            rs = [r for r in self.records if r["mode"] == "timed" and r["pass"] == p]
            rows.append((p, (
                sum(r["jobs"] for r in rs), sum(r["stages"] for r in rs),
                sum(r["stage"]["numTasks"] for r in rs),
                int(sum(r["sql"].get("node:exchanges", 0) for r in rs)),
                sum(r["fn_jobs"] for r in rs),
                sum(r.get("materialize_steps", 0) for r in rs),
                sum(r["stage"]["outputBytes"] for r in rs),
                sum(r["counters1"]["compile_count"] - r["counters0"]["compile_count"]
                    for r in rs))))
        lines = []
        for i, k in enumerate(keys):
            vals = [v[i] for _, v in rows]
            flag = "" if len(set(vals)) <= 1 else "   <-- differs"
            lines.append(f"repeat {k}: {vals}{flag}")
        return lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    run = Run(a)
    result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    try:
        run.start()
        run.check_pass()
        run.timed()
        run.spark_view()
        checks = run.check()
        e2e = run.end_to_end()
        say(f"workload {a.workload}, seed {a.seed}, trace {a.trace}, "
            f"{len(run.pass_walls)} timed passes, "
            f"driver heap {os.environ.get('SPARK_GRAFT_DRIVER_MEM')}")
        say(f"pass walls: check {run.check_wall:.3f} | timed "
            + ", ".join(f"{w:.3f}" for w in run.pass_walls))
        for k, (v, unit, n) in e2e.items():
            say(f"{k} = {v:.6g} {unit} (n={n})")
        v, pct, n = run.tail
        say(f"latency_tail_s = {v:.6g} s (p{pct:.0f} of n={n}, "
            "the highest percentile with 10 ops beyond it; not gated)")
        say(f"cpu_s_per_query = {run.cpu_per_query:.6g} s "
            f"(n={len(run.pass_walls) * len(workloads.op_types(a.workload))}; "
            "not gated)")
        for op, v in sorted(run.op_p50.items()):
            say(f"op.{op}.p50_s = {v:.6g}")
        say(f"checks: {len(checks['oracle_verified'])} ops oracle-verified, "
            f"rows-only (unverified): {checks['rows_only'] or 'none'}, "
            f"snapshot versions model-checked: {checks['snapshot_versions']}")
        for f in run.failures:
            say(f"FAIL {f}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        extra = {"host_probe_before_s": run.host_before,
                 "host_probe_after_s": run.host_after,
                 "pass_walls_s": run.pass_walls, "check_wall_s": run.check_wall,
                 "latency_tail": list(run.tail), "op_p50_s": run.op_p50,
                 "steal_share": run.steal_share,
                 "cpu_s_per_query": run.cpu_per_query,
                 "cpu_timed_s": {k: run.cpu1[k] - run.cpu0[k] for k in run.cpu0},
                 "checks": checks}
        if a.trace:
            layer = run.per_layer()
            for line in run.repeat_check():
                say(line)
            for k, v in layer.items():
                say(f"{k} = {v:.6g}")
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
        ok = checks["failed"] == 0 and not run.failures
        result = {"correct": ok, "attempted": checks["attempted"],
                  "failed": checks["failed"], "metrics": metrics, "extra": extra}
    except Exception:
        traceback.print_exc()
        return_code = 1
    else:
        return_code = 0
    with open(a.out, "w") as f:
        json.dump(result, f)
    try:
        run.spark.stop()
    except Exception:
        pass
    return return_code


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if "bytes" in name:
        return "B"
    if name.endswith(("_share", "write_amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
