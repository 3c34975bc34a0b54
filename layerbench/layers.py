"""Measurement from outside the program: host probe, per-thread CPU from
``/proc``, Spark's status stores and JVM metric sources, and spans
around calls into the engine's public module functions.

Nothing here changes what the engine computes. Spans are installed only
in traced runs; untraced runs read the status stores once, after the
timed phase.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_probe() -> float:
    """Seconds for a fixed single-thread integer loop. Serves only to
    tell a slow host window from a slower program; no metric uses it."""
    t = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return time.perf_counter() - t


# -- /proc -------------------------------------------------------------------

def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        s = f.read()
    lp, rp = s.index("("), s.rindex(")")
    return s[lp + 1:rp], s[rp + 2:].split()


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            kids = _children(p)
        except OSError:
            continue
        seen.extend(kids)
        todo.extend(kids)
    return seen


def _thread_class(comm: str) -> str:
    if comm.startswith("Executor task"):
        return "task"
    if "CompilerThre" in comm or comm.startswith(("C1 ", "C2 ")):
        return "jvm_jit"
    if comm.startswith(("GC ", "G1 ", "VM Thread", "VM Periodic")):
        return "jvm_gc"
    return "jvm_driver"


def cpu_snapshot(jvm_pid: int) -> dict[str, float]:
    """CPU seconds by class: JVM threads by name (task, JIT, GC, the
    rest), Python workers (JVM descendants, reaped children included)
    and this Python driver process."""
    out = {"task": 0.0, "jvm_jit": 0.0, "jvm_gc": 0.0, "jvm_driver": 0.0,
           "py_worker": 0.0}
    _, f = _stat(f"/proc/{jvm_pid}/stat")
    total = (int(f[11]) + int(f[12])) / CLK_TCK
    named = 0.0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            comm, tf = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:
            continue
        c = _thread_class(comm)
        if c != "jvm_driver":
            s = (int(tf[11]) + int(tf[12])) / CLK_TCK
            out[c] += s
            named += s
    # threads that already exited count towards the driver residual
    out["jvm_driver"] = max(0.0, total - named)
    for p in descendants(jvm_pid):
        try:
            _, pf = _stat(f"/proc/{p}/stat")
        except OSError:
            continue
        out["py_worker"] += sum(int(x) for x in pf[11:15]) / CLK_TCK
    t = os.times()
    out["py_driver"] = t.user + t.system
    return out


def steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine from /proc/stat:
    time the hypervisor ran something else while this guest wanted a CPU."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


# -- Spark status stores -------------------------------------------------------

class SparkProbe:
    """Reads the app status store (jobs, stages), the SQL status store
    (executions and their metrics) and static JVM metric sources."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.jvm = jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._hive = jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def settle(self) -> None:
        """Wait until every posted listener event has been processed."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _json(self, obj) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self.sc._jsc.sc().statusStore().jobsList(None))

    def stages(self) -> list[dict]:
        empty = self.sc._gateway.new_array(self.jvm.double, 0)
        return self._json(self.sc._jsc.sc().statusStore().stageList(
            None, False, False, empty, None))

    def executions(self) -> list[dict]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = self._json(store.executionsList())
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        for e in out:
            raw = conv.asJava(store.executionMetrics(e["executionId"]))
            e["values"] = {int(a): parse_metric(raw.get(a)) for a in raw.keySet()}
            e["metric_totals"] = {}
            for m in e["metrics"]:
                v = e["values"].get(m["accumulatorId"])
                if v is not None:
                    e["metric_totals"][m["name"]] = \
                        e["metric_totals"].get(m["name"], 0.0) + v
        return out

    def counters(self) -> dict[str, float]:
        h, c = self._hive, self._codegen
        compile_hist = c.METRIC_COMPILATION_TIME()
        rt = self.jvm.java.lang.Runtime.getRuntime()
        return {
            "files_discovered": h.METRIC_FILES_DISCOVERED().getCount(),
            "file_cache_hits": h.METRIC_FILE_CACHE_HITS().getCount(),
            "compile_count": compile_hist.getCount(),
            "compile_mean_ms": compile_hist.getSnapshot().getMean(),
            "heap_used_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
        }


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """The total of one SQL metric value as the status store formats it
    (``"123"``, ``"1.5 KiB"``, or ``"total (min, med, max ...)\\n2.0 s
    (...)"``), as bytes, seconds or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def intervals_union(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# -- spans around the engine's public functions ------------------------------

#: layer -> (module, public names). Methods are given as Class.method.
LAYER_FUNCTIONS: dict[str, tuple[str, tuple[str, ...]]] = {
    "catalog": ("cloudberry_spark.catalog", ("ensure_views", "load_table")),
    "sql.translate": ("cloudberry_spark.sql.pgcompat", ("translate_pg_sql",)),
    "sql.spec_views": ("cloudberry_spark.sql.scale_fixture", ("spec_views",)),
    "sources.snapshot_commit": ("cloudberry_spark.sources.snapshot", (
        "SnapshotTable.init", "SnapshotTable.init_partitioned",
        "SnapshotTable.commit_append", "SnapshotTable.commit_rewrite",
        "SnapshotTable.commit_partition_rewrite")),
    "sources.snapshot_read": ("cloudberry_spark.sources.snapshot",
                              ("SnapshotTable.read",)),
    "streaming": ("cloudberry_spark.streaming.ivm", (
        "create_matview", "apply_delta", "read_matview")),
}


class Spans:
    """Records (layer, start, end, depth) for every wrapped call."""

    def __init__(self):
        self.records: list[tuple[str, float, float, int]] = []
        self.depth = 0

    def wrap(self, layer: str, fn):
        spans = self

        @functools.wraps(fn)
        def timed(*a, **kw):
            spans.depth += 1
            t = time.time()
            try:
                return fn(*a, **kw)
            finally:
                spans.depth -= 1
                spans.records.append((layer, t, time.time(), spans.depth))

        return timed

    def install(self) -> list[str]:
        """Wrap every listed function and rebind each module-level alias
        of it in the engine's loaded modules. Returns what was wrapped."""
        import importlib

        done = []
        for layer, (modname, names) in LAYER_FUNCTIONS.items():
            try:
                mod = importlib.import_module(modname)
            except ImportError:
                continue
            for name in names:
                owner, attr = mod, name
                if "." in name:
                    cls, attr = name.split(".")
                    owner = getattr(mod, cls)
                raw = owner.__dict__.get(attr)
                if raw is None:
                    continue
                if isinstance(raw, classmethod):
                    setattr(owner, attr, classmethod(self.wrap(layer, raw.__func__)))
                elif "." in name:
                    setattr(owner, attr, self.wrap(layer, raw))
                else:
                    wrapped = self.wrap(layer, raw)
                    for m in list(sys.modules.values()):
                        if getattr(m, "__name__", "").startswith("cloudberry_spark") \
                                and getattr(m, attr, None) is raw:
                            setattr(m, attr, wrapped)
                done.append(f"{modname}.{name}")
        return done

    def since(self, t0: float) -> list[tuple[str, float, float, int]]:
        return [r for r in self.records if r[1] >= t0]
