"""The benchmark's workloads: which ops run, on which data, and how.

An op is one unit of client work timed end to end. Registry ops run a
registered query: ``fn(spark, sf_dir)`` builds the frame (it may launch
eager Spark jobs), then ``toPandas()`` collects its rows, as a client of
the driver contract does. Snapshot ops are a
seeded single-writer client of ``sources.snapshot.SnapshotTable`` whose
every acknowledged commit is checked against an in-memory model.
"""

from __future__ import annotations

import random

#: name -> fixture scale, nominal seconds of one warm pass on a 4-core
#: box, registry op names, and whether the snapshot client runs.
#: BENCHMARK.json says why each exists.
WORKLOADS: dict[str, dict] = {
    "olap_sf1": {
        "sf": 1,
        "pass_s": 8.5,
        "ops": [
            # TPC-H through the DataFrame API, and two PG-dialect texts
            # through sql.pgcompat, all over the sf1 views
            "tpch_q1", "tpch_q5", "tpch_q6", "tpch_q13", "tpch_q14",
            "pgsql_compat_distinct_on", "pgsql_compat_report",
        ],
        "snapshot": False,
    },
    "pipeline_rw": {
        "sf": 0.01,
        "pass_s": 10.0,
        "ops": [
            "graph_pagerank", "sim_cosine_neardup",
            "multimodal_decode_features", "dml_partition_confined_update",
            "ivm_incremental_refresh",
        ],
        "snapshot": True,
    },
}

SNAPSHOT_OPS = ("snap_append", "snap_rewrite", "snap_read")
SEED_ROWS = 2000
APPEND_ROWS = 200
COMMIT_RETRIES = 3


def op_types(workload: str) -> list[str]:
    w = WORKLOADS[workload]
    return list(w["ops"]) + (list(SNAPSHOT_OPS) if w["snapshot"] else [])


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The op order of one pass: a seeded shuffle of every op type."""
    ops = op_types(workload)
    random.Random(f"{seed}:{pass_no}").shuffle(ops)
    return ops


class SnapshotClient:
    """One writer doing append, rewrite and read on a SnapshotTable.

    Rows are ``(k, v)`` longs drawn from the seed. The model maps each
    acknowledged version to its expected rows, so every commit can be
    checked by time travel after the timed phase.
    """

    def __init__(self, spark, root: str, seed: int):
        from pyspark.sql import types as T

        from cloudberry_spark.sources.snapshot import SnapshotTable

        self.spark = spark
        self.rng = random.Random(f"snapshot:{seed}")
        self.schema = T.StructType([
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.LongType(), False),
        ])
        self.rows = {k: self.rng.randrange(1_000_000) for k in range(SEED_ROWS)}
        self.next_key = SEED_ROWS
        self.table = SnapshotTable.init(root, self._frame(self.rows))
        self.version = 0
        self.acked: dict[int, dict[int, int]] = {0: dict(self.rows)}
        self.rows_changed = 0
        self.conflict_retries = 0
        self.failures: list[str] = []

    def _frame(self, rows: dict[int, int]):
        return self.spark.createDataFrame(sorted(rows.items()), self.schema)

    def run(self, op: str) -> int:
        """Run one snapshot op; returns the rows it produced or read."""
        if op == "snap_append":
            new = {}
            for _ in range(APPEND_ROWS):
                new[self.next_key] = self.rng.randrange(1_000_000)
                self.next_key += 1
            v = self._commit(
                lambda base: self.table.commit_append(self._frame(new), base))
            self.rows.update(new)
            self.rows_changed += len(new)
            return self._ack(v, len(new))
        if op == "snap_rewrite":
            from pyspark.sql import functions as F

            mod = self.rng.randrange(5, 50)
            delta = self.rng.randrange(1, 1000)

            def rewrite(base: int) -> int:
                cur = self.table.read(self.spark, base)
                return self.table.commit_rewrite(cur.withColumn(
                    "v", F.when(F.col("k") % mod == 0, F.col("v") + delta)
                    .otherwise(F.col("v"))), base)

            v = self._commit(rewrite)
            changed = [k for k in self.rows if k % mod == 0]
            for k in changed:
                self.rows[k] += delta
            self.rows_changed += len(changed)
            return self._ack(v, len(self.rows))
        got = dict(
            (r["k"], r["v"]) for r in self.table.read(self.spark).collect())
        if got != self.rows:
            self.failures.append(
                f"snap_read at v{self.version}: {len(got)} rows read, "
                f"{len(self.rows)} expected")
        return len(got)

    def _commit(self, attempt) -> int:
        """Commit on the last acknowledged version; on the engine's
        ConcurrentWriteError, count a retry and commit on the table's
        current version instead, at most ``COMMIT_RETRIES`` times."""
        from cloudberry_spark.sources.snapshot import ConcurrentWriteError

        base = self.version
        for _ in range(COMMIT_RETRIES):
            try:
                return attempt(base)
            except ConcurrentWriteError:
                self.conflict_retries += 1
                base = self.table.current_version()
        return attempt(base)

    def _ack(self, version: int, n: int) -> int:
        if version != self.version + 1:
            self.failures.append(f"commit acknowledged v{version}, "
                                 f"expected v{self.version + 1}")
        self.version = version
        self.acked[version] = dict(self.rows)
        return n

    def model_check(self) -> int:
        """Time-travel every acknowledged version and compare its count
        and exact integer sums with the model. Returns versions checked."""
        from pyspark.sql import functions as F

        for v, rows in sorted(self.acked.items()):
            got = self.table.read(self.spark, v).agg(
                F.count(F.lit(1)), F.sum("k"), F.sum("v"),
                F.sum(F.col("k") * F.col("v"))).first()
            want = (len(rows), sum(rows), sum(rows.values()),
                    sum(k * x for k, x in rows.items()))
            if tuple(int(x or 0) for x in got) != want:
                self.failures.append(f"v{v}: read {tuple(got)}, model {want}")
        return len(self.acked)
