"""Materialization: the one owner of scratch data and lineage cuts.

Iterative and multi-reference plans (RecursiveUnion fixpoints,
connected components, PageRank rounds, shared CTEs) must break Catalyst
lineage or the logical plan doubles per round and planning time
explodes long before data size matters. The reference materializes per
iteration in its WorktableScan (src/backend/executor/
nodeRecursiveunion.c:75) for the same reason. Every operator here cuts
lineage through this module, with three calls:

- ``scratch_path(sf_dir, name)``: where a query's scratch data lives.
- ``materialize(df, sf_dir, tag)``: write scratch parquet and read it
  back. Use it for big iteration-invariant relations and shared CTEs:
  the planner then sees a real file relation with exact size
  statistics, so AQE's broadcast decisions behave as for any table.
- ``checkpoint(df)``: cut lineage without a file round-trip, for small
  per-round state. A reliable ``checkpoint()`` when a checkpoint dir is
  set (set ``SPARK_GRAFT_CHECKPOINT_DIR`` to an HDFS/S3 path, picked up
  by ``get_session``): it survives executor loss. ``localCheckpoint``
  otherwise (local dev, where executor loss == driver loss anyway).

Both cuts append the step's plan to ``planhook`` so a plan report
counts the work the returned frame no longer shows.

Path policy: every scratch path is ``<repo>/.scratch/<sf>/pid<PID>/
<name>``, where ``<sf>`` is the data set's directory name. Keying by
process means concurrent processes at one SF (test shards, a bench run
beside pytest) never overwrite a path another is mid-read on
(FAILED_READ_FILE otherwise); nothing is reused across processes. A
killed process cannot clean up after itself, so the first
``scratch_path`` call of each process removes the ``pid<N>`` dirs of
processes that are gone. Other entries under ``.scratch`` (the sf1 data
built by tools/make_sf1.py, the K>1 spec-soak cache) are left alone.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from cloudberry_spark import planhook

#: Root of all scratch data (gitignored, inside the repo).
ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

#: PID of the process that last swept dead processes' dirs (a forked
#: child sweeps again). Threads racing on the first call may both sweep,
#: which is harmless.
_swept_pid: int | None = None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except (ProcessLookupError, OverflowError):
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _sweep_dead_processes() -> None:
    """Best-effort removal of ``<ROOT>/<sf>/pid<N>`` dirs of dead PIDs."""
    try:
        sfs = os.listdir(ROOT)
    except OSError:
        return
    for sf in sfs:
        try:
            entries = os.listdir(os.path.join(ROOT, sf))
        except OSError:
            continue
        for e in entries:
            pid = e[3:]
            if e.startswith("pid") and pid.isdigit() and not _alive(int(pid)):
                shutil.rmtree(os.path.join(ROOT, sf, e), ignore_errors=True)


def scratch_path(sf_dir: str, name: str) -> str:
    """This process's scratch path for ``name`` at data set ``sf_dir``."""
    global _swept_pid
    pid = os.getpid()
    if _swept_pid != pid:
        _sweep_dead_processes()
        _swept_pid = pid
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(ROOT, sf, f"pid{pid}", name)


def materialize(df: DataFrame, sf_dir: str, tag: str) -> DataFrame:
    """Write ``df`` to scratch parquet (overwriting) and read it back."""
    path = scratch_path(sf_dir, tag)
    planhook.record(df)
    # coalesce: these state tables are node/edge-list sized; writing 32
    # near-empty files per round costs more task/commit overhead than
    # the data. At cluster scale pick partitions ~ |state| / 128MB.
    df.coalesce(8).write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint ``df``, truncating its logical plan."""
    planhook.record(df)
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
