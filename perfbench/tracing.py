"""Per-layer tracing from outside the program.

``Tracer.install`` wraps public functions of ``database_migrator_spark``
after import: every module attribute bound to a wrapped function is
rebound to a timing wrapper, so call sites that did ``from x import f``
are covered too.  Nothing inside the package is edited.  Spans are kept in
memory as per-name totals and call counts for the current pass.

``SparkCounters`` tags one operation with a Spark job group and, after it
returns, sums the status store's counters over the group's stages.
"""

from __future__ import annotations

import time
from collections import defaultdict
from collections.abc import Callable

# span name -> (module path, attribute path) of the function it times
SPANS: dict[str, tuple[str, str]] = {
    "sources.table": ("database_migrator_spark.sources.tables", "table"),
    "substrate.ivf": ("database_migrator_spark.operators.similarity", "_ivf_index_cached"),
    "substrate.bpe": ("database_migrator_spark.operators.bpe", "bpe_train_cached"),
    "substrate.pq": ("database_migrator_spark.operators.similarity", "pq_fit_cached"),
    "substrate.cc": ("database_migrator_spark.operators.dedup", "neardup_components_cached"),
    "substrate.gram": ("database_migrator_spark.operators.textops", "doc_shingles_cached"),
    "substrate.tf": ("database_migrator_spark.operators.textops", "doc_term_frequencies"),
    "substrate.daywords": ("database_migrator_spark.operators.bitmapops", "day_user_words"),
    "streaming.run": ("database_migrator_spark.streaming.windows", "run_stream_to_table"),
    "migrator.pending": ("database_migrator_spark.migrator.core", "Migrator.pending_migrations"),
    "migrator.scan_migration": ("database_migrator_spark.migrator.model", "scan_migration"),
    "ledger.exists": ("database_migrator_spark.migrator.ledger", "CatalogLedger.exists"),
    "ledger.applied_df": ("database_migrator_spark.migrator.ledger", "CatalogLedger.applied_df"),
    "ledger.record": ("database_migrator_spark.migrator.ledger", "CatalogLedger.record"),
    "ddl.run_ddl_script": ("database_migrator_spark.migrator.ddl", "run_ddl_script"),
}


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, float] = defaultdict(float)
        self._active: set[str] = set()

    def reset(self) -> None:
        self.seconds.clear()
        self.calls.clear()
        self.counts.clear()

    def _wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            # outermost call only: recursion or a wrapper calling itself
            # through another binding must not count twice
            if not self.enabled or name in self._active:
                return fn(*args, **kwargs)
            self._active.add(name)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self.seconds[name] += time.perf_counter() - t0
                self.calls[name] += 1
                self._active.discard(name)
            if name == "ddl.run_ddl_script":
                self.counts["ddl.statements"] += len(out)
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        import importlib
        import sys

        for name, (mod_name, attr) in SPANS.items():
            mod = importlib.import_module(mod_name)
            if "." in attr:  # a method: rebind on its class
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(name, getattr(cls, meth)))
                continue
            fn = getattr(mod, attr)
            wrapped = self._wrap(name, fn)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("database_migrator_spark"):
                    continue
                for k, v in list(vars(m).items()):
                    if v is fn:
                        setattr(m, k, wrapped)


# StageData getter -> (counter name, scale to the reported unit)
_STAGE_FIELDS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "inputBytes": ("spark.input_mb", 1 / 2**20),
    "inputRecords": ("spark.input_rows", 1),
    "shuffleReadBytes": ("spark.shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spark.spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spark.spill_mb", 1 / 2**20),
    "numTasks": ("spark.tasks", 1),
}


class SparkCounters:
    """Job-group tagging plus per-group counter reads from the status
    store (readable with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()  # noqa: SLF001
        self._n = 0

    def tag(self) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def read(self, group: str) -> dict[str, float]:
        try:  # stage metrics arrive through the listener bus
            self._jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001
            pass
        tracker = self.sc.statusTracker()
        out: dict[str, float] = defaultdict(float)
        stages: set[int] = set()
        for job in tracker.getJobIdsForGroup(group):
            out["spark.jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        store = self._jsc.statusStore()
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001  skipped stages have no attempt
                continue
            out["spark.stages"] += 1
            for getter, (key, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(sd, getter)() * scale
        return out
