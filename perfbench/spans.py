"""Spans around the program's public entry points, recorded from the
benchmark process by wrapping them at run time (no program file is
edited), plus Spark engine metrics attributed to spans through job groups.

Each span has a name, start, end, parent and trace id. While a span is
open its id is the thread's Spark job group, so every Spark job it runs
can be read back from the status store and charged to it. Operators are
lazy: an operator span records plan construction (and any eager collect
it makes); execution is charged to the span that forces it, e.g. the
``Warehouse.write`` inside a pipeline stage's ``run_stage``.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

# (module path, attribute holder, attribute) of every wrapped entry point.
# Functions imported by name into another module are wrapped there too.
ENTRY_POINTS = [
    ("gaoya_spark.plans.pipeline", "DedupPipeline", "run"),
    ("gaoya_spark.sources.warehouse", "Warehouse", "run_stage"),
    ("gaoya_spark.sources.warehouse", "Warehouse", "write"),
    ("gaoya_spark.sources.warehouse", "Warehouse", "overwrite_partitions"),
    ("gaoya_spark.sources.warehouse", "Warehouse", "compact"),
    ("gaoya_spark.operators.minhash_lsh", "MinHashLSH", "signatures"),
    ("gaoya_spark.operators.minhash_lsh", "MinHashLSH", "dedup_pairs"),
    ("gaoya_spark.operators.minhash_lsh", "MinHashLSH", "query"),
    ("gaoya_spark.operators.simhash_lsh", "SimHashLSH", "signatures"),
    ("gaoya_spark.operators.simhash_lsh", "SimHashLSH", "dedup_pairs"),
    ("gaoya_spark.operators.simhash_lsh", "SimHashLSH", "query"),
    ("gaoya_spark.operators.substring", None, "substring_pairs"),
    ("gaoya_spark.plans.pipeline", None, "substring_pairs"),
    ("gaoya_spark.operators.cluster", None, "connected_components"),
    ("gaoya_spark.plans.pipeline", None, "connected_components"),
    ("gaoya_spark.streaming.stream_dedup", "StreamingDedup", "process_batch"),
    ("gaoya_spark.streaming.stream_dedup", "StreamingDedup", "reconcile"),
]
WRITERS = ("Warehouse.write", "Warehouse.overwrite_partitions", "Warehouse.compact")
GROUP_KEY = "spark.jobGroup.id"


def _written(path: str, since_ns: int) -> tuple[int, int]:
    """(parquet files, bytes) under path modified at or after since_ns."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(d, n))
                if st.st_mtime_ns >= since_ns:
                    files += 1
                    size += st.st_size
    return files, size


class Tracer:
    """Keeps spans in memory; ``install`` wraps the entry points and
    ``uninstall`` restores the originals."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": self.trace_id,
               "parent": self._stack[-1] if self._stack else None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"span-{sid}")
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {}
            if name == "Warehouse.run_stage":
                attrs["stage"] = args[1] if len(args) > 1 else kwargs["stage"]
            if name in WRITERS:
                pos = 1 if name == "Warehouse.compact" else 2
                attrs["table"] = args[pos] if len(args) > pos else kwargs["name"]
            with tracer.span(name, **attrs) as rec:
                # file mtimes come from the kernel's coarse clock, which
                # can trail time_ns() by a tick
                since = time.time_ns() - 50_000_000
                out = fn(*args, **kwargs)
                if name in WRITERS:
                    t = time.perf_counter()
                    rec["attrs"]["files"], rec["attrs"]["bytes"] = _written(
                        args[0].table_path(attrs["table"]), since)
                    tracer.bookkeeping_s += time.perf_counter() - t
                if name == "MinHashLSH.signatures":
                    tracer._trace_checkpoint(out, name)
                return out

        return traced

    def _trace_checkpoint(self, df, name: str) -> None:
        """StreamingDedup executes the signature kernel through an eager
        localCheckpoint on the DataFrame ``signatures`` returns; give that
        call its own span so the kernel's time is not lost in the batch's
        self time."""
        original = df.localCheckpoint
        tracer = self

        def local_checkpoint(*a, **kw):
            with tracer.span(name + ".execute"):
                return original(*a, **kw)

        df.localCheckpoint = local_checkpoint

    def install(self) -> None:
        import importlib

        for mod_name, owner, attr in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            holder = getattr(mod, owner) if owner else mod
            fn = getattr(holder, attr)
            fn_name = f"{owner}.{attr}" if owner else attr
            self._saved.append((holder, attr, fn))
            setattr(holder, attr, self._wrap(fn, fn_name))

    def uninstall(self) -> None:
        for holder, attr, fn in reversed(self._saved):
            setattr(holder, attr, fn)
        self._saved.clear()

    # ------------------------------------------------------------ queries
    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(self.spans[s])
            todo.extend(c["id"] for c in self.children(s))
        return out

    def find(self, root: int, name: str, **attrs) -> list[dict]:
        return [s for s in self.subtree(root) if s["name"] == name
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]

    @staticmethod
    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        return self.dur(s) - sum(self.dur(c) for c in self.children(s["id"]))


ENGINE_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def engine_by_span(spark) -> dict[int, dict]:
    """Per-span engine totals read once from the Spark status store: jobs
    are matched to spans by job group, stages to the first job that lists
    them. Times are task-summed seconds."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = {}
    sl = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for i in range(sl.size()):
        s = sl.apply(i)
        if s.status().toString() == "SKIPPED":
            continue
        m = stages.setdefault(s.stageId(), dict.fromkeys(ENGINE_FIELDS[2:], 0))
        m["tasks"] += s.numCompleteTasks()
        m["executor_run_s"] += s.executorRunTime() / 1e3
        m["executor_cpu_s"] += s.executorCpuTime() / 1e9
        m["gc_s"] += s.jvmGcTime() / 1e3
        m["shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["shuffle_read_bytes"] += s.shuffleReadBytes()
        m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    jobs = store.jobsList(None)
    rows = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        group = g.get() if g.isDefined() else None
        ids = j.stageIds()
        rows.append((j.jobId(), group, [ids.apply(k) for k in range(ids.size())]))
    out: dict[int, dict] = {}
    claimed = set()
    for _, group, stage_ids in sorted(rows):
        if not (group and group.startswith("span-")):
            continue
        acc = out.setdefault(int(group[5:]), dict.fromkeys(ENGINE_FIELDS, 0))
        acc["jobs"] += 1
        for sid in stage_ids:
            if sid in stages and sid not in claimed:
                claimed.add(sid)
                acc["stages"] += 1
                for k, v in stages[sid].items():
                    acc[k] += v
    return out


def engine_total(tracer: Tracer, engine: dict[int, dict], root: int) -> dict:
    tot = dict.fromkeys(ENGINE_FIELDS, 0)
    for s in tracer.subtree(root):
        for k, v in engine.get(s["id"], {}).items():
            tot[k] += v
    return tot
