"""The traced run's instruments.

Three sources, all switched on only under ``--trace 1``:

1. **Job groups.** Every measured operation gets its own
   ``sc.setJobGroup("pb:<op>")``, so the event log can split Spark work
   by operation. Jobs submitted from threads the group does not follow
   (thread pools inside the engine) carry no group and are counted as
   ``spark.jobs_unattributed``.
2. **An uncompressed Spark event log** (passed through
   ``get_spark(extra_conf=...)``), folded after the session stops into
   job, stage and task counts, executor run/CPU/GC time, shuffle, spill
   and Python-worker bytes.
3. **Function wrappers**, installed by rebinding module attributes from
   here, never by editing the engine: ``declared.load_table``, every
   module's imported ``stage_checkpoint``, ``pipeline.lsh_dedup_batch``,
   ``pipeline.ingest_batch``, ``ParquetScdSink.__call__`` and
   ``pipeline.run_ingest_stream`` (which records each stream's handle and
   directories for the ``stream.*`` layers).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

GROUP_PREFIX = "pb:"
PYTHON_OUT = "data sent to Python workers"
PYTHON_IN = "data returned from Python workers"


class Tracer:
    def __init__(self, run_dir: str):
        self.log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(self.log_dir, exist_ok=True)
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)
        self.spark = None
        # the operation that owns the jobs submitted now; None outside the
        # measured loop, so set-up and warm-up work is never tagged
        self.op: str | None = None
        self._undo: list[tuple[object, str, object]] = []
        # (StreamingQuery, source dir, [index, store, flags dirs])
        self.streams: list[tuple[object, str, list[str]]] = []

    @property
    def conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.log_dir),
        }

    def group(self, op: str, desc: str = "") -> None:
        self.op = op
        self.spark.sparkContext.setJobGroup(GROUP_PREFIX + op, desc or op)

    def clear_group(self) -> None:
        self.op = None
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def tag_batch(self, epoch: int) -> None:
        """Tag a micro-batch with the operation that started its stream;
        a stream started outside the measured loop stays untagged."""
        if self.op is not None:
            self.spark.sparkContext.setJobGroup(
                f"{GROUP_PREFIX}{self.op}/batch{epoch}", "ingest micro-batch")

    # --- wrappers ---------------------------------------------------------

    def _timed(self, key: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls[key] += 1
                self.secs[key] += time.perf_counter() - t

        return wrapper

    def _rebind(self, owner: object, attr: str, new: object) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, spark) -> None:
        """Rebind the traced names; call after the engine is imported."""
        self.spark = spark
        from beis_orp_data_service_spark import checkpointing, declared
        from beis_orp_data_service_spark.streaming import pipeline

        self._rebind(declared, "load_table",
                     self._timed("catalog.load_table", declared.load_table))
        # stage_checkpoint is imported by name into each operator module;
        # rebind it in every engine module that holds the original
        original = checkpointing.stage_checkpoint
        wrapped = self._timed("checkpointing.stage_checkpoint", original)
        for name, mod in list(sys.modules.items()):
            if name.startswith("beis_orp_data_service_spark") and \
                    getattr(mod, "stage_checkpoint", None) is original:
                self._rebind(mod, "stage_checkpoint", wrapped)
        self._rebind(pipeline, "lsh_dedup_batch",
                     self._timed("stream.lsh_dedup", pipeline.lsh_dedup_batch))
        sink_call = pipeline.ParquetScdSink.__call__
        self._rebind(pipeline.ParquetScdSink, "__call__",
                     self._timed("stream.scd_sink", sink_call))
        ingest = pipeline.ingest_batch

        # foreachBatch bodies run on the stream's thread, where the
        # caller's job group does not reach: tag each micro-batch with the
        # operation that started the stream
        @functools.wraps(ingest)
        def grouped_ingest(spark_, batch, *args, **kwargs):
            self.tag_batch(kwargs.get("epoch", args[3] if len(args) > 3 else -1))
            return ingest(spark_, batch, *args, **kwargs)

        self._rebind(pipeline, "ingest_batch", grouped_ingest)
        start = pipeline.run_ingest_stream

        @functools.wraps(start)
        def recorded_start(spark_, source_dir, checkpoint, index_path,
                           store_path, flagged_out, *args, **kwargs):
            q = start(spark_, source_dir, checkpoint, index_path, store_path,
                      flagged_out, *args, **kwargs)
            self.streams.append((q, source_dir, [index_path, store_path, flagged_out]))
            return q

        self._rebind(pipeline, "run_ingest_stream", recorded_start)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def stream_layers(self) -> dict[str, float]:
        """``stream.*`` layers of the ingest streams started in the
        measured window; call before the session stops (the progress
        lives in the JVM, the state directories under the run).

        Phase times are medians over every micro-batch, the growth ratio
        the median over streams. A stream rebuilds its directories on
        each run, so the directory walk sees the last run's files: the
        file and byte counts are those of one stream run."""
        batch_s, phases, growth = [], defaultdict(list), []
        for q, _, _ in self.streams:
            times = []
            for p in q.recentProgress:
                if p["numInputRows"] > 0:
                    d = p["durationMs"]
                    times.append(d["triggerExecution"] / 1000.0)
                    for k in ("addBatch", "walCommit", "queryPlanning"):
                        phases[k].append(d.get(k, 0) / 1000.0)
            if times:
                quarter = max(1, len(times) // 4)
                growth.append(sum(times[-quarter:]) / sum(times[:quarter]))
            batch_s += times
        if not batch_s:
            return {}
        outputs = sorted({d for _, _, dirs in self.streams for d in dirs})
        sources = sorted({src for _, src, _ in self.streams})
        n_files, n_bytes = _tree(outputs)
        in_bytes = _tree(sources)[1]
        return {
            "stream.add_batch_s": statistics.median(phases["addBatch"]),
            "stream.wal_commit_s": statistics.median(phases["walCommit"]),
            "stream.query_planning_s": statistics.median(phases["queryPlanning"]),
            "stream.batch_growth_ratio": statistics.median(growth),
            "stream.bytes_written_per_input_byte": n_bytes / max(in_bytes, 1),
            "stream.files_written": n_files,
        }

    def wrapper_layers(self) -> dict[str, float]:
        return {
            "catalog.load_table_calls": self.calls["catalog.load_table"],
            "catalog.load_table_s": self.secs["catalog.load_table"],
            "checkpointing.stage_checkpoint_calls":
                self.calls["checkpointing.stage_checkpoint"],
            "checkpointing.stage_checkpoint_s":
                self.secs["checkpointing.stage_checkpoint"],
            "stream.lsh_dedup_s": self.secs["stream.lsh_dedup"],
            "stream.scd_sink_s": self.secs["stream.scd_sink"],
        }

    # --- event log ----------------------------------------------------------

    def fold(self, t0: float, t1: float, cores: int) -> tuple[dict, dict]:
        """Fold the event log over the measured window [t0, t1] (epoch s).

        Returns (totals, per-group job counts). A job counts when it was
        submitted inside the window; one under no group or another
        component's group (a stream's run id) is
        ``spark.jobs_unattributed``."""
        return fold_event_log(self.log_files(), t0, t1, cores)

    def log_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.log_dir, "*")))


def _tree(paths: list[str]) -> tuple[int, int]:
    """(files, bytes) under the given directories."""
    n = size = 0
    for top in paths:
        for d, _, files in os.walk(top):
            for f in files:
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def fold_event_log(paths: list[str], t0: float, t1: float,
                   cores: int) -> tuple[dict, dict]:
    stage_job: dict[int, int] = {}
    counted: set[int] = set()
    stages: set[int] = set()
    per_group: dict[str, int] = defaultdict(int)
    tot = defaultdict(float)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    sub = ev.get("Submission Time", 0) / 1000.0
                    if not t0 <= sub <= t1:
                        continue
                    counted.add(jid)
                    if grp and grp.startswith(GROUP_PREFIX):
                        per_group[grp[len(GROUP_PREFIX):]] += 1
                    else:
                        tot["jobs_unattributed"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid not in counted:
                        continue
                    stages.add(ev["Stage ID"])
                    tot["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    tot["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    tot["records_read"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == PYTHON_OUT:
                            tot["python_bytes_out"] += float(acc.get("Update", 0))
                        elif name == PYTHON_IN:
                            tot["python_bytes_in"] += float(acc.get("Update", 0))
    tot["jobs"] = len(counted)
    tot["stages"] = len(stages)
    wall = max(t1 - t0, 1e-9)
    tot["core_busy_frac"] = tot["executor_run_s"] / (wall * max(cores, 1))
    return dict(tot), dict(per_group)
