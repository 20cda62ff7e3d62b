"""Span tracing for the traced benchmark run.

The tracer patches the engine's public entry points from outside (no engine
code changes): each call becomes a span (name, start, end, parent, run id)
and sets a Spark job group named after the span, so every Spark job the
call launches can be attributed to it afterwards. Spans stay in memory; at
the end of the run the stage status store and the SQL status store are read
over py4j, once, and joined to the spans by job group.

Most layer work in a Spark program runs lazily, inside the commit that
materialises it, so commit spans are attributed to a layer by the table they
publish (``layer_of``).
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from contextlib import contextmanager


def layer_of(table: str | None) -> str | None:
    """Layer that owns the work materialised by a commit to ``table``."""
    if not table:
        return None
    for prefix, layer in (
        ("series_1m", "series"),
        ("rollup_", "tiers"),
        ("gapfill_", "gapfill"),
        ("chunks_", "codecs"),
    ):
        if table.startswith(prefix):
            return layer
    return None


class Tracer:
    """In-memory span recorder bound to one SparkSession."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.wrapper_s = 0.0  # bookkeeping time spent inside the wrappers
        self.serving = False  # record read pruning only while serving

    # -- spans ---------------------------------------------------------------

    def _group(self, i: int) -> str:
        return f"{self.run_id}:{i}"

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        i = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": i, "parent": parent, "name": name, "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(i)
        self.sc.setJobGroup(self._group(i), name)
        rec["start"] = time.perf_counter()
        self.wrapper_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self._group(parent), self.spans[parent]["name"])
            self.wrapper_s += time.perf_counter() - rec["end"]

    # -- patching ------------------------------------------------------------

    def patch(self, owner, attr: str, name: str, table_arg: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. With
        ``table_arg`` the first positional argument is a SnapshotTable (or
        Lineage/Metrics) whose directory names the span's table."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            t_pre = time.perf_counter()
            attrs = {}
            if table_arg and args:
                obj = args[0]
                path = getattr(obj, "path", None) or getattr(getattr(obj, "table", None), "path", None)
                if path:
                    attrs["table"] = os.path.basename(path.rstrip("/"))
                    attrs["path"] = path
                    sid = getattr(obj, "current_snapshot_id", None)
                    attrs["sid_before"] = sid() if sid else None
            tracer.wrapper_s += time.perf_counter() - t_pre
            with tracer.span(name, **attrs) as rec:
                out = orig(*args, **kw)
            t0 = time.perf_counter()
            if "path" in rec and hasattr(args[0], "current_snapshot_id"):
                rec["sid_after"] = args[0].current_snapshot_id()
            if name == "SnapshotTable.read" and tracer.serving:
                snap = args[0].snapshot(args[0].current_snapshot_id())
                rec["files_total"] = len(snap.files)
                rec["files_read"] = len(out.inputFiles())
            tracer.wrapper_s += time.perf_counter() - t0
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the engine's public entry points."""
        from mimirsbrunn_spark import retention, tables
        from mimirsbrunn_spark.jobs import rollup_job, verify_job

        st = tables.SnapshotTable
        for m in ("commit", "replace_partitions", "drop_partition_values", "drop_partitions", "read"):
            self.patch(st, m, f"SnapshotTable.{m}", table_arg=True)
        for m in ("committed_partitions", "latest_input_fingerprints", "invalidate", "record"):
            self.patch(tables.Lineage, m, f"Lineage.{m}", table_arg=True)
        self.patch(tables.Metrics, "record", "Metrics.record", table_arg=True)
        self.patch(rollup_job, "enumerate_days", "enumerate_days")
        self.patch(retention, "expire_tier", "retention.expire_tier")
        for m in dir(verify_job):
            if m.startswith("check_"):
                self.patch(verify_job, m, f"verify_job.{m}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- status stores -------------------------------------------------------

    def spark_stats(self) -> dict[int, dict]:
        """Per span id: Spark jobs, stages and their executor/SQL metrics.
        The stage and SQL status stores are serialised to JSON inside the
        JVM (one py4j call per listing) and joined to spans by job group."""
        jvm = self.sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))

        def dump(obj):
            return json.loads(mapper.writeValueAsString(obj))

        store = self.sc._jsc.sc().statusStore()
        stages = {
            s["stageId"]: s
            for s in dump(store.stageList(None, False, False, self.sc._gateway.new_array(jvm.double, 0), None))
            if s["status"] == "COMPLETE"  # skipped stages reused earlier shuffle output
        }
        prefix = f"{self.run_id}:"
        out: dict[int, dict] = {}
        job_span: dict[int, int] = {}
        for j in dump(store.jobsList(None)):
            g = j.get("jobGroup") or ""
            if not g.startswith(prefix):
                continue
            i = int(g[len(prefix):])
            job_span[j["jobId"]] = i
            d = out.setdefault(i, _empty_stats())
            d["jobs"] += 1
            if j.get("submissionTime") and j.get("completionTime"):
                d["job_wall_s"] += (j["completionTime"] - j["submissionTime"]) / 1000.0
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None:
                    continue
                d["stages"] += 1
                d["run_s"] += s["executorRunTime"] / 1000.0
                d["cpu_s"] += s["executorCpuTime"] / 1e9
                d["gc_s"] += s["jvmGcTime"] / 1000.0
                d["input_bytes"] += s["inputBytes"]
                d["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in dump(sql.executionsList()):
            owners = {job_span[int(j)] for j in e.get("jobs", {}) if int(j) in job_span}
            names = {m["accumulatorId"]: m["name"] for m in e.get("metrics", [])
                     if m["name"] in _SQL_METRICS}
            if len(owners) != 1 or not names:
                continue  # only Python-worker metrics are read from the SQL store
            d = out[owners.pop()]
            for acc, text in dump(sql.executionMetrics(e["executionId"])).items():
                if int(acc) in names:
                    d[_SQL_METRICS[names[int(acc)]]] += _parse_metric(text)
        return out


_SQL_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "arrow_in_bytes",
    "data returned from Python workers": "arrow_out_bytes",
}

_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_metric(text: str) -> float:
    """SQL status-store values are formatted strings: '1.2 s', '328 ms',
    '1588.4 KiB', or a 'total (min, med, max ...)' header followed by the
    total on the next line. Returns seconds or bytes."""
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", text.splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _empty_stats() -> dict:
    return {k: 0.0 for k in (
        "jobs", "stages", "job_wall_s", "run_s", "cpu_s", "gc_s", "input_bytes",
        "shuffle_write_bytes", *_SQL_METRICS.values(),
    )}
