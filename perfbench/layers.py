"""Per-layer metrics of a traced run (layer = engine module).

Inputs are the tracer's spans, the Spark status stores joined to them by job
group, and the manifests of the tables the run committed. Which end-to-end
metric each layer metric should move, and on which workload, is mapped in
README.md.
"""

from __future__ import annotations

import os
import statistics

from spans import layer_of
from workloads import READ_MODULE, READS

COMMITS = ("SnapshotTable.commit", "SnapshotTable.replace_partitions")


def layer_metrics(spark, tracer, res: dict, host: dict, docs: int) -> dict:
    from mimirsbrunn_spark.tables import SnapshotTable

    spans = tracer.spans
    stats = tracer.spark_stats()
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])

    def sub(i):
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(kids.get(j, []))
        return out

    def stat(ids, key):
        return sum(stats.get(i, {}).get(key, 0.0) for i in ids)

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def root(name):
        return next((s["id"] for s in spans if s["parent"] is None and s["name"] == name), None)

    def within(i, name=None):
        ids = set(sub(i)) if i is not None else set()
        return [spans[j] for j in sorted(ids) if name is None or spans[j]["name"] == name]

    job = root("rollup_job")
    job_spans = within(job)
    job_ids = [s["id"] for s in job_spans]
    commits = [s for s in job_spans if s["name"] in COMMITS]

    def layer_commits(layer):
        return [s for s in commits if layer_of(s.get("table")) == layer]

    def subtree_stat(ss, key):
        return stat([j for s in ss for j in sub(s["id"])], key)

    snaps: dict = {}

    def snap(path, sid):
        if sid is None:
            return None
        if (path, sid) not in snaps:
            snaps[(path, sid)] = SnapshotTable(path).snapshot(sid)
        return snaps[(path, sid)]

    def new_files(s):
        after, before = snap(s["path"], s.get("sid_after")), snap(s["path"], s.get("sid_before"))
        if after is None:
            return after, []
        old = set(before.files) if before is not None else set()
        return after, [f for f in after.files if f not in old]

    m: dict = {}
    n = host["nproc"]
    job_s = res["job_s"]
    run_s = stat(job_ids, "run_s")
    m["rollup_job.spark_jobs"] = (stat(job_ids, "jobs"), "count")
    m["rollup_job.spark_stages"] = (stat(job_ids, "stages"), "count")
    m["rollup_job.executor_run_s"] = (run_s, "s")
    m["rollup_job.executor_cpu_s"] = (stat(job_ids, "cpu_s"), "s")
    m["rollup_job.gc_s"] = (stat(job_ids, "gc_s"), "s")
    m["rollup_job.core_busy_frac"] = (run_s / (job_s * n), "ratio")

    series = layer_commits("series")
    m["ingest.enumerate_s"] = (dur([s for s in job_spans if s["name"] == "enumerate_days"]), "s")
    m["ingest.scan_bytes"] = (subtree_stat(series, "input_bytes"), "B")

    rows_out = sum(sum(a.file_rows.get(f, 0) for f in fs) for a, fs in map(new_files, series) if a)
    shuffle = subtree_stat(series, "shuffle_write_bytes")
    m["series.commit_s"] = (dur(series), "s")
    m["series.executor_cpu_s"] = (subtree_stat(series, "cpu_s"), "s")
    m["series.shuffle_write_bytes"] = (shuffle, "B")
    m["series.shuffle_bytes_per_doc"] = (shuffle / docs, "B/doc")
    m["series.rows_out_per_doc"] = (rows_out / docs, "rows/doc")

    out_dir = os.path.dirname(commits[0]["path"]) if commits else ""

    def current(prefix):
        tbls = [SnapshotTable(os.path.join(out_dir, t)) for t in sorted(os.listdir(out_dir))
                if t.startswith(prefix)] if out_dir else []
        return [(t, t.snapshot(t.current_snapshot_id())) for t in tbls if t.exists()]

    def table_bytes(cur):
        return sum(os.path.getsize(f) for _, sn in cur for f in sn.files)

    tiers = layer_commits("tiers")
    rollups = current("rollup_")
    refreshed = sum(len({a.partitions.get(f) for f in fs}) for a, fs in map(new_files, tiers) if a)
    total_parts = sum(len(set(sn.partitions.values())) for _, sn in rollups)
    m["tiers.commit_s"] = (dur(tiers), "s")
    m["tiers.executor_cpu_s"] = (subtree_stat(tiers, "cpu_s"), "s")
    m["tiers.bytes_per_point"] = (table_bytes(rollups) / max(sum(sn.row_count for _, sn in rollups), 1), "B/point")
    m["tiers.partitions_refreshed_frac"] = (refreshed / max(total_parts, 1), "ratio")

    from pyspark.sql import functions as F

    gfill = layer_commits("gapfill")
    filled = total = 0
    for t, _ in current("gapfill_"):
        r = t.read(spark).agg(F.count("*"), F.sum(F.col("is_filled").cast("long"))).first()
        total, filled = total + r[0], filled + (r[1] or 0)
    m["gapfill.commit_s"] = (dur(gfill), "s")
    m["gapfill.executor_cpu_s"] = (subtree_stat(gfill, "cpu_s"), "s")
    m["gapfill.fill_ratio"] = (filled / max(total, 1), "ratio")

    codec = layer_commits("codecs")
    start, init, prun = (subtree_stat(codec, k) for k in ("py_start_s", "py_init_s", "py_run_s"))
    chunks = current("chunks_")
    points = sum(t.read(spark).agg(F.sum("n_points")).first()[0] or 0 for t, _ in chunks)
    m["codecs.commit_s"] = (dur(codec), "s")
    m["codecs.python_worker_start_s"] = (start, "s")
    m["codecs.python_worker_init_s"] = (init, "s")
    m["codecs.python_run_s"] = (prun, "s")
    m["codecs.arrow_bytes_in"] = (subtree_stat(codec, "arrow_in_bytes"), "B")
    m["codecs.arrow_bytes_out"] = (subtree_stat(codec, "arrow_out_bytes"), "B")
    m["codecs.boundary_frac"] = ((start + init) / max(start + init + prun, 1e-9), "ratio")
    m["codecs.bytes_per_point"] = (table_bytes(chunks) / max(points, 1), "B/point")

    written = [(a, fs) for a, fs in map(new_files, commits) if a]
    lineage = [s for s in job_spans if s["name"].startswith("Lineage.")]
    metrics_rec = [s for s in job_spans if s["name"] == "Metrics.record"]
    serve_reads = [s for s in spans if s["name"] == "SnapshotTable.read" and "files_total" in s]
    m["tables.commits"] = (len(commits), "count")
    m["tables.driver_s"] = (dur(commits) - subtree_stat(commits, "job_wall_s"), "s")
    m["tables.files_written"] = (sum(len(fs) for _, fs in written), "count")
    m["tables.bytes_written"] = (sum(os.path.getsize(f) for _, fs in written for f in fs), "B")
    m["tables.lineage_s"] = (dur(lineage), "s")
    m["tables.lineage_commits"] = (sum(1 for s in commits if s.get("table") == "lineage"), "count")
    m["tables.metrics_s"] = (dur(metrics_rec), "s")
    m["tables.metrics_commits"] = (sum(1 for s in commits if s.get("table") == "metrics"), "count")
    m["tables.prune_frac"] = (
        1 - sum(s["files_read"] for s in serve_reads) / max(sum(s["files_total"] for s in serve_reads), 1),
        "ratio")

    expire = [s for s in job_spans if s["name"] == "retention.expire_tier"]
    drops = [s for s in job_spans if s["name"] == "SnapshotTable.drop_partitions"]
    dropped = 0
    for s in [t for e in expire + drops for t in within(e["id"]) if "path" in t]:
        before, after = snap(s["path"], s.get("sid_before")), snap(s["path"], s.get("sid_after"))
        if before is not None and after is not None:
            dropped += len(set(before.partitions.values()) - set(after.partitions.values()))
    m["retention.expire_s"] = (dur(expire + drops), "s")
    m["retention.partitions_dropped"] = (dropped, "count")

    ver = root("verify_job")
    for key, check in (("manifest_s", "check_manifest"), ("lineage_s", "check_lineage"),
                       ("tier_s", "check_tier_consistency"), ("gapfill_s", "check_gapfill_observed"),
                       ("chunks_s", "check_chunks_decode")):
        m[f"verify_job.{key}"] = (dur(within(ver, f"verify_job.{check}")), "s")
    m["verify_job.spark_jobs"] = (stat(set(sub(ver)) if ver is not None else [], "jobs"), "count")

    timed = [s for s in spans if s["parent"] is None and s.get("timed") and "build_s" in s]
    for r in READS:
        ms = [(s["end"] - s["start"]) * 1000 for s in timed if s["name"] == r]
        m[f"{READ_MODULE.get(r, 'query_api')}.{r}_p50_ms"] = (statistics.median(ms) if ms else 0.0, "ms")
    n_reads = max(len(timed), 1)
    scanned = [t for s in timed for t in within(s["id"], "SnapshotTable.read")]
    m["query_api.build_ms"] = (statistics.median([s["build_s"] * 1000 for s in timed]) if timed else 0.0, "ms")
    m["query_api.exec_ms"] = (statistics.median([s["exec_s"] * 1000 for s in timed]) if timed else 0.0, "ms")
    m["query_api.files_scanned_per_read"] = (sum(s.get("files_read", 0) for s in scanned) / n_reads, "files/read")
    m["query_api.spark_jobs_per_read"] = (sum(stat(sub(s["id"]), "jobs") for s in timed) / n_reads, "jobs/read")
    m["histogram_job.build_s"] = (res["histogram_s"], "s")
    m["slo_job.build_s"] = (res["slo_s"], "s")

    m["trace.job_s"] = (job_s, "s")
    m["trace.wrapper_s"] = (res["job_wrapper_s"], "s")
    m["trace.wrapper_frac"] = (res["job_wrapper_s"] / job_s, "ratio")
    return m
