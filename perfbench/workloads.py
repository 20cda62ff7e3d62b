"""The benchmark's workloads: one product lifecycle per run, driven through
the engine's public API.

Every run is one process and therefore one fresh Spark session, as a
spark-submit is. A run:

1. set-up: starts the session and materialises the seeded input (a
   day-partitioned SnapshotTable, the Iceberg analog; a plain parquet copy
   for the aux jobs; the next, not yet rolled-up day as the raw tail). For
   ``daily_append`` the input and publication start as metadata copies of
   a template built, untimed and in a process of its own, once per
   checkout and engine source (``ensure_template``);
2. the timed job: ``run_rollup_job`` with retention on, then
   ``verify_publication`` (the fsck);
3. the aux jobs the serving reads need (HDR histograms, SLO error stats);
4. a closed-loop serving phase: one client, warmed up by one untimed round,
   then seeded rounds of the seven reads for ``seconds`` seconds;
5. correctness checks (checks.py).

Workloads:

- ``publish_small``: a cold publish into an empty directory. Per-day fixed
  cost dominates (one series, lineage and metrics commit per day, Spark job
  scheduling, Python-worker start); data work is small.
- ``daily_append``: the steady-state production run, a fresh session that
  adds one day to a publication that already holds eight earlier days. It
  is the only workload that takes the incremental derived refresh
  (partition swaps, manifest pruning) instead of the full rebuild, and,
  with a history longer than the 7-day 1m retention, the only one whose
  retention stage drops series days.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

# Input shapes. ``docs_per_day`` counts generated docs (1 % are exact
# duplicates); ``days`` is the published history; one more day is generated
# as the raw tail that read_realtime serves on top of the publication.
SIZES = {
    "full": {
        "publish_small": {"days": 2, "docs_per_day": 5_000, "template_days": 0},
        "daily_append": {"days": 9, "docs_per_day": 2_500, "template_days": 8},
    },
    "tiny": {
        "publish_small": {"days": 2, "docs_per_day": 400, "template_days": 0},
        "daily_append": {"days": 9, "docs_per_day": 100, "template_days": 8},
    },
}
N_HOSTS = 200
HEAVY_HOSTS = 20  # reads pick hosts among the generator's 20 heaviest names
SLO_ERROR = "page_size > 1000"
READS = ("read_rollup", "read_range_total", "read_realtime", "read_chunks",
         "read_plot", "read_quantile", "read_burn")
READ_MODULE = {"read_quantile": "histogram_job", "read_burn": "slo_job"}
PLOT_PX = 100
WINDOW_H = 24  # hours every windowed read asks for
TEMPLATE_SEED = 0  # daily_append's template input; the run's seed drives the new day


def host_facts() -> dict:
    """nproc and RAM of the machine (the run's session is fitted to them)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return {"nproc": nproc, "ram_gib": round(kib / 2**20, 1)}


def start_session(work: str, host: dict):
    """The engine's own session factory, fitted to this host: local[nproc],
    shuffle partitions = nproc, a driver heap that fits in RAM, and every
    scratch file (shuffle, spill, temp) inside the run's work directory."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # no JVM perf-data files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(host['ram_gib'] // 4)))}g"
    from mimirsbrunn_spark.session import get_spark

    n = host["nproc"]
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # the traced run joins spans to the status stores after the run;
            # keep every job, stage and SQL execution until then
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def day_epoch(i: int) -> int:
    from mimirsbrunn_spark.synth_spark import EPOCH

    return EPOCH + i * 86400


def day_iso(i: int) -> str:
    from mimirsbrunn_spark.synth_spark import EPOCH

    return dt.datetime.fromtimestamp(EPOCH + i * 86400, dt.timezone.utc).date().isoformat()


def seeded_pages(spark, seed: int, n_rows: int, span_days: int):
    """The generator's pages with the seed applied as a transform: host
    names are permuted by a seeded permutation within each block of
    HEAVY_HOSTS names. The seed decides which host carries which load (and
    so how files cluster by name), while every block keeps its share of the
    Zipf profile, and the generator itself stays a pure function of row id."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark.synth_spark import generate_pages_spark

    rng = random.Random(seed)
    perm = [b + i for b in range(0, N_HOSTS, HEAVY_HOSTS)
            for i in rng.sample(range(HEAVY_HOSTS), HEAVY_HOSTS)]
    pages = generate_pages_spark(spark, n_rows, n_hosts=N_HOSTS, span_days=span_days)
    # url = "https://host-NNN.example.com/p/<id>": NNN is characters 14-16
    idx = F.substring("url", 14, 3).cast("int")
    new = F.element_at(F.array(*[F.lit(p) for p in perm]), idx + 1)
    url = F.concat(F.lit("https://host-"), F.format_string("%03d", new), F.expr("substring(url, 17)"))
    return pages.withColumn("url", url), perm


def engine_config():
    """The engine's default settings: 7-day 1m retention, so daily_append's
    9-day history expires series days (see README.md, known defects)."""
    from mimirsbrunn_spark.config import EngineConfig

    return EngineConfig()


def tree_listing(root: str) -> dict:
    """Every file under ``root`` with its size and mtime."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def copy_table(src: str, dst: str) -> None:
    """Copy a SnapshotTable's metadata only. Manifests hold absolute
    data-file paths, so the copy shares the source's data files; that is
    safe only because the job never vacuums."""
    shutil.copytree(src, dst, ignore=lambda d, names: [n for n in names if n == "data"])
    os.makedirs(os.path.join(dst, "data"), exist_ok=True)


def copy_publication(src: str, dst: str) -> None:
    for name in os.listdir(src):
        copy_table(os.path.join(src, name), os.path.join(dst, name))


def template_dir(root: str, workload: str, scale: str) -> str:
    """Where ``workload``'s template lives: keyed by a hash of the engine's
    sources and of this file, so a checkout that runs two versions of the
    engine never appends to a publication the other version wrote."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "mimirsbrunn_spark")
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py"))
    for f in [*files, os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return os.path.join(root, ".perfbench_work", "cache", f"{workload}-{scale}-{h.hexdigest()[:16]}")


def ensure_template(root: str, workload: str, scale: str) -> None:
    """Build the publication ``daily_append`` appends to, if it is not
    there yet, in a process of its own (this file's ``__main__``), so no
    run's timed set-up or JVM warm-up includes it."""
    if not SIZES[scale][workload]["template_days"]:
        return
    cache = template_dir(root, workload, scale)
    if not os.path.exists(os.path.join(cache, "COMPLETE")):
        subprocess.run([sys.executable, os.path.abspath(__file__), root, workload, scale],
                       check=True, timeout=600)


def build_template(spark, cache: str, size: dict, cfg) -> None:
    """The first ``template_days`` days of a fixed-seed input, published by
    a cold ``run_rollup_job`` (yesterday's production run). Only ever read
    afterwards: each run appends to metadata copies of its input table and
    publication."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
    from mimirsbrunn_spark.tables import SnapshotTable

    shutil.rmtree(cache, ignore_errors=True)  # a build that did not finish
    tdays, days = size["template_days"], size["days"]
    pages, _ = seeded_pages(spark, TEMPLATE_SEED, size["docs_per_day"] * (days + 1), days + 1)
    pages = pages.withColumn("day", F.to_date("warc_ts"))
    SnapshotTable(os.path.join(cache, "input")).commit(
        pages.filter(F.col("day") < F.lit(day_iso(tdays))), mode="replace", partition_by="day")
    run_rollup_job(spark, os.path.join(cache, "input"), os.path.join(cache, "publication"),
                   config=cfg, retention_now_epoch=day_epoch(tdays))
    open(os.path.join(cache, "COMPLETE"), "w").close()


def published_bytes(out: str) -> int:
    """Bytes of every file the current snapshots of ``out``'s tables
    reference, plus their manifests and pointers."""
    from mimirsbrunn_spark.tables import SnapshotTable

    total = 0
    for name in os.listdir(out):
        meta = os.path.join(out, name, "_snapshots")
        if not os.path.isdir(meta):
            continue
        tbl = SnapshotTable(os.path.join(out, name))
        sid = tbl.current_snapshot_id()
        if sid is None:
            continue
        total += sum(os.path.getsize(f) for f in tbl.snapshot(sid).files)
        total += sum(os.path.getsize(os.path.join(meta, m)) for m in os.listdir(meta))
    return total


def read_plan(rng: random.Random, perm: list[int], days: int, tail_path: str):
    """One round of the serving mix: the seven reads in a seeded order, each
    for two seeded hosts of the heavy block over a WINDOW_H-hour window at a
    seeded hour inside the published span. Window length and host count are
    fixed, so every round asks for the same amount of work.
    Returns [(read name, kwargs)]."""
    from mimirsbrunn_spark.synth_spark import EPOCH

    plan = []
    for name in rng.sample(READS, len(READS)):
        hosts = sorted(f"host-{perm[i]:03d}.example.com" for i in rng.sample(range(HEAVY_HOSTS), 2))
        h0 = rng.randrange(0, days * 24 - WINDOW_H + 1)
        kw = {"hosts": hosts, "t0": EPOCH + h0 * 3600, "t1": EPOCH + (h0 + WINDOW_H) * 3600}
        if name == "read_realtime":
            kw = {"hosts": hosts, "tail": tail_path}
        elif name == "read_quantile":
            kw["q"] = rng.choice((0.5, 0.9, 0.99))
        plan.append((name, kw))
    return plan


def do_read(spark, out: str, name: str, kw: dict):
    """Issue one read through the public API and collect it as a caller
    would. Returns (rows, build seconds, collect seconds)."""
    from mimirsbrunn_spark import query_api
    from mimirsbrunn_spark.jobs.histogram_job import read_quantile
    from mimirsbrunn_spark.jobs.slo_job import read_burn

    t0 = time.perf_counter()
    if name == "read_rollup":
        df = query_api.read_rollup(spark, out, "1h", t0=kw["t0"], t1=kw["t1"], hosts=kw["hosts"])
    elif name == "read_range_total":
        df = query_api.read_range_total(spark, out, kw["t0"], kw["t1"], hosts=kw["hosts"])
    elif name == "read_realtime":
        tail = spark.read.parquet(kw["tail"])
        df = query_api.read_realtime(spark, out, "1h", tail, hosts=kw["hosts"])
    elif name == "read_chunks":
        df = query_api.read_chunks(spark, out, "1h", t0=kw["t0"], t1=kw["t1"], hosts=kw["hosts"])
    elif name == "read_plot":
        df = query_api.read_plot(spark, out, kw["t0"], kw["t1"], hosts=kw["hosts"], n_px=PLOT_PX)
    elif name == "read_quantile":
        df = read_quantile(spark, out, kw["q"], t0=kw["t0"], t1=kw["t1"], hosts=kw["hosts"], sketch="hdr")
    else:
        df = read_burn(spark, out, t0=kw["t0"], t1=kw["t1"], hosts=kw["hosts"])
    t1 = time.perf_counter()
    rows = df.collect()
    return rows, t1 - t0, time.perf_counter() - t1


class Run:
    """Counts attempted and failed operations. A raising operation or a
    mismatching check is a failure that also makes the run incorrect; an
    operation that completes but reports failure (the fsck verdict) is a
    failure only. The run goes on either way."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.incorrect = 0
        self.notes: list[str] = []

    def op(self, what: str, fn, *args, **kw):
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 - a failed operation is a result
            self.failed += 1
            self.incorrect += 1
            self.notes.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.failed += 1
            self.incorrect += 1
            self.notes.append(f"{what}: {detail or 'mismatch'}")

    def verdict(self, what: str, ok: bool, detail: str) -> None:
        if not ok:
            self.failed += 1
            self.notes.append(f"{what}: {detail}")


def calibrate(spark) -> float:
    """Fixed pure-JVM probe (codegen'd range sum): a host-speed reading kept
    beside each run, never used to rescale a metric."""
    t0 = time.perf_counter()
    spark.range(10_000_000).selectExpr("sum(id % 97)").collect()
    return time.perf_counter() - t0


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 work: str, scale: str = "full", drop_data_file: bool = False) -> dict:
    """Run one workload once; returns the result object run.py prints."""
    import checks

    size = SIZES[scale][workload]
    days, tdays = size["days"], size["template_days"]
    host = host_facts()
    run = Run()
    rng = random.Random(seed)

    template = template_dir(os.getcwd(), workload, scale) if tdays else None
    t_setup = time.perf_counter()
    spark = start_session(work, host)
    try:
        from pyspark.sql import functions as F

        from mimirsbrunn_spark.tables import SnapshotTable

        inp, pq, tail = (os.path.join(work, n) for n in ("input", "pages", "tail"))
        out = os.path.join(work, "publication")
        cfg = engine_config()
        retention_now = day_epoch(days)
        pages, perm = seeded_pages(spark, seed, size["docs_per_day"] * (days + 1), days + 1)
        pages = pages.withColumn("day", F.to_date("warc_ts")).cache()
        fresh = pages.filter((F.col("day") >= F.lit(day_iso(tdays))) & (F.col("day") < F.lit(day_iso(days))))
        docs_before = 0
        if tdays:
            template_files = tree_listing(template)
            copy_table(os.path.join(template, "input"), inp)
            copy_publication(os.path.join(template, "publication"), out)
            in_tbl = SnapshotTable(inp)
            docs_before = in_tbl.row_count()
            in_tbl.commit(fresh, mode="append")
        else:
            in_tbl = SnapshotTable(inp)
            in_tbl.commit(fresh, mode="replace", partition_by="day")
        published = in_tbl.read(spark).drop("day")
        published.write.parquet(pq)
        pages.filter(F.col("day") == F.lit(day_iso(days))).drop("day").write.parquet(tail)
        docs_total = in_tbl.row_count()
        setup_s = time.perf_counter() - t_setup
        calib_s = calibrate(spark)

        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer(spark, f"{workload}-{seed}")
            tracer.install()

        res = _lifecycle(spark, run, tracer, out, inp, pq, tail, cfg, retention_now,
                         days, perm, rng, seconds, drop_data_file)
        docs_run = docs_total - docs_before
        if tracer is not None:
            tracer.uninstall()

        t_check = time.perf_counter()
        # correctness, after every timed phase
        pages_pdf = run.op("oracle input", published.toPandas)
        tail_pdf = run.op("oracle tail", lambda: spark.read.parquet(tail).toPandas())
        if pages_pdf is not None:
            cutoff = retention_now - cfg.retention["1m"]
            run.op("check publication", checks.check_publication, run, spark, out, pages_pdf, cutoff)
            if tail_pdf is not None:
                run.op("check reads", checks.check_reads, run, spark, out, res["reads"], tail_pdf)
        if tdays:
            run.check("template unchanged", tree_listing(template) == template_files)

        if trace:
            import layers

            metrics = layers.layer_metrics(spark, tracer, res, host, docs_run)
        else:
            by_kind: dict = {}
            for r in res["reads"]:
                if r["timed"]:
                    by_kind.setdefault(r["name"], []).append(r["ms"])
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (res["job_s"], "s"),
                "docs_per_s": (docs_run / res["job_s"], "1/s"),
                "verify_s": (res["verify_s"], "s"),
                "stored_bytes_per_doc": (res["stored_bytes"] / docs_total, "B"),
                # one round of the 7 reads, each at its median over the timed rounds
                "read_round_ms": (sum(statistics.median(v) for v in by_kind.values()), "ms"),
            }
        host.update(spark_version=spark.version, calib_s=round(calib_s, 4))
        print(f"perfbench: phases setup {setup_s:.1f} s, job {res['job_s']:.1f} s, "
              f"verify {res['verify_s']:.1f} s, aux {res['histogram_s'] + res['slo_s']:.1f} s, "
              f"serve {res['serve_s'] + res['warmup_s']:.1f} s, "
              f"checks {time.perf_counter() - t_check:.1f} s", file=sys.stderr)
    finally:
        stop_session(spark)
    for n in run.notes:
        print(f"perfbench: {n}", file=sys.stderr)
    return {
        "host": host,
        "result": {
            "correct": run.incorrect == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def _lifecycle(spark, run, tracer, out, inp, pq, tail, cfg, retention_now,
               days, perm, rng, seconds, drop_data_file) -> dict:
    """The timed part: job, fsck, aux jobs, serving loop."""
    from mimirsbrunn_spark.jobs.histogram_job import run_histogram_job
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
    from mimirsbrunn_spark.jobs.slo_job import run_slo_job
    from mimirsbrunn_spark.jobs.verify_job import verify_publication

    def phase(name, fn, *a, **kw):
        t0 = time.perf_counter()
        if tracer is None:
            r = run.op(name, fn, *a, **kw)
        else:
            with tracer.span(name):
                r = run.op(name, fn, *a, **kw)
        return r, time.perf_counter() - t0

    res = {}
    w0 = tracer.wrapper_s if tracer is not None else 0.0
    _, res["job_s"] = phase("rollup_job", run_rollup_job, spark, inp, out,
                            config=cfg, retention_now_epoch=retention_now)
    res["job_wrapper_s"] = tracer.wrapper_s - w0 if tracer is not None else 0.0
    res["stored_bytes"] = run.op("published bytes", published_bytes, out) or 0
    if drop_data_file:
        _drop_one_data_file(out)
    report, res["verify_s"] = phase("verify_job", verify_publication, spark, out)
    if report is not None:
        bad = [k for k, c in report["checks"].items() if not c.get("ok")]
        run.verdict("verify_publication", report["ok"], f"failed checks {bad}")
    _, res["histogram_s"] = phase("histogram_job", run_histogram_job, spark, pq, out, sketch="hdr")
    _, res["slo_s"] = phase("slo_job", run_slo_job, spark, pq, out, SLO_ERROR)

    # closed loop, one client: one untimed warm-up round, then whole rounds
    # until ``seconds`` have passed
    reads = []
    if tracer is not None:
        tracer.serving = True
    t_serve = None
    t_warm = time.perf_counter()
    rounds = 0
    while t_serve is None or time.perf_counter() - t_serve < seconds:
        for name, kw in read_plan(rng, perm, days, tail):
            t0 = time.perf_counter()
            if tracer is None:
                got = run.op(name, do_read, spark, out, name, kw)
            else:
                with tracer.span(name, timed=rounds > 0) as rec:
                    got = run.op(name, do_read, spark, out, name, kw)
                if got is not None:
                    rec["build_s"], rec["exec_s"] = got[1], got[2]
            ms = (time.perf_counter() - t0) * 1000.0
            if got is not None:
                reads.append({"name": name, "kw": kw, "rows": got[0], "ms": ms, "timed": rounds > 0})
        if t_serve is None:
            t_serve = time.perf_counter()
            res["warmup_s"] = t_serve - t_warm
        rounds += 1
    res["serve_s"] = time.perf_counter() - t_serve
    # the warm-up round is checked like every other read but not timed
    res["reads"] = reads
    return res


def _drop_one_data_file(out: str) -> None:
    """Fault injection for the self-test: delete one data file the current
    rollup_1h snapshot references."""
    from mimirsbrunn_spark.tables import SnapshotTable

    tbl = SnapshotTable(os.path.join(out, "rollup_1h"))
    os.remove(tbl.snapshot(tbl.current_snapshot_id()).files[0])


if __name__ == "__main__":
    # python3 perfbench/workloads.py <checkout root> <workload> <scale>:
    # build the workload's template (see ensure_template)
    root, workload, scale = sys.argv[1:4]
    sys.path.insert(0, root)
    cache = template_dir(root, workload, scale)
    work = cache + ".build"
    shutil.rmtree(work, ignore_errors=True)
    spark = start_session(work, host_facts())
    try:
        build_template(spark, cache, SIZES[scale][workload], engine_config())
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
