"""Correctness checks run with every benchmark run.

The publication is compared with the single-node reference implementation
(``oracle.reference``) over the same input; each serving read is compared
with a direct pandas computation over the tables it serves from. Every
mismatch is one failed operation in the run's result.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from oracle import reference as oracle

TIERS = ("1h", "1d", "30d")


def to_pdf(df) -> pd.DataFrame:
    return _norm(df.toPandas())


def rows_pdf(rows, columns) -> pd.DataFrame:
    return _norm(pd.DataFrame([r.asDict() for r in rows], columns=columns))


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    """Timestamps become int64 epoch seconds so frames from Spark, Row lists
    and the oracle compare on one representation."""
    pdf = pdf.copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]").astype("int64") // 1_000_000
    return pdf


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, keys) -> tuple[bool, str]:
    cols = list(want.columns)
    got, want = _norm(got), _norm(want)
    if len(got) != len(want):
        return False, f"{len(got)} rows, expected {len(want)}"
    if len(want) == 0:
        return True, ""
    got = got[cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in cols:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            same = np.array_equal(a.astype(float), b.astype(float), equal_nan=True)
        else:
            same = bool((a == b).all())
        if not same:
            return False, f"column {c} differs"
    return True, ""


def _table(spark, out: str, name: str) -> pd.DataFrame:
    from mimirsbrunn_spark.tables import SnapshotTable

    df = SnapshotTable(f"{out}/{name}").read(spark)
    return to_pdf(df.drop(*[c for c in ("pkey", "day") if c in df.columns]))


def check_publication(run, spark, out: str, pages: pd.DataFrame, cutoff: int) -> None:
    """Every published tier, gap-fill table and decoded chunk table equals
    the reference computed from the same input. The 1m series holds only
    the days retention kept (bucket_ts >= ``cutoff``)."""
    from mimirsbrunn_spark.codecs import decode_chunks_pdf

    from mimirsbrunn_spark.tables import SnapshotTable

    raw = oracle.all_tiers(pages)
    want = {t: _norm(df) for t, df in raw.items()}
    cols = ["host", "bucket_ts", "lang", "doc_count", "bytes_sum"]
    keys = ["host", "bucket_ts", "lang"]
    s = want["1m"]
    run.check("series_1m", *frames_equal(_table(spark, out, "series_1m"), s[s.bucket_ts >= cutoff], keys))
    for t in TIERS:
        run.check(f"rollup_{t}", *frames_equal(_table(spark, out, f"rollup_{t}")[cols], want[t], keys))
        gf = oracle.gapfill(raw[t], t)
        run.check(f"gapfill_{t}", *frames_equal(
            _table(spark, out, f"gapfill_{t}"), gf, ["host", "metric", "bucket_ts"]))
        chunks = SnapshotTable(f"{out}/chunks_{t}").read(spark).toPandas()
        hs = oracle.host_series(raw[t])
        run.check(f"chunks_{t}", *frames_equal(decode_chunks_pdf(chunks), hs, ["host", "bucket_ts"]))


def check_reads(run, spark, out: str, reads: list[dict], tail: pd.DataFrame) -> None:
    """Each read's collected rows equal a direct computation over the
    published tables it reads."""
    cache: dict[str, pd.DataFrame] = {}

    def table(name):
        if name not in cache:
            cache[name] = _table(spark, out, name)
        return cache[name]

    for r in reads:
        name, kw = r["name"], r["kw"]
        want, keys = EXPECTED[name](table, kw, tail)
        got = rows_pdf(r["rows"], list(want.columns))
        run.check(f"{name} {kw}", *frames_equal(got, want, keys))


def _window(df, kw, col="bucket_ts", t0=None):
    lo = kw["t0"] if t0 is None else t0
    return df[(df[col] >= lo) & (df[col] < kw["t1"]) & df.host.isin(kw["hosts"])]


def _host_series(df) -> pd.DataFrame:
    return df.groupby(["host", "bucket_ts"], as_index=False)[["doc_count", "bytes_sum"]].sum()


def _exp_rollup(table, kw, tail):
    w = _window(table("rollup_1h"), kw)[["host", "bucket_ts", "lang", "doc_count", "bytes_sum"]].copy()
    w["avg_page_size"] = w.bytes_sum / w.doc_count
    return w, ["host", "bucket_ts", "lang"]


def _exp_range_total(table, kw, tail):
    w = _window(table("rollup_1h"), kw)
    return w.groupby("host", as_index=False)[["doc_count", "bytes_sum"]].sum(), ["host"]


def _exp_realtime(table, kw, tail):
    cols = ["host", "bucket_ts", "lang", "doc_count", "bytes_sum"]
    mat = table("rollup_1h")
    fresh = _norm(oracle.rollup(oracle.series_1m(tail), "1h"))
    both = pd.concat([mat[cols], fresh[cols]], ignore_index=True)
    return both[both.host.isin(kw["hosts"])], ["host", "bucket_ts", "lang"]


def _exp_chunks(table, kw, tail):
    return _host_series(_window(table("rollup_1h"), kw)), ["host", "bucket_ts"]


def _exp_plot(table, kw, tail):
    from mimirsbrunn_spark.query_api import pick_tier
    from mimirsbrunn_spark.series import TIER_SECONDS
    from workloads import PLOT_PX

    t0, t1 = kw["t0"], kw["t1"]
    tier = pick_tier(t0, t1, max_points=max(PLOT_PX * 40, PLOT_PX))
    src = table("series_1m" if tier == "1m" else f"rollup_{tier}")
    hs = _host_series(_window(src, kw))
    px = max((t1 - t0) // PLOT_PX, TIER_SECONDS[tier])
    d = pd.DataFrame({"host": hs.host, "ts_sec": hs.bucket_ts, "value": hs.doc_count})
    d["bucket_ts_sec"] = d.ts_sec - d.ts_sec % px
    g = d.groupby(["host", "bucket_ts_sec"])
    keep = ((d.ts_sec == g.ts_sec.transform("min")) | (d.ts_sec == g.ts_sec.transform("max"))
            | (d.value == g.value.transform("min")) | (d.value == g.value.transform("max")))
    return d[keep], ["host", "ts_sec"]


def _hdr_value_ub(b: int, k: int = 5) -> int:
    e = math.floor(b / 2**k)
    pe = 2.0 ** e
    return int(pe + math.ceil((b % 2**k + 1) * pe / float(2**k))) - 2


def _exp_quantile(table, kw, tail):
    h = _window(table("hdr_1h"), kw)
    rows = []
    for host, g in h.groupby("host"):
        m = g.groupby("bin", as_index=False).n.sum().sort_values("bin")
        need = math.ceil(kw["q"] * int(m.n.sum()))
        b = int(m.bin[m.n.cumsum() >= need].min())
        rows.append((host, _hdr_value_ub(b)))
    return pd.DataFrame(rows, columns=["host", "quantile_ub"]), ["host"]


def _exp_burn(table, kw, tail, budget=0.01, long_buckets=6):
    s = _window(table("slo_1h"), kw, t0=kw["t0"] - (long_buckets - 1) * 3600)
    rows = []
    for host, g in s.groupby("host"):
        g = g.sort_values("bucket_ts")
        b, tot, err = g.bucket_ts.to_numpy(), g.tot.to_numpy(), g.err.to_numpy()
        for i in range(len(b)):
            if b[i] < kw["t0"]:
                continue
            w = (b >= b[i] - (long_buckets - 1) * 3600) & (b <= b[i])
            bs = float(err[i]) / float(tot[i]) / budget
            bl = float(err[w].sum()) / float(tot[w].sum()) / budget
            rows.append((host, int(b[i]), int(tot[i]), int(err[i]), bs, bl, bs >= 14.4 and bl >= 6.0))
    cols = ["host", "bucket_sec", "tot", "err", "burn_short", "burn_long", "page_alert"]
    return pd.DataFrame(rows, columns=cols), ["host", "bucket_sec"]


EXPECTED = {
    "read_rollup": _exp_rollup,
    "read_range_total": _exp_range_total,
    "read_realtime": _exp_realtime,
    "read_chunks": _exp_chunks,
    "read_plot": _exp_plot,
    "read_quantile": _exp_quantile,
    "read_burn": _exp_burn,
}
