"""Codec gates: (1) vectorized numpy bitstreams byte-identical to the
pure-Python oracle; (2) round-trip decode equality; (3) the Spark chunk
table (one mapInPandas encode pass per Arrow batch) round-trips to the exact
tier rows (FIXTURES.md chunks table) and is byte-identical to the oracle's
chunks for every chunking option, including groups that straddle Arrow
batches."""

import contextlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from oracle import reference as oracle
from mimirsbrunn_spark import codecs, series, tiers


def test_dod_bitstream_matches_oracle_simple():
    ts = np.array([0, 60, 120, 180, 600, 660, 100000], dtype=np.int64)
    assert codecs.encode_dod(ts) == oracle.encode_dod_py(ts)
    assert np.array_equal(codecs.decode_dod(codecs.encode_dod(ts), ts[0], len(ts)), ts)


def test_gorilla_bitstream_matches_oracle_simple():
    v = np.array([5, 5, 7, 7, 0, -3, 2**40, 2**40 + 1], dtype=np.int64)
    assert codecs.encode_gorilla(v) == oracle.encode_gorilla_py(v)
    assert np.array_equal(
        codecs.decode_gorilla(codecs.encode_gorilla(v), v[0], len(v)), v
    )


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200),
)
def test_dod_roundtrip_property(deltas):
    ts = np.cumsum(np.array([1_700_000_000] + deltas, dtype=np.int64))
    enc = codecs.encode_dod(ts)
    assert enc == oracle.encode_dod_py(ts)
    assert np.array_equal(codecs.decode_dod(enc, ts[0], len(ts)), ts)
    assert np.array_equal(oracle.decode_dod_py(enc, ts[0], len(ts)), ts)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=200
    )
)
def test_gorilla_roundtrip_property(vals):
    v = np.array(vals, dtype=np.int64)
    enc = codecs.encode_gorilla(v)
    assert enc == oracle.encode_gorilla_py(v)
    assert np.array_equal(codecs.decode_gorilla(enc, v[0], len(v)), v)
    assert np.array_equal(oracle.decode_gorilla_py(enc, v[0], len(v)), v)


def test_edge_cases():
    one = np.array([42], dtype=np.int64)
    assert codecs.encode_dod(one) == b"" == oracle.encode_dod_py(one)
    assert codecs.encode_gorilla(one) == b"" == oracle.encode_gorilla_py(one)
    assert np.array_equal(codecs.decode_dod(b"", 42, 1), one)
    assert np.array_equal(codecs.decode_gorilla(b"", 42, 1), one)


def test_spark_chunks_roundtrip(spark, pages_df, pages_pdf):
    base = series.series_1m(pages_df)
    hourly = tiers.host_series(tiers.rollup(base, "1h"))
    chunks = codecs.encode_chunks(hourly, "1h").toPandas()

    decoded = codecs.decode_chunks_pdf(chunks)
    decoded["bucket_ts"] = decoded["bucket_ts"].astype("datetime64[us]")
    want = oracle.host_series(oracle.rollup(oracle.series_1m(pages_pdf), "1h"))
    d = decoded.sort_values(["host", "bucket_ts"], kind="mergesort").reset_index(drop=True)
    w = want.sort_values(["host", "bucket_ts"], kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        d[["host", "bucket_ts", "doc_count", "bytes_sum"]],
        w[["host", "bucket_ts", "doc_count", "bytes_sum"]],
        check_dtype=False,
    )

    # bitstreams byte-identical to oracle chunks
    want_chunks = oracle.chunks_for_tier(
        oracle.rollup(oracle.series_1m(pages_pdf), "1h"), "1h"
    )
    got = chunks.sort_values("host").reset_index(drop=True)
    wc = want_chunks.sort_values("host").reset_index(drop=True)
    assert (got["host"] == wc["host"]).all()
    for col in ("ts_dod", "val_gorilla", "bytes_gorilla"):
        assert all(bytes(a) == bytes(b) for a, b in zip(got[col], wc[col])), col

    # compression actually compresses: < 8 bytes/point overall for timestamps
    total_points = int(chunks["n_points"].sum())
    total_ts_bytes = int(chunks["ts_dod"].map(len).sum())
    assert total_ts_bytes < 8 * total_points


def test_multi_chunk_roundtrip(spark, pages_df, pages_pdf):
    """Bounded chunk size: series splits into multiple chunks per host and
    still round-trips exactly."""
    base = series.series_1m(pages_df)
    hourly = tiers.host_series(tiers.rollup(base, "1h"))
    chunks = codecs.encode_chunks(hourly, "1h", max_points_per_chunk=50).toPandas()
    per_host = chunks.groupby("host").size()
    assert (per_host > 1).any()
    assert (chunks["n_points"] <= 50).all()

    decoded = codecs.decode_chunks_pdf(chunks)
    decoded["bucket_ts"] = decoded["bucket_ts"].astype("datetime64[us]")
    want = oracle.host_series(oracle.rollup(oracle.series_1m(pages_pdf), "1h"))
    d = decoded.sort_values(["host", "bucket_ts"], kind="mergesort").reset_index(drop=True)
    w = want.sort_values(["host", "bucket_ts"], kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        d[["host", "bucket_ts", "doc_count", "bytes_sum"]],
        w[["host", "bucket_ts", "doc_count", "bytes_sum"]],
        check_dtype=False,
    )


def test_chunk_partition_col_matches_driver_twin_beyond_9999_buckets(spark):
    """The Spark-side partition key and the driver-side probe twin must
    agree for host_buckets > 9999: printf-style %04d zero-pads to a MINIMUM
    width (no truncation), while the old lpad SHORTENED 5-digit buckets to
    4 chars — written partition '1234|…' vs probed '12345|…' = rows
    silently unreachable by read_chunks."""
    import datetime as dt

    from mimirsbrunn_spark.codecs import chunk_host_bucket, chunk_partition_col

    hosts = [f"host-{i:03d}.example.com" for i in range(40)]
    df = spark.createDataFrame(
        [(h, dt.datetime(2024, 1, 1)) for h in hosts],
        "host string, chunk_start timestamp",
    )
    for buckets in (64, 20000):
        got = {
            r.host: r.pk
            for r in df.withColumn("pk", chunk_partition_col(buckets)).collect()
        }
        for h in hosts:
            want = f"{chunk_host_bucket(h, buckets)}|2024-01"
            assert got[h] == want, (h, buckets, got[h], want)


# ---------------------------------------------------------------------------
# batch encoder vs oracle.chunks_for_tier (whole chunk rows, byte-exact)
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def _arrow_batch_rows(spark, n):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _assert_chunks_match_oracle(chunks_df, host_series_pdf, tier, **kw):
    got = chunks_df.toPandas()
    want = oracle.chunks_for_tier(host_series_pdf, tier, **kw)
    assert list(got.columns) == list(want.columns)
    got, want = (
        c.sort_values(["host", "first_ts"], kind="mergesort").reset_index(drop=True)
        for c in (got, want)
    )
    assert len(got) == len(want)
    for col in want.columns:
        if col in ("ts_dod", "val_gorilla", "bytes_gorilla"):
            assert [bytes(b) for b in got[col]] == list(want[col]), col
        elif col == "chunk_start":
            assert (got[col].astype("datetime64[s]") == want[col].astype("datetime64[s]")).all()
        else:
            assert got[col].tolist() == want[col].tolist(), col
    return got


@pytest.fixture(scope="module")
def daily_hs(spark, pages_pdf):
    """The 1d host series of the 35-day fixture (2024-01-01 → 2024-02-04,
    so it crosses a month boundary) as a pandas frame and a Spark frame."""
    pdf = oracle.host_series(oracle.rollup(oracle.series_1m(pages_pdf), "1d"))
    return pdf, spark.createDataFrame(pdf)


@pytest.mark.parametrize(
    "max_points,split_by_month",
    [(None, False), (1, False), (5, False), (50, False), (None, True), (5, True)],
)
def test_batch_encoder_matches_oracle(daily_hs, max_points, split_by_month):
    pdf, df = daily_hs
    got = _assert_chunks_match_oracle(
        codecs.encode_chunks(df, "1d", max_points, split_by_month),
        pdf, "1d", max_points=max_points, split_by_month=split_by_month,
    )
    if max_points:
        assert (got["n_points"] <= max_points).all()
    if max_points == 1:  # single-point chunks: nothing in band
        assert not any(got[c].map(len).any() for c in ("ts_dod", "val_gorilla", "bytes_gorilla"))
    if split_by_month:
        months = pd.to_datetime(got["first_ts"], unit="s").dt.strftime("%Y-%m")
        assert (months == pd.to_datetime(got["last_ts"], unit="s").dt.strftime("%Y-%m")).all()
        assert months.nunique() == 2


@pytest.mark.parametrize("max_points", [None, 5, 50])
def test_batch_encoder_groups_straddle_arrow_batches(spark, daily_hs, max_points):
    """7-row Arrow batches split every 35-point host series across batches:
    the carried tail must encode exactly as if the series arrived whole."""
    pdf, df = daily_hs
    with _arrow_batch_rows(spark, 7):
        _assert_chunks_match_oracle(
            codecs.encode_chunks(df, "1d", max_points, split_by_month=True),
            pdf, "1d", max_points=max_points, split_by_month=True,
        )


_gap = st.one_of(st.integers(1, 120), st.integers(1, 2**27))
_val = st.integers(-(2**62), 2**62)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.tuples(st.sampled_from("abc"), _gap, _val, _val), min_size=1, max_size=40),
    st.sampled_from([None, 1, 3]),
)
def test_batch_encoder_property(spark, rows, max_points):
    """Gaps up to 2**27 s give dods in the 64-bit range of the ladder, and
    values span negative int64s; hosts of a single point give single-point
    chunks."""
    pdf = pd.DataFrame(rows, columns=["host", "gap", "doc_count", "bytes_sum"])
    sec = 1_700_000_000 + pdf.groupby("host")["gap"].cumsum()
    pdf = pd.DataFrame({
        "host": pdf["host"],
        "bucket_ts": pd.to_datetime(sec, unit="s"),
        "doc_count": pdf["doc_count"],
        "bytes_sum": pdf["bytes_sum"],
    })
    with _arrow_batch_rows(spark, 7):
        _assert_chunks_match_oracle(
            codecs.encode_chunks(spark.createDataFrame(pdf), "1h", max_points),
            pdf, "1h", max_points=max_points,
        )
