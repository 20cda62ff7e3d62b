"""Single-node pandas/pure-Python reference implementation ("the oracle").

Every Spark-side result (rollup points at every tier, gap-filled series,
codec bitstreams) must match this implementation exactly
(BASELINE.json north_star). Deliberately simple, loop-based, readable —
the independent gold standard the vectorized engine is tested against.

Analog of the reference's golden-fixture strategy
(/root/reference/tests/bragi_three_cities_test.rs:88-111 — exact expected
values asserted against a real pipeline run; documentation/test_strategy.md).

Pinned semantics (SURVEY.md §7.5 — shared by oracle and engine):

- Buckets: floor of epoch seconds to 60 / 3600 / 86400 / 2_592_000 (30d),
  anchored at the Unix epoch, UTC.
- Measures are integers: doc_count = COUNT(*), bytes_sum = SUM(length(html)).
  Averages are derived at read time (never averaged across tiers).
- Dedup: exact duplicate (url, warc_ts) rows collapse to one (payloads of
  duplicates are identical by construction; engine asserts this invariant).
- Gap-fill spine per (host, tier): every bucket from the host's first to last
  observed bucket. locf = last observed value at or before t. linear = for a
  missing bucket t with anchors (t0,v0) observed ≤ t and (t1,v1) observed ≥ t:
  v0 + (v1 - v0) * (t - t0) / (t1 - t0), computed in float64 on epoch seconds.
  Observed buckets: locf = linear = float64(actual), is_filled = false.
- Codec format "mimir-ts v1" (see encode_* docstrings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400, "30d": 2_592_000}
TIER_ORDER = ["1m", "1h", "1d", "30d"]


# ---------------------------------------------------------------------------
# text extraction (per-row invariant)
# ---------------------------------------------------------------------------

def extract_text_py(html: bytes) -> str:
    """Pinned extraction: keep printable-ASCII bytes 0x20..0x7E, decode ASCII."""
    return bytes(b for b in html if 0x20 <= b <= 0x7E).decode("ascii")


# ---------------------------------------------------------------------------
# dedup + base series + tier cascade
# ---------------------------------------------------------------------------

def dedup_pages(pages: pd.DataFrame) -> pd.DataFrame:
    """Collapse exact duplicate (url, warc_ts) rows, keeping the first in a
    deterministic (url, warc_ts) sort order. Duplicates are exact copies, so
    any survivor has identical payload."""
    return (
        pages.sort_values(["url", "warc_ts"], kind="mergesort")
        .drop_duplicates(subset=["url", "warc_ts"], keep="first")
        .reset_index(drop=True)
    )


def host_of(url: pd.Series) -> pd.Series:
    """https://{host}/... → host (matches Spark parse_url(url, 'HOST'))."""
    return url.str.extract(r"^[a-z]+://([^/]+)", expand=False)


def _bucket(ts: pd.Series, tier: str) -> pd.Series:
    sec = ts.astype("datetime64[us]").astype("int64") // 1_000_000
    step = TIER_SECONDS[tier]
    return pd.to_datetime((sec // step) * step, unit="s").astype("datetime64[us]")


def series_1m(pages: pd.DataFrame) -> pd.DataFrame:
    """Base tier: (host, bucket_ts, lang) → doc_count, bytes_sum (longs)."""
    d = dedup_pages(pages)
    df = pd.DataFrame(
        {
            "host": host_of(d["url"]),
            "bucket_ts": _bucket(d["warc_ts"], "1m"),
            "lang": d["lang"],
            "page_size": d["html"].map(len).astype("int64"),
        }
    )
    out = (
        df.groupby(["host", "bucket_ts", "lang"], as_index=False)
        .agg(doc_count=("page_size", "size"), bytes_sum=("page_size", "sum"))
        .sort_values(["host", "bucket_ts", "lang"], kind="mergesort")
        .reset_index(drop=True)
    )
    out["doc_count"] = out["doc_count"].astype("int64")
    out["bytes_sum"] = out["bytes_sum"].astype("int64")
    return out


def rollup(prev_tier: pd.DataFrame, tier: str) -> pd.DataFrame:
    """Cascade: aggregate the previous tier's output into coarser buckets
    (sums of sums, counts of counts — never average averages)."""
    df = prev_tier.copy()
    df["bucket_ts"] = _bucket(df["bucket_ts"], tier)
    out = (
        df.groupby(["host", "bucket_ts", "lang"], as_index=False)
        .agg(doc_count=("doc_count", "sum"), bytes_sum=("bytes_sum", "sum"))
        .sort_values(["host", "bucket_ts", "lang"], kind="mergesort")
        .reset_index(drop=True)
    )
    return out


def all_tiers(pages: pd.DataFrame) -> dict[str, pd.DataFrame]:
    tiers = {"1m": series_1m(pages)}
    for prev, cur in zip(TIER_ORDER, TIER_ORDER[1:]):
        tiers[cur] = rollup(tiers[prev], cur)
    return tiers


# ---------------------------------------------------------------------------
# gap-fill (host-level series, summed across langs)
# ---------------------------------------------------------------------------

def host_series(tier_df: pd.DataFrame) -> pd.DataFrame:
    return (
        tier_df.groupby(["host", "bucket_ts"], as_index=False)
        .agg(doc_count=("doc_count", "sum"), bytes_sum=("bytes_sum", "sum"))
        .sort_values(["host", "bucket_ts"], kind="mergesort")
        .reset_index(drop=True)
    )


def gapfill(tier_df: pd.DataFrame, tier: str, by: tuple = ("host",)) -> pd.DataFrame:
    """Long-format gap-filled series for the tier (keyed by ``by`` — host or
    (host, lang)): *by, bucket_ts, metric ∈ {doc_count, bytes_sum},
    value_locf double, value_linear double, is_filled bool."""
    if by == ("host",):
        hs = host_series(tier_df)
    else:
        hs = (
            tier_df.groupby([*by, "bucket_ts"], as_index=False)
            .agg(doc_count=("doc_count", "sum"), bytes_sum=("bytes_sum", "sum"))
            .sort_values([*by, "bucket_ts"], kind="mergesort")
            .reset_index(drop=True)
        )
    step = TIER_SECONDS[tier]
    rows: list[tuple] = []
    for host, g in hs.groupby(list(by), sort=True):
        host = host if isinstance(host, tuple) else (host,)
        g = g.sort_values("bucket_ts", kind="mergesort")
        sec = g["bucket_ts"].astype("datetime64[us]").astype("int64") // 1_000_000
        sec = sec.to_numpy()
        spine = np.arange(sec[0], sec[-1] + step, step, dtype=np.int64)
        for metric in ("doc_count", "bytes_sum"):
            vals = dict(zip(sec, g[metric].to_numpy()))
            obs_t = sec
            obs_v = g[metric].to_numpy().astype(np.float64)
            j = 0  # index of last observed anchor ≤ t
            for t in spine:
                while j + 1 < len(obs_t) and obs_t[j + 1] <= t:
                    j += 1
                if t in vals:
                    v = float(vals[t])
                    rows.append((*host, t, metric, v, v, False))
                else:
                    t0, v0 = obs_t[j], obs_v[j]
                    t1, v1 = obs_t[j + 1], obs_v[j + 1]
                    lin = v0 + (v1 - v0) * (float(t - t0) / float(t1 - t0))
                    rows.append((*host, t, metric, float(v0), lin, True))
    out = pd.DataFrame(
        rows, columns=[*by, "bucket_sec", "metric", "value_locf", "value_linear", "is_filled"]
    )
    out["bucket_ts"] = pd.to_datetime(out.pop("bucket_sec"), unit="s").astype("datetime64[us]")
    return (
        out[[*by, "bucket_ts", "metric", "value_locf", "value_linear", "is_filled"]]
        .sort_values([*by, "metric", "bucket_ts"], kind="mergesort")
        .reset_index(drop=True)
    )


# ---------------------------------------------------------------------------
# codecs — "mimir-ts v1" (pure-Python bit-level reference)
# ---------------------------------------------------------------------------
# Timestamp delta-of-delta (Gorilla §4.1.1 ranges):
#   first_ts stored out-of-band (chunk column). For i ≥ 1, d_i = t_i − t_{i−1};
#   dod_i = d_i − d_{i−1} with d_0 ≡ 0 (so dod_1 = d_1). Each dod:
#     0                → '0'
#     [−63, 64]        → '10'   + 7-bit  (dod + 63)
#     [−255, 256]      → '110'  + 9-bit  (dod + 255)
#     [−2047, 2048]    → '1110' + 12-bit (dod + 2047)
#     else             → '1111' + 64-bit two's complement
# Value Gorilla-XOR (simplified: no leading/meaningful window reuse — each
# non-zero XOR re-encodes its own window; pinned for vectorizability):
#   first_val stored out-of-band. x = v_i XOR v_{i−1} over uint64:
#     x == 0 → '0'
#     else   → '1' + 6-bit leading-zero count (cap 63) + 6-bit (meaningful−1)
#              + meaningful bits of x
# Bitstreams are zero-padded to a byte boundary, MSB-first.


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def to_bytes(self) -> bytes:
        bits = self.bits + [0] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v


def encode_dod_py(ts: np.ndarray) -> bytes:
    """ts: int64 epoch seconds, ascending. Returns the dod bitstream for
    points 1..n-1 (first_ts is carried out-of-band)."""
    w = _BitWriter()
    prev_delta = 0
    for i in range(1, len(ts)):
        delta = int(ts[i]) - int(ts[i - 1])
        dod = delta - prev_delta
        prev_delta = delta
        if dod == 0:
            w.write(0, 1)
        elif -63 <= dod <= 64:
            w.write(0b10, 2)
            w.write(dod + 63, 7)
        elif -255 <= dod <= 256:
            w.write(0b110, 3)
            w.write(dod + 255, 9)
        elif -2047 <= dod <= 2048:
            w.write(0b1110, 4)
            w.write(dod + 2047, 12)
        else:
            w.write(0b1111, 4)
            w.write(dod & 0xFFFFFFFFFFFFFFFF, 64)
    return w.to_bytes()


def decode_dod_py(data: bytes, first_ts: int, n: int) -> np.ndarray:
    r = _BitReader(data)
    out = [first_ts]
    prev_delta = 0
    for _ in range(n - 1):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            raw = r.read(64)
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        prev_delta += dod
        out.append(out[-1] + prev_delta)
    return np.array(out, dtype=np.int64)


def encode_gorilla_py(vals: np.ndarray) -> bytes:
    """vals: int64. Returns the XOR bitstream for points 1..n-1
    (first_val carried out-of-band)."""
    w = _BitWriter()
    prev = int(vals[0]) & 0xFFFFFFFFFFFFFFFF
    for i in range(1, len(vals)):
        cur = int(vals[i]) & 0xFFFFFFFFFFFFFFFF
        x = prev ^ cur
        prev = cur
        if x == 0:
            w.write(0, 1)
        else:
            nbits = x.bit_length()
            lead = min(64 - nbits, 63)
            meaningful = 64 - lead  # trailing bits kept verbatim
            w.write(1, 1)
            w.write(lead, 6)
            w.write(meaningful - 1, 6)
            w.write(x, meaningful)
    return w.to_bytes()


def decode_gorilla_py(data: bytes, first_val: int, n: int) -> np.ndarray:
    r = _BitReader(data)
    prev = int(first_val) & 0xFFFFFFFFFFFFFFFF
    out = [prev]
    for _ in range(n - 1):
        if r.read(1) == 0:
            out.append(prev)
        else:
            r.read(6)  # leading-zero count (implied by meaningful length)
            meaningful = r.read(6) + 1
            x = r.read(meaningful)
            prev = prev ^ x
            out.append(prev)
    return np.array(out, dtype=np.uint64).astype(np.int64)


def chunks_for_tier(
    tier_df: pd.DataFrame,
    tier: str,
    max_points: int | None = None,
    split_by_month: bool = False,
) -> pd.DataFrame:
    """Golden chunks table: one chunk per (host, tier) over the host-level
    series — ts_dod/val_gorilla binaries + out-of-band header columns.
    val_gorilla encodes doc_count; bytes_gorilla encodes bytes_sum.
    ``split_by_month`` closes chunks at UTC month boundaries and
    ``max_points`` every that many points of a (host[, month]) series."""
    hs = host_series(tier_df)
    hs = hs.assign(_month=hs["bucket_ts"].dt.strftime("%Y-%m") if split_by_month else "")
    rows = []
    for (host, _), g in hs.groupby(["host", "_month"], sort=True):
        g = g.sort_values("bucket_ts", kind="mergesort")
        sec_all = (g["bucket_ts"].astype("datetime64[us]").astype("int64") // 1_000_000).to_numpy()
        dc_all = g["doc_count"].to_numpy().astype(np.int64)
        bs_all = g["bytes_sum"].to_numpy().astype(np.int64)
        step = max_points or len(sec_all)
        for lo in range(0, len(sec_all), step):
            sec, dc, bs = (a[lo : lo + step] for a in (sec_all, dc_all, bs_all))
            rows.append(
                (
                    host,
                    tier,
                    pd.Timestamp(sec[0], unit="s"),
                    encode_dod_py(sec),
                    encode_gorilla_py(dc),
                    encode_gorilla_py(bs),
                    len(sec),
                    int(sec[0]),
                    int(dc[0]),
                    int(bs[0]),
                    int(sec[-1]),
                )
            )
    return pd.DataFrame(
        rows,
        columns=[
            "host",
            "tier",
            "chunk_start",
            "ts_dod",
            "val_gorilla",
            "bytes_gorilla",
            "n_points",
            "first_ts",
            "first_val",
            "first_bytes",
            "last_ts",
        ],
    )
