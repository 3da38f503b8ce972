"""Seeded input generator for the backfill benchmark.

The benchmark owns its inputs, so an engine change cannot change them.
Pages follow the shape of ``chronon_spark.fixtures.webtext.generate_webtext``
(Zipf-like urls, ``hot_share`` of rows on ``hot_urls`` urls, about 3% null
``lang``, 0-20k-char text made by repeating one token) and are written as a
ds-partitioned zstd parquet table with the BASELINE.json columns
``url, warc_ts, html, text, lang`` plus ``ts`` (epoch ms) and ``ds``.

Everything is numpy + pyarrow on the driver: generation does not touch
Spark, so ``setup_s`` times the same work whatever the engine does.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MS_DAY = 86_400_000
MS_HOUR = 3_600_000
START_TS_MS = 1_672_531_200_000  # 2023-01-01 UTC
LANGS = np.array(["en", "en", "en", "en", "de", "fr", "es", "zh", "ru"], dtype=object)


def ds_of(ts_ms: np.ndarray) -> np.ndarray:
    return (ts_ms // MS_DAY).astype("datetime64[D]").astype(str).astype(object)


def url_of(url_id: np.ndarray) -> np.ndarray:
    return np.array(
        [f"https://site{u % 500}.example/p/{u}" for u in url_id.tolist()], dtype=object
    )


def page_meta(seed: int, n_rows: int, n_urls: int, days: int,
              hot_urls: int = 5, hot_share: float = 0.08) -> dict[str, np.ndarray]:
    """Narrow page columns (no text): url id, ts, text length, lang, token."""
    rng = np.random.default_rng(seed)
    u = rng.random(n_rows)
    url_id = np.floor(u * u * n_urls).astype(np.int64)
    hot = rng.random(n_rows) < hot_share
    url_id[hot] = rng.integers(0, hot_urls, int(hot.sum()))
    ts = START_TS_MS + rng.integers(0, days * MS_DAY, n_rows)
    text_len = rng.integers(0, 2_001, n_rows) * 10
    lang = LANGS[rng.integers(0, len(LANGS), n_rows)]
    lang[rng.random(n_rows) < 0.03] = None
    token = rng.integers(0, 100_000, n_rows)
    order = np.argsort(ts, kind="stable")
    return {
        "url_id": url_id[order],
        "ts": ts[order],
        "text_len": text_len[order],
        "lang": lang[order],
        "token": token[order],
    }


def texts(token: np.ndarray, text_len: np.ndarray) -> pa.StringArray:
    """Row i: the token ``w<token[i]> `` repeated and cut to ``text_len[i]``
    chars (ASCII, so chars = bytes and the row offsets are the length sums)."""
    parts = []
    for t, n in zip(token.tolist(), text_len.tolist()):
        tok = f"w{t} "
        parts.append((tok * (n // len(tok) + 1))[:n])
    offsets = np.zeros(len(parts) + 1, dtype=np.int32)
    np.cumsum(text_len, out=offsets[1:])
    data = pa.py_buffer("".join(parts).encode("ascii"))
    return pa.StringArray.from_buffers(len(parts), pa.py_buffer(offsets), data)


def write_pages(path: str, meta: dict[str, np.ndarray]) -> None:
    """One parquet file per ds partition (``path/ds=YYYY-MM-DD/part-0.parquet``),
    text and html built one day at a time to bound driver memory."""
    ds = ds_of(meta["ts"])
    cuts = np.flatnonzero(ds[1:] != ds[:-1]) + 1
    bounds = np.concatenate([[0], cuts, [len(ds)]])
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        sl = slice(int(lo), int(hi))
        text = texts(meta["token"][sl], meta["text_len"][sl])
        html = pc.binary_join_element_wise("<html><body>", text, "</body></html>", "").cast(pa.binary())
        tbl = pa.table({
            "url": pa.array(url_of(meta["url_id"][sl]), pa.string()),
            "warc_ts": pa.array(meta["ts"][sl], pa.timestamp("ms", tz="UTC")),
            "html": html,
            "text": text,
            "lang": pa.array(meta["lang"][sl], pa.string()),
            "ts": pa.array(meta["ts"][sl], pa.int64()),
        })
        part = os.path.join(path, f"ds={ds[lo]}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(tbl, os.path.join(part, "part-0.parquet"), compression="zstd")


def spine(seed: int, meta: dict[str, np.ndarray], lo_ms: int, hi_ms: int, n_rows: int,
          n_null: int, n_unseen: int) -> dict[str, np.ndarray]:
    """Join left side in ``[lo_ms, hi_ms)``: ``n_rows`` crawls from that
    range with ts jittered forward by up to 1 h, every tenth at the exact
    crawl ts (the equal-ts edge), plus ``n_null`` null-url and ``n_unseen``
    never-crawled-url rows."""
    rng = np.random.default_rng(seed + 7_919)
    cand = np.flatnonzero((meta["ts"] >= lo_ms) & (meta["ts"] < hi_ms - MS_HOUR))
    pick = np.sort(rng.choice(cand, n_rows, replace=False))
    ts = meta["ts"][pick] + rng.integers(0, MS_HOUR, len(pick))
    ts[::10] = meta["ts"][pick][::10]
    extra_ts = rng.integers(lo_ms, hi_ms, n_null + n_unseen)
    extra_url = np.array(
        [None] * n_null + [f"https://unseen.example/p/{i}" for i in range(n_unseen)], dtype=object
    )
    url = np.concatenate([url_of(meta["url_id"][pick]), extra_url])
    ts = np.concatenate([ts, extra_ts])
    return {"qid": np.arange(len(ts), dtype=np.int64), "url": url, "ts": ts}


def write_spine(path: str, sp: dict[str, np.ndarray]) -> None:
    ds = ds_of(sp["ts"])
    tbl = pa.table({
        "qid": pa.array(sp["qid"], pa.int64()),
        "url": pa.array(sp["url"], pa.string()),
        "ts": pa.array(sp["ts"], pa.int64()),
    })
    for d in np.unique(ds):
        sel = np.flatnonzero(ds == d)
        part = os.path.join(path, f"ds={d}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(tbl.take(sel), os.path.join(part, "part-0.parquet"), compression="zstd")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
