"""Output checks against the repo's naive point-in-time oracle.

Every function takes plain rows (dicts) and the generator's narrow page
columns, and returns a list of mismatch messages (empty = correct). They
run outside the timed region.
"""

from __future__ import annotations

import hashlib

import numpy as np

from gen import MS_DAY, texts, url_of
from tests.naive_oracle import allclose_feature, naive_feature


class Events:
    """Per-url event arrays (sorted by ts) from the generator's columns."""

    def __init__(self, meta: dict[str, np.ndarray]):
        self.meta = meta
        urls = url_of(meta["url_id"])
        order = np.lexsort((meta["ts"], urls))
        self.by_url: dict[str, np.ndarray] = {}
        u_sorted = urls[order]
        cuts = np.flatnonzero(u_sorted[1:] != u_sorted[:-1]) + 1
        for idx in np.split(order, cuts):
            if len(idx):
                self.by_url[urls[idx[0]]] = idx

    def of(self, url):
        idx = self.by_url.get(url, np.empty(0, dtype=np.int64))
        m = self.meta
        return m["ts"][idx], m["text_len"][idx].astype(np.float64), m["lang"][idx], idx


def _value(v):
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return {str(k): _value(x) for k, x in v.items()}
    return v


def feature_mismatches(row: dict, parts, ev: Events, qt: int, prefix: str = "") -> list[str]:
    """Compare one output row's feature columns with the naive oracle."""
    ts, text_len, lang, _ = ev.of(row["url"])
    cols = {"text_len": text_len, "lang": lang}
    out = []
    for p in parts:
        name = prefix + p.output_column
        vals = cols[p.input_column]
        buckets = cols[p.bucket] if p.bucket else None
        want = naive_feature(p, ts, vals, qt, buckets) if len(ts) else None
        got = _value(row[name])
        if isinstance(got, dict) and not got:
            got = None
        if not allclose_feature(got, want):
            out.append(f"{row['url']}@{qt} {name}: got {got!r}, oracle {want!r}")
    return out


def md5_text(token: int, n: int) -> str:
    return hashlib.md5(texts(np.array([token]), np.array([n]))[0].as_py().encode()).hexdigest()


def check_dense(rows: list[dict], parts, ev: Events, urls: list[str],
                gap_ms: int) -> list[str]:
    """Dense backfill on the sampled urls: one row per crawl, oracle
    features, zero leakage, lag/lead and session columns, and the text
    byte-identical to the generated page (md5)."""
    out = []
    by_url: dict[str, list[dict]] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    for url in urls:
        ts, text_len, _, idx = ev.of(url)
        got = sorted(by_url.get(url, []), key=lambda r: r["ts"])
        if len(got) != len(ts):
            out.append(f"{url}: {len(got)} rows for {len(ts)} crawls")
            continue
        if [r["ts"] for r in got] != ts.tolist():
            out.append(f"{url}: output ts differ from the crawls")
            continue
        tied = set(ts[1:][ts[1:] == ts[:-1]].tolist())
        want_md5: dict[int, list[str]] = {}
        for t, i in zip(ts.tolist(), idx.tolist()):
            want_md5.setdefault(t, []).append(
                md5_text(int(ev.meta["token"][i]), int(ev.meta["text_len"][i])))
        got_md5: dict[int, list[str]] = {}
        for r in got:
            got_md5.setdefault(r["ts"], []).append(hashlib.md5(r["text"].encode()).hexdigest())
        if {k: sorted(v) for k, v in got_md5.items()} != {k: sorted(v) for k, v in want_md5.items()}:
            out.append(f"{url}: text not byte-identical to the crawl")
        session, start, idx_in = -1, None, 0
        for i, r in enumerate(got):
            qt = r["ts"]
            out += feature_mismatches(r, parts, ev, qt)
            before = int(np.sum(ts < qt))
            if r["text_len_count"] not in (None, 0) and r["text_len_count"] > before:
                out.append(f"{url}@{qt}: leakage, count {r['text_len_count']} > {before} earlier crawls")
            if i == 0 or qt - got[i - 1]["ts"] > gap_ms:
                session, start, idx_in = session + 1, qt, 0
            else:
                idx_in += 1
            if qt in tied:
                continue
            want = {
                "text_len_lag_1": int(text_len[i - 1]) if i >= 1 else None,
                "text_len_lag_2": int(text_len[i - 2]) if i >= 2 else None,
                "text_len_lead_1": int(text_len[i + 1]) if i + 1 < len(got) else None,
                "session_id": session,
                "session_ts": start,
                "session_event_idx": idx_in,
            }
            for k, v in want.items():
                if r[k] != v:
                    out.append(f"{url}@{qt} {k}: got {r[k]!r}, want {v!r}")
    return out


def day_start(ds: str) -> int:
    return int(np.datetime64(ds, "D").astype("datetime64[ms]").astype(np.int64))


def check_join(rows: list[dict], spine: dict[str, np.ndarray], start_ds: str, end_ds: str,
               parts_temporal, prefix_t: str, parts_snapshot, prefix_s: str,
               ev: Events, sample_urls: set) -> list[str]:
    """Join backfill: exactly one output row per in-range spine row; on the
    sampled urls and on every null/unseen-url row the features equal the
    oracle (TEMPORAL as of the row ts, SNAPSHOT as of the start of its ds)."""
    out = []
    s_ds = (spine["ts"] // MS_DAY).astype("datetime64[D]").astype(str)
    in_range = (s_ds >= start_ds) & (s_ds <= end_ds)
    want_qids = spine["qid"][in_range]
    got_qids = [r["qid"] for r in rows]
    if len(got_qids) != len(set(got_qids)):
        out.append(f"{len(got_qids) - len(set(got_qids))} spine rows written more than once")
    if set(got_qids) != set(want_qids.tolist()):
        out.append(f"{len(set(want_qids.tolist()) ^ set(got_qids))} spine rows missing or extra")
    for r in rows:
        url = r["url"]
        if url is not None and url not in sample_urls and url in ev.by_url:
            continue
        out += feature_mismatches(r, parts_temporal, ev, r["ts"], prefix_t)
        out += feature_mismatches(r, parts_snapshot, ev, day_start(r["ds"]), prefix_s)
    return out


def check_fetch(rows: list[dict], queries: dict[str, np.ndarray], parts, ev: Events,
                sample_urls: set) -> list[str]:
    """Fetch: one result per query; on the sampled urls the served
    features equal the oracle over the full history."""
    out = []
    got_qids = [r["qid"] for r in rows]
    if sorted(got_qids) != sorted(queries["qid"].tolist()):
        out.append(f"fetch returned {len(got_qids)} rows for {len(queries['qid'])} queries")
    qt = dict(zip(queries["qid"].tolist(), queries["ts"].tolist()))
    for r in rows:
        if r["url"] in sample_urls:
            out += feature_mismatches(r, parts, ev, qt[r["qid"]])
    return out
