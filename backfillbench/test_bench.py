"""Self-tests of the benchmark's own parts.

    python3 -m pytest backfillbench/test_bench.py -q

- the metric parser on Spark's formatted values;
- each output check passes on oracle-correct rows and fails on a planted
  wrong value;
- the status-store harvest on a tiny fixed plan, with exact node counts.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from checks import Events, check_dense, check_fetch, check_join, day_start  # noqa: E402
from harvest import parse_metric  # noqa: E402
from tests.naive_oracle import naive_feature  # noqa: E402


def test_parse_metric():
    assert parse_metric("825.0 B") == 825.0
    assert parse_metric("1,234") == 1234.0
    assert parse_metric("10 ms") == pytest.approx(0.010)
    assert parse_metric("2.5 s") == 2.5
    assert parse_metric("1.5 m") == 90.0
    assert parse_metric("1.0 KiB") == 1024.0
    assert parse_metric("321.0 MiB") == 321.0 * 2**20
    total = "total (min, med, max (stageId: taskId))\n14.8 s (3.4 s, 3.8 s, 4.1 s (stage 41.0: task 247))"
    assert parse_metric(total) == 14.8
    assert parse_metric("total (min, med, max (stageId: taskId))\n1074.3 KiB (235.7 KiB, 1 KiB)") == (
        pytest.approx(1074.3 * 1024))
    assert parse_metric(None) is None
    assert parse_metric("n/a") is None


# ------------------------------------------------------ planted mismatches
META = gen.page_meta(seed=5, n_rows=400, n_urls=6, days=4)
EV = Events(META)


def _oracle_row(url, qt, parts, qid=0, prefix=""):
    ts, text_len, _, _ = EV.of(url)
    row = {"qid": qid, "url": url, "ts": qt}
    for p in parts:
        row[prefix + p.output_column] = naive_feature(p, ts, text_len, qt) if len(ts) else None
    return row


def test_fetch_check_catches_planted_value():
    from workloads import UPLOAD_GROUPBY

    parts = UPLOAD_GROUPBY.unpacked()
    urls = sorted(EV.by_url)[:3]
    qt = int(META["ts"].max())
    queries = {"qid": np.arange(3), "url": np.array(urls, dtype=object), "ts": np.full(3, qt)}
    rows = [_oracle_row(u, qt, parts, i) for i, u in enumerate(urls)]
    assert check_fetch(rows, queries, parts, EV, set(urls)) == []
    rows[1]["text_len_count"] += 1
    assert check_fetch(rows, queries, parts, EV, set(urls))
    assert check_fetch(rows[:2], queries, parts, EV, set())  # a lost query


def test_join_check_catches_planted_value():
    from chronon_spark.api.types import Aggregation, Operation, Window

    parts = Aggregation("text_len", Operation.COUNT, windows=(Window(1), None)).unpack()
    ds = gen.ds_of(META["ts"])
    start, end = str(ds[0]), str(ds[-1])
    sp = gen.spine(5, META, day_start(start), day_start(end) + gen.MS_DAY, 20, 2, 2)
    rows = []
    for qid, url, qt in zip(sp["qid"], sp["url"], sp["ts"]):
        r = _oracle_row(url, int(qt), parts, int(qid), "t_")
        r.update({k: v for k, v in _oracle_row(url, day_start(gen.ds_of(np.array([qt]))[0]),
                                                parts, prefix="s_").items() if k.startswith("s_")})
        r["ds"] = gen.ds_of(np.array([qt]))[0]
        rows.append(r)
    urls = set(EV.by_url)
    assert check_join(rows, sp, start, end, parts, "t_", parts, "s_", EV, urls) == []
    bad = [dict(r) for r in rows]
    bad[0]["s_text_len_count"] = (bad[0]["s_text_len_count"] or 0) + 1
    assert check_join(bad, sp, start, end, parts, "t_", parts, "s_", EV, urls)
    assert check_join(rows + rows[:1], sp, start, end, parts, "t_", parts, "s_", EV, urls)


def _dense_rows(url, parts):
    ts, text_len, _, idx = EV.of(url)
    rows, session, prev = [], -1, None
    for i, (qt, k) in enumerate(zip(ts.tolist(), idx.tolist())):
        r = _oracle_row(url, qt, [p for p in parts if p.bucket is None and p.input_column == "text_len"])
        lang = EV.meta["lang"][idx]
        for p in parts:
            if p.input_column == "lang" or p.bucket:
                r[p.output_column] = naive_feature(p, ts, lang if p.input_column == "lang" else text_len,
                                                   qt, lang if p.bucket else None)
        if prev is None or qt - prev > 1_800_000:
            session, start, n = session + 1, qt, 0
        else:
            n += 1
        prev = qt
        r.update({
            "text": gen.texts(np.array([META["token"][k]]), np.array([META["text_len"][k]]))[0].as_py(),
            "text_len_lag_1": int(text_len[i - 1]) if i >= 1 else None,
            "text_len_lag_2": int(text_len[i - 2]) if i >= 2 else None,
            "text_len_lead_1": int(text_len[i + 1]) if i + 1 < len(ts) else None,
            "session_id": session, "session_ts": start, "session_event_idx": n,
        })
        rows.append(r)
    return rows


def test_dense_check_catches_planted_value():
    from chronon_spark.pipelines.webtext import WEBTEXT_GROUPBY

    parts = WEBTEXT_GROUPBY.unpacked()
    url = "https://site0.example/p/0"
    rows = _dense_rows(url, parts)
    assert check_dense(rows, parts, EV, [url], 1_800_000) == []
    for key, bad in (("text", "x"), ("text_len_count_7d", 10**6), ("session_id", -5)):
        planted = [dict(r) for r in rows]
        planted[3][key] = bad
        assert check_dense(planted, parts, EV, [url], 1_800_000), key


# ------------------------------------------------------------- harvest
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from chronon_spark.session import build_session

    d = tmp_path_factory.mktemp("spark")
    s = build_session(app_name="backfillbench-selftest", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g", "spark.local.dir": str(d)})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_harvest_pins_tiny_plan(spark, tmp_path):
    import spans
    from harvest import Harvester
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    os.makedirs(path)
    for i in range(2):  # two files: two map partitions, every key in both
        ids = np.arange(50) + 50 * i
        pq.write_table(pa.table({"k": pa.array(ids % 7), "v": pa.array(ids)}),
                       os.path.join(path, f"part-{i}.parquet"))
    tr = spans.Tracer(Harvester(spark), "selftest")
    tr.start_iteration(1)
    with tr.span("pipelines.webtext.backfill_features"):
        rows = spark.read.parquet(path).groupBy("k").agg(F.sum("v").alias("s")).collect()
    assert len(rows) == 7
    (s,) = tr.of_iteration(1)
    assert len(s.execs) == 1 and len(s.jobs) >= 1
    nodes = s.execs[0].nodes
    scans = [n for n in nodes if n.name.startswith("Scan")]
    aggs = [n for n in nodes if n.name.strip() == "HashAggregate"]
    assert len(scans) == 1 and scans[0].m("number of output rows") == 100
    assert len(aggs) == 2
    final = [n for n in aggs if "partial_" not in n.desc][0]
    assert final.m("number of output rows") == 7
    assert s.execs[0].input_rows(final) == 14  # 7 keys from each of 2 map partitions
    m = spans.layer_metrics(tr.of_iteration(1), s.wall, 2)
    assert m["sources.scan.scans"] == 1
    assert m["spark.exchanges"] == 1
    assert m["pipelines.webtext.build_jobs"] == len(s.jobs)
    assert m["spark.shuffle_records"] == 14
