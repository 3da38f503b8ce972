"""Temporal (as-of) GroupBy vs the definitional naive oracle.

Mirrors the reference's SawtoothAggregatorTest.scala:50-177 strategy:
random events + random queries, engine output must equal the naive
O(E×Q) re-aggregation per query, allclose with the reference's 1e-5
comparison tolerance. Edge cases baked in: duplicate event timestamps,
queries at exactly an event ts (head exclusivity / zero leakage),
null values, null keys, duplicate query rows.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    TimeUnit,
    Window,
)
from chronon_spark.operators.temporal import temporal_events
from tests.naive_oracle import allclose_feature, naive_feature

MS_DAY = 86_400_000
T0 = 1_700_000_000_000


def _gen(seed=42, n_events=800, n_queries=250, n_keys=6):
    rng = np.random.default_rng(seed)
    ev_ts = T0 + rng.integers(0, 30 * MS_DAY, n_events)
    # force duplicate timestamps within keys
    ev_ts[::50] = ev_ts[1::50][: len(ev_ts[::50])]
    ev = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, n_keys, n_events)],
            "ts": ev_ts.astype(np.int64),
            "price": rng.integers(1, 500, n_events).astype(float),
            "cat": rng.choice(["a", "b", "c", "d"], n_events),
        }
    )
    ev.loc[ev.index % 37 == 0, "price"] = None  # null values
    q_ts = T0 + rng.integers(0, 31 * MS_DAY, n_queries)
    q_ts[:40] = ev_ts[:40]  # queries at exactly an event ts → excluded
    q = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, n_keys + 1, n_queries)],  # some unseen keys
            "ts": q_ts.astype(np.int64),
        }
    )
    q = pd.concat([q, q.iloc[:15]], ignore_index=True)  # duplicate query rows
    return ev, q


AGGS = (
    Aggregation("price", Operation.COUNT, windows=(None, Window(7), Window(6, TimeUnit.HOURS))),
    Aggregation("price", Operation.SUM, windows=(Window(7), Window(30))),
    Aggregation("price", Operation.AVERAGE, windows=(Window(3),)),
    Aggregation("price", Operation.MIN, windows=(Window(7),)),
    Aggregation("price", Operation.MAX, windows=(Window(7), None)),
    Aggregation("price", Operation.VARIANCE, windows=(Window(7),)),
    Aggregation("price", Operation.SKEW, windows=(Window(14),)),
    Aggregation("price", Operation.KURTOSIS, windows=(Window(14),)),
    Aggregation("price", Operation.FIRST, windows=(Window(7),)),
    Aggregation("price", Operation.LAST, windows=(Window(7),)),
    Aggregation("price", Operation.FIRST_K, arg_map={"k": 4}, windows=(Window(7),)),
    Aggregation("price", Operation.LAST_K, arg_map={"k": 4}, windows=(Window(7),)),
    Aggregation("price", Operation.TOP_K, arg_map={"k": 3}, windows=(Window(7),)),
    Aggregation("price", Operation.BOTTOM_K, arg_map={"k": 3}, windows=(Window(7),)),
    Aggregation("price", Operation.UNIQUE_COUNT, windows=(Window(7),)),
    Aggregation("price", Operation.BOUNDED_UNIQUE_COUNT, arg_map={"k": 5}, windows=(Window(7),)),
    Aggregation(
        "price", Operation.APPROX_PERCENTILE, arg_map={"percentiles": [0.25, 0.5, 0.95]},
        windows=(Window(7),),
    ),
    Aggregation("cat", Operation.HISTOGRAM, windows=(Window(7),)),
    Aggregation("cat", Operation.LAST, windows=(Window(7),)),
    Aggregation("price", Operation.SUM, windows=(Window(7),), buckets=("cat",)),
    Aggregation("price", Operation.AVERAGE, windows=(None,), buckets=("cat",)),
)


@pytest.fixture(scope="module")
def result(spark):
    ev, q = _gen()
    gb = GroupBy(
        name="t", sources=(EventSource(table="ev"),), key_columns=("user",), aggregations=AGGS
    )
    ev_df = spark.createDataFrame(ev.astype({"ts": "int64"}))
    q_df = spark.createDataFrame(q)
    # collect() preserves None-vs-NaN distinction that toPandas() loses
    out = [r.asDict() for r in temporal_events(spark, gb, q_df, ev_df).collect()]
    return ev, q, gb, out


def test_row_count_preserved(result):
    ev, q, gb, out = result
    assert len(out) == len(q)  # duplicates preserved 1:1


def test_vs_naive_oracle(result):
    ev, q, gb, out = result
    parts = gb.unpacked()
    by_user = {u: g.sort_values("ts", kind="mergesort") for u, g in ev.groupby("user")}
    # engine output order is arbitrary: line rows up by (user, ts)
    out_sorted = sorted(out, key=lambda r: (r["user"], r["ts"]))
    q_sorted = q.sort_values(["user", "ts"], kind="mergesort").reset_index(drop=True)
    assert [r["user"] for r in out_sorted] == list(q_sorted["user"])

    mismatches = []
    for i, row in enumerate(out_sorted):
        user, qt = row["user"], int(row["ts"])
        g = by_user.get(user)
        for p in parts:
            got = row[p.output_column]
            if g is None or len(g) == 0:
                exp = None
            else:
                exp = naive_feature(
                    p,
                    g["ts"].to_numpy(np.int64),
                    g[p.input_column].to_numpy(object),
                    qt,
                    buckets=g["cat"].to_numpy(object) if p.bucket else None,
                )
            if not allclose_feature(got, exp):
                mismatches.append((user, qt, p.output_column, got, exp))
    assert not mismatches, f"{len(mismatches)} mismatches, first 5: {mismatches[:5]}"


def test_zero_leakage(spark):
    """An event at exactly ts == qt must be excluded
    (SawtoothAggregator.scala:108-115; JoinTest.scala:409-414)."""
    ev = spark.createDataFrame(
        [("u1", 1000, 5.0), ("u1", 2000, 7.0), ("u1", 2000, 9.0)], "user string, ts long, price double"
    )
    q = spark.createDataFrame([("u1", 2000), ("u1", 2001)], "user string, ts long")
    gb = GroupBy(
        name="l",
        sources=(EventSource(table="ev"),),
        key_columns=("user",),
        aggregations=(Aggregation("price", Operation.SUM, windows=(None,)),),
    )
    rows = {r["ts"]: r["price_sum"] for r in temporal_events(spark, gb, q, ev).collect()}
    assert rows[2000] == 5.0  # both ts=2000 events excluded
    assert rows[2001] == 21.0


def test_null_key_rows_get_null_features(spark):
    ev = spark.createDataFrame([("u1", 1000, 5.0)], "user string, ts long, price double")
    q = spark.createDataFrame([(None, 2000), ("u1", 2000)], "user string, ts long")
    gb = GroupBy(
        name="nk",
        sources=(EventSource(table="ev"),),
        key_columns=("user",),
        aggregations=(Aggregation("price", Operation.COUNT, windows=(None,)),),
    )
    out = {r["user"]: r["price_count"] for r in temporal_events(spark, gb, q, ev).collect()}
    assert out[None] is None
    assert out["u1"] == 1


def test_temporal_derivations(spark):
    """GroupBy derivations apply on the temporal path too
    (spark/GroupBy.scala:763-774 — all GroupBy output, any accuracy)."""
    import pandas as pd

    from chronon_spark.api.types import Accuracy, Aggregation, EventSource, GroupBy, Operation, Window

    ev = spark.createDataFrame(pd.DataFrame({
        "user": ["a"] * 6,
        "ts": [1_700_000_000_000 + i * 1000 for i in range(6)],
        "price": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
    }))
    gb = GroupBy(
        name="d", sources=(EventSource(table="ev"),), key_columns=("user",),
        aggregations=(
            Aggregation("price", Operation.SUM, windows=(Window(7),)),
            Aggregation("price", Operation.COUNT, windows=(Window(7),)),
        ),
        accuracy=Accuracy.TEMPORAL,
        derivations={"*": "*", "price_mean_7d": "price_sum_7d / price_count_7d"},
    )
    q = ev.select("user", "ts")
    for mode in ("raw", "tiled"):
        out = temporal_events(spark, gb, q, ev, mode=mode)
        assert "price_mean_7d" in out.columns
        r = {row["ts"]: row for row in out.collect()}
        last = r[1_700_000_000_000 + 5000]
        assert last["price_sum_7d"] == 15.0 and last["price_count_7d"] == 5
        assert last["price_mean_7d"] == 3.0


CROSS_AGGS = (
    Aggregation("v", Operation.COUNT, windows=(None, Window(1))),
    Aggregation("v", Operation.SUM, windows=(Window(2, TimeUnit.HOURS), None)),
    Aggregation("v", Operation.AVERAGE, windows=(Window(1),)),
    Aggregation("v", Operation.MIN, windows=(Window(1),)),
    Aggregation("v", Operation.MAX, windows=(None,)),
    Aggregation("v", Operation.VARIANCE, windows=(Window(1),)),
    Aggregation("v", Operation.FIRST, windows=(Window(2, TimeUnit.HOURS),)),
    Aggregation("v", Operation.LAST, windows=(None, Window(1))),
    Aggregation("v", Operation.LAST_K, arg_map={"k": 2}, windows=(Window(1),)),
    Aggregation("cat", Operation.LAST, windows=(None,)),
    Aggregation("v", Operation.COUNT, windows=(Window(1),), buckets=("cat",)),
)


def _cross_key_data():
    """Adjacent composite keys that share timestamps, with every edge the
    batched kernel must keep per key: equal ts across keys, events exactly
    on the sawtooth tail (hop 1h for 1d, 5min for 2h) and at the query ts,
    same-ts value ties (LAST/FIRST tie-break), NaN and ±inf values, a
    query-only key between keys with events, null-ts queries, partially
    null and all-null keys."""
    hour = 3_600_000
    t = T0 - T0 % hour  # hop-aligned
    vals = [1.0, 4.0, float("nan"), float("inf"), 2.0, float("-inf"), None, 3.0, 7.0, 5.0]
    cats = ["a", "b", None, "a", "b", "a", "a", None, "b", "a"]
    keys = [("a", "x"), ("a", None), ("b", "x"), (None, "x"), ("d", "y")]
    ev = []
    for ki, (k1, k2) in enumerate(keys):
        for j in range(24):
            ts = t + (j // 2) * hour + (j % 3) * 300_000  # pairs of equal ts
            v = vals[(j + 3 * ki) % len(vals)]
            if ki == 4 and j > 3:
                v = [float("inf"), 6.0][j % 2]  # +inf run next to finite values
            ev.append((k1, k2, ts, v, cats[(j + ki) % len(cats)]))
    ev += [(None, None, t + hour, 9.0, "a")]  # all-null key: dropped, never matched
    q = []
    for k1, k2 in keys + [("c", "x"), (None, None)]:  # c: query-only key
        for ts in (
            t + 5 * hour,  # equals event ts (excluded)
            t + 5 * hour + 1,
            t + 13 * hour + 300_000,
            t + 24 * hour,  # 1d tail lands exactly on the first events
            t + 24 * hour + hour - 1,
            t + 2 * hour + 2 * hour,  # 2h tail on an event ts
            t + 40 * hour,
            None,
        ):
            q.append((k1, k2, ts))
    return ev, q


def test_cross_key_batched_parity(spark):
    """The batched raw kernel == naive oracle per composite key, with
    Arrow batches of 7 rows (keys straddle batch boundaries) and of 1000
    (several keys share one batch). All-null keys never match (events
    with them are dropped)."""
    ev, q = _cross_key_data()
    ev_df = spark.createDataFrame(ev, "k1 string, k2 string, ts long, v double, cat string")
    q_df = spark.createDataFrame(q, "k1 string, k2 string, ts long")
    gb = GroupBy(
        name="xk", sources=(EventSource(table="ev"),), key_columns=("k1", "k2"),
        aggregations=CROSS_AGGS,
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    outs = {}
    try:
        for rows in ("7", "1000"):
            spark.conf.set(conf, rows)
            for pt in (False, True):
                outs[rows, pt] = [r.asDict() for r in temporal_events(
                    spark, gb, q_df, ev_df, mode="raw", passthrough=pt).collect()]
    finally:
        spark.conf.set(conf, old)
    evp = pd.DataFrame(ev, columns=["k1", "k2", "ts", "v", "cat"])
    parts = gb.unpacked()
    for (rows, pt), out in outs.items():
        assert len(out) == len(q)
        bad = []
        for row in out:
            key = (row["k1"], row["k2"])
            # grouping semantics: a null key part matches null
            sel = [evp[c].isna() if v is None else evp[c].eq(v) for c, v in zip(("k1", "k2"), key)]
            g = evp[sel[0] & sel[1]].sort_values("ts", kind="mergesort")
            for p in parts:
                # the uniqSort join-back (passthrough=False) is an equi-join
                # on the keys: any null key part falls out with null features
                if (row["ts"] is None or key == (None, None) or len(g) == 0
                        or None in key and not pt):
                    exp = None
                else:
                    exp = naive_feature(
                        p, g["ts"].to_numpy(np.int64), g[p.input_column].to_numpy(object),
                        int(row["ts"]), buckets=g["cat"].to_numpy(object) if p.bucket else None,
                    )
                if not allclose_feature(row[p.output_column], exp):
                    bad.append((rows, pt, key, row["ts"], p.output_column, row[p.output_column], exp))
        assert not bad, f"{len(bad)} mismatches, first 5: {bad[:5]}"


def test_raw_passthrough_int64_exact(spark):
    """A passthrough int64 column above 2^53 (an xxhash64), nulls
    included, leaves the raw kernel byte-exact."""
    ev = spark.createDataFrame(
        [(f"u{i % 3}", 1000 + i, float(i)) for i in range(40)], "user string, ts long, v double"
    )
    q = ev.select("user", "ts").withColumn(
        "h", F.when(F.col("ts") % 5 == 0, None).otherwise(F.xxhash64("user", "ts"))
    )
    gb = GroupBy(
        name="h64", sources=(EventSource(table="ev"),), key_columns=("user",),
        aggregations=(Aggregation("v", Operation.COUNT, windows=(None,)),),
    )
    out = temporal_events(spark, gb, q, ev, mode="raw", passthrough=True)
    got = sorted((r["user"], r["ts"], r["h"]) for r in out.collect())
    exp = sorted((r["user"], r["ts"], r["h"]) for r in q.collect())
    assert got == exp
    assert any(h is not None and abs(h) > 2**53 for _, _, h in got)
