"""Determinism / invariance properties:

- partitioning invariance: identical results regardless of input layout
  and shuffle width (the sandbox proxy for cluster-size invariance)
- step-days invariance: one-shot backfill == many small stepped runs
- hypothesis property test: the pure Arrow kernel vs the naive oracle on
  adversarial random streams cut into arbitrary batches (no Spark in the
  loop)
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Accuracy,
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Query,
    TimeUnit,
    Window,
)
from chronon_spark.operators.temporal import make_temporal_kernel, output_field
from chronon_spark.pipelines.webtext import backfill_features
from chronon_spark.fixtures.webtext import generate_webtext
from chronon_spark.runner import run_group_by_backfill
from chronon_spark.sources.warehouse import Warehouse
from tests.naive_oracle import allclose_feature, naive_feature

MS_DAY = 86_400_000
T0 = 1_700_000_000_000


def _hash(df):
    cols = sorted(c for c in df.columns if not c.startswith("__"))
    h = df.select(
        F.sum(
            F.pmod(
                F.xxhash64(*[F.col(c).cast("string") for c in cols]), F.lit(1_000_000_007)
            )
        ).alias("h"),
        F.count("*").alias("n"),
    ).first()
    return (h["h"], h["n"])


def test_partitioning_invariance(spark):
    pages = generate_webtext(spark, n_rows=8_000, n_urls=200, days=30, partitions=4)
    a = backfill_features(spark, pages.repartition(3)).drop("text")
    b = backfill_features(spark, pages.repartition(17)).drop("text")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    c = backfill_features(spark, pages.repartition(5)).drop("text")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert _hash(a) == _hash(b) == _hash(c)


def test_step_days_invariance(spark, tmp_path):
    rng = np.random.default_rng(41)
    n = 300
    ev = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, 4, n)],
            "ts": (T0 + rng.integers(0, 12 * MS_DAY, n)).astype(np.int64),
            "v": rng.integers(1, 50, n).astype(float),
        }
    )
    spark.createDataFrame(ev).withColumn(
        "ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd")
    ).createOrReplaceTempView("inv_events")
    gb = GroupBy(
        name="inv_gb",
        sources=(EventSource(table="inv_events", query=Query(time_column="ts")),),
        key_columns=("user",),
        aggregations=(Aggregation("v", Operation.SUM, windows=(Window(5),)),),
    )
    wh1 = Warehouse(spark, str(tmp_path / "w1"))
    wh2 = Warehouse(spark, str(tmp_path / "w2"))
    run_group_by_backfill(spark, wh1, gb, "2023-11-18", "2023-11-26", step_days=30)
    run_group_by_backfill(spark, wh2, gb, "2023-11-18", "2023-11-26", step_days=2)
    a = sorted(tuple(r) for r in wh1.read("inv_gb").select("user", "ds", "v_sum_5d").collect())
    b = sorted(tuple(r) for r in wh2.read("inv_gb").select("user", "ds", "v_sum_5d").collect())
    assert a == b


KERNEL_GB = GroupBy(
    name="prop",
    sources=(EventSource(table="x"),),
    key_columns=("k",),
    aggregations=(
        Aggregation("v", Operation.COUNT, windows=(None, Window(1, TimeUnit.HOURS))),
        Aggregation("v", Operation.SUM, windows=(Window(4, TimeUnit.HOURS),)),
        Aggregation("v", Operation.MIN, windows=(Window(1, TimeUnit.HOURS),)),
        Aggregation("v", Operation.MAX, windows=(None,)),
        Aggregation("v", Operation.LAST, windows=(Window(2, TimeUnit.HOURS),)),
        Aggregation("v", Operation.LAST_K, arg_map={"k": 3}, windows=(None,)),
    ),
    accuracy=Accuracy.TEMPORAL,
)

import pyspark.sql.types as T

EV_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ]
)


@settings(max_examples=60, deadline=None)
@given(
    ev_ts=st.lists(st.integers(0, 6 * 3_600_000), min_size=0, max_size=60),
    q_off=st.lists(st.integers(0, 7 * 3_600_000), min_size=1, max_size=25),
    nulls=st.lists(st.booleans(), min_size=0, max_size=60),
    batch_rows=st.integers(1, 40),
)
def test_kernel_property(ev_ts, q_off, nulls, batch_rows):
    """Pure-kernel property test: arbitrary event/query time sets,
    duplicates and nulls included, for three keys sharing every timestamp
    (different values; the last key's rows are carried, so three keys let
    one batch evaluate two complete ones), the tagged (key, ts)-sorted
    stream cut into arbitrary Arrow batches — engine == naive oracle per
    key."""
    import pyarrow as pa

    base = T0
    ev_ts = sorted(base + t for t in ev_ts)
    nulls = (nulls + [False] * len(ev_ts))[: len(ev_ts)]
    vals = {
        k: [None if nz else float((i * m) % 101) for i, nz in enumerate(nulls)]
        for k, m in (("a", 37), ("b", 53), ("c", 71))
    }
    qts = sorted(base + t for t in q_off)
    parts = KERNEL_GB.unpacked()
    out_schema = T.StructType(
        [EV_SCHEMA["k"], EV_SCHEMA["ts"]] + [output_field(p, EV_SCHEMA) for p in parts]
    )
    n = len(qts) + len(ev_ts)
    stream = pa.concat_tables(
        pa.table(
            {
                "__is_ev": [False] * len(qts) + [True] * len(ev_ts),
                "k": [k] * n,
                "ts": pa.array(qts + ev_ts, pa.int64()),
                "__ev_v": pa.array([None] * len(qts) + v, pa.float64()),
            }
        )
        for k, v in vals.items()
    ).sort_by([("k", "ascending"), ("ts", "ascending")])
    kernel = make_temporal_kernel(KERNEL_GB, EV_SCHEMA, out_schema, ["k"])
    out = pa.Table.from_batches(
        list(kernel(iter(stream.to_batches(max_chunksize=batch_rows))))
    ).to_pylist()
    assert sorted((r["k"], r["ts"]) for r in out) == [(k, t) for k in vals for t in qts]
    ets = np.array(ev_ts, dtype=np.int64)
    for row in out:
        evs = np.array(vals[row["k"]], dtype=object)
        for p in parts:
            got = row[p.output_column]
            exp = naive_feature(p, ets, evs, row["ts"]) if len(ev_ts) else None
            assert allclose_feature(got, exp), (row["k"], row["ts"], p.output_column, got, exp)


def test_tiled_collection_partitioning_invariance(spark):
    """Collection tile IRs (counter maps, k-heaps, quantile samples, HLL
    registers) must be layout- and shuffle-width-invariant."""
    from chronon_spark.operators.tiled import temporal_events_tiled
    from tests.test_tiled import GB, _gen

    ev, q = _gen(seed=41, n_events=700, n_queries=150)
    gb = GB
    outs = []
    for rep, shuf in ((3, 4), (17, 7)):
        spark.conf.set("spark.sql.shuffle.partitions", str(shuf))
        ev_df = spark.createDataFrame(ev).repartition(rep)
        q_df = spark.createDataFrame(q).repartition(rep)
        rows = temporal_events_tiled(spark, gb, q_df, ev_df).collect()
        outs.append(sorted([r.asDict() for r in rows], key=lambda r: (r["user"], r["ts"])))
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    a, b = outs
    assert len(a) == len(b)
    cols = [p.output_column for p in gb.unpacked()]
    for ra, rb in zip(a, b):
        assert (ra["user"], ra["ts"]) == (rb["user"], rb["ts"])
        for c in cols:
            assert allclose_feature(ra[c], rb[c]), (ra["user"], ra["ts"], c, ra[c], rb[c])


SNAP_GB_AGGS = (
    Aggregation("v", Operation.SUM, windows=(Window(3),)),
    Aggregation("v", Operation.COUNT, windows=(None,)),
    Aggregation("v", Operation.UNIQUE_COUNT, windows=(Window(4),)),  # delta path
    Aggregation("v", Operation.HISTOGRAM, windows=(Window(3),)),
    Aggregation("v", Operation.APPROX_PERCENTILE, arg_map={"percentiles": [0.5]},
                windows=(Window(5),)),
    Aggregation("v", Operation.LAST, windows=(Window(2),)),
)


@settings(max_examples=6, deadline=None)
@given(
    day_off=st.lists(st.integers(0, 8), min_size=1, max_size=30),
    in_day=st.lists(st.integers(0, MS_DAY - 1), min_size=1, max_size=30),
    vals=st.lists(st.integers(0, 6), min_size=1, max_size=30),
    nulls=st.lists(st.booleans(), min_size=1, max_size=30),
)
def test_snapshot_property(spark, day_off, in_day, vals, nulls):
    """Snapshot path vs the naive oracle on adversarial shapes: day gaps,
    duplicate timestamps, null runs, single-event days — every path
    (spec IRs, delta-DISTINCT, quantile samples) on one frame."""
    import datetime as dt

    from chronon_spark.operators.groupby import snapshot_events

    n = min(len(day_off), len(in_day), len(vals), len(nulls))
    base = 1_699_920_000_000  # 2023-11-14 00:00 UTC (day-aligned)
    ts = np.array(
        sorted(base + day_off[i] * MS_DAY + in_day[i] for i in range(n)),
        dtype=np.int64,
    )
    v = [None if nulls[i] else float(vals[i]) for i in range(n)]
    ev = pd.DataFrame({"k": "a", "ts": ts, "v": v})
    df = spark.createDataFrame(ev).withColumn(
        "ds", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")
    )
    gb = GroupBy(
        name="prop_snap", sources=(EventSource(table="x"),), key_columns=("k",),
        aggregations=SNAP_GB_AGGS,
    )
    out = snapshot_events(spark, gb, df, "2023-11-14", "2023-11-20").collect()
    if ev["ts"].min() > 1_699_920_000_000 + 6 * MS_DAY + MS_DAY - 1:
        assert out == []  # every event lands after end_ds → empty backfill
        return
    assert out, "snapshot produced no rows"
    ets = ev["ts"].to_numpy(np.int64)
    evs = ev["v"].to_numpy(object)
    for row in out:
        d = dt.date.fromisoformat(row["ds"]) + dt.timedelta(days=1)
        qt = int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp() * 1000)
        for p in gb.unpacked():
            got = row[p.output_column]
            exp = naive_feature(p, ets, evs, qt)
            assert allclose_feature(got, exp), (row["ds"], p.output_column, got, exp)
