"""The three workloads. Each puts most of its work on one engine kernel:

- ``dense_backfill``: ``pipelines.webtext.backfill_features`` at every crawl
  (raw as-of kernel, lag/lead + session windows, text payload join).
- ``sparse_join``: ``runner.run_join_backfill`` of a TEMPORAL (tiled) part
  and a SNAPSHOT part over a sparse spine into a fresh warehouse.
- ``upload_fetch``: ``operators.upload.group_by_upload`` written to parquet,
  then ``fetch_features`` for the last day's crawls in fixed-size batches.

A workload builds its inputs in :meth:`prepare` (part of set-up), runs one
timed iteration of public engine calls in :meth:`iteration`, and checks the
last iteration's outputs against the naive oracle in :meth:`check`.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from checks import Events, check_dense, check_fetch, check_join, day_start
from chronon_spark.api.types import (
    Accuracy,
    Aggregation,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.upload import fetch_features, group_by_upload
from chronon_spark.pipelines.webtext import WEBTEXT_GROUPBY, backfill_features
from chronon_spark.runner import run_join_backfill
from chronon_spark.sources.warehouse import Warehouse

HOT_URL = "https://site0.example/p/0"  # url id 0 is always one of the hot urls


def sample_urls(seed: int, ev: Events, n: int = 4) -> list[str]:
    """The hot url plus ``n`` other crawled urls, fixed by the seed."""
    rng = np.random.default_rng(seed + 101)
    others = sorted(u for u in ev.by_url if u != HOT_URL)
    pick = rng.choice(len(others), min(n, len(others)), replace=False)
    return [HOT_URL] + [others[i] for i in sorted(pick)]


class Workload:
    name = ""
    sizes: dict = {}
    # warm iterations per run: fixed, so warm_s is the median of the same
    # samples whatever the host speed (warm walls keep falling for several
    # iterations while the JIT warms); sized to the benchmark's run budget
    warm_iters = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs = ""

    def prepare(self, rep: int) -> None:
        """Generate and write this workload's inputs into a fresh directory."""
        if self.inputs:
            shutil.rmtree(self.inputs, ignore_errors=True)
        self.inputs = os.path.join(self.work, f"inputs-{rep}")
        s = self.sizes
        self.meta = gen.page_meta(self.seed, s["pages"], s["urls"], s["days"])
        self.pages_path = os.path.join(self.inputs, "pages")
        gen.write_pages(self.pages_path, self.meta)
        self.write_extra()

    def write_extra(self) -> None:
        pass

    def describe(self) -> dict:
        return {"sizes": dict(self.sizes), "pages_on_disk_bytes": gen.dir_bytes(self.pages_path),
                "pages_text_and_html_bytes": int(2 * self.meta["text_len"].sum())}


# ----------------------------------------------------------------- dense
class DenseBackfill(Workload):
    name = "dense_backfill"
    warm_iters = 3
    sizes = {"pages": 8_000, "urls": 200, "days": 60}

    def iteration(self, tr) -> int:
        pages = self.spark.read.parquet(self.pages_path)
        with tr.span("pipelines.webtext.backfill_features"):
            out = backfill_features(self.spark, pages)
        with tr.span("materialize"):
            out.write.format("noop").mode("overwrite").save()
        return len(self.meta["ts"])

    def expected_rows(self) -> int:
        return len(self.meta["ts"])

    def check(self) -> list[str]:
        """Re-runs ``backfill_features`` on the sampled urls' pages (features
        are per url, so they equal the full run's rows for those urls)."""
        ev = Events(self.meta)
        urls = sample_urls(self.seed, ev)
        pages = self.spark.read.parquet(self.pages_path).filter(F.col("url").isin(urls))
        rows = [r.asDict() for r in backfill_features(self.spark, pages).collect()]
        return check_dense(rows, WEBTEXT_GROUPBY.unpacked(), ev, urls, 30 * 60 * 1000)


# ----------------------------------------------------------------- sparse
def _pages_source(path: str) -> EventSource:
    return EventSource(
        table=path,
        query=Query(selects={"url": None, "text_len": "length(text)"}, time_column="ts"),
    )


class SparseJoin(Workload):
    name = "sparse_join"
    sizes = {"pages": 10_000, "urls": 250, "days": 20, "spine_rows": 300,
             "null_rows": 10, "unseen_rows": 10, "range_days": 6, "step_days": 3}

    def write_extra(self) -> None:
        s = self.sizes
        last = np.datetime64(gen.ds_of(np.array([self.meta["ts"].max()]))[0])
        self.end_ds = str(last)
        self.start_ds = str(last - np.timedelta64(s["range_days"] - 1, "D"))
        lo, hi = day_start(self.start_ds), day_start(self.end_ds) + gen.MS_DAY
        self.spine = gen.spine(self.seed, self.meta, lo, hi, s["spine_rows"],
                               s["null_rows"], s["unseen_rows"])
        self.spine_path = os.path.join(self.inputs, "spine")
        gen.write_spine(self.spine_path, self.spine)
        src = _pages_source(self.pages_path)
        self.gb_t = GroupBy(
            name="url_recent",
            sources=(src,),
            key_columns=("url",),
            aggregations=(
                Aggregation("text_len", Operation.COUNT, windows=(Window(1), Window(7))),
                Aggregation("text_len", Operation.SUM, windows=(Window(7),)),
                Aggregation("text_len", Operation.AVERAGE, windows=(Window(30),)),
                Aggregation("text_len", Operation.MAX, windows=(Window(7),)),
            ),
            accuracy=Accuracy.TEMPORAL,
        )
        self.gb_s = GroupBy(
            name="url_daily",
            sources=(src,),
            key_columns=("url",),
            aggregations=(
                Aggregation("text_len", Operation.COUNT, windows=(Window(7), None)),
                Aggregation("text_len", Operation.SUM, windows=(Window(30),)),
            ),
            accuracy=Accuracy.SNAPSHOT,
        )
        self.join = Join(
            name="spine_features",
            left=EventSource(table=self.spine_path, query=Query(time_column="ts")),
            right_parts=(JoinPart(self.gb_t), JoinPart(self.gb_s)),
        )
        self.n_iter = 0

    def iteration(self, tr) -> int:
        root = os.path.join(self.work, f"wh-{self.n_iter}")
        self.n_iter += 1
        if self.n_iter > 1:
            shutil.rmtree(os.path.join(self.work, f"wh-{self.n_iter - 2}"), ignore_errors=True)
        self.wh = Warehouse(self.spark, root)
        with tr.span("runner.run_join_backfill"):
            self.table = run_join_backfill(
                self.spark, self.wh, self.join, self.start_ds, self.end_ds,
                step_days=self.sizes["step_days"],
            )
        return sum(int(v["row_count"]) for v in self.wh.lineage(self.table).values())

    def expected_rows(self) -> int:
        return len(self.spine["qid"])

    def check(self) -> list[str]:
        ev = Events(self.meta)
        urls = set(sample_urls(self.seed, ev))
        rows = [r.asDict() for r in self.wh.read(self.table).collect()]
        return check_join(
            rows, self.spine, self.start_ds, self.end_ds,
            self.gb_t.unpacked(), "url_recent_", self.gb_s.unpacked(), "url_daily_", ev, urls,
        )


# ----------------------------------------------------------------- upload
UPLOAD_GROUPBY = GroupBy(
    name="url_serving",
    sources=(EventSource(table="pages"),),
    key_columns=("url",),
    aggregations=(
        Aggregation("text_len", Operation.COUNT, windows=(Window(1), Window(7), None)),
        Aggregation("text_len", Operation.SUM, windows=(Window(1), Window(7))),
        Aggregation("text_len", Operation.AVERAGE, windows=(Window(30),)),
        Aggregation("text_len", Operation.MAX, windows=(Window(7),)),
        Aggregation("text_len", Operation.LAST, windows=(None,)),
    ),
    accuracy=Accuracy.TEMPORAL,
)


class UploadFetch(Workload):
    name = "upload_fetch"
    sizes = {"pages": 8_000, "urls": 200, "days": 15, "batch": 200, "batches": 2}

    def write_extra(self) -> None:
        """Queries: the last day's crawls, split into fixed-size batches
        (one parquet partition ``b=<i>`` per batch)."""
        ds = gen.ds_of(self.meta["ts"])
        self.last_ds = str(ds[-1])
        self.end_ds = str(np.datetime64(self.last_ds) - np.timedelta64(1, "D"))
        b, nb = self.sizes["batch"], self.sizes["batches"]
        sel = np.flatnonzero(ds == self.last_ds)[: b * nb]
        if len(sel) < b * nb:
            raise ValueError(f"last day has {len(sel)} crawls, fewer than {b * nb} queries")
        self.queries = {
            "qid": np.arange(len(sel), dtype=np.int64),
            "url": gen.url_of(self.meta["url_id"][sel]),
            "ts": self.meta["ts"][sel],
        }
        self.n_batches = nb
        self.q_path = os.path.join(self.inputs, "queries")
        tbl = pa.table({
            "qid": pa.array(self.queries["qid"]),
            "url": pa.array(self.queries["url"], pa.string()),
            "ts": pa.array(self.queries["ts"]),
        })
        for i in range(self.n_batches):
            d = os.path.join(self.q_path, f"b={i}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(tbl.slice(i * b, b), os.path.join(d, "part-0.parquet"))
        self.n_iter = 0

    def iteration(self, tr) -> int:
        spark = self.spark
        art = os.path.join(self.work, f"kv-{self.n_iter}")
        self.n_iter += 1
        events = spark.read.parquet(self.pages_path).select(
            "url", "ts", "ds", F.length("text").alias("text_len"))
        with tr.span("operators.upload.group_by_upload"):
            up = group_by_upload(spark, UPLOAD_GROUPBY, events, self.end_ds)
        with tr.span("upload_write"):
            up.write.mode("overwrite").parquet(art)
        uploaded = spark.read.parquet(art)
        streamed = events.filter(F.col("ds") >= self.last_ds).drop("ds")
        self.results = []
        for i in range(self.n_batches):
            q = spark.read.parquet(os.path.join(self.q_path, f"b={i}"))
            with tr.span("operators.upload.fetch_features"):
                f = fetch_features(spark, UPLOAD_GROUPBY, uploaded, streamed, q, self.end_ds)
            with tr.span("fetch_collect"):
                self.results += f.collect()
        shutil.rmtree(os.path.join(self.work, f"kv-{self.n_iter - 2}"), ignore_errors=True)
        return len(self.results)

    def expected_rows(self) -> int:
        return len(self.queries["qid"])

    def check(self) -> list[str]:
        ev = Events(self.meta)
        urls = set(sample_urls(self.seed, ev))
        rows = [r.asDict() for r in self.results]
        return check_fetch(rows, self.queries, UPLOAD_GROUPBY.unpacked(), ev, urls)


WORKLOADS = {w.name: w for w in (DenseBackfill, SparseJoin, UploadFetch)}
