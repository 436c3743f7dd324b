"""The paper's workload: the ARK holdings refresh.

Set-up writes each fund's cache as a previous run left it (days
``[BACKFILL, DAYS)``) and each fund's older CSV history (days
``[0, BACKFILL)``), then warms up on a throwaway root with the timed
pass's ops, once each. The warm-up caches are checked too.

One pass publishes day ``DAYS + i``:

1. ``csv_backfill`` of one fund's CSV history into its cache (fund
   ``i mod 8``);
2. ``scheduled_run(max_workers=2)`` over the 8 scheduled funds through
   the fixture provider, shape ``i mod 3`` (nexveridian JSON first, the
   scheduler's default), re-delivering the watermark day;
3. one ``write_lake_committed`` of the day's new rows.

After the last pass one ``compact_lake`` closes the timed phase.
"""

from __future__ import annotations

import os
import shutil
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from ark_invest_api_rust_data_spark import pipeline
from ark_invest_api_rust_data_spark.sources import parquet_store
from ark_invest_api_rust_data_spark.tickers import Source

import fixtures as fx

# (history days, of which backfilled from CSV, holdings per fund)
SCALES = {"bench": (400, 100, 30), "tiny": (20, 5, 12)}
CACHE_SCHEMA = pa.schema([
    ("date", pa.date32()), ("ticker", pa.string()), ("cusip", pa.string()),
    ("company", pa.string()), ("market_value", pa.int64()), ("shares", pa.int64()),
    ("share_price", pa.float64()), ("weight", pa.float64()),
])
COLS = CACHE_SCHEMA.names


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


class HoldingsRefresh:
    """The holdings workload over one work directory (see the module doc)."""

    def __init__(self, spark, rec, seed: int, work: str, scale: str):
        self.spark, self.rec, self.work = spark, rec, work
        self.days, self.backfill, holdings = SCALES[scale]
        self.fx = fx.Holdings(seed, holdings)
        self.csv_root = f"{work}/csv"
        self.root, self.lake = f"{work}/cache", f"{work}/lake"
        self.passes = 0
        self.backfilled: list[str] = []
        self.fetched_rows = 0
        self._count_lock = threading.Lock()
        self.cache_bytes = self.lake_bytes = 0
        self.lake_files = 0
        fund = lambda a, k: a[1].name  # noqa: E731 - (spark, ticker, ...)
        rec.op_wrapper(pipeline, "refresh_ticker", "refresh", "pipeline", fund)
        rec.op_wrapper(pipeline, "csv_backfill", "backfill", "pipeline", fund)

    # -- set-up ------------------------------------------------------
    def inputs(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for f in fx.FUNDS:
            os.makedirs(f"{self.csv_root}/{f.name}")
            with open(f"{self.csv_root}/{f.name}/history.csv", "w") as out:
                out.write(self.fx.csv_text(f.name, 0, self.backfill - 1))
            rows = sorted(self.fx.expected(f.name, self.backfill, self.days - 1))
            table = pa.Table.from_pylist([dict(zip(COLS, r)) for r in rows], CACHE_SCHEMA)
            for root in (self.root, f"{self.work}/warm"):
                os.makedirs(root, exist_ok=True)
                pq.write_table(table, f"{root}/{f.name}.parquet")

    def warmup(self) -> None:
        """The timed pass's ops, once each on a throwaway root: a refresh
        (nexveridian JSON) beside a backfill, then a lake commit."""
        warm = f"{self.work}/warm"
        fetch = self.fx.fetcher(self.days, self._count)
        f0, f1 = fx.FUNDS[:2]
        with ThreadPoolExecutor(max_workers=2) as pool:
            jobs = [pool.submit(pipeline.refresh_ticker, self.spark, f0, fx.SHAPES[0], warm, fetch),
                    pool.submit(pipeline.csv_backfill, self.spark, f1, self.csv_root, warm)]
            for job in jobs:
                job.result()
        parquet_store.write_lake_committed(self._delta(warm, self.days), f"{self.work}/warm_lake")
        self.warm_ok = (
            self._cache_rows(warm, f0)[1] == self.fx.expected(f0.name, self.backfill, self.days)
            and self._cache_rows(warm, f1)[1] == self.fx.expected(f1.name, 0, self.days - 1))
        self.fetched_rows = 0

    # -- timed -------------------------------------------------------
    def one_pass(self) -> None:
        i = self.passes
        day = self.days + i
        fund = fx.FUNDS[i % len(fx.FUNDS)]
        pipeline.csv_backfill(self.spark, fund, self.csv_root, self.root)
        self.backfilled.append(fund.name)
        self.cache_bytes += os.path.getsize(f"{self.root}/{fund.name}.parquet")
        # a ticker's error is recorded by its refresh op's wrapper
        fetch = self.fx.fetcher(day, self._count)

        def provider(url: str) -> str:  # the fixture's own time is not the pipeline's
            with self.rec.span("bench"):
                return fetch(url)

        pipeline.scheduled_run(self.spark, source=fx.SHAPES[i % len(fx.SHAPES)],
                               root=self.root, fetcher=provider, max_workers=2)
        self.cache_bytes += sum(os.path.getsize(f"{self.root}/{f.name}.parquet")
                                for f in fx.FUNDS)
        before = _dir_bytes(self.lake)
        with self.rec.op("lake_commit"):
            parquet_store.write_lake_committed(self._delta(self.root, day), self.lake)
        self.lake_bytes += _dir_bytes(self.lake) - before
        self.passes += 1

    def finish(self) -> None:
        self.lake_files = sum(1 for _, _, fs in os.walk(self.lake)
                              for n in fs if n.endswith(".parquet"))
        with self.rec.op("compact"):
            parquet_store.compact_lake(self.spark, self.lake)

    def _delta(self, root: str, day: int):
        out = None
        for f in fx.FUNDS:
            d = parquet_store.read_ticker(self.spark, root, f.name)
            d = d.filter(F.col("date") == F.lit(self.fx.day(day)))
            out = d if out is None else out.unionByName(d)
        return out

    def _count(self, rows: int) -> None:
        with self._count_lock:  # scheduled_run fetches from two threads
            self.fetched_rows += rows

    # -- checks ------------------------------------------------------
    def check(self) -> tuple[set[str], dict]:
        """Compare every cache and the lake with the model. Returns the op
        names whose output is wrong (``refresh:<fund>``, ``backfill:<fund>``,
        ``lake_commit``, ``compact``) and the counters the checks read."""
        bad: set[str] = set()
        last = self.days + self.passes - 1
        dup_rows = 0
        if not self.warm_ok:  # the refresh path wrote a wrong cache
            bad.add("refresh")
        for f in fx.FUNDS:
            n, got = self._cache_rows(self.root, f)
            # a re-delivered day can leave exact duplicates (the known
            # dedupe-before-fixpoint defect); they are counted, not failed
            dup_rows += n - len(got)
            first = 0 if f.name in self.backfilled else self.backfill
            if got != self.fx.expected(f.name, first, last) or max(r[0] for r in got) != self.fx.day(last):
                bad.add(f"refresh:{f.name}")
                if f.name in self.backfilled:
                    bad.add(f"backfill:{f.name}")
        lake = parquet_store.read_lake(self.spark, self.lake).select(*COLS).collect()
        want = Counter()
        for day in range(self.days, last + 1):
            for f in fx.FUNDS:
                want.update(self.fx.expected(f.name, day, day))
        if Counter(tuple(r) for r in lake) != want:
            bad.update({"lake_commit", "compact"})
        return bad, {
            "operators.merge.dup_rows": dup_rows,
            "sources.data_reader.rows": self.fetched_rows / self.passes,
            "sources.parquet_store.bytes_written":
                (self.cache_bytes + self.lake_bytes) / 2**20 / self.passes,
            "sources.parquet_store.write_amp":
                (self.cache_bytes + self.lake_bytes) / max(self.lake_bytes, 1),
            "sources.parquet_store.lake_files": self.lake_files,
            "sources.parquet_store.compact_bytes": _dir_bytes(self.lake) / 2**20,
        }

    def _cache_rows(self, root: str, fund) -> tuple[int, set]:
        rows = parquet_store.read_ticker(self.spark, root, fund.name).collect()
        return len(rows), {tuple(r) for r in rows}

    def op_failed(self, op: dict, bad: set[str]) -> bool:
        return op["name"] in bad or f"{op['name']}:{op.get('key')}" in bad
