"""The tick-store workload: tstables' own job on ``TimeSeriesTable``.

Set-up creates a series of seeded synthetic ticks (``ts, symbol,
price``), appends HISTORY_DAYS UTC days of history in one call and runs
WARM_ROUNDS untimed rounds. Each timed round appends the next hour of
ticks, then runs 1-hour reads, 7-day reads, point lookups and
``min_dt``/``max_dt`` over the grown table, checking every answer
against the generated ticks.

At ROWS_PER_DAY (4 cores) a 1-hour read takes about 0.18 s and a
7-day read (1.4M rows) about 0.52 s: narrow reads are bound by fixed
per-call cost (plan, file listing, job launch) and wide reads by the
scan, so a fix to one shows on one side. Appends of one hour (8.3k rows)
take about 0.2 s and add a file per call, so a fix that taxes writes or
storage to speed reads shows in the same round.

The history alone has more than 32 date partitions, so every read pays
the listing of the whole series (above 32 paths Spark lists partitions
with a parallel job). That cost grows with the table, not with the range
returned, and it is measured from the first round on; no run straddles
the step.
"""

from __future__ import annotations

import os
from contextlib import contextmanager, nullcontext
from datetime import datetime, timedelta, timezone

import numpy as np

from perfbench.core import Tracer, median

HISTORY_DAYS = 40
ROWS_PER_DAY = 200_000
BATCHES_PER_DAY = 24
WARM_ROUNDS = 2
SYMBOLS = np.array(["EURUSD", "USDJPY", "GBPUSD", "AUDUSD"])
DAY0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000

# One round's operations, in order after its append.
NARROW_READS = 4
WIDE_READS = 1
POINT_READS = 2
NARROW_US = HOUR_US
WIDE_US = 7 * DAY_US

OP_KINDS = ("append", "read_narrow", "read_wide", "read_at", "minmax")


def to_dt(us: int) -> datetime:
    return DAY0 + timedelta(microseconds=int(us))


def to_us(dt) -> int:
    return (dt - DAY0) // timedelta(microseconds=1)


class TickGen:
    """Deterministic ticks per seed. Timestamps are microseconds after
    DAY0, drawn at millisecond resolution so ties occur."""

    def __init__(self, seed: int):
        self.seed = seed

    def day(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        rng = np.random.default_rng([self.seed, i])
        ts = i * DAY_US + np.sort(rng.integers(0, DAY_US // 1000, ROWS_PER_DAY)) * 1000
        sym = rng.integers(0, len(SYMBOLS), ROWS_PER_DAY)
        price = 100.0 + np.cumsum(rng.normal(0.0, 0.01, ROWS_PER_DAY))
        return ts, sym, price

    def days(self, first: int, n: int):
        parts = [self.day(i) for i in range(first, first + n)]
        return tuple(np.concatenate(col) for col in zip(*parts))

    def batch(self, k: int):
        """The k-th append after the history: one hour."""
        day = HISTORY_DAYS + k // BATCHES_PER_DAY
        q = k % BATCHES_PER_DAY
        ts, sym, price = self.day(day)
        lo = day * DAY_US + q * DAY_US // BATCHES_PER_DAY
        hi = lo + DAY_US // BATCHES_PER_DAY
        keep = (ts >= lo) & (ts < hi)
        return ts[keep], sym[keep], price[keep]


def frame(ts: np.ndarray, sym: np.ndarray, price: np.ndarray):
    """The reference's input shape: a tz-aware UTC DatetimeIndex."""
    import pandas as pd

    idx = pd.DatetimeIndex(
        pd.to_datetime(ts + int(DAY0.timestamp()) * 1_000_000, unit="us", utc=True), name="ts"
    )
    return pd.DataFrame({"symbol": SYMBOLS[sym], "price": price}, index=idx)


@contextmanager
def instrumented(tracer, table):
    """Spans around the two halves of a range read: the ``read_range``
    call (plan and file listing) and the ``toPandas`` of the frame it
    returns (execution and transfer). The public entry points stay the
    ones called; only their callees are wrapped, for one traced pass."""

    read_range = table.read_range

    def traced_read_range(*a, **k):
        with tracer.span("tstable.read_range"):
            df = read_range(*a, **k)
        to_pandas = df.toPandas

        def traced_to_pandas():
            with tracer.span("exec.collect"):
                return to_pandas()

        df.toPandas = traced_to_pandas
        return df

    table.read_range = traced_read_range
    try:
        yield
    finally:
        del table.read_range


class TickStore:
    def __init__(self, seed: int, tmp: str):
        self.gen = TickGen(seed)
        self.root = os.path.join(tmp, "series")
        self.rng = np.random.default_rng([seed, 1 << 30])
        self.batches = 0
        self.table = None
        self.ts = np.empty(0, dtype=np.int64)  # every appended tick, sorted

    def prepare(self) -> None:
        pass

    def setup(self, spark, tracer, checks) -> None:
        from pyspark.sql import types as T

        from tstables_spark import TimeSeriesTable

        schema = T.StructType(
            [
                T.StructField("ts", T.TimestampType()),
                T.StructField("symbol", T.StringType()),
                T.StructField("price", T.DoubleType()),
            ]
        )
        with tracer.span("tstable.create"):
            self.table = TimeSeriesTable.create(spark, self.root, "ticks", schema)
        ts, sym, price = self.gen.days(0, HISTORY_DAYS)
        with tracer.span("tstable.history"):
            self.table.append_pandas(frame(ts, sym, price))
        self.ts = ts
        # untimed rounds, so the timed ones find the read paths warm;
        # round walls fall (JIT) over about the first five rounds, but
        # the run-time budget affords two
        for r in range(WARM_ROUNDS):
            self.run_pass(spark, Tracer(tracer.run_id, False), -1 - r, checks)

    # -- one round ------------------------------------------------------------

    def _window(self, width: int) -> tuple[int, int]:
        lo, hi = int(self.ts[0]), int(self.ts[-1]) - width
        start = int(self.rng.integers(lo, max(hi, lo + 1)) // 1000 * 1000)
        return start, start + width

    def _check_range(self, pdf, start: int, end: int) -> bool:
        lo = np.searchsorted(self.ts, start, "left")
        hi = np.searchsorted(self.ts, end, "right")
        if len(pdf) != hi - lo:
            return False
        return hi == lo or (
            to_us(pdf.index[0]) == self.ts[lo] and to_us(pdf.index[-1]) == self.ts[hi - 1]
        )

    def _check_at(self, pdf, at: int) -> bool:
        i = np.searchsorted(self.ts, at, "right") - 1
        if i < 0:
            return len(pdf) == 0
        hit = self.ts[i]
        want = i + 1 - np.searchsorted(self.ts, hit, "left")
        return len(pdf) == want and to_us(pdf.index[0]) == hit

    def _ops(self):
        """(kind, call, check) for one round, windows drawn from the
        seeded stream over the table as it stands after the append."""
        ts, sym, price = self.gen.batch(self.batches)
        t = self.table

        def append():
            t.append_pandas(frame(ts, sym, price))
            self.ts = np.concatenate([self.ts, ts])
            self.batches += 1
            return None

        yield "append", append, lambda _: True
        for kind, n, width in (
            ("read_narrow", NARROW_READS, NARROW_US),
            ("read_wide", WIDE_READS, WIDE_US),
        ):
            for _ in range(n):
                a, b = self._window(width)
                yield (
                    kind,
                    lambda a=a, b=b: t.read_range_pandas(to_dt(a), to_dt(b)),
                    lambda pdf, a=a, b=b: self._check_range(pdf, a, b),
                )
        for _ in range(POINT_READS):
            at = int(self.rng.integers(self.ts[0], self.ts[-1] + 1))
            yield (
                "read_at",
                lambda at=at: t.read_at_pandas(to_dt(at)),
                lambda pdf, at=at: self._check_at(pdf, at),
            )
        yield (
            "minmax",
            lambda: (t.min_dt(), t.max_dt()),
            lambda mm: to_us(mm[0]) == self.ts[0] and to_us(mm[1]) == self.ts[-1],
        )

    def run_pass(self, spark, tracer, pass_no: int, out) -> None:
        sc = spark.sparkContext
        with instrumented(tracer, self.table) if tracer.enabled else nullcontext():
            for i, (kind, call, check) in enumerate(self._ops()):
                if tracer.enabled:
                    sc.setJobGroup(f"tick|{kind}|{pass_no}|{i}", kind)
                out.run(tracer, f"tstable.{kind}", kind, call, check)

    # -- traced metrics ------------------------------------------------------

    def stored(self) -> tuple[int, int]:
        """(parquet data files, bytes on disk) of the series."""
        files = size = 0
        for d, _, names in os.walk(self.table.path):
            for n in names:
                size += os.path.getsize(os.path.join(d, n))
                files += n.endswith(".parquet")
        return files, size

    def layer_metrics(self, tracer, groups, out) -> dict[str, float]:
        m: dict[str, float] = {}
        for kind in OP_KINDS:
            ops = [s for s in tracer.spans if s.name == f"tstable.{kind}"]
            stats = [g for name, g in groups.items() if name.startswith(f"tick|{kind}|")]
            n = len(ops)
            m[f"tstable.{kind}.p50_s"] = median(s.end - s.start for s in ops)
            m[f"tstable.{kind}.jobs"] = sum(g.jobs for g in stats) / n
            if kind == "append":
                m["tstable.append.task_s"] = sum(g.task_s for g in stats) / n
            if kind in ("read_narrow", "read_wide"):
                for child, metric in (("tstable.read_range", "construct_s"), ("exec.collect", "collect_s")):
                    m[f"tstable.{kind}.{metric}"] = (
                        sum(c.end - c.start for s in ops for c in tracer.children(s) if c.name == child) / n
                    )
                rows = sum(s.attrs.get("rows", 0) for s in ops)
                m[f"tstable.{kind}.scan_rows_per_result"] = sum(g.scan_rows for g in stats) / max(rows, 1)
                m[f"tstable.{kind}.files_read"] = sum(g.files_read for g in stats) / n
        files, size = self.stored()
        m["tstable.files"] = files
        m["tstable.bytes"] = size
        m["tstable.stored_bytes_per_row"] = size / len(self.ts)
        return m
