"""``ingest`` workload: the streaming dashboard service. Each operation is
one micro-batch committed and then seen on the dashboard.

The events are the sf0.1 ``events`` table (100k events over 30 days).
Set-up builds the events table of days 0-23 (one commit, one data file per
day, ``stats_cols=["ts"]``: the small-file, stats-pruned layout the
streaming sink leaves), folds those days into both fold states as epoch
-1, and runs epoch 0 as the warm-up. The later events arrive in half-day
epochs; a seed-chosen ``LATE_FRAC`` of them arrive one epoch late. One
operation is:

1. the streaming sink's foreachBatch body for one epoch, called
   directly: GitHub-event JSON lines -> ``process_raw_events`` ->
   ``append_snapshot_epoch`` -> ``combine_hourly_partial`` (overwrite-
   whole-state fold) and ``append_histogram_batch`` (epoch-partitioned
   fold);
2. one dashboard refresh over a one-day window: ``read_table`` with
   ``prune`` -> ``dashboard_stats`` -> all six panels through
   ``to_json_rows``;
3. one ``list_events`` page and total.

Its wall time is the freshness: from the lines being handed to the sink
until the dashboard shows them. The run reports, over the first
``MIN_OPS`` operations, the median CPU seconds per operation
(``op_cpu_s``) and per steps 2-3 (``read_cpu_s``); wall seconds, raw and
steal-adjusted, are in the run record.
The seed draws the late events, the refreshed day (the epoch's own day or
one of the five before it), the page's event-type filter and page number,
and which committed epoch is delivered a second time after the second
operation (an at-least-once replay, timed apart; it must change nothing).
Traced runs then run the relational pass (``relational.py``) once.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import duckdb
import numpy as np
import pandas as pd

import gen
import relational
from common import median

BASE_DAYS = 24
EPOCH_HOURS = 12
N_EPOCHS = (gen.DAYS - BASE_DAYS) * 24 // EPOCH_HOURS  # 12; epoch 0 is the warm-up
MIN_OPS = 2
REPLAY_AFTER_OP = 1
HIST_BINS = 64
BASE_EPOCH = -1
LATE_FRAC = 0.05

PANELS = (
    "totals",
    "type_distribution",
    "category_distribution",
    "hourly_series",
    "top_entities",
    "recent",
)


def _epoch_bounds(e: int) -> tuple[dt.datetime, dt.datetime]:
    lo = gen.T0 + dt.timedelta(days=BASE_DAYS, hours=EPOCH_HOURS * e)
    return lo, lo + dt.timedelta(hours=EPOCH_HOURS)


def _to_table_rows(flat):
    """Flattened GitHub events -> the events table's schema (the service's
    own projection; the payload carries the measure)."""
    from pyspark.sql import functions as F

    return flat.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("created_at").alias("ts"),
        F.col("actor_id").cast("bigint").alias("user_id"),
        "event_type",
        F.get_json_object("payload_json", "$.value").cast("double").alias("value"),
        F.col("payload_json").alias("props"),
    )


class Ingest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.table = ctx.path("events_tbl")
        self.hourly = ctx.path("hourly")
        self.hist = ctx.path("hist")
        self.events = gen.table("events")
        rng = np.random.default_rng([ctx.seed, 10])
        # arrival epoch of every event: -1 for the base days, else its
        # half-day, or the next one for the late events
        hours = (self.events["ts"] - gen.T0).dt.total_seconds() // 3600 - BASE_DAYS * 24
        late = rng.random(len(self.events)) < LATE_FRAC
        self.arrival = np.where(hours < 0, BASE_EPOCH, hours // EPOCH_HOURS + late).astype(int)
        # per epoch: refreshed day offset, page filter, page number
        self.reads = {
            e: (int(rng.integers(0, 6)), str(rng.choice(gen.EVENT_TYPES)), int(rng.integers(0, 6)))
            for e in range(N_EPOCHS)
        }
        self.replay_epoch = int(rng.integers(0, REPLAY_AFTER_OP + 2))
        self.lines: dict[int, list[str]] = {}
        self.committed: list[int] = []
        self.failures = 0
        self.attempted = 0
        self.ops: list[dict] = []  # measured regions (wall_s, cpu_s)
        self.reads_: list[dict] = []
        self.replay_s: list[float] = []
        self.checks: list[list[bool]] = []

    def _epoch_events(self, e: int) -> pd.DataFrame:
        return self.events[self.arrival == e]

    def setup(self):
        from pyspark.sql import functions as F

        from demo_bigdata_spark.operators import sketches as K
        from demo_bigdata_spark.sources import snapshots as S
        from demo_bigdata_spark.streaming import pipeline as P

        with self.tr.span("bench.fixture"):
            df = self.spark.read.parquet(os.path.join(gen.data_dir(), "events.parquet")).filter(
                F.col("ts") < gen.T0 + dt.timedelta(days=BASE_DAYS)
            )
            S.create_table(self.spark, self.table, df.repartitionByRange(BASE_DAYS, "ts"), stats_cols=["ts"])
            # both folds hold the base days as epoch -1, so every timed
            # epoch merges into existing state (the warm-up included)
            P.combine_hourly_partial(self.spark, self.hourly, df, BASE_EPOCH)
            K.append_histogram_batch(
                self.spark, df, self.hist, BASE_EPOCH, "value", 0.0, gen.VALUE_HI, n_bins=HIST_BINS
            )
            for e in range(N_EPOCHS):
                self.lines[e] = gen.github_lines(self._epoch_events(e), self.ctx.seed, e)
        with self.tr.span("session.warmup"):
            self._op(0)

    # --- one operation --------------------------------------------------------

    def _sink(self, e: int):
        """The foreachBatch body for epoch ``e``'s lines. Returns the parse
        span and the parsed batch."""
        from demo_bigdata_spark.operators import ingest as I
        from demo_bigdata_spark.operators import sketches as K
        from demo_bigdata_spark.sources import snapshots as S
        from demo_bigdata_spark.streaming import pipeline as P

        raw = self.spark.createDataFrame([(x,) for x in self.lines[e]], "raw_json string")
        with self.tr.span("operators.ingest.process_raw_events", rows_in=len(self.lines[e])) as sp:
            # one parse feeds the commit and both folds
            batch = _to_table_rows(I.process_raw_events(raw)).localCheckpoint(eager=True)
        with self.tr.span("sources.snapshots.append_snapshot_epoch"):
            S.append_snapshot_epoch(self.spark, self.table, batch, e, stats_cols=["ts"])
        with self.tr.span("streaming.pipeline.combine_hourly_partial"):
            P.combine_hourly_partial(self.spark, self.hourly, batch, e)
        with self.tr.span("operators.sketches.append_histogram_batch"):
            K.append_histogram_batch(
                self.spark, batch, self.hist, e, "value", 0.0, gen.VALUE_HI, n_bins=HIST_BINS
            )
        return sp, batch

    def _refresh(self, lo, hi, etype: str, page: int):
        from demo_bigdata_spark import serving
        from demo_bigdata_spark.sources import snapshots as S

        with self.tr.span("sources.snapshots.read_table") as rt:
            df = S.read_table(self.spark, self.table, prune={"ts": (lo, hi)})
        panels = serving.dashboard_stats(df, start=lo, end=hi)
        out = {}
        for name in PANELS:
            with self.tr.span(f"serving.panel.{name}"):
                out[name] = [json.loads(r) for r in serving.to_json_rows(panels[name])]
        with self.tr.span("serving.list_events"):
            page_df, total_df = serving.list_events(df, page=page, event_type=etype)
            out["page"] = [json.loads(r)["event_id"] for r in serving.to_json_rows(page_df)]
            out["total"] = total_df.collect()[0]["total"]
        return out, rt, df

    def _op(self, e: int):
        day_off, etype, page = self.reads[e]
        day = _epoch_bounds(e)[0].replace(hour=0) - dt.timedelta(days=day_off)
        lo, hi = day, day + dt.timedelta(days=1)
        with self.ctx.timed("op") as op, self.tr.span("ingest.op"):
            sp, batch = self._sink(e)
            with self.ctx.timed("read") as read, self.tr.span("dashboard.refresh"):
                out, rt, df = self._refresh(lo, hi, etype, page)
        self.committed.append(e)
        with self.tr.span("bench.check"):
            if self.ctx.trace:
                self._layer_counts(e, sp, batch, rt, df)
            ok = self._check_refresh(lo, hi, etype, page, out)
        return op, read, ok

    def _layer_counts(self, e: int, sp: dict, batch, rt: dict, df):
        """Traced runs only: counts that need a Spark action or the
        manifest, taken after the operation."""
        from demo_bigdata_spark.sources import snapshots as S

        sp["rows_out"] = batch.count()
        files = S.table_files(self.spark, self.table)
        commit = self.tr.named("sources.snapshots.append_snapshot_epoch")[-1]
        commit["manifest_rows"] = files.count()
        commit["files_written"] = files.filter(f"kind = 'data' AND epoch_id = {e}").count()
        n_data = files.filter("kind = 'data'").count()
        rt["prune_ratio"] = len(df.inputFiles()) / n_data

    def _replay(self, e: int) -> float:
        from demo_bigdata_spark.sources import snapshots as S

        snap = S.current_snapshot(self.table)
        t0 = time.perf_counter()
        with self.tr.span("streaming.pipeline.replay_skip"):
            self._sink(e)
        elapsed = time.perf_counter() - t0
        self.attempted += 1
        self.failures += S.current_snapshot(self.table) != snap
        return elapsed

    def step(self, i: int):
        op, read, ok = self._op(i + 1)
        self.attempted += 1
        self.failures += not all(ok)
        self.checks.append(ok)
        self.ops.append(op)
        self.reads_.append(read)
        if i == REPLAY_AFTER_OP:
            self.replay_s.append(self._replay(self.replay_epoch))

    # --- output checks (outside the timed regions) ----------------------------

    def _expected(self, lo=None, hi=None) -> pd.DataFrame:
        """Committed events in [lo, hi): the base days plus every committed
        epoch."""
        ev = self.events
        m = np.isin(self.arrival, [BASE_EPOCH, *self.committed])
        if lo is not None:
            m &= (ev["ts"] >= lo) & (ev["ts"] < hi)
        return ev[m]

    def _check_refresh(self, lo, hi, etype, page, out) -> list[bool]:
        """Every panel, the page and the total equal a DuckDB recompute
        over the committed events of the window (the registered oracle
        twins of the dashboard queries)."""
        from demo_bigdata_spark.suites import suite_analytics as SA

        con = duckdb.connect()
        try:
            con.register("events", self._expected(lo, hi))

            def q(sql):
                return con.sql(sql).fetchall()

            ok = [
                [(r["total_events"], r["unique_user_id"], r["unique_event_type"]) for r in out["totals"]]
                == q(SA.SQL_GLOBAL_STATS)
            ]
            for name, sql, key in (
                ("type_distribution", SA.SQL_TYPE_DISTRIBUTION, "event_type"),
                ("category_distribution", SA.SQL_CATEGORY_DISTRIBUTION, "event_category"),
            ):
                got = [(r[key], r["event_count"], round(r["percentage"], 2)) for r in out[name]]
                ok.append(got == [(a, b, round(float(c), 2)) for a, b, c in q(sql)])
            ok.append(
                [(r["hour"], r["event_count"]) for r in out["hourly_series"]]
                == q(SA.SQL_HOURLY_SERIES)
            )
            got = [
                (r["user_id"], r["event_count"], r["unique_event_type"], ",".join(r["event_types"]))
                for r in out["top_entities"]
            ]
            ok.append(got == q(SA.SQL_TOP_USERS))
            ok.append(
                [r["event_id"] for r in out["recent"]]
                == [r[0] for r in q(SA.SQL_RECENT_EVENTS)]
            )
            where = f"WHERE event_type = '{etype}'"
            ok.append(
                out["page"]
                == [
                    r[0]
                    for r in q(
                        f"SELECT event_id FROM events {where} "
                        f"ORDER BY ts DESC, event_id LIMIT 100 OFFSET {page * 100}"
                    )
                ]
            )
            ok.append(out["total"] == q(f"SELECT count(*) FROM events {where}")[0][0])
            return ok
        finally:
            con.close()

    def final_check(self) -> bool:
        """Committed row count and hourly sums equal those of the base days
        plus the generated well-formed lines, and the histogram holds every
        committed event once: the replay changed nothing."""
        from pyspark.sql import functions as F

        from demo_bigdata_spark.operators import sketches as K
        from demo_bigdata_spark.sources import snapshots as S

        with self.tr.span("bench.check"):
            committed = self._expected()
            ok = S.read_table(self.spark, self.table).count() == len(committed)
            want = (
                committed.assign(bucket=committed["ts"].dt.floor("h"))
                .groupby("bucket")
                .agg(n=("value", "size"), s=("value", "sum"))
            )
            got = {
                r["bucket"]: (r["n"], r["sum_value"])
                for r in self.spark.read.parquet(self.hourly).collect()
            }
            ok &= len(got) == len(want) and all(
                got.get(b.to_pydatetime(), (None,))[0] == r.n
                and abs(got[b.to_pydatetime()][1] - r.s) < 1e-6
                for b, r in want.iterrows()
            )
            hist_n = K.read_histogram(self.spark, self.hist).agg(F.sum("n")).first()[0]
            ok &= hist_n == len(committed)
        return bool(ok)


def run(ctx) -> dict:
    w = Ingest(ctx)
    w.setup()
    ctx.end_setup()
    ctx.window = (time.time(), None)
    n = ctx.timed_loop(w.step, MIN_OPS, N_EPOCHS - 1)
    ctx.window = (ctx.window[0], time.time())
    # the relational pass runs in traced runs only (see README: time budget)
    rel = relational.phase(ctx) if ctx.trace else {"wall_s": None, "checks": {}}
    if not w.final_check():
        w.failures = w.attempted
    w.attempted += len(rel["checks"])
    w.failures += sum(not ok for ok in rel["checks"].values())
    events = sum(len(w._epoch_events(e + 1)) for e in range(n))
    op_s = [r["wall_s"] for r in w.ops]
    fixed, fixed_reads = w.ops[:MIN_OPS], w.reads_[:MIN_OPS]
    k = max(1, len(op_s) // 4)
    first, last = median(op_s[:k]), median(op_s[-k:])
    return {
        "attempted": w.attempted,
        "failed": w.failures,
        "correct": w.failures == 0,
        # the first MIN_OPS operations only: the time box changes how many
        # more run, not what these figures measure
        "e2e": {
            "op_cpu_s": median(r["cpu_s"] for r in fixed),
            "read_cpu_s": median(r["cpu_s"] for r in fixed_reads),
        },
        "wall": {
            "op_s": median(r["wall_s"] for r in fixed),
            "op_adj_s": median(r["adj_s"] for r in fixed),
            "read_s": median(r["wall_s"] for r in fixed_reads),
        },
        "layers": {
            "ingest.epoch_growth.first_s": first,
            "ingest.epoch_growth.last_s": last,
            "ingest.epoch_growth.ratio": last / first,
        },
        "detail": {
            "op_s": op_s,
            "op_cpu_s": [r["cpu_s"] for r in w.ops],
            "read_s": [r["wall_s"] for r in w.reads_],
            "read_cpu_s": [r["cpu_s"] for r in w.reads_],
            "replay_s": w.replay_s,
            "relational_s": rel["wall_s"],
            "relational_checks": rel["checks"],
            "epochs": w.committed,
            "events_committed": events,
            "events_per_s": events / sum(op_s),
            "checks": w.checks,
            "inputs": gen.digest(pd.DataFrame({"arrival": w.arrival}), *w.lines.values()),
        },
    }
