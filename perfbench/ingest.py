"""``ingest_cycles``: repeated nightly cycles over two merge stores.

Setup loads the last ``STORE_DAYS`` days of every basic series into a
``ParquetMergeStore`` keyed on (series, datetime), and their daily
rollup into a second one keyed on (series, date). Each cycle then:

1. ingests one new day for ``FAST_PER_CYCLE`` 15-minute and
   ``SLOW_PER_CYCLE`` hourly series through
   ``daily_update.ingest_continuous`` (with the compound member graph
   as dependencies; every fetch also re-sends each series' last stored
   point, which the watermark must drop), merges the new points and
   the new daily rows;
2. revises ``REVISED_POINTS`` stored points on two days of each of
   ``REVISED_SERIES`` series, merges them with ``on_conflict="update"``,
   and runs ``changes()`` -> ``changed_ranges_from_cdf`` ->
   ``expand_changed_ranges`` -> ``incremental_daily_refresh``;
3. merges the changed daily rows and calls ``maybe_optimize`` on both
   stores with ``MAX_FRAGMENTS``;
4. reads a just-revised day back from the measurement store.

The cycle's time is the sum of those calls; the harness's own work
between them (writing the fetch file, walking the store directories)
is not in it. The store directories are walked before and after every
commit to count the bytes and files written and the buckets rewritten.

A traced run also times the ``operators`` layer once the cycles are
done: ``refresh_calculated_daily`` over the whole measurement store,
with every basic series' corrections, and its stages corrections ->
daily rollup -> day-of-year stats, each forced on its own with a noop
sink. A stage's self time is its time minus the previous stage's.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

import gen
from oracle import naive, same_values
from reads import load_corrections

STORE_DAYS = 60
FAST_PER_CYCLE = 3
SLOW_PER_CYCLE = 3
REVISED_SERIES = 2
REVISED_POINTS = 12  # per revised day
# compaction runs once a store's snapshot spans more than this many
# version directories: with two merges per store per cycle, every
# cycle compacts both stores, so any run completes at least two
MAX_FRAGMENTS = 2
# traced runs: timed repeats of the operators stages, after one warm-up
REBUILD_REPEATS = 3
OPERATOR_STAGES = ("corrections", "daily", "doy", "refresh")


def _walk(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _manifest(path: str) -> dict:
    """The store's current commit manifest, read from outside it."""
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        return json.load(f)


class IngestCycles:
    OP = "cycle"
    WARMUP = 1  # a cold first cycle varies twice as much run to run
    MIN_OPS = 1
    OP_SECONDS = 13.0  # nominal time of one op on a 4-core host
    STOP_ON_FAILURE = True
    FINAL_CHECKS = 1

    def __init__(self, bench):
        self.b = bench
        if bench.trace:  # the operators rebuild is checked as well
            self.FINAL_CHECKS = 2
        self.dir = os.path.join(bench.inputs, "hydromet")
        self.stores = os.path.join(bench.work, "stores")
        self.commits: list[dict] = []  # one per store call, tagged by op
        self.cycles: dict[int, dict] = {}
        self.op_index = None

    def generate(self) -> dict:
        return gen.hydromet(self.dir, self.b.seed)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from aquacache_spark.operators.daily import daily_rollup
        from aquacache_spark.sources.store import ParquetMergeStore

        spark = self.b.spark
        meas = pd.read_parquet(f"{self.dir}/measurements.parquet",
                               columns=["timeseries_id", "datetime", "value"])
        cut = gen.END - pd.Timedelta(days=STORE_DAYS)
        meas = meas[meas["datetime"] >= cut]
        # the harness's copy of every stored value, kept in step with
        # the revisions so read-backs can be checked
        self.values = meas.set_index(["timeseries_id", "datetime"])["value"]
        self.days = meas.assign(date=meas["datetime"].dt.normalize())
        self.last = meas.groupby("timeseries_id")["datetime"].max().to_dict()
        self.catalog = pd.read_parquet(f"{self.dir}/timeseries.parquet")
        self.catalog = self.catalog[self.catalog["timeseries_type"] == "basic"]
        self.members = spark.read.parquet(
            f"{self.dir}/compounds.parquet").select(
            "timeseries_id", "member_timeseries_id")
        self.m = ParquetMergeStore(spark, f"{self.stores}/measurements",
                                   ["timeseries_id", "datetime"])
        self.d = ParquetMergeStore(spark, f"{self.stores}/daily",
                                   ["timeseries_id", "date"])
        self._commit(self.m, lambda: self.m.merge(
            spark.read.parquet(f"{self.dir}/measurements.parquet")
            .where(F.col("datetime") >= F.lit(str(cut)).cast("timestamp"))
            .select("timeseries_id", "datetime", "value")))
        self._commit(self.d, lambda: self.d.merge(daily_rollup(
            self._read(self.m), keys=["timeseries_id"])))
        self.initial_rows = len(meas)
        self.initial_days = int(self.days.groupby(
            ["timeseries_id", "date"]).ngroups)
        self.new_points = self.new_days = 0
        self.rng = np.random.default_rng([self.b.seed, 20])
        self.commits.clear()

    @staticmethod
    def _read(store):
        return store.read().drop("bucket")

    def _commit(self, store, call, name: str = "store.merge"):
        """Run one store call under a span, with storage accounting
        from outside the store."""
        before = _walk(store.path)
        old = _manifest(store.path)["buckets"] if store.exists() else {}
        t0 = time.perf_counter()
        with self.b.span(name):
            out = call()
        secs = time.perf_counter() - t0
        after = _walk(store.path)
        new = [p for p, st in after.items() if before.get(p) != st]
        now = _manifest(store.path)["buckets"]
        self.commits.append({
            "bytes": sum(after[p][0] for p in new), "files": len(new),
            "buckets": sum(old.get(k) != v for k, v in now.items()),
            "committed": now != old, "op": self.op_index})
        return out, secs

    # -- one cycle ------------------------------------------------------
    def op(self, i: int):
        from pyspark.sql import functions as F

        from aquacache_spark.daily_update import ingest_continuous
        from aquacache_spark.operators.daily import daily_rollup
        from aquacache_spark.streaming.incremental import (
            changed_ranges_from_cdf, expand_changed_ranges,
            incremental_daily_refresh)

        b, spark, rng = self.b, self.b.spark, self.rng
        self.op_index = i
        steps = {}

        def timed(name, call):
            t0 = time.perf_counter()
            with b.span(name):
                out = call()
            steps[name] = steps.get(name, 0.0) + time.perf_counter() - t0
            return out

        def committed(store, call, name="store.merge"):
            out, secs = self._commit(store, call, name)
            steps[name] = steps.get(name, 0.0) + secs
            return out

        # 1. a new day for some series
        day = gen.END + pd.Timedelta(days=i)
        series = sorted(
            [int(x) for x in rng.choice(gen.BASIC_IDS[:gen.N_FAST],
                                        FAST_PER_CYCLE, replace=False)]
            + [int(x) for x in rng.choice(gen.BASIC_IDS[gen.N_FAST:],
                                          SLOW_PER_CYCLE, replace=False)])
        fetched = gen.new_day(b.seed, day, series, self.last)
        path = os.path.join(b.work, f"fetch-{i}.parquet")
        gen.write(fetched, path, "fetch")
        expect_new = len(fetched) - len(series)
        cat = spark.createDataFrame(self.catalog.assign(
            last_data_point=self.catalog["timeseries_id"].map(self.last)))
        rep = timed("daily_update.ingest", lambda: ingest_continuous(
            spark, cat, lambda s, _tasks: s.read.parquet(path),
            self._read(self.m), self._read(self.d),
            dependencies=self.members))
        b.check(rep["new_points"] == expect_new
                and rep["daily_insert"] == len(series)
                and rep["daily_update"] == 0 and rep["tail_trim_rows"] == 0,
                f"cycle {i}: ingest report "
                f"{ {k: v for k, v in rep.items() if k[0] != '_'} }, "
                f"expected {expect_new} new points on {len(series)} new days")
        got = committed(self.m, lambda: self.m.merge(
            spark.read.parquet(path), on_conflict="do_nothing"))
        b.check(got == {"inserted": expect_new, "updated": 0,
                        "kept": len(series)},
                f"cycle {i}: point merge {got}")
        changed = rep["_daily_df"].where(
            F.col("merge_action") != "unchanged").drop("merge_action")
        got = committed(self.d, lambda: self.d.merge(changed))
        b.check(got == {"inserted": len(series), "updated": 0, "kept": 0},
                f"cycle {i}: daily merge of the new day {got}")
        for t in series:
            self.last[t] = fetched.loc[fetched["timeseries_id"] == t,
                                       "datetime"].max()
        self.new_points += expect_new
        self.new_days += len(series)

        # 2. late revisions on stored points
        revs, windows = self._revisions()
        rev_path = os.path.join(b.work, f"revisions-{i}.parquet")
        gen.write(revs, rev_path, "fetch")
        v0 = _manifest(self.m.path)["version"]
        got = committed(self.m, lambda: self.m.merge(
            spark.read.parquet(rev_path), on_conflict="update"))
        b.check(got == {"inserted": 0, "updated": len(revs), "kept": 0},
                f"cycle {i}: revision merge {got}")

        def feed():
            cdf = self.m.changes(v0)
            return {r[0]: r[1] for r in
                    cdf.groupBy("_change_type").count().collect()}, cdf

        kinds, cdf = timed("store.changes", feed)
        b.check(kinds == {"update_preimage": len(revs),
                          "update_postimage": len(revs)},
                f"cycle {i}: change feed {kinds}")
        ranges = timed("incremental.expand", lambda: expand_changed_ranges(
            changed_ranges_from_cdf(cdf), self.members).persist())

        def refresh():
            r = incremental_daily_refresh(
                self._read(self.m), ranges, self._read(self.d),
                lambda s: daily_rollup(s, keys=["timeseries_id"])).persist()
            return r, {x[0]: x[1] for x in
                       r.groupBy("merge_action").count().collect()}

        refreshed, actions = timed("incremental.refresh", refresh)
        expect_rows = sum(
            self.days[(self.days["timeseries_id"] == t)
                      & self.days["date"].between(lo, hi)]["date"].nunique()
            for t, (lo, hi) in windows.items())
        expect_upd = revs.assign(date=revs["datetime"].dt.normalize())[
            ["timeseries_id", "date"]].drop_duplicates().shape[0]
        b.check(actions.get("update", 0) == expect_upd
                and actions.get("insert", 0) == 0
                and sum(actions.values()) == expect_rows,
                f"cycle {i}: refresh actions {actions}, expected "
                f"{expect_upd} updates of {expect_rows} recomputed days")

        # 3. merge the changed daily rows, then compact
        got = committed(self.d, lambda: self.d.merge(refreshed.where(
            F.col("merge_action") != "unchanged").drop("merge_action")))
        b.check(got == {"inserted": 0, "updated": expect_upd, "kept": 0},
                f"cycle {i}: daily merge of revised days {got}")
        refreshed.unpersist()
        ranges.unpersist()
        compactions = sum(
            committed(s, lambda s=s: s.maybe_optimize(MAX_FRAGMENTS),
                      "store.optimize") is not None
            for s in (self.m, self.d))

        # 4. read a just-revised day back
        t = int(revs["timeseries_id"].iloc[0])
        lo = revs.loc[revs["timeseries_id"] == t, "datetime"].min()
        lo, hi = lo.normalize(), lo.normalize() + pd.Timedelta(
            seconds=86399)
        back = timed("store.read", lambda: self._read(self.m).where(
            (F.col("timeseries_id") == t)
            & F.col("datetime").between(F.lit(str(lo)).cast("timestamp"),
                                        F.lit(str(hi)).cast("timestamp"))
        ).toArrow()).to_pandas()
        want = self.values.loc[t]
        want = want[(want.index >= lo) & (want.index <= hi)]
        back = back.sort_values("datetime")
        b.check(len(back) == len(want)
                and (naive(back["datetime"]).values == want.index.values).all()
                and same_values(back["value"], want.values),
                f"cycle {i}: read-back of series {t} on {lo:%Y-%m-%d} "
                "does not show the stored values")

        self.cycles[i] = {
            "steps": steps, "compactions": compactions,
            "points": expect_new + len(revs),
            "recomputed": rep["daily_insert"] + rep["daily_update"]
            + rep["daily_unchanged"] + sum(actions.values()),
            "useful": len(series) + expect_upd,
        }
        return sum(steps.values()), expect_new + len(revs)

    def _revisions(self):
        """``REVISED_POINTS`` consecutive stored points on each of two
        distinct days for ``REVISED_SERIES`` series, each raised by
        0.5-2.0. Returns the rows and each series' revised date span."""
        rng = self.rng
        rows, windows = [], {}
        for t in rng.choice(gen.BASIC_IDS, REVISED_SERIES, replace=False):
            t = int(t)
            stored = self.values.loc[t]
            dates = stored.index.normalize().unique()
            picked = sorted(rng.choice(len(dates) - 1, 2, replace=False))
            for k in picked:
                pts = stored[stored.index.normalize() == dates[k]]
                s0 = int(rng.integers(0, max(1, len(pts) - REVISED_POINTS)))
                pts = pts.iloc[s0:s0 + REVISED_POINTS]
                new = np.round(pts.to_numpy()
                               + rng.uniform(0.5, 2.0, len(pts)), 3)
                self.values.loc[[(t, d) for d in pts.index]] = new
                rows.append(pd.DataFrame({"timeseries_id": np.int32(t),
                                          "datetime": pts.index,
                                          "value": new}))
            windows[t] = (dates[picked[0]], dates[picked[1]])
        return pd.concat(rows, ignore_index=True), windows

    # -- end of run -----------------------------------------------------
    def finish(self) -> int:
        """Both stores hold exactly the loaded rows plus what the
        cycles inserted. Returns 1 when they do not."""
        n_m = self._read(self.m).count()
        n_d = self._read(self.d).count()
        ok = self.b.check(
            n_m == self.initial_rows + self.new_points
            and n_d == self.initial_days + self.new_days,
            f"stores hold {n_m} points and {n_d} days, expected "
            f"{self.initial_rows + self.new_points} and "
            f"{self.initial_days + self.new_days}")
        self.live_dirs = sum(
            d.startswith("v") for s in (self.m, self.d)
            for d in os.listdir(s.path))
        wrong = 0 if ok else 1
        if self.b.trace:
            wrong += 0 if self._rebuild() else 1
        return wrong

    def _rebuild(self) -> bool:
        """Time the operators stages over the measurement store (see
        the module docstring), then check the refresh's keys: every
        basic series, one row per (series, date), dense dates from the
        series' first day to its last stored day. The warm-up repeat
        collects the refresh for the check; timed repeats write to a
        noop sink. ``refresh_calculated_daily`` persists its
        intermediates, so the cache is cleared before every stage."""
        from pyspark.sql import functions as F

        from aquacache_spark.operators.corrections import apply_corrections
        from aquacache_spark.operators.daily import daily_rollup
        from aquacache_spark.operators.doy import doy_stats
        from aquacache_spark.operators.refresh import (
            dense_daily_spine, refresh_calculated_daily)

        key, spark = "timeseries_id", self.b.spark
        raw = self._read(self.m)
        corr = load_corrections(self.dir)

        def corrected():
            return apply_corrections(raw, corr, ts_col=key, out_col="__cv")

        def daily():
            return daily_rollup(corrected(), [key], value_col="__cv")

        def doy():
            return doy_stats(dense_daily_spine(
                daily().select(key, "date", "value"), [key]),
                keys=[key], exact_hist_mean=True)

        def refresh():
            return refresh_calculated_daily(raw, corr, key)

        stages = dict(zip(OPERATOR_STAGES, (corrected, daily, doy, refresh)))
        got = None
        for rep in range(REBUILD_REPEATS + 1):
            self.b.tracer.enabled = rep > 0
            try:
                for name, build in stages.items():
                    spark.catalog.clearCache()
                    with self.b.span(f"operators.{name}"):
                        if rep == 0 and name == "refresh":
                            got = build().select(key, "date").toArrow()
                        else:
                            build().write.format("noop").mode(
                                "overwrite").save()
            finally:
                self.b.tracer.enabled = False
        spark.catalog.clearCache()
        got = got.to_pandas()
        got["date"] = pd.to_datetime(got["date"])
        stored = raw.groupBy(key).agg(
            F.min("datetime").alias("lo"),
            F.max("datetime").alias("hi")).toPandas().set_index(key)
        per = got.groupby(key)["date"].agg(["min", "max", "size"])
        lo = stored["lo"].dt.normalize().reindex(per.index)
        hi = stored["hi"].dt.normalize().reindex(per.index)
        return self.b.check(
            sorted(per.index) == gen.BASIC_IDS
            and not got.duplicated([key, "date"]).any()
            and ((per["max"] - per["min"]).dt.days + 1 == per["size"]).all()
            and (per["min"] >= lo).all() and (per["max"] == hi).all(),
            "refresh_calculated_daily keys: a series is missing, a "
            "(series, date) repeats, or the dates are not dense from "
            "the first day to the last stored day")

    def _of(self, samples: list[dict]):
        ops = {s["i"] for s in samples}
        return ([self.cycles[i] for i in sorted(ops) if i in self.cycles],
                [c for c in self.commits if c["op"] in ops])

    def report(self, plain: list[dict]) -> dict:
        if not plain:
            return {}
        cycles, commits = self._of(plain)
        points = sum(c["points"] for c in cycles)
        return {
            "cycles": len(plain),
            "ingest_cycle_p50_ms": float(np.median(
                [s["s"] * 1000 for s in plain])),
            "ingest_points_per_s": sum(s["items"] for s in plain)
            / sum(s["s"] for s in plain),
            "ingest_bytes_per_point": sum(c["bytes"] for c in commits)
            / max(points, 1),
            "fresh_read_p50_ms": float(np.median(
                [c["steps"]["store.read"] * 1000 for c in cycles])),
            "compactions": sum(c["compactions"] for c in cycles),
            "max_fragments": MAX_FRAGMENTS,
            "live_version_dirs": self.live_dirs,
            "cycle_ms": [s["s"] * 1000 for s in plain],
            "cycle_step_ms": {k: float(np.median([c["steps"].get(k, 0.0)
                                                  for c in cycles])) * 1000
                              for k in (cycles[0]["steps"] if cycles else ())},
            **({"rebuild_input_rows": self.initial_rows + self.new_points,
                "rebuild_rows_per_s": (self.initial_rows + self.new_points)
                / max(self.b.tracer.median_ms("operators.refresh"), 1e-9)
                * 1000} if self.b.trace else {}),
        }

    def layers(self, traced: list[dict]) -> dict:
        t = self.b.tracer
        cycles, commits = self._of(traced)
        n = max(len(cycles), 1)
        written = [c for c in commits if c["committed"]]
        return {
            "store.merge_ms": t.median_ms("store.merge"),
            "store.changes_ms": t.median_ms("store.changes"),
            "store.optimize_ms": t.median_ms("store.optimize"),
            "store.read_ms": t.median_ms("store.read"),
            "store.buckets_rewritten": sum(c["buckets"] for c in written)
            / max(len(written), 1),
            "store.bytes_written": sum(c["bytes"] for c in commits) / n,
            "store.files_written": sum(c["files"] for c in commits) / n,
            "store.live_version_dirs": self.live_dirs,
            "daily_update.ingest_ms": t.median_ms("daily_update.ingest"),
            "incremental.expand_ms": t.median_ms("incremental.expand"),
            "incremental.refresh_ms": t.median_ms("incremental.refresh"),
            "incremental.rows_recomputed":
                sum(c["recomputed"] for c in cycles) / n,
            "incremental.useful_ratio": sum(c["useful"] for c in cycles)
            / max(sum(c["recomputed"] for c in cycles), 1),
            **self._operator_layers(),
        }

    def _operator_layers(self) -> dict:
        """Self time per operators stage: the median time of a stage
        forced alone, minus that of the stage before it; the refresh
        is the whole composition."""
        t = self.b.tracer
        cum = [t.median_ms(f"operators.{k}") for k in OPERATOR_STAGES]
        return {"corrections.ms": cum[0], "daily.rollup_ms": cum[1] - cum[0],
                "doy.stats_ms": cum[2] - cum[1], "refresh.total_ms": cum[3]}
