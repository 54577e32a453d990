"""``series_reads``: random single-series reads through ``api.py``.

One operation is a page of five reads, one client issuing them one
after another: corrected windows of basic series
over 1 and 90 days, a 7-day compound window (priority fallback or
expression), a 1-year window of 6-hour means and a 30-day window of
daily values with day-of-year stats, the last two over any series, in
a seeded order. Every page has the same mix, so page times are steady
where single-read times are a mixture. The mix and the window lengths
are assumed, not taken from observed traffic; the report line gives
each kind's measured share of page time. Within each pool, series are
drawn with a Zipf skew over a seed-shuffled order that alternates
15-minute and hourly series, so a few series take most reads while the
cost of each rank stays the same from seed to seed (see ``_Zipf``);
window starts are uniform. A read's time is the API call (``plan``: it
returns a lazy frame, after its catalog lookups) plus the collect
(``exec``).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import gen
from oracle import Oracle, naive, same_values

BLOCK = (("corrected", 1), ("corrected", 90), ("compound", 7),
         ("resampled", 365), ("daily", 30))  # (kind, window days)
ZIPF_S = 1.1
BIN_SECONDS = 6 * 3600


def _order(rng, ids: list[int]) -> list[int]:
    """A seed-shuffled order alternating 15-minute and hourly series."""
    def rate(t):
        return gen.cadence(gen.COMPOUNDS[t][1][0][0] if t in gen.COMPOUNDS
                           else t)
    fast = [int(x) for x in rng.permutation([t for t in ids
                                             if rate(t) == gen.FAST])]
    slow = [int(x) for x in rng.permutation([t for t in ids
                                             if rate(t) == gen.SLOW])]
    return [t for pair in zip(fast, slow) for t in pair]


def tail_percentile(n: int) -> int:
    """Highest of p99/p95/p90/p75 with at least ten of ``n`` samples
    beyond it (50 when there are fewer than 40)."""
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100 >= 10:
            return q
    return 50


def percentile(values: list[float], q: int) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, -(-q * len(v) // 100) - 1)]


def load_corrections(d: str) -> list:
    """The generated corrections as the program's ``Correction`` rules."""
    from aquacache_spark.operators.corrections import Correction

    def opt(x):
        return None if pd.isna(x) else float(x)

    return [
        Correction(int(r.correction_id), int(r.timeseries_id),
                   f"{r.start_dt:%Y-%m-%d %H:%M:%S}",
                   f"{r.end_dt:%Y-%m-%d %H:%M:%S}", r.correction_type,
                   opt(r.value1), opt(r.value2),
                   opt(r.timestep_window_seconds))
        for r in pd.read_parquet(f"{d}/corrections.parquet").itertuples()]


class _Zipf:
    """Zipf-ranked draws from ``order`` along a golden-ratio sequence
    with a seeded start: every run of draws holds each rank in close to
    its Zipf share, so runs of a few dozen reads differ only in which
    series hold the ranks and where the windows start."""

    def __init__(self, rng, order: list[int]):
        w = 1.0 / np.arange(1, len(order) + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.order = order
        self.u = float(rng.random())

    def draw(self) -> int:
        self.u = (self.u + 0.6180339887498949) % 1.0
        return self.order[min(int(np.searchsorted(self.cdf, self.u)),
                              len(self.order) - 1)]


class SeriesReads:
    OP = "page"
    READ = "read"
    WARMUP = 2
    MIN_OPS = 2
    OP_SECONDS = 2.5  # nominal time of one op on a 4-core host
    STOP_ON_FAILURE = False
    FINAL_CHECKS = 0

    def __init__(self, bench):
        self.b = bench
        self.dir = os.path.join(bench.inputs, "hydromet")
        self.reads: list[tuple[dict, object]] = []  # (spec, arrow table)

    def generate(self) -> dict:
        return gen.hydromet(self.dir, self.b.seed)

    # -- store ---------------------------------------------------------
    def setup(self) -> None:
        from aquacache_spark.fixtures import FixtureStore

        spark, d = self.b.spark, self.dir
        corrections = load_corrections(d)
        compounds = {}
        for tsid, g in pd.read_parquet(f"{d}/compounds.parquet").groupby(
                "timeseries_id"):
            compounds[int(tsid)] = {
                "expression": g["expression"].iloc[0],
                "members": [
                    {"alias": r.member_alias,
                     "timeseries_id": int(r.member_timeseries_id),
                     "priority": int(r.member_priority),
                     "use_from": (None if pd.isna(r.use_from)
                                  else f"{r.use_from:%Y-%m-%d %H:%M:%S}"),
                     "use_to": None}
                    for r in g.itertuples()],
            }
        self.compounds = compounds
        self.store = FixtureStore(
            spark.read.parquet(f"{d}/timeseries.parquet"),
            spark.read.parquet(f"{d}/measurements.parquet"),
            corrections, compounds,
            grades=spark.read.parquet(f"{d}/grades.parquet"))

        rng = np.random.default_rng([self.b.seed, 10])
        basic, comp = _order(rng, gen.BASIC_IDS), _order(rng, gen.COMPOUNDS)
        mixed = []  # every fifth rank is a compound series
        for j, t in enumerate(_order(rng, gen.BASIC_IDS)):
            mixed.append(t)
            if j % 4 == 3:
                mixed.append(comp[(j // 4 + 1) % len(comp)])
        self.pools = {"corrected": _Zipf(rng, basic),
                      "compound": _Zipf(rng, comp), "any": _Zipf(rng, mixed)}
        self.rng = rng
        self.pages: list[list[dict]] = []

    def _page(self, i: int) -> list[dict]:
        rng = self.rng
        while len(self.pages) <= i:
            page = []
            for k in rng.permutation(len(BLOCK)):
                kind, days = BLOCK[k]
                tsid = self.pools.get(kind, self.pools["any"]).draw()
                span = (gen.END - gen.START).total_seconds() - days * 86400
                start = gen.START + pd.Timedelta(
                    seconds=int(rng.uniform(0, span)))
                end = start + pd.Timedelta(seconds=int(days * 86400))
                page.append({"kind": kind, "tsid": tsid, "page": len(self.pages),
                             "start": start, "end": end})
            self.pages.append(page)
        return self.pages[i]

    def op(self, i: int):
        secs = 0.0
        for s in self._page(i):
            with self.b.span(self.READ):
                t = self._read(s)
            s["ms"] = t * 1000
            secs += t
        return secs, len(BLOCK)

    def _read(self, s: dict) -> float:
        from aquacache_spark import api

        kind, tsid = s["kind"], s["tsid"]
        start = f"{s['start']:%Y-%m-%d %H:%M:%S}"
        end = f"{s['end']:%Y-%m-%d %H:%M:%S}"
        t0 = time.perf_counter()
        with self.b.span(f"api.{kind}.plan"):
            if kind == "daily":
                df = api.measurements_calculated_daily(
                    self.store, tsid, start[:10], end[:10])
            elif kind == "resampled":
                df = api.measurements_continuous_corrected(
                    self.store, tsid, start, end, statistic="mean",
                    resample_seconds=BIN_SECONDS)
            else:
                df = api.measurements_continuous_corrected(
                    self.store, tsid, start, end)
        with self.b.span(f"api.{kind}.exec"):
            table = df.toArrow()
        secs = time.perf_counter() - t0
        self.reads.append((s, table))
        return secs

    # -- checks --------------------------------------------------------
    def finish(self) -> int:
        """Check every read of the run: against DuckDB where the
        oracle covers the read type, else against invariants. Returns
        the number of pages with a wrong read."""
        oracle = Oracle(self.dir)
        wrong = set()
        try:
            for s, table in self.reads:
                before = len(self.b.failures)
                self._check(oracle, s, table.to_pandas())
                if len(self.b.failures) > before:
                    wrong.add(s["page"])
        finally:
            oracle.close()
        return len(wrong)

    def _check(self, oracle: Oracle, s: dict, got: pd.DataFrame) -> None:
        b, kind, tsid = self.b, s["kind"], s["tsid"]
        tag = f"{kind} read of series {tsid} [{s['start']}, {s['end']}]"
        basic = tsid in gen.BASIC_IDS
        if kind == "daily":
            got = got.sort_values("date")
            dates = pd.to_datetime(got["date"])
            b.check(dates.is_unique, f"{tag}: duplicate dates")
            lo, hi = s["start"].normalize(), s["end"].normalize()
            b.check(((dates >= lo) & (dates <= hi)).all(),
                    f"{tag}: date outside the window")
            b.check((got["doy_count"] >= 0).all(), f"{tag}: doy_count < 0")
            h = got.dropna(subset=["hist_min", "hist_max"])
            b.check((h["hist_min"] <= h["hist_max"]).all(),
                    f"{tag}: hist_min > hist_max")
            q = got.dropna(subset=["q10", "q50", "q90"])
            b.check(((q["q10"] <= q["q50"]) & (q["q50"] <= q["q90"])).all(),
                    f"{tag}: quantiles out of order")
            if basic:
                want = oracle.daily_means(tsid, f"{lo:%Y-%m-%d}",
                                          f"{hi:%Y-%m-%d}")
                b.check(len(got) == len(want)
                        and (dates.values == naive(want["date"]).values).all()
                        and same_values(got["value"], want["m"]),
                        f"{tag}: daily means differ from DuckDB "
                        f"({len(got)} vs {len(want)} rows)")
            return
        if kind == "resampled":
            got = got.sort_values("bin_start")
            bins = naive(got["bin_start"])
            step = bins.diff().dropna()
            b.check((step == pd.Timedelta(seconds=BIN_SECONDS)).all(),
                    f"{tag}: bins not dense")
            if basic:
                want = oracle.mean_bins(tsid, s["start"], s["end"],
                                        BIN_SECONDS)
                b.check(len(got) == len(want)
                        and (bins.values == naive(want["bin_start"]).values
                             ).all()
                        and same_values(got["corrected_value"], want["m"]),
                        f"{tag}: 6-hour means differ from DuckDB "
                        f"({len(got)} vs {len(want)} bins)")
            return
        got = got.sort_values("datetime")
        ts = naive(got["datetime"])
        b.check(ts.is_unique, f"{tag}: duplicate datetimes")
        b.check(((ts >= s["start"]) & (ts <= s["end"])).all(),
                f"{tag}: datetime outside the window")
        if basic:
            want = oracle.corrected(tsid, s["start"], s["end"])
            b.check(len(got) == len(want)
                    and (ts.values == naive(want["datetime"]).values).all()
                    and same_values(got["corrected_value"], want["v"]),
                    f"{tag}: corrected values differ from DuckDB "
                    f"({len(got)} vs {len(want)} rows)")
            return
        want = self._compound(oracle, tsid, s["start"], s["end"])
        b.check(len(got) == len(want)
                and (ts.values == want.index.values).all()
                and same_values(got["corrected_value"], want.values),
                f"{tag}: compound values differ from DuckDB members "
                f"({len(got)} vs {len(want)} rows)")

    def _compound(self, oracle: Oracle, tsid: int, start, end) -> pd.Series:
        """The compound composed in pandas from DuckDB member windows:
        the highest-priority non-NULL member per timestamp, or the
        expression over members aligned on equal timestamps."""
        spec = self.compounds[tsid]
        parts = []
        for m in spec["members"]:
            v = oracle.corrected(m["timeseries_id"], start, end)
            v["datetime"] = naive(v["datetime"])
            if m["use_from"]:
                v = v[v["datetime"] >= pd.Timestamp(m["use_from"])]
            parts.append((m, v))
        if spec["expression"] is None:
            u = pd.concat([v.dropna().assign(prio=m["priority"],
                                             alias=m["alias"])
                           for m, v in parts])
            u = u.sort_values(["datetime", "prio", "alias"]).drop_duplicates(
                "datetime")
            return u.set_index("datetime")["v"]
        j = None
        for m, v in parts:
            v = v.rename(columns={"v": m["alias"]})
            j = v if j is None else j.merge(v, on="datetime")
        j = j.sort_values("datetime").set_index("datetime")
        return j.eval(spec["expression"])

    # -- metrics -------------------------------------------------------
    def report(self, plain: list[dict]) -> dict:
        reads = [r for s in plain for r in self.pages[s["i"]] if "ms" in r]
        if not reads:
            return {}
        ms = [r["ms"] for r in reads]
        q = tail_percentile(len(ms))
        return {
            "reads": len(ms),
            "read_p50_ms": statistics.median(ms),
            "read_tail_percentile": q,
            "read_tail_ms": percentile(ms, q),
            "reads_per_s": len(ms) / (sum(ms) / 1000),
            "read_ms_by_kind": {k: [r["ms"] for r in reads if r["kind"] == k]
                                for k in dict(BLOCK)},
            # what the page time is made of: the mix is assumed, so
            # this shows which read kinds the gated page p50 weighs
            "page_share_by_kind": {
                k: sum(r["ms"] for r in reads if r["kind"] == k) / sum(ms)
                for k in dict(BLOCK)},
        }

    def layers(self, traced: list[dict]) -> dict:
        t = self.b.tracer
        out = {f"api.{k}.{p}_ms": t.median_ms(f"api.{k}.{p}")
               for k in ("corrected", "compound", "resampled", "daily")
               for p in ("plan", "exec")}
        reads = t.named(self.READ)
        if reads:
            out["api.jobs_per_read"] = (
                sum(s["total_jobs"] for s in reads) / len(reads))
            out["api.tasks_per_read"] = (
                sum(s["total_tasks"] for s in reads) / len(reads))
        return out
