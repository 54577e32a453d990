"""Independent DuckDB answers for three read types, computed from the
generated parquet alone: the corrected window of a basic series, its
6-hour mean bins, and its daily means.

The corrections are restated here from the reference semantics, not
imported from the program: every correction whose ``[start, end)``
holds a point applies in (type priority, correction id) order, and a
NULL value stays NULL. Means use the program's documented exact-mean
contract (values quantized to 1e-6 before summing), so results can be
compared with a tight tolerance.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

PRIORITY = ("delete", "trim", "offset_linear", "offset_two_point", "scale",
            "drift_linear")
TOL = 1e-6


def _lit(x) -> str:
    return "NULL" if x is None or pd.isna(x) else repr(float(x))


def _ts(x) -> str:
    return f"TIMESTAMP '{pd.Timestamp(x):%Y-%m-%d %H:%M:%S}'"


def _step(c) -> str:
    """SQL for one correction applied to column ``v``."""
    s, e = _ts(c.start_dt), _ts(c.end_dt)
    elapsed = f"(epoch(datetime) - epoch({s}))"
    span = f"(epoch({e}) - epoch({s}))"
    v1, v2 = _lit(c.value1), _lit(c.value2)
    body = {
        "delete": "NULL",
        "trim": f"CASE WHEN v < {v1} OR v > {v2} THEN NULL ELSE v END",
        "offset_linear": f"v + {v1}",
        "offset_two_point": f"v + {v1} + (({v2} - {v1}) * {elapsed} / {span})",
        "scale": f"v * {v1} / 100.0",
        "drift_linear":
            f"v + {v1} / {_lit(c.timestep_window_seconds)} * {elapsed}",
    }[c.correction_type]
    return (f"CASE WHEN v IS NOT NULL AND datetime >= {s} AND datetime < {e} "
            f"THEN CAST({body} AS DOUBLE) ELSE v END")


class Oracle:
    def __init__(self, hydromet_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute("SET TimeZone = 'UTC'")
        self.meas = f"read_parquet('{hydromet_dir}/measurements.parquet')"
        corr = pd.read_parquet(f"{hydromet_dir}/corrections.parquet")
        corr["prio"] = corr["correction_type"].map(PRIORITY.index)
        self.corrections = {
            int(t): list(g.sort_values(["prio", "correction_id"]).itertuples())
            for t, g in corr.groupby("timeseries_id")
        }
        grades = pd.read_parquet(f"{hydromet_dir}/grades.parquet")
        self.n_windows = grades[(grades["grade_code"] == "N")
                                & (grades["start_dt"] != grades["end_dt"])]

    def _corrected_sql(self, tsid: int, start=None, end=None) -> str:
        where = [f"timeseries_id = {tsid}"]
        if start is not None:
            where.append(f"datetime >= {_ts(start)}")
        if end is not None:
            where.append(f"datetime <= {_ts(end)}")
        sql = (f"SELECT datetime, CAST(value AS DOUBLE) AS v FROM {self.meas} "
               f"WHERE {' AND '.join(where)}")
        for c in self.corrections.get(tsid, ()):
            sql = f"SELECT datetime, {_step(c)} AS v FROM ({sql})"
        return sql

    def corrected(self, tsid: int, start, end) -> pd.DataFrame:
        return self.con.execute(
            f"SELECT datetime, v FROM ({self._corrected_sql(tsid, start, end)})"
            " ORDER BY datetime").df()

    def mean_bins(self, tsid: int, start, end, seconds: int) -> pd.DataFrame:
        """Dense bins from the first to the last non-empty bin; empty
        bins have a NULL mean."""
        return self.con.execute(f"""
            WITH c AS ({self._corrected_sql(tsid, start, end)}),
            b AS (
              SELECT to_timestamp(floor(epoch(datetime) / {seconds})
                                  * {seconds})::TIMESTAMP AS bin_start,
                     sum(floor(v * 1e6 + 0.5)::BIGINT) / 1e6 / count(v) AS m
              FROM c WHERE v IS NOT NULL GROUP BY 1),
            s AS (
              SELECT unnest(generate_series(min(bin_start), max(bin_start),
                                            INTERVAL {seconds} SECOND))
                     AS bin_start FROM b)
            SELECT s.bin_start, b.m FROM s LEFT JOIN b USING (bin_start)
            ORDER BY 1""").df()

    def daily_means(self, tsid: int, start_date, end_date) -> pd.DataFrame:
        """UTC-day exact means of the corrected full history, without
        points inside an unusable ('N') grade window."""
        win = self.n_windows[self.n_windows["timeseries_id"] == tsid]
        excl = " OR ".join(
            f"datetime BETWEEN {_ts(r.start_dt)} AND {_ts(r.end_dt)}"
            for r in win.itertuples()) or "FALSE"
        return self.con.execute(f"""
            SELECT CAST(datetime AS DATE) AS date,
                   sum(floor(v * 1e6 + 0.5)::BIGINT) / 1e6 / count(v) AS m
            FROM ({self._corrected_sql(tsid)}) WHERE NOT ({excl})
            GROUP BY 1 HAVING count(v) > 0
            AND date BETWEEN DATE '{start_date}' AND DATE '{end_date}'
            ORDER BY 1""").df()

    def close(self) -> None:
        self.con.close()


def naive(ts: pd.Series) -> pd.Series:
    """Timestamps as naive UTC datetime64[ns]."""
    ts = pd.to_datetime(ts)
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[ns]")


def same_values(a, b) -> bool:
    """Equal up to TOL (absolute, or relative for large values), with
    NULL only where the other side is NULL."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if a.shape != b.shape:
        return False
    na, nb = np.isnan(a), np.isnan(b)
    if not np.array_equal(na, nb):
        return False
    return bool(np.all(np.abs(a[~na] - b[~nb])
                       <= TOL * np.maximum(1.0, np.abs(b[~nb]))))
