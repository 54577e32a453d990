"""Seeded input generator for the benchmark.

Everything the program under test reads is written here as parquet;
the same seed always gives byte-identical tables. Sizes are fixed
across seeds so that run-to-run spread comes from the system, not
from the inputs.

Hydromet store (``hydromet/``):

- ``timeseries``: one catalog row per series (basic and compound),
  with the ingest-catalog columns ``daily_update`` needs.
- ``measurements``: basic series at 15-minute and hourly cadence over
  ``YEARS`` years, with multi-day gaps, sorted by (series, datetime).
- ``compounds``: members of the compound series, both kinds
  (priority fallback and safe expression).
- ``corrections``: 1-3 corrections on about a third of the basic
  series, every simple correction type.
- ``grades``: an 'A' grade everywhere, plus unusable 'N' windows and
  zero-width 'N' markers on about a third of the series.

Document corpus (``corpus/``): ``docs`` (doc_id, text) with planted
near-duplicate families, and ``truth`` (doc_id, family) that only the
benchmark's checks read.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

START = pd.Timestamp("2021-01-01 00:00:00")
YEARS = 3
END = START + pd.DateOffset(years=YEARS)  # exclusive
N_FAST = 8  # 15-minute series: ids 1..N_FAST
N_SLOW = 8  # hourly series: ids N_FAST+1..N_FAST+N_SLOW
BASIC_IDS = list(range(1, N_FAST + N_SLOW + 1))
FAST, SLOW = 900, 3600

# compound id -> (expression or None, [(member id, priority, use_from)])
COMPOUNDS = {
    101: (None, [(1, 1, None), (2, 2, START + pd.DateOffset(months=6))]),
    102: (None, [(9, 1, None), (10, 2, None)]),
    103: ("cond / (1 + 0.0191 * (temp - 25))", [(3, 1, None), (4, 1, None)]),
    104: ("a + b", [(11, 1, None), (12, 1, None)]),
}
# aliases for expression members, in member order
ALIASES = {103: ("temp", "cond"), 104: ("a", "b"),
           101: ("primary", "backup"), 102: ("primary", "backup")}

CORRECTION_TYPES = ("delete", "trim", "offset_linear", "offset_two_point",
                    "scale", "drift_linear")

N_DOCS = 3000
N_FAMILIES = 150
DOC_WORDS = (20, 120)  # short documents exercise the length term of quality_score
VOCAB = 3000
PUNCT = (",", ".", ";", ":", "!", "?", ")", "'s", "--", "...")
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "that", "for", "on", "with", "as", "are", "was", "at", "by",
             "be")


def cadence(tsid: int) -> int:
    return FAST if tsid <= N_FAST else SLOW


def _write(df: pd.DataFrame, path: str, schema: pa.Schema,
           row_group_size: int = 65536) -> dict:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, row_group_size=row_group_size)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _series_points(rng: np.random.Generator, tsid: int) -> pd.DataFrame:
    step = cadence(tsid)
    n = int((END - START).total_seconds()) // step
    epoch = START.value // 10**9 + np.arange(n, dtype=np.int64) * step
    level = rng.uniform(2.0, 200.0)
    amp = level * rng.uniform(0.05, 0.3)
    t = epoch.astype(np.float64)
    noise = np.cumsum(rng.normal(0.0, level * 0.002, n))
    noise -= np.linspace(0.0, noise[-1], n)  # no long-run drift
    value = (level + amp * np.sin(2 * np.pi * t / (365.25 * 86400))
             + 0.1 * amp * np.sin(2 * np.pi * t / 86400) + noise)
    keep = np.ones(n, dtype=bool)
    for _ in range(3):  # multi-day outages
        g0 = rng.integers(0, n - 1)
        keep[g0:g0 + int(rng.integers(1, 11) * 86400 // step)] = False
    if tsid == 1:  # a primary outage the compound backup must fill
        g0 = int((pd.Timestamp("2022-03-01") - START).total_seconds()) // step
        keep[g0:g0 + 5 * 86400 // step] = False
    return pd.DataFrame({
        "timeseries_id": np.int32(tsid),
        "datetime": pd.to_datetime(epoch[keep], unit="s"),
        "value": np.round(value[keep], 3),
        "imputed": rng.random(int(keep.sum())) < 0.01,
        "no_update": False,
    })


def _random_window(rng, min_days: int, max_days: int):
    span_days = (END - START).days - max_days - 1
    s = START + pd.Timedelta(days=int(rng.integers(0, span_days)),
                             hours=int(rng.integers(0, 24)))
    return s, s + pd.Timedelta(days=int(rng.integers(min_days, max_days + 1)))


def _corrections(rng, levels: dict) -> pd.DataFrame:
    rows = []
    cid = 1
    corrected = rng.choice(BASIC_IDS, size=len(BASIC_IDS) // 3, replace=False)
    for tsid in sorted(int(x) for x in corrected):
        lv = levels[tsid]
        for _ in range(int(rng.integers(1, 4))):
            kind = CORRECTION_TYPES[int(rng.integers(len(CORRECTION_TYPES)))]
            s, e = _random_window(rng, 2, 30)
            v1 = v2 = tw = None
            if kind == "trim":
                v1, v2 = round(lv * 0.9, 3), round(lv * 1.1, 3)
            elif kind in ("offset_linear", "drift_linear"):
                v1 = round(float(rng.uniform(-1.0, 1.0)), 3)
                tw = 86400.0 if kind == "drift_linear" else None
            elif kind == "offset_two_point":
                v1, v2 = (round(float(x), 3) for x in rng.uniform(-1, 1, 2))
            elif kind == "scale":
                v1 = round(float(rng.uniform(90.0, 110.0)), 3)
            rows.append((cid, tsid, s, e, kind, v1, v2, tw))
            cid += 1
    return pd.DataFrame(rows, columns=[
        "correction_id", "timeseries_id", "start_dt", "end_dt",
        "correction_type", "value1", "value2", "timestep_window_seconds"])


def _grades(rng) -> pd.DataFrame:
    rows = [(t, "A", START, END) for t in BASIC_IDS]
    flagged = rng.choice(BASIC_IDS, size=len(BASIC_IDS) // 3, replace=False)
    for tsid in sorted(int(x) for x in flagged):
        s, e = _random_window(rng, 1, 5)
        rows.append((tsid, "N", s, e))
        m, _ = _random_window(rng, 1, 1)
        rows.append((tsid, "N", m, m))  # zero width: excludes nothing
    return pd.DataFrame(rows, columns=[
        "timeseries_id", "grade_code", "start_dt", "end_dt"])


def _catalog(meas: pd.DataFrame) -> pd.DataFrame:
    last = meas.groupby("timeseries_id")["datetime"].max()
    rows = []
    for t in BASIC_IDS:
        rows.append((t, "basic",
                     "instantaneous" if cadence(t) == FAST else "mean",
                     cadence(t), 0, True, "downloadWSC",
                     f'{{"location": "ST{t:03d}"}}', last[t]))
    for c, (_expr, members) in COMPOUNDS.items():
        rows.append((c, "compound", "instantaneous",
                     cadence(members[0][0]), 0, True, None, None, None))
    return pd.DataFrame(rows, columns=[
        "timeseries_id", "timeseries_type", "aggregation_type",
        "record_rate_seconds", "timezone_daily_calc", "active",
        "source_fx", "source_fx_args", "last_data_point"])


def _compounds() -> pd.DataFrame:
    rows = []
    for c, (expr, members) in COMPOUNDS.items():
        for alias, (m, prio, use_from) in zip(ALIASES[c], members):
            rows.append((c, expr, alias, m, prio, use_from))
    return pd.DataFrame(rows, columns=[
        "timeseries_id", "expression", "member_alias",
        "member_timeseries_id", "member_priority", "use_from"])


TS = pa.timestamp("us")
SCHEMAS = {
    "measurements": pa.schema([
        ("timeseries_id", pa.int32()), ("datetime", TS),
        ("value", pa.float64()), ("imputed", pa.bool_()),
        ("no_update", pa.bool_())]),
    "timeseries": pa.schema([
        ("timeseries_id", pa.int32()), ("timeseries_type", pa.string()),
        ("aggregation_type", pa.string()),
        ("record_rate_seconds", pa.int32()),
        ("timezone_daily_calc", pa.int32()), ("active", pa.bool_()),
        ("source_fx", pa.string()), ("source_fx_args", pa.string()),
        ("last_data_point", TS)]),
    "compounds": pa.schema([
        ("timeseries_id", pa.int32()), ("expression", pa.string()),
        ("member_alias", pa.string()),
        ("member_timeseries_id", pa.int32()),
        ("member_priority", pa.int32()), ("use_from", TS)]),
    "corrections": pa.schema([
        ("correction_id", pa.int32()), ("timeseries_id", pa.int32()),
        ("start_dt", TS), ("end_dt", TS), ("correction_type", pa.string()),
        ("value1", pa.float64()), ("value2", pa.float64()),
        ("timestep_window_seconds", pa.float64())]),
    "grades": pa.schema([
        ("timeseries_id", pa.int32()), ("grade_code", pa.string()),
        ("start_dt", TS), ("end_dt", TS)]),
    "fetch": pa.schema([
        ("timeseries_id", pa.int32()), ("datetime", TS),
        ("value", pa.float64())]),
    "docs": pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
    "truth": pa.schema([("doc_id", pa.int64()), ("family", pa.int64())]),
}


def write(df: pd.DataFrame, path: str, schema: str) -> dict:
    """Write ``df`` as parquet with one of the ``SCHEMAS``."""
    return _write(df, path, SCHEMAS[schema])


def hydromet(root: str, seed: int) -> dict:
    """Write the hydromet store under ``root``; return per-table
    {rows, bytes}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    parts, levels = [], {}
    for t in BASIC_IDS:
        p = _series_points(rng, t)
        levels[t] = float(p["value"].mean())
        parts.append(p)
    meas = pd.concat(parts, ignore_index=True)
    tables = {
        "measurements": meas,
        "timeseries": _catalog(meas),
        "compounds": _compounds(),
        "corrections": _corrections(rng, levels),
        "grades": _grades(rng),
    }
    return {name: _write(df, os.path.join(root, f"{name}.parquet"),
                         SCHEMAS[name])
            for name, df in tables.items()}


def new_day(seed: int, day: pd.Timestamp, series: list[int],
            last: dict) -> pd.DataFrame:
    """One nightly fetch: a day of points for ``series`` starting at
    ``day``, plus the series' last stored point re-sent (stale rows the
    ingest watermark must drop)."""
    rng = np.random.default_rng([seed, 2, int(day.value // 10**9)])
    frames = []
    for t in series:
        step = cadence(t)
        epoch = day.value // 10**9 + np.arange(86400 // step) * step
        frames.append(pd.DataFrame({
            "timeseries_id": np.int32(t),
            "datetime": pd.to_datetime(epoch, unit="s"),
            "value": np.round(rng.uniform(1.0, 100.0, len(epoch)), 3),
        }))
        frames.append(pd.DataFrame({
            "timeseries_id": [np.int32(t)], "datetime": [last[t]],
            "value": [-1.0]}))
    return pd.concat(frames, ignore_index=True)


def _word(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return ["".join(rng.choice(letters, k)) for k in lens]


def corpus(root: str, seed: int) -> dict:
    """Write the document corpus under ``root``: ``N_FAMILIES`` planted
    near-duplicate families of 2-4 documents (each a copy of the
    family's base text with ~3% of its words substituted), the rest
    independent documents. Half the texts are lowercase word runs; the
    other half have capitalised words and punctuation, so both the
    case folding and the punctuation term of ``quality_score`` see
    work."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(root, exist_ok=True)
    vocab = np.array(sorted(set(_word(rng, VOCAB * 2)))[:VOCAB])
    rng.shuffle(vocab)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = 1.0 / ranks**1.05
    p /= p.sum()

    def text() -> list[str]:
        n = int(rng.integers(*DOC_WORDS))
        words = list(rng.choice(vocab, n, p=p))
        for i in rng.choice(n, n // 4, replace=False):  # running text
            words[i] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        if rng.random() < 0.5:  # prose: capitals and punctuation
            words[0] = words[0].capitalize()
            for i in rng.choice(n, n // 12, replace=False):
                words[i] = words[i].capitalize()
            for i in rng.choice(n, n // 6, replace=False):
                words[i] += PUNCT[int(rng.integers(len(PUNCT)))]
        return words

    docs, fam = [], []
    for f in range(N_FAMILIES):
        base = text()
        for _ in range(int(rng.integers(2, 5))):
            w = list(base)
            for i in rng.choice(len(w), max(1, len(w) * 3 // 100),
                                replace=False):
                w[i] = str(vocab[int(rng.integers(VOCAB))])
            docs.append(" ".join(w))
            fam.append(f)
    while len(docs) < N_DOCS:
        docs.append(" ".join(text()))
        fam.append(-1)
    order = rng.permutation(len(docs))
    ids = np.arange(1, len(docs) + 1, dtype=np.int64)
    d = pd.DataFrame({"doc_id": ids, "text": [docs[i] for i in order]})
    t = pd.DataFrame({"doc_id": ids,
                      "family": np.array([fam[i] for i in order],
                                         dtype=np.int64)})
    t = t[t["family"] >= 0]
    return {
        "docs": _write(d, os.path.join(root, "docs.parquet"), SCHEMAS["docs"],
                       row_group_size=1024),
        "truth": _write(t, os.path.join(root, "truth.parquet"),
                        SCHEMAS["truth"]),
    }
