"""Managed measurement store: partitioned parquet with MERGE upsert.

The reference's write path is a staging table + ``INSERT … ON CONFLICT
DO NOTHING/UPDATE`` (R/dbAppendTableRLS.R:24,30-32,93-120). On a
lakehouse that is exactly a MERGE; in production this engine targets
Delta (`MERGE INTO`, time travel, CDF). This module provides the same
semantics over plain parquet for environments without Delta — the
write amplification unit is a *partition*, so the design constraint
(SURVEY §7.3: cluster by merge keys up front) is enforced here:

- the store is hash-bucketed by series into ``bucket=N`` directories;
- a merge rewrites only buckets whose rows change — the
  partition-pruned subset, never the full table;
- conflict modes mirror the reference: ``do_nothing`` keeps existing
  rows on key collision, ``update`` replaces them;
- a key may appear at most once in one merge batch. A repeated key
  raises ``ValueError`` and commits nothing: ``ON CONFLICT DO UPDATE``
  also refuses to touch a row twice, and Spark rows carry no
  insertion order that could pick a winner;
- a merge that changes no row commits nothing (the version stays).

Commit protocol (the Delta-log idea reduced to one file per commit):
bucket data lives in immutable versioned directories ``v<k>/bucket=N``;
a JSON manifest maps each bucket to the version directory holding its
data at that commit. Every commit kind — ``merge``, ``overwrite``,
``optimize``, ``stamp_props`` — stages its buckets under a NEW version
dir and then goes through one publish path (``_publish``): it builds
the next manifest from the old one, carries ``props`` forward, writes
``_MANIFEST.v<k>.json`` and publishes with one atomic ``os.replace`` of
the current-pointer ``_MANIFEST.json``. Readers resolve through a
manifest, so a crash at any point leaves either the old or the new
store, never a mixed one. Every read — ``read``, ``read_buckets``,
``changes`` and the merge/optimize inputs — goes through one scan path
(``_scan``): one parquet read per referenced version dir, unioned.

Because commit manifests are retained, ``read(version=k)`` is
Delta-style TIME TRAVEL (the audit/as-of emulation's storage analog);
``vacuum`` drops old manifests and sweeps bucket dirs no retained
commit references; ``optimize`` is the Delta-OPTIMIZE analog — a
``dataChange=false`` compaction commit that collapses many-small-
commit fragmentation into one version dir with one file per bucket.

At 100 TB the same API maps 1:1 onto Delta MERGE with the bucket
column as a clustering key; nothing above this module would change.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_MANIFEST.json"


class ParquetMergeStore:
    def __init__(self, spark: SparkSession, path: str, key_cols: Sequence[str],
                 series_col: str = "timeseries_id", n_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.series_col = series_col
        self.n_buckets = n_buckets

    # -- manifest -----------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _version_manifest_path(self, version: int) -> str:
        return os.path.join(self.path, f"_MANIFEST.v{version}.json")

    def _load_manifest(self, version: int | None = None) -> dict:
        path = (self._manifest_path if version is None
                else self._version_manifest_path(version))
        try:
            with open(path) as f:
                m = json.load(f)
        except FileNotFoundError:
            if version is not None:
                raise ValueError(
                    f"version {version} is not available (never committed "
                    "or vacuumed away)") from None
            raise
        buckets = {int(k): int(v) for k, v in m["buckets"].items()}
        # pre-optimize manifests carry no "data" map: every pointer
        # move was a data change then, so the buckets map IS the map
        data = ({int(k): int(v) for k, v in m["data"].items()}
                if "data" in m else dict(buckets))
        out = {"version": m["version"], "buckets": buckets, "data": data}
        if "props" in m:
            out["props"] = dict(m["props"])
        return out

    def _current(self) -> dict:
        """The current manifest; a store not created yet is version 0
        with no buckets, so a first commit takes the same path as any
        later one."""
        try:
            return self._load_manifest()
        except FileNotFoundError:
            return {"version": 0, "buckets": {}, "data": {}}

    def _publish(self, old: dict, written: Sequence[int], *,
                 data_change: bool = True, replace: bool = False,
                 props: dict | None = None) -> int:
        """The one commit path: the manifest after ``old`` with the
        ``written`` buckets (staged by ``_stage``) pointing at the new
        version, committed, then the sweep. ``replace`` drops every
        bucket not written; ``data_change=False`` keeps the ``data``
        map, so ``changes()`` skips the rewrite. ``props`` merge over
        the old ones, which always carry forward. Returns the version."""
        version = old["version"] + 1
        moved = {b: version for b in written}
        kept = {"buckets": {}, "data": {}} if replace else old
        manifest = {
            "version": version,
            "buckets": {**kept["buckets"], **moved},
            "data": {**kept["data"], **(moved if data_change else {})},
        }
        carried = {**old.get("props", {}), **(props or {})}
        if carried:
            manifest["props"] = carried
        self._commit_manifest(manifest)
        self._gc()
        return version

    def _commit_manifest(self, manifest: dict) -> None:
        """Publish atomically: the retained per-commit manifest first,
        then tmp file + fsync + one ``os.replace`` of the current
        pointer — the commit point."""
        with open(self._version_manifest_path(manifest["version"]), "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        tmp = os.path.join(self.path, f".{_MANIFEST}.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version}")

    def _written_buckets(self, version: int) -> list[int]:
        vdir = self._vdir(version)
        return sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(vdir)
            if d.startswith("bucket=")
        )

    def _retained_versions(self) -> list[int]:
        """Committed versions only: a per-commit manifest NEWER than
        the current pointer is a crashed, never-published attempt —
        not readable history (its number is reused on retry)."""
        try:
            current = self._load_manifest()["version"]
        except (FileNotFoundError, json.JSONDecodeError):
            return []
        try:
            return sorted(
                v for f in os.listdir(self.path)
                if f.startswith("_MANIFEST.v") and f.endswith(".json")
                and (v := int(f[len("_MANIFEST.v"):-len(".json")])) <= current
            )
        except OSError:
            return []

    def _gc(self) -> None:
        """Best-effort sweep of version dirs no RETAINED commit
        references — crash-orphans and vacuumed-away history. Never
        touches a manifest; failure here cannot corrupt the store."""
        live: set[int] = set()
        for v in self._retained_versions():
            try:
                live |= set(self._load_manifest(v)["buckets"].values())
            except (ValueError, OSError, json.JSONDecodeError):
                continue
        try:
            for d in os.listdir(self.path):
                if d.startswith("v") and d[1:].isdigit() and int(d[1:]) not in live:
                    shutil.rmtree(os.path.join(self.path, d),
                                  ignore_errors=True)
        except OSError:
            pass

    def vacuum(self, retain_last: int = 1) -> list[int]:
        """Drop all but the newest ``retain_last`` commit manifests,
        then sweep bucket dirs nothing retained references (Delta
        VACUUM). Returns the versions still readable."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        versions = self._retained_versions()
        for v in versions[:-retain_last]:
            try:
                os.remove(self._version_manifest_path(v))
            except OSError:
                pass
        self._gc()
        return self._retained_versions()

    # -- store API ----------------------------------------------------
    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.hash(F.col(self.series_col)), F.lit(self.n_buckets))
        )

    def exists(self) -> bool:
        return os.path.exists(self._manifest_path)

    def _scan(self, manifest: dict,
              buckets: "set[int] | None" = None) -> DataFrame | None:
        """The one manifest -> DataFrame path: the manifest's buckets
        (or only those in ``buckets``), one read per referenced version
        dir, unioned. Each read has ``basePath`` at its version dir so
        the ``bucket=N`` partition column survives and bucket pruning
        still works; a caller passing ``buckets`` opens only those
        dirs, so its plan grows with the buckets it touches, not with
        the version history. None when no selected bucket exists."""
        by_version: dict[int, list[int]] = {}
        for b, v in manifest["buckets"].items():
            if buckets is None or b in buckets:
                by_version.setdefault(v, []).append(b)
        out = None
        for v, bs in sorted(by_version.items()):
            fr = self.spark.read.option("basePath", self._vdir(v)).parquet(
                *[os.path.join(self._vdir(v), f"bucket={b}") for b in sorted(bs)])
            out = fr if out is None else out.unionByName(fr)
        return out

    def read(self, version: int | None = None) -> DataFrame:
        """Resolve bucket dirs through a manifest — the current one,
        or commit ``version`` for TIME TRAVEL over retained history."""
        if version is not None and version not in self._retained_versions():
            raise ValueError(
                f"version {version} is not available (never committed "
                "or vacuumed away)")
        m = self._load_manifest(version)
        out = self._scan(m)
        if out is None:
            # empty commits are rejected at write time, so this is a
            # hand-edited/corrupt manifest
            raise ValueError(
                f"manifest for version {m['version']} references no "
                "buckets")
        return out

    def read_buckets(self, buckets: Sequence[int],
                     version: int | None = None) -> DataFrame | None:
        """Bucket-pruned read: ONLY the listed buckets' files are
        opened (each bucket is a ``bucket=N`` directory — nothing else
        even gets listed). The probe primitive for incremental LSH
        dedup: a daily batch reads just the store buckets its own band
        keys hash into, not the corpus-wide signature store. Returns
        None when no listed bucket exists in the manifest."""
        return self._scan(self._load_manifest(version),
                          {int(b) for b in buckets})

    def bucket_of(self, df: DataFrame) -> DataFrame:
        """Expose the store's bucketing function (hash(series) mod N)
        so callers can compute which buckets a batch would touch
        WITHOUT writing — the probe side of read_buckets."""
        return self._bucket(df)

    def changes(self, since_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed between two committed snapshots (Delta CDF
        shape): rows tagged ``_change_type`` in {'insert', 'delete',
        'update_preimage', 'update_postimage'} plus ``_commit_version``.

        Partition-pruned: only buckets whose DATA version moved
        between the two manifests are read at all — untouched buckets
        cost nothing, the same write-amplification unit as the merge.
        Buckets whose pointer moved only because ``optimize`` rewrote
        them are skipped too (the Delta ``dataChange=false`` CDF
        semantics): a pure compaction commit contributes no changes."""
        retained = self._retained_versions()
        if to_version is None:
            to_version = self._load_manifest()["version"]
        for v in (since_version, to_version):
            if v not in retained:
                raise ValueError(
                    f"version {v} is not available (never committed "
                    "or vacuumed away)")
        m_from = self._load_manifest(since_version)
        m_to = self._load_manifest(to_version)
        changed = {
            b for b in set(m_from["data"]) | set(m_to["data"])
            if m_from["data"].get(b) != m_to["data"].get(b)
        }
        old = self._scan(m_from, changed)
        new = self._scan(m_to, changed)
        ver = F.lit(to_version).alias("_commit_version")

        def project(df: DataFrame, change_type: str,
                    cols: list[str]) -> DataFrame:
            # one schema on EVERY branch: key_cols + data_cols +
            # _change_type + _commit_version, never the bucket
            # partition column (ADVICE r3: the full-outer path dropped
            # it while the one-sided paths kept it)
            return df.select(
                *self.key_cols, *cols,
                F.lit(change_type).alias("_change_type"), ver)

        if old is None and new is None:  # no bucket moved: empty feed
            base = self.read(to_version).limit(0)
            cols = [c for c in base.columns
                    if c not in self.key_cols and c != "bucket"]
            return project(base, "insert", cols)
        data_cols = [c for c in (old if old is not None else new).columns
                     if c not in self.key_cols and c != "bucket"]
        if old is None:
            return project(new, "insert", data_cols)
        if new is None:
            return project(old, "delete", data_cols)
        o = old.select(
            *self.key_cols,
            *[F.col(c).alias(f"__old_{c}") for c in data_cols],
        )
        n = new.select(
            *self.key_cols,
            *[F.col(c).alias(f"__new_{c}") for c in data_cols],
        )
        # side-presence markers: inferring presence from data columns
        # is ambiguous when a present row has all-NULL data
        o = o.withColumn("__old_present", F.lit(True))
        n = n.withColumn("__new_present", F.lit(True))
        j = o.join(n, self.key_cols, "full_outer")
        differs = F.lit(False)
        for c in data_cols:
            differs = differs | ~F.col(f"__old_{c}").eqNullSafe(
                F.col(f"__new_{c}"))
        inserts = j.where(F.col("__old_present").isNull()).select(
            *self.key_cols,
            *[F.col(f"__new_{c}").alias(c) for c in data_cols],
            F.lit("insert").alias("_change_type"), ver,
        )
        deletes = j.where(F.col("__new_present").isNull()).select(
            *self.key_cols,
            *[F.col(f"__old_{c}").alias(c) for c in data_cols],
            F.lit("delete").alias("_change_type"), ver,
        )
        upd = j.where(
            F.col("__old_present").isNotNull()
            & F.col("__new_present").isNotNull() & differs
        )
        pre = upd.select(
            *self.key_cols,
            *[F.col(f"__old_{c}").alias(c) for c in data_cols],
            F.lit("update_preimage").alias("_change_type"), ver,
        )
        post = upd.select(
            *self.key_cols,
            *[F.col(f"__new_{c}").alias(c) for c in data_cols],
            F.lit("update_postimage").alias("_change_type"), ver,
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    def _stage(self, df: DataFrame, old: dict) -> list[int]:
        """Write ``df`` (with its ``bucket`` column) under the version
        dir the next commit after ``old`` will own; returns the buckets
        written. Nothing is visible until ``_publish``."""
        version = old["version"] + 1
        os.makedirs(self.path, exist_ok=True)
        # mode "overwrite" clobbers partial output from a crashed
        # attempt at the same (never-committed) version number.
        # Clustering by bucket before the partitionBy write gives one
        # file per bucket: un-clustered, every write task emits a file
        # into every touched bucket, and the next probe/merge scans
        # them all (a 64-bucket LSH store read planned 64 splits over
        # ~2k files; one file per bucket reads in 2-3 splits).
        df.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket").parquet(self._vdir(version))
        return self._written_buckets(version)

    def overwrite(self, df: DataFrame, props: dict | None = None) -> None:
        """Replace the store contents. An EMPTY frame is rejected: a
        zero-bucket commit would be unreadable (partitionBy writes no
        bucket= dirs, so no schema survives) — truncation is not a
        store operation the reference has either.

        Existing manifest ``props`` carry forward (overwrite replaces
        rows, not the parameters the state was built under); pass
        ``props`` to restamp when the rebuild changed them.
        """
        old = self._current()
        written = self._stage(self._bucket(df), old)
        if not written:
            raise ValueError(
                "refusing to commit an empty store (overwrite received "
                "a frame with no rows)")
        self._publish(old, written, replace=True, props=props)

    def optimize(self, buckets: Sequence[int] | None = None) -> dict:
        """OPTIMIZE analog: rewrite the current snapshot (or just the
        given buckets) into ONE new version dir, coalescing each
        bucket to a single file. A pure compaction — no row changes:

        - collapses the per-version fragmentation merges accumulate
          (a current manifest referencing k version dirs makes
          ``read()`` a k-way union; after optimize it is one scan);
        - the commit is ``dataChange=false``: the manifest's ``data``
          map keeps each bucket's last data-changing version, so
          ``changes()`` across an optimize commit prunes to nothing
          instead of full-outer-joining identical snapshots;
        - time travel within retention is untouched (old manifests
          still reference the old dirs; ``vacuum`` reclaims them).

        Reference analog: R/maintain.R vacuum/analyze housekeeping;
        lakehouse analog: Delta OPTIMIZE (bin-packing compaction).
        Returns {'version', 'buckets_rewritten', 'dirs_before'}.
        """
        old = self._current()
        target = (set(old["buckets"]) if buckets is None
                  else {b for b in buckets if b in old["buckets"]})
        if not target:
            raise ValueError("no existing buckets to optimize")
        dirs_before = len(set(old["buckets"].values()))
        written = set(self._stage(self._scan(old, target), old))
        if written != target:
            raise RuntimeError(
                f"optimize rewrote buckets {sorted(written)} but expected "
                f"{sorted(target)}")
        version = self._publish(old, written, data_change=False)
        return {"version": version, "buckets_rewritten": len(written),
                "dirs_before": dirs_before}

    def maybe_optimize(self, max_fragments: int = 16,
                       buckets: Sequence[int] | None = None) -> dict | None:
        """Auto-compaction policy: run ``optimize`` only when the
        current snapshot is spread across more than ``max_fragments``
        version dirs (each merge commit adds one, so read() degrades
        into an ever-wider union as small commits accumulate). Returns
        the optimize stats, or None if below the threshold — callers
        drop this after ingest batches the way the reference schedules
        maintain.R housekeeping after updates."""
        if len(set(self._current()["buckets"].values())) <= max_fragments:
            return None
        return self.optimize(buckets)

    def props(self) -> dict:
        """Application properties stamped into the manifest (e.g. the
        minhash hash-family version) — {} for stores never stamped."""
        return dict(self._load_manifest().get("props", {}))

    def check_props(self, expected: dict) -> None:
        """Fail loudly when persisted state was built under different
        application parameters (ADVICE r11: a hash-family change makes
        old signatures silently collision-free, not wrong-looking).
        An UNSTAMPED pre-existing store is treated as incompatible —
        rebuild it, or stamp it explicitly via ``stamp_props`` after
        verifying compatibility out-of-band."""
        if not expected or not self.exists():
            return
        have = self.props()
        missing = [k for k in expected if k not in have]
        if missing:
            raise ValueError(
                f"store at {self.path} has no recorded props for "
                f"{missing} (built before prop stamping?) — expected "
                f"{expected}; rebuild the store or stamp_props() after "
                "verifying it was built with these parameters")
        bad = {k: (have[k], v) for k, v in expected.items()
               if have[k] != v}
        if bad:
            raise ValueError(
                f"store at {self.path} was built under different "
                f"parameters: {bad} (have vs expected) — stale state "
                "would produce silently wrong results; rebuild it")

    def stamp_props(self, props: dict) -> None:
        """Commit a manifest that records ``props`` without touching
        data — the explicit migration path for pre-stamp stores."""
        self._publish(self._load_manifest(), (), data_change=False,
                      props=props)

    def merge(self, updates: DataFrame, on_conflict: str = "update",
              props: dict | None = None) -> dict:
        """Upsert ``updates`` by key. Returns counts per action.

        Only buckets whose rows change are rewritten (partition
        pruning on the write side — the Delta MERGE behavior), and the
        rewrite becomes visible atomically at the manifest replace. A
        merge that changes no row commits nothing. A key repeated
        within ``updates`` raises ``ValueError`` before anything is
        written.

        ``props``: application parameters this state depends on; the
        first merge stamps them into the manifest, every later merge
        (and ``check_props``) verifies them — mixed-parameter
        increments fail loudly instead of silently losing collisions.
        """
        if on_conflict not in ("update", "do_nothing"):
            raise ValueError("on_conflict must be 'update' or 'do_nothing'")
        if props:
            self.check_props(props)
        old = self._current()
        # one materialization of the update plan serves the batch
        # stats, the joins and the write: unpersisted, a possibly
        # expensive connector plan would re-run once per action
        updates = self._bucket(updates).persist()
        try:
            # ONE aggregation yields the touched buckets, the row total
            # and the repeated-key check
            rows: dict[int, int] = {}
            for r in (updates.groupBy("bucket", *self.key_cols)
                      .agg(F.count(F.lit(1)).alias("__n"))
                      .groupBy("bucket")
                      .agg(F.sum("__n").alias("__rows"),
                           F.first(F.when(F.col("__n") > 1,
                                          F.struct(*self.key_cols)),
                                   ignorenulls=True).alias("__dup"))
                      .collect()):
                if r["__dup"] is not None:
                    raise ValueError(
                        f"merge batch repeats key {r['__dup'].asDict()}: "
                        "a key may appear at most once per merge")
                rows[r["bucket"]] = r["__rows"]
            total = sum(rows.values())
            if not total and not old["buckets"]:
                raise ValueError(
                    "refusing to create an empty store (initial merge "
                    "received a frame with no rows)")
            # bucket-pruned read through the manifest (NOT
            # read().where): the merge plan stays O(touched buckets),
            # not O(versions), which a daily-increment cadence needs
            existing = self._scan(old, set(rows))
            if existing is None:
                # no touched bucket exists yet: pure insert, no joins
                merged, changed = updates, set(rows)
                counts = {"inserted": total, "updated": 0, "kept": 0}
            elif on_conflict == "update":
                n_updated = existing.join(
                    updates, self.key_cols, "left_semi").count()
                merged = existing.join(
                    updates, self.key_cols, "left_anti").unionByName(updates)
                changed = set(rows)
                counts = {"inserted": total - n_updated,
                          "updated": n_updated, "kept": 0}
            else:
                fresh = updates.join(existing, self.key_cols, "left_anti")
                # per-bucket fresh counts: a bucket gaining no row is
                # neither rewritten nor moved in the ``data`` map
                gained = {r["bucket"]: r["__n"] for r in fresh.groupBy(
                    "bucket").agg(F.count(F.lit(1)).alias("__n")).collect()}
                changed = set(gained)
                merged = existing.where(F.col("bucket").isin(
                    sorted(changed))).unionByName(fresh)
                n_fresh = sum(gained.values())
                counts = {"inserted": n_fresh, "updated": 0,
                          "kept": total - n_fresh}
            if changed:
                self._publish(old, self._stage(merged, old), props=props)
            return counts
        finally:
            updates.unpersist()
