"""Catalog table IO: entity writers with reference-parity validation.

Reference: bulk COPY ingest (pg_records.go:19-55, pg_containers.go:170-230)
-> parquet append; entity validation ported from record.go:174-214,
variable.go:286-328, dataset.go:191-220; AOI dedup-by-hash record.go:33-58.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geocube_spark import schemas
from geocube_spark.functions.geometry import geom_hash, wkb_bounds


TABLES = {
    "aoi": schemas.AOI,
    "records": schemas.RECORD,
    "variables": schemas.VARIABLE,
    "instances": schemas.INSTANCE,
    "containers": schemas.CONTAINER,
    "datasets": schemas.DATASET,
    "layouts": schemas.LAYOUT,
    "cells": schemas.CELL,
    "tiles": schemas.TILE,
    "jobs": schemas.JOB,
    "tasks": schemas.TASK,
    "job_logs": schemas.JOB_LOG,
    "locked_datasets": schemas.LOCKED_DATASET,
}


# Snapshot writes whose optimizer size ESTIMATE is at or below this are
# coalesced to ONE part file before the write (guide §6: small files hurt
# twice — here each catalog commit of a kilobyte-scale entity table was
# paying a task + file-commit per input partition, dozens of empty-file
# tasks for a 2-row frame).  The bound is an estimate read off the
# optimized plan (no job), so the decision is scale-adaptive: production
# tables estimated above it keep their write parallelism, and a wrong
# estimate only costs write-task fan-in, never correctness.  32 MB keeps
# the single output file well inside the guide's 128 MB–1 GB target.
_SMALL_WRITE_EST_BYTES = 32 << 20


def _estimated_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for the optimized plan, or None when
    the JVM surface is unavailable (never raises: this gates a performance
    choice only)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:  # pragma: no cover - defensive against API drift
        return None


def _caller_pinned_layout(df: DataFrame) -> bool:
    """True when the caller's outermost operation is an explicit
    repartition/coalesce — a deliberately chosen file layout (e.g.
    :meth:`Catalog.compact`'s target part count, or a test constructing a
    fragmented snapshot) that the small-write coalesce must not override."""
    try:
        name = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        return name in ("Repartition", "RepartitionByExpression")
    except Exception:  # pragma: no cover - defensive against API drift
        return False


class CommitConflict(RuntimeError):
    """Raised by :meth:`Catalog.write` with ``expect_version`` when another
    writer committed first — the optimistic-concurrency conflict signal
    (the reference's unitOfWork transaction failing on a concurrent
    update, svc/service.go:651-672).  The caller re-reads and re-derives;
    nothing was published."""


class Catalog:
    """A directory of parquet tables, one per entity, made visible through a
    minimal Delta-style COMMIT LOG.

    Layout::

        {root}/{name}.parquet            legacy/bootstrap table (version 0)
        {root}/_data/{name}/v{N}_{hex}/  immutable parquet snapshot, version N
        {root}/_log/{name}/{N:020d}.json commit record -> its data dir

    A table's current content is whatever the HIGHEST-numbered commit file
    points at (or the legacy path if no commit exists).  A write becomes
    visible through exactly ONE atomic filesystem operation — publishing
    the commit file via ``os.link`` (put-if-absent) — so there is no
    multi-rename crash window at all: before the link the old version is
    fully visible, after it the new one is.  This replaces the round-1/2
    target→backup→target rename dance and its ``.bak`` heal-on-access
    protocol (reference parity: the consolidater job state machine's atomic
    ACTIVE<->TODELETE swap, job.go:350-641).

    ``os.link`` failing with EEXIST doubles as optimistic-concurrency
    conflict detection — the same contract a Delta/Iceberg commit makes on
    a real object store; the loser retries against the next version number.
    Orphans from crashes (an uncommitted data dir, a commit tmp) are
    invisible to readers and garbage-collected by the next successful
    write of the same table.
    """

    def __init__(self, spark: SparkSession, root: str, retain_versions: int = 1):
        """``retain_versions`` > 1 keeps that many newest committed versions
        (commit file + snapshot dir) alive for TIME TRAVEL — Delta-style
        ``read(name, version=N)`` / ``history(name)``; older versions are
        garbage-collected by the next write as before.  The default 1
        retains only the current version (the pre-time-travel behavior)."""
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        self.spark = spark
        self.root = root.rstrip("/")
        self.retain_versions = int(retain_versions)
        # (version, snapshot path) -> DataFrame; snapshots are immutable,
        # see _read_snapshot.  Bounded: write()'s GC evicts the entries of
        # the snapshot dirs it sweeps.
        self._df_cache: dict[tuple[int, str], DataFrame] = {}

    def path(self, name: str) -> str:
        """Legacy/bootstrap location (version 0): a bare parquet dataset laid
        down outside the commit log — e.g. fixture copies — is readable
        as-is and superseded by the first committed write."""
        return f"{self.root}/{name}.parquet"

    def _log_dir(self, name: str) -> str:
        return f"{self.root}/_log/{name}"

    def _data_dir(self, name: str) -> str:
        return f"{self.root}/_data/{name}"

    def _commits(self, name: str) -> list[tuple[int, str]]:
        """Sorted (version, commit-file path), ignoring tmp files."""
        d = self._log_dir(name)
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            if f.endswith(".json") and not f.startswith("."):
                try:
                    out.append((int(f[: -len(".json")]), os.path.join(d, f)))
                except ValueError:
                    continue
        return sorted(out)

    def _current(self, name: str) -> tuple[int, str] | None:
        """(version, parquet path) of the newest commit, else the legacy
        path as version 0, else None."""
        import json

        commits = self._commits(name)
        if commits:
            version, cpath = commits[-1]
            with open(cpath) as fh:
                rec = json.load(fh)
            return version, f"{self._data_dir(name)}/{rec['dir']}"
        self._recover(name)
        legacy = self.path(name)
        if os.path.exists(legacy):
            return 0, legacy
        return None

    def _recover(self, name: str) -> None:
        """Legacy-format heal: a round-1/2 swap that crashed after
        target->backup left the ``.bak`` as the only copy — restore it so
        pre-commit-log catalogs remain readable."""
        target = self.path(name)
        backup = f"{target}.bak"
        if os.path.exists(backup) and not os.path.exists(target):
            os.rename(backup, target)

    def _read_snapshot(self, version: int, path: str) -> DataFrame:
        """Version-addressed snapshot dirs are immutable once committed, so
        the DataFrame (schema inference + scan plan) is a pure function of
        (version, path) — memoize it.  Only COMMITTED versions are cached;
        the legacy/bootstrap path (version 0) is re-read every time because
        callers may replace that file in place.  Saves a driver footer read
        and plan re-build per read — the read-modify-write lifecycles call
        read() hundreds of times per job."""
        key = (version, path)
        df = self._df_cache.get(key)
        if df is None:
            df = self.spark.read.parquet(path)
            self._df_cache[key] = df
        return df

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read the current table, or — with ``version`` — a RETAINED past
        version (time travel).  A version the GC already swept (older than
        ``retain_versions`` writes ago) raises with the retained range."""
        import json

        if version is None:
            cur = self._current(name)
            if cur is None:
                raise FileNotFoundError(f"catalog table {name!r} does not exist")
            if cur[0] == 0:
                return self.spark.read.parquet(cur[1])
            return self._read_snapshot(cur[0], cur[1])
        for v, cpath in self._commits(name):
            if v == version:
                with open(cpath) as fh:
                    rec = json.load(fh)
                return self._read_snapshot(
                    v, f"{self._data_dir(name)}/{rec['dir']}"
                )
        if version == 0 and os.path.exists(self.path(name)):
            return self.spark.read.parquet(self.path(name))
        retained = [v for v, _ in self._commits(name)]
        raise FileNotFoundError(
            f"catalog table {name!r} has no retained version {version} "
            f"(retained: {retained or '[]'} — raise retain_versions to keep "
            "more history)"
        )

    def history(self, name: str) -> DataFrame:
        """Retained commit history, newest first: (version, ts, dir) —
        the ``DESCRIBE HISTORY`` surface of the commit log."""
        import json

        rows = []
        for v, cpath in self._commits(name):
            with open(cpath) as fh:
                rec = json.load(fh)
            rows.append((v, float(rec.get("ts", 0.0)), rec["dir"]))
        if not rows and os.path.exists(self.path(name)):
            rows = [(0, 0.0, self.path(name))]
        return self.spark.createDataFrame(
            sorted(rows, reverse=True), "version long, ts double, dir string"
        )

    def exists(self, name: str) -> bool:
        return self._current(name) is not None

    def version(self, name: str) -> int:
        """Current committed version (0 = legacy/bootstrap-only or absent)
        — the token a read-modify-write passes back as ``expect_version``."""
        cur = self._current(name)
        return cur[0] if cur else 0

    def compact(
        self,
        name: str,
        target_file_bytes: int = 128 << 20,
        min_files: int = 1,
    ) -> dict[str, int]:
        """Rewrite the current snapshot into ~target_file_bytes part files
        (the small-files lever: a table accreted by many incremental
        writes ends up with hundreds of KB-scale parts, and at 1000
        executors every query then pays per-file open/footer costs that
        dwarf the scan).  Uses coalesce (no shuffle) and publishes through
        the same commit path, so readers of the old version are never
        disturbed and a crash mid-compaction leaves only invisible
        garbage.  Returns {'files_before', 'files_after', 'bytes'}."""
        cur = self._current(name)
        if cur is None:
            raise FileNotFoundError(f"catalog table {name!r} does not exist")
        _version, path = cur
        parts = [
            os.path.join(dp, f)
            for dp, _dn, fns in os.walk(path)
            for f in fns
            if f.endswith(".parquet")
        ]
        total = sum(os.path.getsize(p) for p in parts)
        n_target = max(min_files, -(-total // max(target_file_bytes, 1)))
        df = self.spark.read.parquet(path)
        if n_target < len(parts):
            self.write(name, df.coalesce(int(n_target)))
        after = self._current(name)
        n_after = (
            len(parts)
            if n_target >= len(parts)
            else sum(
                f.endswith(".parquet")
                for _dp, _dn, fns in os.walk(after[1])
                for f in fns
            )
        )
        return {
            "files_before": len(parts),
            "files_after": n_after,
            "bytes": total,
        }

    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        commit_meta: dict | None = None,
        expect_version: int | None = None,
    ) -> None:
        """Commit a new table version: materialize the snapshot to a fresh
        immutable dir (safe while a lazy plan still reads the current
        version — nothing is overwritten in place), then publish it with a
        single atomic put-if-absent of the commit file.  After the commit
        succeeds, superseded versions and crash orphans are garbage-
        collected; a crash before GC leaves only invisible garbage that the
        next write sweeps.

        ``expect_version`` makes the write a COMPARE-AND-SWAP: it commits
        only if the table is still at that version, else raises
        :class:`CommitConflict` (snapshot discarded, nothing published).
        Blind overwrites (no ``expect_version``) keep last-writer-wins
        semantics — correct for full-table replaces; any READ-MODIFY-WRITE
        derived from the current version must pass the version it read, or
        a concurrent writer's committed rows would silently vanish into
        the loser's retry (the lost-update anomaly the reference's
        unitOfWork transaction rejects, svc/service.go:651-672)."""
        import json
        import shutil
        import time
        import uuid as _uuid

        cur = self._current(name)
        snap = f"v{(cur[0] if cur else 0) + 1}_{_uuid.uuid4().hex[:8]}"
        data_dir = self._data_dir(name)
        log_dir = self._log_dir(name)
        os.makedirs(data_dir, exist_ok=True)
        os.makedirs(log_dir, exist_ok=True)
        est = _estimated_plan_bytes(df)
        if (
            est is not None
            and 0 <= est <= _SMALL_WRITE_EST_BYTES
            and not _caller_pinned_layout(df)
        ):
            df = df.coalesce(1)
        df.write.mode("overwrite").parquet(f"{data_dir}/{snap}")

        for _ in range(16):  # bounded optimistic-concurrency retries
            cur = self._current(name)
            if expect_version is not None and (cur[0] if cur else 0) != expect_version:
                shutil.rmtree(f"{data_dir}/{snap}", ignore_errors=True)
                raise CommitConflict(
                    f"table {name!r} moved to v{cur[0] if cur else 0} "
                    f"(expected v{expect_version}); re-read and re-derive"
                )
            version = (cur[0] if cur else 0) + 1
            tmp = f"{log_dir}/.tmp_commit_{name}_{_uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                rec = {"version": version, "dir": snap, "ts": time.time()}
                if commit_meta:
                    rec.update(commit_meta)
                json.dump(rec, fh)
                fh.flush()
                os.fsync(fh.fileno())
            final = f"{log_dir}/{version:020d}.json"
            try:
                os.link(tmp, final)  # put-if-absent: THE atomic commit point
            except FileExistsError:
                os.remove(tmp)  # lost the race — retry at the next version
                continue
            except BaseException:
                os.remove(tmp)  # commit failed: snapshot stays invisible
                raise
            os.remove(tmp)
            break
        else:  # pragma: no cover - 16 straight lost races
            raise RuntimeError(f"catalog commit contention on table {name!r}")

        # post-commit GC (crash-safe: everything below is already invisible).
        # The newest ``retain_versions`` commits (incl. this one) survive for
        # time travel; only dirs referenced by commits BEYOND that horizon
        # are removed eagerly.  An unreferenced dir might be a CONCURRENT
        # writer's snapshot racing toward its own commit, so orphans are
        # swept by age instead.
        horizon = version - self.retain_versions  # GC commits with v <= horizon
        retained_dirs: set[str] = {snap}
        superseded: set[str] = set()
        for v, cpath in self._commits(name):
            try:
                with open(cpath) as fh:
                    d = json.load(fh)["dir"]
            except OSError:  # pragma: no cover
                continue
            if v <= horizon:
                superseded.add(d)
                try:
                    os.remove(cpath)
                except OSError:  # pragma: no cover
                    pass
            else:
                retained_dirs.add(d)
        swept = {f"{data_dir}/{entry}" for entry in superseded - retained_dirs}
        now = time.time()
        for entry in os.listdir(data_dir):
            if entry in retained_dirs:
                continue
            p = f"{data_dir}/{entry}"
            try:
                if now - os.path.getmtime(p) > 3600:
                    swept.add(p)
            except OSError:  # pragma: no cover
                continue
        for p in swept:
            shutil.rmtree(p, ignore_errors=True)
        # a swept snapshot can never be read again: drop its memoized plan
        for key in [k for k in list(self._df_cache) if k[1] in swept]:
            self._df_cache.pop(key, None)
        for entry in os.listdir(log_dir):
            if entry.startswith(".tmp_commit_"):
                p = f"{log_dir}/{entry}"
                try:
                    if now - os.path.getmtime(p) > 3600:
                        os.remove(p)
                except OSError:  # pragma: no cover
                    pass
        for legacy in (self.path(name), f"{self.path(name)}.bak"):
            if os.path.isdir(legacy):
                shutil.rmtree(legacy, ignore_errors=True)
            elif os.path.exists(legacy):
                os.remove(legacy)


def validate_record_name(name: str) -> None:
    """Legacy alias — the write-path validators live in
    geocube_spark.validation (urn.go:31-38: '/'-separated segments of
    [a-zA-Z0-9-:_]; the old local regex wrongly allowed '.' and rejected
    multi-segment names)."""
    from geocube_spark.validation import validate_record

    validate_record(name)


def make_aoi_rows(geoms_wkb: list[bytes]) -> list[dict]:
    """AOI rows with dedup-by-hash: identical geometry -> identical id
    (record.go:33-58, pg_records.go:228-253)."""
    seen: dict[str, dict] = {}
    for wkb in geoms_wkb:
        h = geom_hash(wkb)
        if h in seen:
            continue
        xmin, ymin, xmax, ymax = wkb_bounds(wkb)
        seen[h] = {
            "id": str(uuid.uuid5(uuid.NAMESPACE_URL, "aoi:" + h)),
            "hash": h,
            "geom_wkb": wkb,
            "bbox": {"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax},
        }
    return list(seen.values())


def validate_dmapping(dm: dict) -> None:
    """Legacy alias — full dataformat.go:53-93 rules (incl. range-within-
    dtype-bounds and nodata-within-bounds-or-NaN, which the old local check
    skipped) live in geocube_spark.validation."""
    from geocube_spark import validation

    validation.validate_dmapping(dm)


def update_record_tags(
    records: DataFrame,
    record_ids: list[str],
    add: dict[str, str] | None = None,
    remove: list[str] | None = None,
) -> DataFrame:
    """C11 tag map ops (pg_records.go:336-377): ``tags || hstore`` merge for
    adds/overwrites, key deletion for removes — JVM-side map_concat /
    map_filter, applied only to the selected records."""
    hit = F.col("id").isin(record_ids)
    tags = F.col("tags")
    if add:
        new_map = F.create_map(
            *[x for k, v in sorted(add.items()) for x in (F.lit(k), F.lit(v))]
        )
        # map_concat raises on duplicate keys: drop overwritten keys first
        add_keys = list(add)
        tags = F.map_concat(
            F.map_filter(tags, lambda k, _: ~k.isin(*add_keys)), new_map
        )
    if remove:
        rm = list(remove)
        tags = F.map_filter(tags, lambda k, _: ~k.isin(*rm))
    return records.withColumn("tags", F.when(hit, tags).otherwise(F.col("tags")))


def tidy_catalog(catalog: Catalog, dry_run: bool = False) -> dict[str, int]:
    """TidyDB (J7 anti-joins, pg_records.go:176-191,323-333;
    pg_containers.go:100-109): delete records/AOIs/containers no dataset
    references.  Returns per-table removed counts; unless ``dry_run``, the
    pruned tables are written back (the reference's TidyDB really deletes).

    Write order matters: ``aoi`` first (its pruned plan reads the *current*
    records table), then ``records``, then ``containers`` — each write only
    depends on tables not yet swapped, so no plan re-reads a replaced path.
    """
    datasets = catalog.read("datasets")
    records = catalog.read("records")
    aoi = catalog.read("aoi")
    containers = catalog.read("containers")

    live_records = records.join(
        datasets.select("record_id").distinct(),
        records["id"] == F.col("record_id"),
        "left_semi",
    )
    live_aoi = aoi.join(
        live_records.select("aoi_id").distinct(),
        aoi["id"] == F.col("aoi_id"),
        "left_semi",
    )
    live_containers = containers.join(
        datasets.select("container_uri").distinct(),
        containers["uri"] == F.col("container_uri"),
        "left_semi",
    )
    removed = {
        "records": records.count() - live_records.count(),
        "aoi": aoi.count() - live_aoi.count(),
        "containers": containers.count() - live_containers.count(),
    }
    if not dry_run:
        if removed["aoi"]:
            catalog.write("aoi", live_aoi)
        if removed["records"]:
            catalog.write("records", live_records)
        if removed["containers"]:
            catalog.write("containers", live_containers)
    return removed
