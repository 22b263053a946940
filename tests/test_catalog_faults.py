"""Crash/concurrency fault injection for the Catalog commit protocol.

The commit log (sources/catalog.py) is the engine's ACID substrate — every
job-lifecycle test rides it.  These tests drive the three windows the
protocol claims to close (reference analogue: the unitOfWork/optimistic
concurrency semantics of svc/service.go:651-672 and the job state
machine's atomic swaps, job.go:350-641):

  (a) crash between snapshot materialization and commit-link — the
      snapshot must stay invisible, and the next write must sweep it once
      it is stale (but NEVER sweep a fresh dir, which may be a concurrent
      writer racing toward its own commit);
  (b) two writers racing one version — the loser retries at the next
      version; both land intact, neither mixes rows;
  (c) GC vs a reader holding an old version — within retain_versions the
      old snapshot stays readable; beyond it the read fails with the
      retained range (never silently returns wrong data).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

from geocube_spark.sources.catalog import Catalog


def _df(spark, writer_id: int, n: int = 100):
    return spark.range(n).select(
        F.lit(writer_id).alias("w"), F.col("id").alias("k")
    )


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"), retain_versions=2)


class TestCrashBeforeCommit:
    def test_failed_commit_leaves_old_version_visible(self, spark, cat):
        cat.write("t", _df(spark, 1))

        # crash INSIDE the commit step: snapshot dir is fully written,
        # the commit file never lands
        real_link = os.link

        def boom(*a, **k):
            raise KeyboardInterrupt("injected crash before commit-link")

        os.link = boom
        try:
            with pytest.raises(KeyboardInterrupt):
                cat.write("t", _df(spark, 2))
        finally:
            os.link = real_link

        # the reader still sees writer 1 — the orphan snapshot is invisible
        assert [r["w"] for r in cat.read("t").select("w").distinct().collect()] == [1]
        data_dir = cat._data_dir("t")
        orphans = {
            d for d in os.listdir(data_dir)
            if d not in {json.load(open(p))["dir"] for _, p in cat._commits("t")}
        }
        assert orphans, "the crashed writer's snapshot dir should exist on disk"

        # a FRESH orphan is NOT swept (it may be a live concurrent writer)
        cat.write("t", _df(spark, 3))
        assert orphans <= set(os.listdir(data_dir))

        # once stale (>1h), the next write sweeps it
        for d in orphans:
            p = os.path.join(data_dir, d)
            os.utime(p, (time.time() - 7200, time.time() - 7200))
        cat.write("t", _df(spark, 4))
        assert not orphans & set(os.listdir(data_dir))
        assert [r["w"] for r in cat.read("t").select("w").distinct().collect()] == [4]

    def test_stale_commit_tmp_swept(self, spark, cat):
        """A .tmp_commit_ file from a writer that died between fsync and
        link is invisible to _commits() and aged out by the next write."""
        cat.write("t", _df(spark, 1))
        log_dir = cat._log_dir("t")
        stale = os.path.join(log_dir, ".tmp_commit_t_deadbeef")
        with open(stale, "w") as fh:
            json.dump({"version": 99, "dir": "vXX_dead"}, fh)
        os.utime(stale, (time.time() - 7200, time.time() - 7200))
        assert cat._commits("t")[-1][0] == 1  # tmp never counted as a commit
        cat.write("t", _df(spark, 2))
        assert not os.path.exists(stale)

    def test_crash_after_commit_before_gc_heals(self, spark, cat):
        """A writer that commits and then dies before GC leaves a
        superseded dir on disk with its commit file already gone — an
        unreferenced orphan.  It must NOT be swept while fresh (it is
        indistinguishable from a concurrent writer's in-flight snapshot)
        and must be swept by the age-based pass once stale."""
        cat.write("t", _df(spark, 1))
        real_rmtree = shutil.rmtree
        shutil.rmtree = lambda *a, **k: None  # GC "crashes" (no-op)
        try:
            cat.write("t", _df(spark, 2))
            cat.write("t", _df(spark, 3))  # v1 now beyond retain_versions=2
        finally:
            shutil.rmtree = real_rmtree
        data_dir = cat._data_dir("t")
        leftovers = [d for d in os.listdir(data_dir) if d.startswith("v1_")]
        assert leftovers
        # fresh leftover survives the next write (concurrent-writer guard)
        cat.write("t", _df(spark, 4))
        assert any(d.startswith("v1_") for d in os.listdir(data_dir))
        # stale leftover is swept
        for d in leftovers:
            p = os.path.join(data_dir, d)
            os.utime(p, (time.time() - 7200, time.time() - 7200))
        cat.write("t", _df(spark, 5))
        live = {json.load(open(p))["dir"] for _, p in cat._commits("t")}
        assert set(os.listdir(data_dir)) == live
        assert not any(d.startswith(("v1_", "v2_")) for d in os.listdir(data_dir))
        # current content is intact throughout
        assert [r["w"] for r in cat.read("t").select("w").distinct().collect()] == [5]


class TestWriterRace:
    def test_squatted_version_retries_to_next(self, spark, cat):
        """Deterministic lost race: another writer's commit lands between
        this writer's _current() read and its os.link — EEXIST, retry,
        commit at the NEXT version with the same snapshot."""
        cat.write("t", _df(spark, 1))  # v1

        real_link = os.link
        state = {"fired": False}

        def inject_then_link(src, dst):
            if not state["fired"] and dst.endswith(f"{2:020d}.json"):
                state["fired"] = True
                # the rival commits version 2 first: copy v1's snapshot
                # under a new name and publish it
                data_dir = cat._data_dir("t")
                with open(cat._commits("t")[-1][1]) as fh:
                    v1_dir = json.load(fh)["dir"]
                rival = "v2_rival000"
                shutil.copytree(f"{data_dir}/{v1_dir}", f"{data_dir}/{rival}")
                with open(f"{cat._log_dir('t')}/{2:020d}.json", "w") as fh:
                    json.dump({"version": 2, "dir": rival, "ts": time.time()}, fh)
            return real_link(src, dst)

        os.link = inject_then_link
        try:
            cat.write("t", _df(spark, 9))
        finally:
            os.link = real_link

        assert state["fired"]
        vs = sorted(v for v, _ in cat._commits("t"))
        assert vs[-1] == 3  # loser retried and landed at v3
        assert [r["w"] for r in cat.read("t").select("w").distinct().collect()] == [9]
        # the rival's v2 is intact history (retain_versions=2 keeps it)
        assert [
            r["w"] for r in cat.read("t", version=2).select("w").distinct().collect()
        ] == [1]

    def test_threaded_writers_never_interleave_rows(self, spark, tmp_path):
        """Two writers hammering one table: every committed version is
        EXACTLY one writer's dataset (atomicity), and the final state is
        one of the two (no torn mix, no lost table)."""
        cat = Catalog(spark, str(tmp_path / "race"), retain_versions=8)
        cat.write("t", _df(spark, 0))
        errs: list[Exception] = []

        def run(writer_id: int):
            try:
                for _ in range(3):
                    cat.write("t", _df(spark, writer_id))
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [threading.Thread(target=run, args=(i,)) for i in (1, 2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        versions = [v for v, _ in cat._commits("t")]
        assert len(versions) == 7  # 1 seed + 6 writes, no commit lost
        for v in versions:
            rows = cat.read("t", version=v).groupBy("w").count().collect()
            assert len(rows) == 1 and rows[0]["count"] == 100


class TestReaderVsGC:
    def test_reader_within_retention_survives_write(self, spark, cat):
        cat.write("t", _df(spark, 1))
        old = cat.read("t")  # lazy plan pinned to v1's path
        cat.write("t", _df(spark, 2))
        # retain_versions=2 keeps v1 alive: the old plan still collects
        assert [r["w"] for r in old.select("w").distinct().collect()] == [1]
        assert [
            r["w"] for r in cat.read("t", version=1).select("w").distinct().collect()
        ] == [1]

    def test_reader_beyond_retention_fails_loud(self, spark, cat):
        cat.write("t", _df(spark, 1))
        cat.write("t", _df(spark, 2))
        cat.write("t", _df(spark, 3))  # v1 GC'd (retain_versions=2)
        with pytest.raises(FileNotFoundError, match="no retained version 1"):
            cat.read("t", version=1)
        # history shows exactly the retained window
        assert [r["version"] for r in cat.history("t").collect()] == [3, 2]

    def test_swept_versions_leave_the_snapshot_cache(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path / "evict"), retain_versions=1)
        for w in range(1, 6):
            cat.write("t", _df(spark, w, n=5))
            cat.read("t")  # memoizes the new version's snapshot
        # only the current v5 survives the sweeps, in the cache as on disk
        assert sorted(v for v, _ in cat._df_cache) == [5]
        assert all(os.path.isdir(p) for _, p in cat._df_cache)


class TestCompareAndSwap:
    """expect_version CAS (the unitOfWork optimistic-concurrency twin,
    svc/service.go:651-672): a read-modify-write that lost the race must
    raise — not silently republish its stale derivation — and the client's
    _rmw loop must make concurrent state-machine writers serializable."""

    def test_stale_version_rejected_and_nothing_published(self, spark, cat):
        from geocube_spark.sources.catalog import CommitConflict

        cat.write("t", _df(spark, 1))
        v = cat.version("t")
        cat.write("t", _df(spark, 2))  # rival commits first
        derived = cat.read("t")  # stale RMW derivation
        with pytest.raises(CommitConflict, match="moved to v2"):
            cat.write("t", derived.withColumn("w", F.lit(9)), expect_version=v)
        # the winner's data is intact and the loser's snapshot is not live
        assert [r["w"] for r in cat.read("t").select("w").distinct().collect()] == [2]
        live = {
            json.load(open(p))["dir"] for _, p in cat._commits("t")
        }
        assert set(os.listdir(cat._data_dir("t"))) <= live | set()

    def test_concurrent_rmw_state_writers_lose_no_update(
        self, spark, fixture_dir, tmp_path
    ):
        """Two threads flipping DIFFERENT job rows through _set_job_state:
        without CAS one whole-table overwrite would swallow the other's
        committed row; with the _rmw loop both land every time."""
        import shutil as _sh

        from geocube_spark.client import GeocubeClient

        root = tmp_path / "cas_catalog"
        root.mkdir()
        _sh.copy(f"{fixture_dir}/jobs.parquet", root / "jobs.parquet")
        c = GeocubeClient(spark, str(root))
        errs: list[Exception] = []

        def flip(job_id: str, state: str):
            try:
                for _ in range(3):
                    c._set_job_state(job_id, state, False)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        t1 = threading.Thread(target=flip, args=("job-1", "DONE"))
        t2 = threading.Thread(target=flip, args=("job-2", "FAILED"))
        t1.start(); t2.start(); t1.join(); t2.join()
        assert not errs
        rows = {
            r["id"]: r["state"]
            for r in c.catalog.read("jobs")
            .filter(F.col("id").isin("job-1", "job-2"))
            .collect()
        }
        assert rows == {"job-1": "DONE", "job-2": "FAILED"}
