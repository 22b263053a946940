"""The content-keyed fixture cache (fixtures.materialize_once): a fixture is
rebuilt only when the bytes of its inputs, of its keyed code modules or of
its build function change — never because a file was copied or touched —
and concurrent callers build it once."""

from __future__ import annotations

import inspect
import os
import shutil
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq
import pytest

from geocube_spark import fixtures, registry
from geocube_spark.operators import consolidation
from geocube_spark.operators import dedup as dd
from geocube_spark.sources import stac, zarr


def _count_calls(monkeypatch, module, name: str) -> list[int]:
    calls: list[int] = []
    real = getattr(module, name)
    monkeypatch.setattr(
        module, name, lambda *a, **k: (calls.append(1), real(*a, **k))[1]
    )
    return calls


@pytest.fixture()
def cache(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "FIXTURE_DIR", str(tmp_path / "cache"))


def test_minhash_index_keys_on_document_bytes(spark, sf_dir, cache, tmp_path, monkeypatch):
    builds = _count_calls(monkeypatch, dd, "build_minhash_index")
    out = registry.ensure_minhash_index(spark, sf_dir)
    key = open(out + ".key").read()
    # a byte-identical copy with fresh, later mtimes: same key, no rebuild
    copy = tmp_path / "copy" / os.path.basename(sf_dir.rstrip("/"))
    copy.mkdir(parents=True)
    shutil.copyfile(f"{sf_dir}/documents.parquet", copy / "documents.parquet")
    later = time.time() + 3600
    os.utime(copy / "documents.parquet", (later, later))
    assert registry.ensure_minhash_index(spark, str(copy)) == out
    assert len(builds) == 1 and open(out + ".key").read() == key
    # changed source bytes: rebuilt under a new key
    docs = pq.read_table(copy / "documents.parquet")
    pq.write_table(docs.slice(1), copy / "documents.parquet")
    registry.ensure_minhash_index(spark, str(copy))
    assert len(builds) == 2 and open(out + ".key").read() != key


def test_changed_keyed_module_rebuilds(spark, cache, tmp_path, monkeypatch):
    # the MuCOG fixtures are keyed on operators/consolidation.py, so a change
    # to consolidate_to_mucog rebuilds them instead of serving stale bytes
    builds = _count_calls(monkeypatch, consolidation, "consolidate_to_mucog")
    out = registry.ensure_mucog_interlaced(spark)
    registry.ensure_mucog_interlaced(spark)
    assert len(builds) == 1
    edited = tmp_path / "consolidation.py"
    edited.write_bytes(open(consolidation.__file__, "rb").read() + b"\n# edited\n")
    monkeypatch.setattr(consolidation, "__file__", str(edited))
    assert registry.ensure_mucog_interlaced(spark) == out
    assert len(builds) == 2 and os.path.getsize(out) > 0


def test_concurrent_cold_cache_builds_each_once(cache, monkeypatch):
    builds = [
        _count_calls(monkeypatch, fixtures, "generate"),
        _count_calls(monkeypatch, zarr, "write_zarr_array"),
        _count_calls(monkeypatch, stac, "write_stac_fixture"),
    ]
    ensures = [
        registry.ensure_fixtures, registry.ensure_zarr_fixture,
        registry.ensure_stac_fixture,
    ]
    barrier = threading.Barrier(6, timeout=60)
    results = []

    def worker(i: int) -> None:
        barrier.wait()
        # each thread walks the fixtures in a different order
        results.append(sorted(fn() for fn in ensures[i % 3:] + ensures[: i % 3]))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert [len(b) for b in builds] == [1, 1, 1]
    assert len(results) == 6 and all(r == results[0] for r in results)
    assert all(os.path.exists(p + ".key") for p in results[0])


def test_output_without_key_is_rebuilt(tmp_path):
    # an interrupted build leaves output but no key: the next call clears it
    out = tmp_path / "entry"
    out.mkdir()
    (out / "stale").write_text("partial")
    calls = []

    def build():
        calls.append(1)
        out.mkdir()
        (out / "fresh").write_text("ok")

    fixtures.materialize_once(str(out), build)
    fixtures.materialize_once(str(out), build)
    assert calls == [1] and os.listdir(out) == ["fresh"]


def test_building_every_fixture_leaves_tracked_files_unchanged(spark, sf_dir):
    repo = os.path.dirname(registry.FIXTURE_DIR)
    git = ["git", "-C", repo]
    if shutil.which("git") is None or subprocess.run(
        [*git, "rev-parse"], capture_output=True
    ).returncode:
        pytest.skip("the fixture cache is not in a git checkout")

    def status() -> str:
        return subprocess.run(
            [*git, "status", "--porcelain", "--", registry.FIXTURE_DIR],
            check=True, capture_output=True, text=True,
        ).stdout

    before = status()
    ensures = [getattr(registry, n) for n in dir(registry) if n.startswith("ensure_")]
    assert len(ensures) == 14
    for fn in ensures:
        fn(*(spark, sf_dir)[: len(inspect.signature(fn).parameters)])
    # a change to a keyed input or module shows here until the rebuilt
    # fixture is committed
    assert status() == before
