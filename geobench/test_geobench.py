"""The benchmark's own tests: seeded request streams and generated inputs
are reproducible, and the reducers behave.  No Spark session is needed.

    python3 -m pytest geobench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from spans import Tracer, union_ms  # noqa: E402
from workloads import WORKLOADS, stream_bytes  # noqa: E402


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_stream_is_a_function_of_the_seed(name):
    assert stream_bytes(name, 7, 60) == stream_bytes(name, 7, 60)
    assert stream_bytes(name, 7, 60) != stream_bytes(name, 8, 60)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_op_type_is_issued(name):
    wl = WORKLOADS[name](3)
    it = wl.requests()
    seen = set()
    for _ in range(40):
        req = next(it)
        seen.add(req["op"])
    issued = {"ingest_batch"} if name == "ingest_consolidate" else set(wl.ops)
    assert seen == issued


def _digest(d: str) -> dict:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_inputs_are_byte_identical_for_a_seed(name, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sizes = WORKLOADS[name](5).generate(a)
    assert sizes == WORKLOADS[name](5).generate(b)
    assert _digest(a) == _digest(b)


def test_probe_detects_ignored_record_filters(tmp_path):
    # the answer with the time window applied differs from the one without,
    # so the find_container_layouts probe fails while the filter is ignored
    wl = WORKLOADS["catalog_query"](5)
    wl.generate(str(tmp_path))
    wl.load_oracle(str(tmp_path))
    for req in wl.probe_requests().values():
        f = req["filters"]
        unfiltered = {k: v for k, v in f.items() if k != "window"}
        assert wl._layouts(wl._datasets(f)) != wl._layouts(wl._datasets(unfiltered))


def test_self_time_subtracts_children():
    t = Tracer()
    root = t.begin_op(0, "op")
    inner = t.wrap("plans", "f", lambda: None)
    inner()
    t.end_op(root)
    assert [s["parent"] for s in t.spans] == [None, 0]
    s = t.self_ms_by_layer()
    total = (root["end"] - root["start"]) * 1e3
    assert s["op"] + s["plans"] == pytest.approx(total)


def test_union_of_intervals():
    assert union_ms([(0, 10), (5, 12), (20, 25)]) == 17
    assert union_ms([]) == 0
