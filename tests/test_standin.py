"""The one build-once memo (``sources/standin.materialize_once``): a hit
skips the build, a vanished directory is rebuilt at a fresh path, a
failed build records nothing, ``sf_dir`` is part of the key, and every
build's cost lands in ``SETUP_SECONDS``.  The builds here write one
file; no Spark session is needed."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from anglerfish_spark.sources import standin


@pytest.fixture
def memo(monkeypatch):
    """The module with an empty memo and setup map (the real ones may
    already hold demo tables built by other tests in this process)."""
    monkeypatch.setattr(standin, "_DONE", {})
    monkeypatch.setattr(standin, "SETUP_SECONDS", {})
    return standin


def _one_file_build(calls: list):
    def build(path: str) -> None:
        assert not os.path.exists(path)  # build always gets a fresh path
        calls.append(path)
        time.sleep(0.01)
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as f:
            f.write("x")

    return build


def test_hit_returns_same_path_without_building(memo):
    calls: list = []
    build = _one_file_build(calls)
    p1 = memo.materialize_once("k", "/sf", build)
    p2 = memo.materialize_once("k", "/sf", build)
    assert p1 == p2 and calls == [p1]
    assert os.path.isfile(os.path.join(p1, "part-0"))
    assert p1.startswith(memo._ROOT + os.sep)


def test_deleted_dir_rebuilds_at_new_path(memo):
    calls: list = []
    build = _one_file_build(calls)
    p1 = memo.materialize_once("k", "/sf", build)
    shutil.rmtree(p1)
    p2 = memo.materialize_once("k", "/sf", build)
    assert p2 != p1 and calls == [p1, p2]
    assert os.path.isfile(os.path.join(p2, "part-0"))
    assert memo.materialize_once("k", "/sf", build) == p2 and len(calls) == 2


def test_deleted_root_is_recreated(memo, monkeypatch, tmp_path):
    monkeypatch.setattr(standin, "_ROOT", str(tmp_path / "gone"))
    calls: list = []
    p = memo.materialize_once("k", "/sf", _one_file_build(calls))
    assert calls == [p] and os.path.isfile(os.path.join(p, "part-0"))
    assert p.startswith(memo._ROOT + os.sep) and os.path.isdir(memo._ROOT)


def test_failed_build_records_nothing_and_next_call_retries(memo):
    def boom(path: str) -> None:
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        memo.materialize_once("k", "/sf", boom)
    assert memo._DONE == {} and memo.SETUP_SECONDS == {}
    calls: list = []
    p = memo.materialize_once("k", "/sf", _one_file_build(calls))
    assert calls == [p]


def test_sf_dir_is_part_of_the_key(memo):
    calls: list = []
    build = _one_file_build(calls)
    a = memo.materialize_once("k", "/sf_a", build)
    b = memo.materialize_once("k", "/sf_b", build)
    assert a != b and calls == [a, b]
    assert memo.materialize_once("k", "/sf_a", build) == a and len(calls) == 2


def test_setup_seconds_recorded_per_build(memo):
    calls: list = []
    build = _one_file_build(calls)
    p = memo.materialize_once("k", "/sf", build)
    first = memo.SETUP_SECONDS["k"]
    assert first >= 0.01
    memo.materialize_once("k", "/sf", build)  # a hit adds nothing
    assert memo.SETUP_SECONDS["k"] == first
    shutil.rmtree(p)
    memo.materialize_once("k", "/sf", build)  # a rebuild adds its cost
    assert memo.SETUP_SECONDS["k"] >= first + 0.01
