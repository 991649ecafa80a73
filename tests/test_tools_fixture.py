"""tools/_fixture.py: the tools' build-once fixture cache. Pure Python."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from _fixture import MARKER, cached_fixture  # noqa: E402


def _build(stage):
    with open(os.path.join(stage, "t.parquet"), "w") as f:
        f.write("rows")


def test_builds_once_and_prunes_superseded_tags(tmp_path):
    old = tmp_path / "pmr_xfix_0123456789ab"
    old.mkdir()
    (old / MARKER).touch()
    stage = tmp_path / "pmr_xfix_stage_abcd1234"  # another process's: kept
    stage.mkdir()
    other = tmp_path / "pmr_yfix_0123456789ab"  # another prefix: kept
    other.mkdir()
    out = str(tmp_path / "pmr_xfix_ba9876543210")
    assert cached_fixture(out, _build) == out
    assert os.path.isfile(os.path.join(out, MARKER))
    assert sorted(os.listdir(tmp_path)) == sorted(
        [os.path.basename(out), stage.name, other.name]
    )
    calls = []
    assert cached_fixture(out, calls.append) == out  # reused: no build
    assert calls == []


def test_failed_rename_raises_unless_winner_complete(tmp_path, monkeypatch):
    out = str(tmp_path / "pmr_xfix_0123456789ab")

    def deny(src, dst):
        raise PermissionError(13, "denied", dst)

    monkeypatch.setattr(os, "rename", deny)
    with pytest.raises(PermissionError):
        cached_fixture(out, _build)
    assert os.listdir(tmp_path) == []  # the stage is removed too

    def lose_race(src, dst):  # a concurrent build published first
        os.makedirs(dst)
        open(os.path.join(dst, MARKER), "w").close()
        raise FileExistsError(17, "exists", dst)

    monkeypatch.setattr(os, "rename", lose_race)
    assert cached_fixture(out, _build) == out
    assert os.listdir(tmp_path) == [os.path.basename(out)]
