"""The oracle sidecar cache contract (tools/make_oracle_sidecars.py):
`ensure` builds a missing sidecar with its dependency-hash meta, reuses
it while the hash matches, and rebuilds it when the meta is wrong or
corrupt."""

from __future__ import annotations

import json
import os

import make_oracle_sidecars as S
import pytest


@pytest.fixture
def sidecars(tmp_path, monkeypatch):
    """OUT_DIR in tmp_path; the cheap synthetic `video_frames` sidecar
    with a build counter."""
    builds = []
    reads, table, deps = S.SIDECARS["video_frames"]

    def counted(in_dir):
        builds.append(in_dir)
        return table(in_dir)

    monkeypatch.setattr(S, "OUT_DIR", str(tmp_path))
    monkeypatch.setitem(S.SIDECARS, "video_frames", (reads, counted, deps))
    return builds


def test_ensure_builds_once_then_reuses(sidecars, tmp_path):
    path = S.ensure("video_frames", None)
    assert path == str(tmp_path / "video_frames_synth.parquet")
    with open(path + ".deps.json") as f:
        meta = json.load(f)
    assert meta["deps"] == [S._SELF_DEP, *S.SIDECARS["video_frames"][2]]
    assert len(meta["sha256"]) == 64
    assert len(sidecars) == 1
    mtime = os.stat(path).st_mtime_ns

    assert S.ensure("video_frames", None) == path
    assert len(sidecars) == 1
    assert os.stat(path).st_mtime_ns == mtime


@pytest.mark.parametrize("meta", ['{"sha256": "0", "deps": []}', "{not json", "[]"])
def test_stale_or_corrupt_meta_rebuilds(sidecars, meta):
    path = S.ensure("video_frames", None)
    good = open(path + ".deps.json").read()
    with open(path + ".deps.json", "w") as f:
        f.write(meta)
    S.ensure("video_frames", None)
    assert len(sidecars) == 2
    assert open(path + ".deps.json").read() == good


def test_missing_sidecar_rebuilds(sidecars):
    path = S.ensure("video_frames", None)
    os.remove(path)
    S.ensure("video_frames", None)
    assert len(sidecars) == 2 and os.path.exists(path)


def test_built_bytes_equal_committed_sidecar(sidecars):
    with open(S.ensure("video_frames", None), "rb") as f:
        built = f.read()
    with open(os.path.join(S.REPO, "oracle_out", "video_frames_synth.parquet"), "rb") as f:
        assert built == f.read()
