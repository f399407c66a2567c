"""Seeded inputs are reproducible, and the stats expectation the
episodes_full check uses agrees with the raw frames."""

import glob
import hashlib
import os

import numpy as np
import pandas as pd

import inputs
from workloads import expected_global_stats


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_documents_depend_only_on_the_seed(tmp_path):
    a = inputs.documents(str(tmp_path / "a" / "documents.parquet"), 3, 300)
    b = inputs.documents(str(tmp_path / "b" / "documents.parquet"), 3, 300)
    c = inputs.documents(str(tmp_path / "c" / "documents.parquet"), 4, 300)
    assert _digest(tmp_path / "a" / "documents.parquet") == _digest(tmp_path / "b" / "documents.parquet")
    assert _digest(tmp_path / "a" / "documents.parquet") != _digest(tmp_path / "c" / "documents.parquet")
    assert a["emails"] == b["emails"] and a["lang"] == b["lang"]
    assert c["rows"] == a["rows"] == 300


def test_episode_keys_name_chunks_as_the_tree_does(tmp_path):
    root = str(tmp_path / "t")
    inputs.episode_tree(root, 1, 45, 40, 20)
    chunks = sorted(os.listdir(os.path.join(root, "data")))
    keys = inputs.episode_keys(45, 20)
    assert sorted({c for _, c in keys}) == chunks == ["chunk-000", "chunk-001", "chunk-002"]
    assert os.path.exists(os.path.join(root, "data", keys[44][1], "episode_000044.parquet"))


def test_rewrite_is_seeded_and_changes_only_the_chosen_files(tmp_path):
    roots = []
    for name in ("x", "y"):
        root = str(tmp_path / name)
        inputs.episode_tree(root, 5, 60, 40, 16)
        roots.append(root)
    picked = inputs.pick_rewrites(roots[0], 5, 0.1)
    assert picked == inputs.pick_rewrites(roots[1], 5, 0.1)
    assert len(picked) == 5 and all(e % 20 not in (17, 19) for e in picked)
    paths = glob.glob(os.path.join(roots[0], "data", "*", "*.parquet"))
    before = {p: _digest(p) for p in paths}
    inputs.rewrite_episodes(roots[0], picked, salt=1)
    once = {p: _digest(p) for p in paths}
    changed = {int(os.path.basename(p)[8:14]) for p in paths if once[p] != before[p]}
    assert changed == set(picked)
    # another salt gives other contents again, same rows
    inputs.rewrite_episodes(roots[0], picked, salt=2)
    assert all(_digest(p) != once[p] for p in paths if int(os.path.basename(p)[8:14]) in picked)
    assert inputs.tree_info(roots[0])["rows"] == inputs.tree_info(roots[1])["rows"]


def test_expected_stats_equal_the_frames(tmp_path):
    root = str(tmp_path / "tree")
    inputs.episode_tree(root, 2, 25, 40, 10)
    validated = {0, 1, 2, 4, 6, 7, 8}
    frames = pd.concat(
        pd.read_parquet(p)
        for p in glob.glob(os.path.join(root, "data", "*", "*.parquet"))
    )
    frames = frames[frames.episode_index.isin(validated)]
    got = expected_global_stats(os.path.join(root, "meta", "episodes_stats.jsonl"), validated)
    for feature in ("action", "observation.state"):
        # episode 7 has one 5-wide action: dims 0-4 see every row
        first5 = np.stack([v[:5] for v in frames[feature]])
        full = np.stack([v for v in frames[feature] if len(v) == 8])
        assert got[feature]["count"] == len(frames)
        np.testing.assert_allclose(got[feature]["mean"][:5], first5.mean(0), rtol=1e-6, atol=1e-9)
        np.testing.assert_allclose(got[feature]["std"][:5], first5.std(0), rtol=1e-6, atol=1e-9)
        np.testing.assert_allclose(got[feature]["min"][5:], full[:, 5:].min(0))
