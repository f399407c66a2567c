"""Seeded inputs for the workloads, written under the run's work dir.

The same seed gives the same bytes. Sizes are fixed per workload; the
seed changes only content, so runs with different seeds do the same
amount of work.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The word family of the repo's documents fixture: 30 words drawn
# uniformly, one Gopher stopword ("the"), 10..100 words per document; the
# blocklist word ("dup") is planted in 5% of the documents, as there.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
BLOCKWORD = "dup"
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
BLOCK_SHARE = 0.05
EMAIL_SHARE = 0.03
EXACT_DUP_SHARE = 0.02


def tree_info(root: str) -> dict:
    """File count, bytes and frame rows of a LeRobot tree."""
    parquets = sorted(glob.glob(os.path.join(root, "data", "*", "episode_*.parquet")))
    videos = glob.glob(os.path.join(root, "videos", "*", "*", "*.mp4"))
    return {
        "parquet_files": len(parquets),
        "video_files": len(videos),
        "bytes": sum(os.path.getsize(p) for p in parquets + videos),
        "rows": sum(pq.read_metadata(p).num_rows for p in parquets),
    }


def episode_tree(root: str, seed: int, n_episodes: int, frames: int, per_chunk: int) -> dict:
    """The package's synthetic LeRobot tree, injected defects included:
    duplicate frame (ep % 20 == 3), NaN timestamp (5), ragged vector (7),
    out-of-order frames (11), wrong meta length (13), missing wrist video
    (17) and an orphan video without parquet (19)."""
    from imitation_learning_data_pipeline_spark.pipeline.synthetic import (
        ensure_lerobot_tree,
    )

    ensure_lerobot_tree(root, n_episodes, frames, per_chunk, seed=seed)
    info = {
        "generator": "pipeline.synthetic.ensure_lerobot_tree",
        "n_episodes": n_episodes,
        "frames_per_episode": frames,
        "episodes_per_chunk": per_chunk,
        "seed": seed,
    }
    info.update(tree_info(root))
    return info


def episode_keys(n_episodes: int, per_chunk: int) -> list[tuple[int, str]]:
    """(episode_index, chunk) of every episode of a generated tree,
    orphans included, as discover names them."""
    return [(ep, f"chunk-{ep // per_chunk:03d}") for ep in range(n_episodes)]


def _episode_parquets(root: str) -> dict[int, str]:
    out = {}
    for p in glob.glob(os.path.join(root, "data", "*", "episode_*.parquet")):
        out[int(os.path.basename(p)[len("episode_") : -len(".parquet")])] = p
    return out


def pick_rewrites(root: str, seed: int, share: float) -> list[int]:
    """A seeded ``share`` of the episodes that have a parquet and both
    videos (so their status can only be UNCHANGED or CHANGED)."""
    eps = sorted(e for e in _episode_parquets(root) if e % 20 != 17)
    rng = np.random.default_rng(seed + 7919)
    k = max(1, round(share * len(eps)))
    return sorted(int(e) for e in rng.choice(eps, size=k, replace=False))


def rewrite_episodes(root: str, episodes: list[int], salt: int) -> None:
    """Rewrite the given episodes' parquets with new frame values (same
    schema and row count): the ``action`` vectors shift by a seeded
    offset per file, so each ``salt`` gives new file contents."""
    paths = _episode_parquets(root)
    rng = np.random.default_rng(salt)
    for ep in episodes:
        t = pq.read_table(paths[ep])
        col = t.column("action").combine_chunks()
        shifted = pc.add(col.values, pa.scalar(rng.normal() + 1.0, pa.float32()))
        new = pa.ListArray.from_arrays(col.offsets, shifted)
        pq.write_table(t.set_column(t.schema.get_field_index("action"), "action", new), paths[ep])


def documents(path: str, seed: int, n_docs: int) -> dict:
    """A documents table of the repo's fixture family. Disjoint sets of
    documents carry the blocklist word (the blocklist stage's work), an
    e-mail address (the PII stage's) or an exact copy of another
    document (the rewrite and dedup stages'). Returns the table's facts
    the checks use."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_docs)
    words = rng.choice(VOCAB, int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[offs[i] : offs[i + 1]]) for i in range(n_docs)]
    order = iter(rng.permutation(n_docs).tolist())

    def take(share: float) -> list[int]:
        return [next(order) for _ in range(int(share * n_docs))]

    for i in take(BLOCK_SHARE):
        w = texts[i].split()
        w.insert(int(rng.integers(len(w) + 1)), BLOCKWORD)
        texts[i] = " ".join(w)
    emails = {}
    for i in take(EMAIL_SHARE):
        local = f"u{seed}x{i}q"
        emails[i] = local
        texts[i] = f"{texts[i]} contact {local}@mail{i % 7}.example now"
    for dst, src in zip(take(EXACT_DUP_SHARE), take(EXACT_DUP_SHARE)):
        texts[dst] = texts[src]
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        path,
    )
    return {
        "n_docs": n_docs,
        "seed": seed,
        "bytes": os.path.getsize(path),
        "rows": n_docs,
        "emails": emails,
        "lang": {i: str(lang) for i, lang in enumerate(langs)},
    }


def warc_corpus(docs_dir: str, out_root: str, replicas: int, n_files: int) -> dict:
    """The package's WARC generator over ``docs_dir/documents.parquet``,
    with its capture index, so a bare-directory ingest takes the
    index-planned shape and a ``*.warc.gz`` glob the decide-first one."""
    from imitation_learning_data_pipeline_spark.plans.web import build_warc_corpus

    corpus = build_warc_corpus(
        docs_dir, out_root=out_root, replicas=replicas, n_files=n_files, index=True
    )
    segs = glob.glob(os.path.join(corpus, "*.warc.gz"))
    n_docs = pq.read_metadata(os.path.join(docs_dir, "documents.parquet")).num_rows
    return {
        "generator": "plans.web.build_warc_corpus",
        "dir": corpus,
        "replicas": replicas,
        "n_files": len(segs),
        "bytes": sum(os.path.getsize(p) for p in segs),
        "records": n_docs * replicas,
        # every URL is shared by two captures, at most one of them a 404
        "urls": n_docs * replicas // 2,
    }
