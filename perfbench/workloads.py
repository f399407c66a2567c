"""The benchmark's workloads.

Each workload drives the package through a public entry point, the way
a user does, and checks what it produced:

- ``episodes_full``: ``orchestration.run_pipeline`` with the in-process
  ``cli.main`` runner over a synthetic LeRobot tree, from a fresh work
  dir. After the timed loop, one incremental rediscovery (``cli
  discover`` against the last manifest, after rewriting a seeded 5% of
  the episodes) is run and checked as its own operation.
- ``docs_curation``: the 9-stage production ``curation_funnel``
  (``report=False``), written to parquet. Its traced run also runs the
  funnel one stage per call, and ``ingest_warc_plan(dedup_url=True)``
  over a WARC corpus of the same documents, once on the bare corpus
  directory (index-planned shape) and once on a ``*.warc.gz`` glob
  (decide-first shape).

A workload has ``prepare`` (untimed, part of set-up), ``iteration`` (the
timed unit of user work; returns its output dir), ``check`` (untimed),
``after`` (untimed extra operations) and ``traced_extra`` (work only the
traced run does). Checks return the names of the checks that failed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import sys
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import inputs

# Checks that fail because of a known program defect. They count as
# failed operations but do not make the run incorrect.
#
# discover(prev_manifest=...) re-marks every prior ORPHAN_VIDEO (and
# DELETED) key as DELETED next to its fresh ORPHAN_VIDEO row, so each
# rediscovery over an unchanged tree grows the manifest.
KNOWN_DEFECTS = frozenset({"rediscover_orphans_stay_orphan", "rediscover_unique_keys"})


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (links not followed)."""
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(dp, f))
            total += st.st_size
    return total


def _quiet():
    """The CLI prints one JSON summary per subcommand; keep stdout for
    the benchmark's own result lines."""
    return contextlib.redirect_stdout(sys.stderr)


class Workload:
    """Defaults for the hooks a workload may leave out."""

    def after(self, tracer) -> list[tuple[str, list[str], dict]]:
        return []

    def traced_extra(self, tracer) -> list[tuple[str, list[str], dict]]:
        return []

    def trace_facts(self) -> dict:
        return {}


# --- episodes_full -----------------------------------------------------------

# cli subcommand → layer
PIPELINE_LAYERS = {
    "discover": "pipeline.discover",
    "validate": "pipeline.validate",
    "stats": "pipeline.stats_stage",
    "align-transform": "pipeline.align",
    "materialize": "pipeline.materialize",
}


def expected_global_stats(stats_jsonl: str, validated: set[int]) -> dict:
    """Global stats the stats stage must produce: the count-weighted
    combine of the generator's exact per-episode stats over the
    validated episodes (population variance, clamped at 0)."""
    acc: dict[str, dict[str, list]] = {}
    with open(stats_jsonl) as f:
        for line in f:
            rec = json.loads(line)
            if rec["episode_index"] not in validated:
                continue
            for feature, st in rec["stats"].items():
                # the sidecar rotates count shapes: scalar, per-dim
                # list, or the frame_count alias
                n = st.get("count", st.get("frame_count"))
                n = n[0] if isinstance(n, list) else n
                a = acc.setdefault(feature, {"n": [], "mean": [], "std": [], "min": [], "max": []})
                a["n"].append(n)
                for k in ("mean", "std", "min", "max"):
                    a[k].append(st[k])
    out = {}
    for feature, a in acc.items():
        n = np.asarray(a["n"], dtype=float)[:, None]
        mean, std = np.asarray(a["mean"]), np.asarray(a["std"])
        mu = (n * mean).sum(0) / n.sum()
        ex2 = (n * (std * std + mean * mean)).sum(0) / n.sum()
        out[feature] = {
            "count": int(n.sum()),
            "mean": mu,
            "std": np.sqrt(np.maximum(ex2 - mu * mu, 0.0)),
            "min": np.asarray(a["min"]).min(0),
            "max": np.asarray(a["max"]).max(0),
        }
    return out


class EpisodesFull(Workload):
    name = "episodes_full"
    N_EPISODES = 160
    FRAMES = 250
    PER_CHUNK = 32
    REWRITE_SHARE = 0.05
    # materialize's split is a seeded hash of the episode index, so for a
    # fixed episode set the split sizes are fixed whatever the frame data
    EXPECTED_SPLITS = {"test": 16, "train": 121, "val": 15}

    def prepare(self, spark, work: str, seed: int, timings: dict) -> dict:
        self.spark, self.work, self.seed = spark, work, seed
        self.tree = os.path.join(work, "tree")
        info = inputs.episode_tree(self.tree, seed, self.N_EPISODES, self.FRAMES, self.PER_CHUNK)
        with_parquet = [e for e in range(self.N_EPISODES) if e % 20 != 19]
        self.failing = {e for e in with_parquet if e % 20 in (3, 5, 11, 13)}
        # align drops the duplicated frame (keep-first), the NaN-timestamp
        # frame and the ragged-vector frame of each injected episode
        dropped = sum(1 for e in with_parquet if e % 20 in (3, 5, 7))
        self.frames_out = info["rows"] - dropped
        self.stats = expected_global_stats(
            os.path.join(self.tree, "meta", "episodes_stats.jsonl"),
            set(with_parquet) - self.failing,
        )
        self.result = None
        self.manifest = None
        return info

    def iteration(self, i: int, tracer) -> str:
        from imitation_learning_data_pipeline_spark.cli import main
        from imitation_learning_data_pipeline_spark.orchestration import run_pipeline

        out = os.path.join(self.work, f"run{i}")
        runner = main
        if tracer.enabled:

            def runner(argv):
                with tracer.span(PIPELINE_LAYERS[argv[0]]):
                    return main(argv)

        with _quiet(), tracer.span("orchestration"):
            self.result = run_pipeline(self.tree, out, runner=runner, retry_delay_override_s=0.0)
        self.manifest = os.path.join(out, "manifest", "episodes.parquet")
        return out

    def check(self, out: str) -> tuple[list[str], dict]:
        failures = []
        res = self.result
        if not res.ok or any(s != "success" for s in res.statuses.values()):
            failures.append("dag_tasks_succeed")
        facts = {"statuses": res.statuses, "task_attempts": sum(res.attempts.values())}
        if failures:
            return failures, facts

        report = pq.read_table(
            os.path.join(out, "validation", "episodes.parquet"), columns=["episode_index", "ok"]
        ).to_pydict()
        failed = {e for e, ok in zip(report["episode_index"], report["ok"]) if not ok}
        if failed != self.failing:
            failures.append("validate_fails_injected_episodes")

        with open(os.path.join(out, "stats", "global_stats.json")) as f:
            got = json.load(f)
        for feature, exp in self.stats.items():
            g = got.get(feature)
            if g is None or g["count"] != exp["count"] or not all(
                np.allclose(g[k], exp[k], rtol=1e-6, atol=1e-8)
                for k in ("mean", "std", "min", "max")
            ):
                failures.append("global_stats_match_sidecar")
                break

        norm = sum(
            pq.read_metadata(p).num_rows
            for p in glob.glob(os.path.join(out, "normalized", "data", "*.parquet"))
        )
        splits: dict[str, set] = {}
        frames = 0
        for p in glob.glob(os.path.join(out, "dataset", "data", "split=*", "chunk=*", "*.parquet")):
            split = re.search(r"split=([^/]+)", p).group(1)
            eps = pq.read_table(p, columns=["episode_index"]).column(0).to_pylist()
            frames += len(eps)
            splits.setdefault(split, set()).update(eps)
        split_counts = {s: len(v) for s, v in sorted(splits.items())}
        if norm != self.frames_out or frames != self.frames_out:
            failures.append("materialized_frames")
        if split_counts != self.EXPECTED_SPLITS:
            failures.append("materialized_splits")
        facts.update({"normalized_rows": norm, "dataset_rows": frames, "split_episodes": split_counts})
        return failures, facts

    def after(self, tracer) -> list[tuple[str, list[str], dict]]:
        """Incremental rediscovery: rewrite a seeded 5% of the episodes,
        then ``cli discover`` against the last run's manifest. The
        manifest-integrity checks are their own operation, so that the
        known defect does not hide the diff checks."""
        from imitation_learning_data_pipeline_spark.cli import main

        changed = inputs.pick_rewrites(self.tree, self.seed, self.REWRITE_SHARE)
        inputs.rewrite_episodes(self.tree, changed, salt=self.seed)
        with _quiet(), tracer.span("pipeline.rediscover"):
            rc = main(["discover", "--data-root", self.tree, "--manifest", self.manifest])
        if rc != 0:
            return [("rediscover", ["rediscover_exit_code"], {"rc": rc})]
        m = pq.read_table(self.manifest, columns=["episode_index", "chunk", "status"]).to_pydict()
        rows = list(zip(m["episode_index"], m["chunk"], m["status"]))
        statuses = dict(Counter(s for _, _, s in rows))
        keys = set(inputs.episode_keys(self.N_EPISODES, self.PER_CHUNK))
        diff = []
        if {e for e, _, s in rows if s == "CHANGED"} != set(changed):
            diff.append("rediscover_changed_set")
        if {(e, c) for e, c, s in rows if s != "DELETED"} != keys:
            diff.append("rediscover_lists_every_episode")
        integrity = []
        if any(s != "ORPHAN_VIDEO" for e, _, s in rows if e % 20 == 19):
            integrity.append("rediscover_orphans_stay_orphan")
        if len({(e, c) for e, c, _ in rows}) != len(rows):
            integrity.append("rediscover_unique_keys")
        facts = {"rewritten": len(changed), "manifest_rows": len(rows), "statuses": statuses}
        return [("rediscover", diff, facts), ("manifest_integrity", integrity, {})]

    def trace_facts(self) -> dict:
        return {"orchestration.task_attempts": sum(self.result.attempts.values())}


# --- docs_curation -----------------------------------------------------------

CURATION_STAGES = (
    "gopher", "blocklist", "pii", "rewrite", "decontam",
    "dedup", "neardup", "classify", "sample",
)


class DocsCuration(Workload):
    name = "docs_curation"
    N_DOCS = 2000
    PROBE_SHARE = 0.02
    TRAIN_SHARE = 0.2
    # a fit's cost is one job per iteration; the model only has to score
    TRAIN_ITERATIONS = 5
    WARC_REPLICAS = 4
    WARC_FILES = 8

    def prepare(self, spark, work: str, seed: int, timings: dict) -> dict:
        from pyspark.sql import functions as F

        from imitation_learning_data_pipeline_spark.functions.hashing import md5_unit_interval
        from imitation_learning_data_pipeline_spark.functions.text import clean_words
        from imitation_learning_data_pipeline_spark.plans.quality_model import (
            train_quality_classifier,
        )

        self.spark, self.work = spark, work
        path = os.path.join(work, "docs", "documents.parquet")
        facts = inputs.documents(path, seed, self.N_DOCS)
        self.emails = set(facts.pop("emails").values())
        self.lang = facts.pop("lang")
        docs = spark.read.parquet(path)
        self.docs = docs.select("doc_id", "text")
        self.probe = docs.filter(
            md5_unit_interval("doc_id", seed=f"probe-{seed}") < self.PROBE_SHARE
        ).select("doc_id", "text")
        self.probe_ids = {r.doc_id for r in self.probe.select("doc_id").collect()}
        t0 = time.perf_counter()
        labeled = docs.filter(
            md5_unit_interval("doc_id", seed=f"train-{seed}") < self.TRAIN_SHARE
        ).select(
            "doc_id", "text", (F.size(clean_words("text")) >= 30).cast("int").alias("label")
        )
        self.model = train_quality_classifier(labeled, max_iter=self.TRAIN_ITERATIONS)
        timings["quality_model.train_s"] = time.perf_counter() - t0
        self.lang_counts = None
        self.web_facts = {}
        facts.update({"probe_docs": len(self.probe_ids), "planted_emails": len(self.emails)})
        return facts

    def _funnel(self, docs, stages):
        from imitation_learning_data_pipeline_spark.plans.curation import curation_funnel

        cur, _ = curation_funnel(
            docs,
            stages=stages,
            min_required_stopwords=1,
            report=False,
            blockwords=[inputs.BLOCKWORD],
            quality_model_path=self.model,
            decontam_probe=self.probe,
        )
        return cur

    def iteration(self, i: int, tracer) -> str:
        out = os.path.join(self.work, f"curated{i}")
        with tracer.span("curation.fused"):
            self._funnel(self.docs, CURATION_STAGES).write.parquet(out)
        return out

    def _lang_counts(self, ids) -> dict[str, int]:
        return dict(sorted(Counter(self.lang[i] for i in ids).items()))

    def check(self, out: str) -> tuple[list[str], dict]:
        t = pq.read_table(out, columns=["doc_id", "text"]).to_pydict()
        ids, texts = t["doc_id"], t["text"]
        failures = []
        if not ids:
            failures.append("curation_nonempty")
        if len(set(ids)) != len(ids) or not set(ids) <= set(self.lang):
            failures.append("curation_ids_unique_and_known")
        if any(inputs.BLOCKWORD in txt.split() for txt in texts):
            failures.append("curation_blocklist_applied")
        if any(local in txt for txt in texts for local in self.emails):
            failures.append("curation_pii_scrubbed")
        if set(ids) & self.probe_ids:
            failures.append("curation_decontaminated")
        if len(set(texts)) != len(texts):
            failures.append("curation_no_exact_duplicates")
        counts = self._lang_counts(ids)
        if self.lang_counts is not None and counts != self.lang_counts:
            failures.append("curation_lang_counts_stable")
        self.lang_counts = counts
        return failures, {"rows": len(ids), "lang_counts": counts}

    def traced_extra(self, tracer) -> list[tuple[str, list[str], dict]]:
        return self._staged(tracer) + self._ingest(tracer)

    def _staged(self, tracer) -> list[tuple[str, list[str], dict]]:
        """The same funnel one stage per call, each on the previous
        stage's persisted output; must keep the same documents."""
        prev = self.docs
        for stage in CURATION_STAGES:
            with tracer.span(f"curation.{stage}"):
                cur = self._funnel(prev, (stage,)).persist()
                cur.count()
            if prev is not self.docs:
                prev.unpersist()
            prev = cur
        ids = [r.doc_id for r in prev.select("doc_id").collect()]
        prev.unpersist()
        counts = self._lang_counts(ids)
        failures = [] if counts == self.lang_counts else ["curation_staged_equals_fused"]
        return [("curation_staged", failures, {"rows": len(ids), "lang_counts": counts})]

    def _ingest(self, tracer) -> list[tuple[str, list[str], dict]]:
        """WARC ingest of the same documents in both plan shapes, which
        must give one row per URL and the same rows."""
        from imitation_learning_data_pipeline_spark.plans.web import ingest_warc_plan

        docs_dir = os.path.join(self.work, "docs")
        info = inputs.warc_corpus(
            docs_dir, os.path.join(self.work, "warc"), self.WARC_REPLICAS, self.WARC_FILES
        )
        corpus = info.pop("dir")
        tables = {}
        for shape, src in (("indexed", corpus), ("glob", os.path.join(corpus, "*.warc.gz"))):
            out = os.path.join(self.work, "ingest", shape)
            with tracer.span(f"web.{shape}.plan"):
                df = ingest_warc_plan(self.spark, src, dedup_url=True)
            with tracer.span(f"web.{shape}.exec"):
                df.write.parquet(out)
            pdf = pq.read_table(out).to_pandas()
            tables[shape] = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
            self.web_facts[f"web.{shape}.records_in"] = info["records"]
            self.web_facts[f"web.{shape}.rows_out"] = len(pdf)
        failures = []
        if any(len(t) != info["urls"] for t in tables.values()):
            failures.append("ingest_one_row_per_url")
        if not tables["indexed"].equals(tables["glob"]):
            failures.append("ingest_shapes_row_identical")
        return [("warc_ingest", failures, info)]

    def trace_facts(self) -> dict:
        return self.web_facts


WORKLOADS = {w.name: w for w in (EpisodesFull, DocsCuration)}
