"""``corpus_dedup``: near-duplicate detection over a generated corpus.

One pass runs ``minhash_signatures`` -> ``lsh_candidate_pairs`` ->
``duplicate_clusters`` and ``functions.text.quality_score`` over every
document, forcing each stage on its own so the trace can time it. The
corpus has planted near-duplicate families (see ``gen.corpus``);
recall is the share of planted pairs that end in one cluster.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pandas as pd

import gen

NUM_HASHES = 16
BANDS = 8
MIN_RECALL = 0.95


def quality_reference(text: str) -> float:
    """The documented quality heuristic, computed in plain Python."""
    toks = text.lower().split(" ")
    stop = sum(t in gen.STOPWORDS for t in toks) / max(len(toks), 1)
    punct = (len(text) - len(re.sub(r"[^a-zA-Z0-9 ]", "", text))) / max(
        len(text), 1)
    return (min(len(text) / 200.0, 1.0) + min(stop * 5.0, 1.0)
            + 1.0 - min(punct * 4.0, 1.0)) / 3.0


class CorpusDedup:
    OP = "pass"
    WARMUP = 1
    MIN_OPS = 2
    OP_SECONDS = 4.0  # nominal time of one op on a 4-core host
    STOP_ON_FAILURE = False
    FINAL_CHECKS = 0

    def __init__(self, bench):
        self.b = bench
        self.dir = os.path.join(bench.inputs, "corpus")
        self.passes: list[dict] = []

    def generate(self) -> dict:
        return gen.corpus(self.dir, self.b.seed)

    def setup(self) -> None:
        self.docs = self.b.spark.read.parquet(f"{self.dir}/docs.parquet")
        texts = pd.read_parquet(f"{self.dir}/docs.parquet")
        self.n_docs = len(texts)
        self.quality = dict(zip(texts["doc_id"],
                                texts["text"].map(quality_reference)))
        truth = pd.read_parquet(f"{self.dir}/truth.parquet")
        pairs = truth.merge(truth, on="family")
        pairs = pairs[pairs["doc_id_x"] < pairs["doc_id_y"]]
        self.planted = set(zip(pairs["doc_id_x"], pairs["doc_id_y"]))

    def op(self, i: int):
        from pyspark.sql import functions as F

        from aquacache_spark.functions.text import quality_score
        from aquacache_spark.operators.dedup import (
            duplicate_clusters, lsh_candidate_pairs, minhash_signatures)

        span = self.b.span
        t0 = time.perf_counter()
        with span("dedup.minhash"):
            sig = minhash_signatures(self.docs, num_hashes=NUM_HASHES)
            sig = sig.persist()
            sig.count()
        with span("dedup.lsh_pairs"):
            pairs = lsh_candidate_pairs(sig, num_hashes=NUM_HASHES,
                                        bands=BANDS).persist()
            pair_table = pairs.toArrow()
        with span("dedup.clusters"):
            clusters = duplicate_clusters(
                pairs, self.docs.select("doc_id")).toArrow()
        with span("text.quality"):
            quality = self.docs.select(
                "doc_id", quality_score(F.col("text")).alias("q")).toArrow()
        secs = time.perf_counter() - t0
        pairs.unpersist()
        sig.unpersist()
        self._check(i, pair_table.to_pandas(), clusters.to_pandas(),
                    quality.to_pandas())
        return secs, self.n_docs

    def _check(self, i: int, pairs: pd.DataFrame, clusters: pd.DataFrame,
               quality: pd.DataFrame) -> None:
        b, tag = self.b, f"dedup pass {i}"
        b.check((pairs["id_a"] < pairs["id_b"]).all()
                and not pairs.duplicated().any(),
                f"{tag}: candidate pairs not ordered and distinct")
        b.check(len(clusters) == self.n_docs
                and clusters["doc_id"].is_unique,
                f"{tag}: clusters do not cover every document once")
        sizes = clusters.groupby("cluster_rep")["doc_id"].agg(["min", "size"])
        b.check((sizes["min"] == sizes.index).all(),
                f"{tag}: cluster representative is not the minimum id")
        b.check((clusters["cluster_size"].to_numpy()
                 == sizes["size"].reindex(clusters["cluster_rep"]).to_numpy()
                 ).all(), f"{tag}: cluster_size disagrees with membership")
        rep = dict(zip(clusters["doc_id"], clusters["cluster_rep"]))
        found = sum(rep[a] == rep[c] for a, c in self.planted)
        recall = found / len(self.planted)
        b.check(recall >= MIN_RECALL,
                f"{tag}: planted-pair recall {recall:.4f} < {MIN_RECALL}")
        cand = set(zip(pairs["id_a"], pairs["id_b"]))
        want = np.array([self.quality[d] for d in quality["doc_id"]])
        b.check(len(quality) == self.n_docs
                and np.allclose(quality["q"].to_numpy(), want,
                                rtol=0, atol=1e-9),
                f"{tag}: quality_score differs from the reference")
        self.passes.append({
            "recall": recall,
            "candidates": len(cand),
            "precision": len(cand & self.planted) / max(len(cand), 1),
        })

    def finish(self) -> int:
        return 0

    def report(self, plain: list[dict]) -> dict:
        if not plain:
            return {}
        last = self.passes[-1] if self.passes else {}
        return {
            "dedup_docs_per_s": sum(s["items"] for s in plain)
            / sum(s["s"] for s in plain),
            "dedup_pass_p50_ms": float(np.median([s["s"] * 1000
                                                  for s in plain])),
            "pass_ms": [s["s"] * 1000 for s in plain],
            "dedup_recall": last.get("recall", 0.0),
            "candidate_pairs": last.get("candidates", 0),
            "planted_pairs": len(self.planted),
        }

    def layers(self, traced: list[dict]) -> dict:
        t = self.b.tracer
        last = self.passes[-1] if self.passes else {}
        return {
            "dedup.minhash_ms": t.median_ms("dedup.minhash"),
            "dedup.lsh_pairs_ms": t.median_ms("dedup.lsh_pairs"),
            "dedup.clusters_ms": t.median_ms("dedup.clusters"),
            "text.quality_ms": t.median_ms("text.quality"),
            "dedup.candidate_pairs": last.get("candidates", 0),
            "dedup.pair_precision": last.get("precision", 0.0),
        }
