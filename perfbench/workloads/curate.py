"""``curate``: corpus dedup, text filters and similarity search.

One pass calls, in order and each to completion:
``minhash_band_buckets``; ``simhash_neardup_pairs`` →
``connected_components`` → ``keep_canonical`` → ``dedup_survivors``;
``ngram_jaccard_pairs``; ``repetition_filters``; ``tfidf_top_terms``;
``lsh_bucketed_topk``; ``ivf_topk``.  Inputs come from the benchmark's
own seeded generator (``perfbench.textgen``); the page kernel and GriTS
are never touched.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from table_transformer_spark.operators.dedup import (
    connected_components,
    dedup_survivors,
    keep_canonical,
    minhash_band_buckets,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from table_transformer_spark.operators.similarity import (
    ivf_topk,
    lsh_bucketed_topk,
)
from table_transformer_spark.operators.text_analysis import (
    repetition_filters,
    tfidf_top_terms,
)

from ..spark_counters import PY_SENT, drain
from ..textgen import MAX_HAMMING, make_curate_corpus
from ..truth import CurateOutput, check_curate, planted_recall

DOCS = 2000
VECTORS = 2000

# call name → per-layer wall metric
CALLS = {
    "minhash": "curate.minhash_s",
    "simhash_pairs": "curate.simhash_pairs_s",
    "cc": "curate.cc_s",
    "keep_survivors": "curate.keep_survivors_s",
    "ngram_pairs": "curate.ngram_pairs_s",
    "repetition": "curate.repetition_s",
    "tfidf": "curate.tfidf_s",
    "lsh_topk": "curate.lsh_topk_s",
    "ivf_topk": "curate.ivf_topk_s",
}


def _collected(df):
    return df, df.collect()


def _checkpointed(df):
    """Materialize *df* once so the next call reads it, not its plan."""
    kept = df.localCheckpoint(eager=True)
    return df, kept, kept.collect()


def _keep_and_survive(docs, clusters):
    keepers = keep_canonical(docs, clusters, "doc_id", "n_chars")
    kept = keepers.collect()
    survivors = dedup_survivors(docs, clusters, keepers, "doc_id")
    return survivors, kept, drain(survivors)


def _drained(df):
    return df, drain(df)


def _top1(rows) -> dict[int, int]:
    return {r["vec_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}


class Curate:
    docs = DOCS

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def materialize(self, slot: int) -> None:
        corpus = make_curate_corpus(self.ctx.seed, DOCS, VECTORS)
        path = self.ctx.work / f"corpus{slot}"
        path.mkdir(parents=True)
        pq.write_table(pa.table({
            "doc_id": corpus.doc_id, "text": corpus.text,
            "source": corpus.source,
            "n_chars": [len(t) for t in corpus.text]}),
            path / "documents.parquet")
        pq.write_table(pa.table({
            "vec_id": corpus.vec_id,
            "embedding": pa.FixedSizeListArray.from_arrays(
                corpus.vectors.ravel(), corpus.vectors.shape[1]).cast(
                    pa.list_(pa.float32()))}),
            path / "embeddings.parquet")
        self.corpus = corpus
        self.docs_df = self.spark.read.parquet(str(path /
                                                   "documents.parquet"))
        self.emb_df = self.spark.read.parquet(str(path /
                                                  "embeddings.parquet"))

    def run_pass(self, call):
        """Each call builds its plan inside ``call`` — some operators
        run eager jobs while planning (codebook, unique-id guard)."""
        docs, emb = self.docs_df, self.emb_df
        first = lambda r: r[0]  # noqa: E731 — the Dataset that ran
        _, buckets = call("minhash", lambda: _collected(
            minhash_band_buckets(docs, "doc_id", "text")
            .filter(F.col("n_docs") > 1)), plan_of=first)
        _, pairs, pair_rows = call("simhash_pairs", lambda: _checkpointed(
            simhash_neardup_pairs(docs, "doc_id", "text", "source",
                                  max_hamming=MAX_HAMMING)), plan_of=first)
        _, clusters, cluster_rows = call("cc", lambda: _checkpointed(
            connected_components(pairs, "doc1", "doc2")))
        _, keepers, survivors = call("keep_survivors", lambda:
                                     _keep_and_survive(docs, clusters),
                                     plan_of=first)
        _, ngram = call("ngram_pairs", lambda: _collected(
            ngram_jaccard_pairs(docs, "doc_id", "text", "source", n=2,
                                min_intersection=3, max_df=50)
            .filter(F.col("is_neardup") == 1)), plan_of=first)
        _, n_rep = call("repetition", lambda: _drained(
            repetition_filters(docs, "doc_id", "text")), plan_of=first)
        _, n_tfidf = call("tfidf", lambda: _drained(
            tfidf_top_terms(docs, "doc_id", "text", k=3)), plan_of=first)
        _, lsh = call("lsh_topk", lambda: _collected(
            lsh_bucketed_topk(emb, "vec_id", "embedding", k=1)),
            plan_of=first)
        _, ivf = call("ivf_topk", lambda: _collected(
            ivf_topk(emb, "vec_id", "embedding", k=1, n_cells=16)),
            plan_of=first)
        return CurateOutput(
            minhash_groups={(r["band_idx"], r["n_docs"], r["canonical_id"])
                            for r in buckets},
            simhash_pairs={(r["doc1"], r["doc2"]) for r in pair_rows},
            clusters={r["node"]: r["cluster_id"] for r in cluster_rows},
            keepers={r["cluster_id"]: r["n_members"] for r in keepers},
            survivors=survivors,
            ngram_pairs={(r["doc1"], r["doc2"]) for r in ngram},
            repetition_rows=n_rep, tfidf_rows=n_tfidf,
            lsh_top1=_top1(lsh), ivf_top1=_top1(ivf))

    def check(self, result) -> list[str]:
        return check_curate(result, self.corpus)

    def layers(self, result, trace, rates) -> dict[str, float]:
        counters = trace.counters
        stats = {name: counters.last(name) for name in CALLS}
        out = {metric: stats[name].wall_s for name, metric in CALLS.items()}
        out.update({
            "curate.cc_jobs": stats["cc"].jobs,
            "curate.jobs": sum(s.jobs for s in stats.values()),
            "curate.simhash_pairs": len(result.simhash_pairs),
            "curate.ngram_pairs": len(result.ngram_pairs),
            "curate.clusters": len(result.keepers),
            "curate.survivors": result.survivors,
            "curate.planted_recall": planted_recall(result, self.corpus),
            "curate.shuffle_bytes": sum(s.shuffle_bytes
                                        for s in stats.values()),
            "curate.py_bytes_in": sum(s.py_bytes(PY_SENT)
                                      for s in stats.values()),
        })
        return out
