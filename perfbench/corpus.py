"""Fixture corpus for a doc-id range, materialized as parquet.

Same rows as ``fixtures.spark_io.write_corpus`` but for ids
``[lo, hi)``, so the seed can pick the range (``write_corpus`` starts at
id 0, and its batch functions are private to the package).  Generation runs on the
executors (``spark.range`` → ``mapInPandas``); every doc and page
derives from its id through ``fixtures.generate``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession

from table_transformer_spark.fixtures.generate import (
    corpus_media_refs,
    encode_page_payload,
    gen_document,
    synth_page,
)
from table_transformer_spark.pipeline import schemas

from .truth import doc_id


def _docs(batches):
    for pdf in batches:
        docs = [gen_document(doc_id(int(i))) for i in pdf["id"]]
        yield pd.DataFrame({
            "doc_id": [d["doc_id"] for d in docs],
            "spans": [[(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in d["spans"]] for d in docs]})


def _media(batches):
    for pdf in batches:
        rows = []
        for i in pdf["id"]:
            for ref in corpus_media_refs(gen_document(doc_id(int(i)))):
                page = synth_page(ref)
                rows.append((ref, encode_page_payload(page),
                             page["width"], page["height"]))
        yield pd.DataFrame(rows, columns=["media_ref", "payload", "width",
                                          "height"])


def write_doc_range(spark: SparkSession, lo: int, hi: int,
                    out_dir: str) -> None:
    ids = spark.range(lo, hi, numPartitions=spark.sparkContext
                      .defaultParallelism)
    ids.mapInPandas(_docs, schema=schemas.DOCUMENTS_SCHEMA) \
        .write.mode("overwrite").parquet(f"{out_dir}/documents")
    ids.mapInPandas(_media, schema=schemas.MEDIA_SCHEMA) \
        .write.mode("overwrite").parquet(f"{out_dir}/media")


def read_doc_range(spark: SparkSession, out_dir: str):
    return (spark.read.parquet(f"{out_dir}/documents"),
            spark.read.parquet(f"{out_dir}/media"))


def range_for_seed(seed: int, n_docs: int) -> tuple[int, int]:
    """Doc-id range picked by the seed: the seed-th block of n_docs ids
    (wrapping inside the generator's 7-digit id space)."""
    lo = (seed % (10_000_000 // n_docs)) * n_docs
    return lo, lo + n_docs
