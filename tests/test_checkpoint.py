"""Kill-and-resume semantics for the checkpointed extraction job."""

import pytest
from pyspark.sql import functions as F

from table_transformer_spark.fixtures.spark_io import documents_df, media_df
from table_transformer_spark.pipeline.checkpoint import (
    completed_buckets,
    run_checkpointed_extraction,
)
from table_transformer_spark.pipeline.extract import extract
from table_transformer_spark.pipeline.schemas import STATUS_SCHEMA

N_DOCS = 16


@pytest.fixture(scope="module")
def corpus(spark):
    docs = documents_df(spark, N_DOCS).cache()
    media = media_df(spark, N_DOCS).cache()
    docs.count(), media.count()
    return docs, media


def spans_set(rows):
    return sorted((r.doc_id, r.offset, r.kind, r.text, r.media_ref)
                  for r in rows)


def assert_lineage(spark, out, n_buckets):
    """One ``done`` row per bucket whose (n_docs, n_spans) is what a
    distinct count over the written spans gives (0, 0 when empty); the
    status files of every run read back as STATUS_SCHEMA."""
    status = spark.read.parquet(f"{out}/status")
    assert ([(f.name, f.dataType) for f in status.schema]
            == [(f.name, f.dataType) for f in STATUS_SCHEMA])
    done = [r for r in status.collect() if r.state == "done"]
    assert sorted(r.bucket for r in done) == list(range(n_buckets))
    written = {r.bucket: (r.n_docs, r.n_spans) for r in
               spark.read.parquet(f"{out}/spans").groupBy("bucket")
               .agg(F.countDistinct("doc_id").alias("n_docs"),
                    F.count("*").alias("n_spans")).collect()}
    assert {r.bucket: (r.n_docs, r.n_spans) for r in done} == {
        b: written.get(b, (0, 0)) for b in range(n_buckets)}


def test_kill_and_resume_produces_identical_output(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "job")

    # reference output: one straight run, no checkpointing
    expected = spans_set(extract(docs, media, mode="clean").collect())

    # run 1: crash injected after the first job group
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed_extraction(spark, docs, media, out,
                                    n_buckets=8, buckets_per_job=2,
                                    fail_after_jobs=1)
    done_after_crash = completed_buckets(spark, f"{out}/status")
    assert len(done_after_crash) == 2

    # run 2: resume — only incomplete buckets reprocess
    summary = run_checkpointed_extraction(spark, docs, media, out,
                                          n_buckets=8, buckets_per_job=2)
    assert sorted(summary["buckets_done_before"]) == sorted(done_after_crash)
    assert set(summary["buckets_processed"]).isdisjoint(done_after_crash)

    got = spans_set(spark.read.parquet(f"{out}/spans")
                    .select("doc_id", "offset", "kind", "text", "media_ref")
                    .collect())
    assert got == expected

    # status table carries lineage for every bucket
    status = spark.read.parquet(f"{out}/status")
    assert completed_buckets(spark, f"{out}/status") == set(range(8))
    rows = status.collect()
    assert all(r.run_id for r in rows)
    assert sum(r.n_docs for r in rows) == N_DOCS
    assert_lineage(spark, out, 8)


def test_more_buckets_than_docs_records_empty_buckets(spark, corpus,
                                                      tmp_path):
    docs, media = corpus
    out = str(tmp_path / "sparse")
    run_checkpointed_extraction(spark, docs, media, out,
                                n_buckets=64, buckets_per_job=64)
    assert_lineage(spark, out, 64)


def test_completed_buckets_reads_temporary_only_dir_as_empty(spark,
                                                             tmp_path):
    # a crash during the first status append leaves only _temporary/
    status_dir = tmp_path / "status"
    (status_dir / "_temporary" / "0").mkdir(parents=True)
    assert completed_buckets(spark, str(status_dir)) == set()


def test_completed_buckets_raises_on_corrupt_status(spark, tmp_path):
    status_dir = tmp_path / "status"
    status_dir.mkdir()
    (status_dir / "part-0.parquet").write_text("not parquet")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        completed_buckets(spark, str(status_dir))


def test_rerun_after_completion_is_noop(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "job2")
    run_checkpointed_extraction(spark, docs, media, out,
                                n_buckets=4, buckets_per_job=4)
    summary = run_checkpointed_extraction(spark, docs, media, out,
                                          n_buckets=4, buckets_per_job=4)
    assert summary["jobs_run"] == 0
    assert summary["buckets_processed"] == []
