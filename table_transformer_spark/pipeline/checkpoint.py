"""Checkpointed, resumable extraction job with per-partition lineage.

North-rule requirement: the 10^12-doc job must restart from checkpoint,
reprocessing only incomplete partitions, with lineage + metrics per
partition.  Reference analogs: manual range sharding
(``scripts/process_pubmed.py:1392-1393``), progress counters (1396-1404)
and the OOM skip-list (``scripts/process_fintabnet.py:1086-1087``) —
all hand-operated there; automated here.

Design:

* documents are bucketed by a deterministic hash of ``doc_id``
  (``pmod(xxhash64(doc_id), n_buckets)``) — the explicit partitioning
  axis.  Skewed multi-table docs spread across buckets by construction
  since bucketing ignores content; *within* a bucket, AQE handles
  residual skew.
* buckets are processed in groups; each group is one Spark write job
  into ``out/spans/grp=<...>/bucket=<b>/`` that also observes each
  bucket's ``n_docs``/``n_spans``, then appends one status row per bucket
  (schema ``schemas.STATUS_SCHEMA``; ``wall_sec`` covers the write job).
* on restart only incomplete buckets re-run; output writes are
  idempotent (static overwrite per ``grp=`` directory).
"""

from __future__ import annotations

import time
import uuid

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .extract import extract
from .schemas import STATUS_SCHEMA

STATUS_COLUMNS = STATUS_SCHEMA.fieldNames()


def _group_dir(spans_dir: str, group: list[int]) -> str:
    return f"{spans_dir}/grp={'-'.join(str(b) for b in group)}"


def _reconcile(spans_dir: str, done: set[int]) -> None:
    """Delete group directories containing any not-yet-committed bucket
    (a crash between data write and status write leaves such orphans;
    their buckets are still in *todo* and would otherwise be written
    twice).  Local-FS implementation; on a real lakehouse this is the
    table format's transaction rollback."""
    import os
    import shutil

    if not os.path.isdir(spans_dir):
        return
    for name in os.listdir(spans_dir):
        if not name.startswith("grp="):
            continue
        buckets = {int(x) for x in name[len("grp="):].split("-")}
        if not buckets <= done:
            shutil.rmtree(os.path.join(spans_dir, name),
                          ignore_errors=True)


def bucketed(documents: DataFrame, n_buckets: int) -> DataFrame:
    return documents.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))


def completed_buckets(spark: SparkSession, status_dir: str) -> set[int]:
    try:
        status = spark.read.schema(STATUS_SCHEMA).parquet(status_dir)
    except AnalysisException as e:
        # anything else (a corrupt file) must not read as "none done"
        if e.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise
    rows = (status.filter(F.col("state") == "done")
            .select("bucket").distinct().collect())
    return {r.bucket for r in rows}


def run_checkpointed_extraction(spark: SparkSession,
                                documents: DataFrame,
                                media: DataFrame,
                                out_dir: str,
                                n_buckets: int = 8,
                                buckets_per_job: int = 4,
                                mode: str = "clean",
                                run_id: str | None = None,
                                fail_after_jobs: int | None = None) -> dict:
    """Run (or resume) the extraction job.  Returns a summary dict.

    ``fail_after_jobs`` injects a crash after N job groups — used by the
    kill-and-resume test.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    status_dir = f"{out_dir}/status"
    spans_dir = f"{out_dir}/spans"

    done = completed_buckets(spark, status_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    docs_b = bucketed(documents, n_buckets)
    _reconcile(spans_dir, done)

    jobs_run = 0
    for i in range(0, len(todo), buckets_per_job):
        group = todo[i:i + buckets_per_job]
        t0 = time.perf_counter()
        group_docs = (docs_b.filter(F.col("bucket").isin(group))
                      .select("doc_id", "spans"))
        spans = extract(group_docs, media, mode=mode)
        # bucket is a pure function of doc_id — recompute instead of
        # joining back against the documents lineage
        spans = spans.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"),
                             F.lit(n_buckets)).cast("int"))

        # ONE write job per group into its own grp=<...> directory
        # (static overwrite — dynamic partition overwrite pays a
        # driver-serial commit), observing each bucket's counts: n_docs
        # counts offset-0 rows, one per doc (observe rejects
        # countDistinct).  Status rows land only after the directory is
        # fully written; _reconcile removed any partial one beforehand.
        lineage = Observation()
        spans = spans.observe(lineage, *(
            F.count(F.when((F.col("bucket") == b) & cond, 1))
            .alias(f"{name}_{b}") for b in group
            for name, cond in (("n_spans", F.lit(True)),
                               ("n_docs", F.col("offset") == 0))))
        (spans.write.partitionBy("bucket").mode("overwrite")
         .parquet(_group_dir(spans_dir, group)))
        stats = lineage.get
        wall = round(time.perf_counter() - t0, 3)
        now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        status = pd.DataFrame(
            [(b, "done", stats[f"n_docs_{b}"], stats[f"n_spans_{b}"],
              run_id, wall, now) for b in group], columns=STATUS_COLUMNS)
        # pandas + declared schema → a local relation, no Python worker
        (spark.createDataFrame(status, STATUS_SCHEMA)
         .coalesce(1).write.mode("append").parquet(status_dir))

        jobs_run += 1
        if fail_after_jobs is not None and jobs_run >= fail_after_jobs:
            raise RuntimeError(
                f"injected failure after {jobs_run} job group(s)")

    return {"run_id": run_id, "buckets_done_before": sorted(done),
            "buckets_processed": todo, "jobs_run": jobs_run,
            "spans_dir": spans_dir, "status_dir": status_dir}
