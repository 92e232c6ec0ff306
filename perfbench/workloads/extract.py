"""``extract``: the production checkpointed extraction job.

One pass = ``run_checkpointed_extraction`` (clean mode, default
bucketing) into a fresh directory, then the same call again on that
directory, which must process no bucket.  The traced run splits the
checkpointed call into join → fused page kernel → span-assembly window
→ checkpoint jobs by running each plan prefix to completion on its own.

The traced run also times the GriTS self-evaluation (noisy against
clean) of the first ``GRITS_DOCS`` docs of the range and splits it the
same way.  GriTS has no end-to-end pass of its own: every run pays a
cold start of the JVM and the Python workers (20-35 s on 4 cores), and
the runs of a third workload do not fit the benchmark's run budget.
"""

from __future__ import annotations

import shutil

from table_transformer_spark.pipeline.checkpoint import (
    run_checkpointed_extraction,
)
from table_transformer_spark.pipeline.extract import (
    extract,
    media_spans,
    run_cells,
)

from ..corpus import range_for_seed, read_doc_range, write_doc_range
from ..grits import GritsSlice
from ..harness import plain_call
from ..spark_counters import PY_RECEIVED, PY_SENT, idle_core_s
from ..truth import check_extract, design_counts, extract_truth

DOCS = 2000
GRITS_DOCS = 12
SPAN_COLUMNS = ["doc_id", "kind", "text", "media_ref", "offset"]
CELL_COLUMNS_READ = ["doc_id", "media_ref", "page_offset", "table_num",
                     "cell_num", "cell_text"]


class Extract:
    docs = DOCS

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.lo, self.hi = range_for_seed(ctx.seed, DOCS)
        self._passes = 0

    def materialize(self, slot: int) -> None:
        path = str(self.ctx.work / f"corpus{slot}")
        write_doc_range(self.spark, self.lo, self.hi, path)
        self.docs_df, self.media_df = read_doc_range(self.spark, path)
        self.want = extract_truth(self.lo, self.hi)

    def run_pass(self, call):
        self._passes += 1
        out = str(self.ctx.work / f"pass{self._passes}")
        first = call("checkpoint", run_checkpointed_extraction, self.spark,
                     self.docs_df, self.media_df, out)
        again = call("resume", run_checkpointed_extraction, self.spark,
                     self.docs_df, self.media_df, out)
        return out, first, again

    def check(self, result) -> list[str]:
        out, first, again = result
        rows = (self.spark.read.parquet(first["spans_dir"])
                .select(*SPAN_COLUMNS).toPandas())
        shutil.rmtree(out, ignore_errors=True)
        return check_extract(list(rows.itertuples(index=False)), self.want,
                             again["buckets_processed"])

    def layers(self, result, trace, rates) -> dict[str, float]:
        """Run the plan prefixes of the traced pass's checkpoint call:
        extract ⊃ run_cells ⊃ join, each to completion; then the GriTS
        split."""
        counters, tracer = trace.counters, trace.tracer
        checkpoint = trace.span_id("checkpoint")
        docs, media = self.docs_df, self.media_df
        prefixes = [
            ("extract", lambda: extract(docs, media, mode="clean")),
            # only the columns the assembly reads: the full plan prunes
            # the rest after the kernel, and draining them would cost
            # more than run_cells costs inside extract
            ("run_cells", lambda: run_cells(docs, media, mode="clean")
             .select(*CELL_COLUMNS_READ)),
            ("join", lambda: media_spans(docs).join(
                media.select("media_ref", "payload"), "media_ref")),
        ]
        parent = checkpoint
        for name, build in prefixes:
            parent = trace.prefix(name, build, parent)
        self_s = tracer.self_times()
        counts = design_counts(self.lo, self.hi)
        cells = counters.last("run_cells")
        return self._grits_layers(trace) | {
            "extract.join_s": self_s["join"],
            "extract.fused_self_s": self_s["run_cells"],
            "extract.assemble_self_s": self_s["extract"],
            "extract.checkpoint_self_s": self_s["checkpoint"],
            "extract.resume_s": counters.last("resume").wall_s,
            "extract.fused_py_bytes_in": cells.py_bytes(PY_SENT,
                                                        "MapInPandas"),
            "extract.fused_py_bytes_out": cells.py_bytes(PY_RECEIVED,
                                                         "MapInPandas"),
            "extract.fused_idle_core_s": idle_core_s(
                cells.busiest_stage(), self.ctx.cores),
            "extract.shuffle_bytes": counters.last("checkpoint")
            .shuffle_bytes,
            "extract.jobs": counters.last("checkpoint").jobs,
            "extract.resume_jobs": counters.last("resume").jobs,
            "extract.pages": counts["pages"],
            "extract.tables": counts["tables"],
            "extract.cells": counts["cells"],
            "extract.spans": self.want.rows,
            "extract.fused_efficiency": counts["pages"]
            / rates["kernel.fused_pages_per_s"]
            / (self.ctx.cores * self_s["run_cells"]),
        }

    def _grits_layers(self, trace) -> dict[str, float]:
        grits = GritsSlice(self.ctx, self.lo, self.lo + GRITS_DOCS, "grits")
        # the first GriTS call of a process pays the kernels' cold start
        for call in (plain_call, trace):
            problems = grits.check(grits.run(call))
            if problems:
                raise RuntimeError(f"GriTS output incorrect: {problems}")
        return grits.layers(trace)
