"""GriTS self-evaluation of noisy against clean extraction.

``run_cells`` in clean and in noisy mode over a small slice of the seeded
doc range → ``grits_table_metrics`` → ``grits_summary``, collected.  The
call is bound by the GriTS DP kernels inside the cogroup and runs the
fused page kernel on few pages.  The traced ``extract`` run times it
(see ``extract.py`` for why it is not a workload of its own).
"""

from __future__ import annotations

from table_transformer_spark.eval.grits_distributed import (
    grits_summary,
    grits_table_metrics,
)
from table_transformer_spark.pipeline.extract import run_cells

from .corpus import read_doc_range, write_doc_range
from .spark_counters import PY_RECEIVED, PY_SENT, idle_core_s
from .truth import check_evaluate, design_counts

COGROUP = "FlatMapCoGroupsInPandas"


def _summary(docs, media):
    summary = grits_summary(grits_table_metrics(
        run_cells(docs, media, mode="clean"),
        run_cells(docs, media, mode="noisy")))
    return summary, [r.asDict() for r in summary.collect()]


class GritsSlice:
    """The docs ``[lo, hi)`` as their own small corpus."""

    def __init__(self, ctx, lo: int, hi: int, name: str):
        self.ctx = ctx
        path = str(ctx.work / name)
        write_doc_range(ctx.spark, lo, hi, path)
        self.docs_df, self.media_df = read_doc_range(ctx.spark, path)
        self.counts = design_counts(lo, hi)

    def run(self, call):
        return call("grits", _summary, self.docs_df, self.media_df,
                    plan_of=lambda r: r[0])

    def check(self, result) -> list[str]:
        return check_evaluate(result[1], self.counts)

    def layers(self, trace) -> dict[str, float]:
        """Both ``run_cells`` prefixes of the traced GriTS call, each to
        completion; the rest of the call is GriTS."""
        counters, tracer = trace.counters, trace.tracer
        grits = trace.span_id("grits")
        for mode in ("clean", "noisy"):
            trace.prefix(f"cells_{mode}", lambda m=mode: run_cells(
                self.docs_df, self.media_df, mode=m), grits)
        dur = tracer.durations()
        stats = counters.last("grits")
        return {
            "evaluate.cells_clean_s": dur["cells_clean"],
            "evaluate.cells_noisy_s": dur["cells_noisy"],
            "evaluate.grits_self_s": tracer.self_times()["grits"],
            "evaluate.cogroup_py_bytes_in": stats.py_bytes(PY_SENT,
                                                           COGROUP),
            "evaluate.cogroup_py_bytes_out": stats.py_bytes(PY_RECEIVED,
                                                            COGROUP),
            "evaluate.grits_idle_core_s": idle_core_s(
                stats.busiest_stage(), self.ctx.cores),
            "evaluate.jobs": stats.jobs,
            "evaluate.tables": self.counts["tables"],
            "evaluate.complex_tables": self.counts["complex_tables"],
        }
