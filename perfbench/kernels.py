"""Single-thread, in-process kernel rates over fixed samples.

These run the package's per-page and per-table kernels directly in the
driver process, with no Spark in between, so a change to a kernel body
shows here apart from any change to the Python boundary or scheduling.
The samples do not depend on the seed.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

from table_transformer_spark.fixtures.generate import (
    corpus_media_refs,
    encode_page_payload,
    gen_document,
    synth_page,
)
from table_transformer_spark.kernels.adjacency import (
    adjacency_pairs_with_blanks,
    dar_con,
)
from table_transformer_spark.kernels.grits import (
    grits_con,
    grits_loc,
    grits_top,
)
from table_transformer_spark.pipeline.fused import make_fused_page_fn

from .truth import doc_id

SAMPLE_DOCS = 20   # ≈ 40 pages
GRITS_TABLES = 16  # the DP kernels run ≈ 30 tables/s on one core
REPS = 3


def _page_sample() -> pd.DataFrame:
    rows = []
    for i in range(SAMPLE_DOCS):
        for off, ref in enumerate(corpus_media_refs(gen_document(doc_id(i)))):
            rows.append((doc_id(i), ref, off,
                         encode_page_payload(synth_page(ref))))
    return pd.DataFrame(rows, columns=["doc_id", "media_ref", "page_offset",
                                       "payload"])


def _median_rate(n: int, fn) -> float:
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return n / statistics.median(walls)


def kernel_rates() -> dict[str, float]:
    """``kernel.fused_pages_per_s`` and ``kernel.grits_tables_per_s``."""
    pages = _page_sample()
    fused = make_fused_page_fn(mode="clean")

    def run_fused():
        return [t for out in fused(iter([pages]))
                for t in out.itertuples(index=False)]

    tables = [[{"bbox": list(c[1]), "row_nums": list(c[2]),
                "column_nums": list(c[3]), "cell_text": c[6]}
               for c in t.cells] for t in run_fused()][:GRITS_TABLES]

    def run_grits():
        for cells in tables:
            grits_top(cells, cells)
            grits_loc(cells, cells)
            grits_con(cells, cells)
            dar_con(adjacency_pairs_with_blanks(cells),
                    adjacency_pairs_with_blanks(cells))

    return {"kernel.fused_pages_per_s": _median_rate(len(pages), run_fused),
            "kernel.grits_tables_per_s": _median_rate(len(tables),
                                                      run_grits)}
