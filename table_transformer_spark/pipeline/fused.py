"""Fused per-page extraction stage: payload → cell rows in ONE
Arrow-batched pass.

Decode / detect / crop / recognize / cells are all page-local: the token
and object arrays never leave the page row.  Running them as separate
DataFrame transforms would pay three extra Python↔JVM Arrow boundaries
for that data (~3× throughput), so they run inside a single
``mapInPandas`` and a page is touched exactly once per executor:

    pages(payload) ──mapInPandas──▶ cells            [zero shuffle]

At 10^12 docs this is the plan you want: the only shuffles in the whole
job are the documents×media join and the final per-doc reassembly
window.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import (
    DEFAULT_CROP_PADDING,
    DETECTION_CLASS_THRESHOLDS,
    STRUCTURE_CLASS_THRESHOLDS,
)
from ..geometry import np_iob_matrix
from ..kernels.structure import objects_to_cells
from ..serde import decode_zlib_json

# packed per-table row: cells travel as one array column through Arrow
# (≈16× fewer Python→JVM rows than per-cell emission) and explode
# JVM-side, inside codegen
_PACKED_SCHEMA = (
    "doc_id string, media_ref string, page_offset int, table_num int, "
    "confidence double, cells array<struct<"
    "cell_num:int, bbox:array<double>, row_nums:array<int>, "
    "column_nums:array<int>, is_column_header:boolean, "
    "is_projected_row_header:boolean, cell_text:string>>"
)


def make_fused_page_fn(mode: str = "clean"):
    """Factory: (doc_id, media_ref, page_offset, payload) batches →
    packed per-table batches (``_PACKED_SCHEMA``).  Operation order:
    detect-threshold → crop/pad → token containment-assign + rebase →
    structure inference (stub) → objects_to_cells kernel → (min row,
    min col) cell ordering.  ``mode`` picks the designed ("clean") or
    perturbed ("noisy") structure; any other value raises ValueError."""
    if mode not in ("clean", "noisy"):
        raise ValueError(f"mode must be 'clean' or 'noisy', got {mode!r}")
    padding = DEFAULT_CROP_PADDING

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # <-- detection + structure models would be loaded once here -->
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "media_ref", "page_offset",
                                   "table_num", "confidence", "cells")}
            for doc_id, media_ref, page_offset, payload in zip(
                    pdf["doc_id"], pdf["media_ref"], pdf["page_offset"],
                    pdf["payload"]):
                page = decode_zlib_json(payload)
                # page tokens are filtered against every table crop —
                # build their bbox matrix once and do each crop's
                # iob filter as a single vector op (the scalar loop was
                # the kernel's hottest line: |tokens|×|tables| calls)
                page_tokens = page["tokens"]
                tok_boxes = (np.asarray([t["bbox"] for t in page_tokens],
                                        dtype=float)
                             if page_tokens else np.zeros((0, 4)))
                for table_num, det in enumerate(page["detections"]):
                    if det["score"] < DETECTION_CLASS_THRESHOLDS[det["label"]]:
                        continue
                    bb = det["bbox"]
                    crop = [bb[0] - padding, bb[1] - padding,
                            bb[2] + padding, bb[3] + padding]
                    in_crop = np.nonzero(
                        np_iob_matrix(tok_boxes,
                                      np.asarray([crop]))[:, 0] >= 0.5)[0] \
                        if page_tokens else []
                    tokens = [
                        {**page_tokens[i],
                         "bbox": [page_tokens[i]["bbox"][0] - crop[0],
                                  page_tokens[i]["bbox"][1] - crop[1],
                                  page_tokens[i]["bbox"][2] - crop[0],
                                  page_tokens[i]["bbox"][3] - crop[1]]}
                        for i in in_crop]
                    if det["label"] == "table rotated":
                        # rotate the crop upright (src/inference.py:277-286)
                        h = crop[3] - crop[1]
                        tokens = [
                            {**t, "bbox": [h - t["bbox"][3] - 1,
                                           t["bbox"][0],
                                           h - t["bbox"][1] - 1,
                                           t["bbox"][2]]}
                            for t in tokens]
                    tbl = page["tables"][table_num]
                    source = (tbl["design"]["structure"] if mode == "clean"
                              else tbl["structure_noisy"])
                    objects = [
                        {"label": o["label"], "score": float(o["score"]),
                         "bbox": [o["bbox"][0] + padding,
                                  o["bbox"][1] + padding,
                                  o["bbox"][2] + padding,
                                  o["bbox"][3] + padding]}
                        for o in source]

                    table_objs = sorted(
                        [o for o in objects if o["label"] == "table"],
                        key=lambda o: -o["score"])
                    table_bbox = list(table_objs[0]["bbox"]) if table_objs \
                        else [0.0, 0.0, 1000.0, 1000.0]
                    # one iob-matrix call per table instead of a scalar
                    # iob() per object/token (the two filters were ~47
                    # scalar calls per table)
                    tb = np.asarray([table_bbox])
                    if objects:
                        keep = np_iob_matrix(
                            np.asarray([o["bbox"] for o in objects]),
                            tb)[:, 0] >= 0.5
                        in_table = [o for o, k in zip(objects, keep) if k]
                    else:
                        in_table = []
                    if tokens:
                        keep = np_iob_matrix(
                            np.asarray([t["bbox"] for t in tokens]),
                            tb)[:, 0] >= 0.5
                        toks = [t for t, k in zip(tokens, keep) if k]
                    else:
                        toks = []
                    _, cells, confidence = objects_to_cells(
                        {"bbox": table_bbox, "page_num": 0}, in_table,
                        toks, STRUCTURE_CLASS_THRESHOLDS, copy_inputs=False)
                    cells = sorted(cells, key=lambda c: (min(c["row_nums"]),
                                                         min(c["column_nums"])))
                    out["doc_id"].append(doc_id)
                    out["media_ref"].append(media_ref)
                    out["page_offset"].append(page_offset)
                    out["table_num"].append(table_num)
                    out["confidence"].append(float(confidence))
                    out["cells"].append([
                        (i, [float(v) for v in c["bbox"]],
                         list(c["row_nums"]), list(c["column_nums"]),
                         bool(c["header"]), bool(c["subheader"]),
                         c["cell_text"])
                        for i, c in enumerate(cells)])
            pdf_out = pd.DataFrame(out)
            if pdf_out.empty:
                pdf_out = pdf_out.astype(object)
            yield pdf_out

    return run


def run_cells_fused(pages_with_payload: DataFrame,
                    mode: str = "clean") -> DataFrame:
    packed = pages_with_payload.mapInPandas(make_fused_page_fn(mode=mode),
                                            schema=_PACKED_SCHEMA)
    cell = F.explode("cells").alias("cell")
    return (packed
            .select("doc_id", "media_ref", "page_offset", "table_num",
                    "confidence", cell)
            .select("doc_id", "media_ref", "page_offset", "table_num",
                    F.col("cell.cell_num").alias("cell_num"),
                    F.col("cell.bbox").alias("bbox"),
                    F.col("cell.row_nums").alias("row_nums"),
                    F.col("cell.column_nums").alias("column_nums"),
                    F.col("cell.is_column_header").alias("is_column_header"),
                    F.col("cell.is_projected_row_header")
                    .alias("is_projected_row_header"),
                    F.col("cell.cell_text").alias("cell_text"),
                    "confidence"))
