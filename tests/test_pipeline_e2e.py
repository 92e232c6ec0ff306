"""End-to-end span-sequence equality (the north-rule invariant).

Two layers of oracle:

1. *clean* mode: pipeline output must equal the generator-designed
   ground truth exactly — (kind, text, media_ref, offset) per doc —
   without the kernel appearing on the oracle side at all.
2. both modes: Spark output must equal a local single-threaded run of
   the same kernel chain, cell by cell (distribution/determinism
   invariance; the noisy perturbations exercise thresholding + NMS +
   containment suppression).
"""

import pandas as pd
import pytest

from table_transformer_spark.config import (
    DEFAULT_CROP_PADDING,
    DETECTION_CLASS_THRESHOLDS,
)
from table_transformer_spark.fixtures.generate import (
    encode_page_payload,
    expected_spans_clean,
    gen_corpus,
)
from table_transformer_spark.fixtures.spark_io import documents_df, media_df
from table_transformer_spark.pipeline import schemas
from table_transformer_spark.pipeline.extract import extract, run_cells
from table_transformer_spark.pipeline.fused import make_fused_page_fn

N_DOCS = 12


@pytest.fixture(scope="module")
def corpus(spark):
    docs = documents_df(spark, N_DOCS).cache()
    media = media_df(spark, N_DOCS).cache()
    docs.count(), media.count()
    return docs, media


def collect_spans(df):
    rows = df.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(
            (r.offset, r.kind, r.text, r.media_ref))
    return {d: [(k, t, m) for _, k, t, m in sorted(v)]
            for d, v in by_doc.items()}


def test_clean_mode_matches_designed_truth(spark, corpus):
    docs, media = corpus
    got = collect_spans(extract(docs, media, mode="clean"))

    expected = {}
    for doc in gen_corpus(N_DOCS):
        spans = expected_spans_clean(doc)
        expected[doc["doc_id"]] = [(s["kind"], s["text"], s["media_ref"])
                                   for s in spans]

    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], f"mismatch in {doc_id}"


def test_offsets_are_dense_and_zero_based(spark, corpus):
    docs, media = corpus
    out = extract(docs, media, mode="clean").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.offset)
    for doc_id, offsets in by_doc.items():
        assert sorted(offsets) == list(range(len(offsets)))


def test_noisy_mode_matches_local_sequential_kernel(spark, corpus):
    docs, media = corpus
    got = collect_spans(extract(docs, media, mode="noisy"))
    expected = _reference_spans(N_DOCS, "noisy")
    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], f"mismatch in {doc_id}"


def _cell_key(r):
    """CELL_SCHEMA-ordered row → comparable key (bbox to 6 places,
    confidence to 9)."""
    (doc_id, media_ref, page_offset, table_num, cell_num, bbox, row_nums,
     column_nums, header, subheader, cell_text, confidence) = r
    return (doc_id, media_ref, page_offset, table_num, cell_num,
            tuple(round(v, 6) for v in bbox), tuple(row_nums),
            tuple(column_nums), header, subheader, cell_text,
            round(confidence, 9))


@pytest.mark.parametrize("mode", ["clean", "noisy"])
def test_run_cells_matches_local_reference(spark, corpus, mode):
    """Every per-cell column of the Spark run — bbox, grid spans, header
    flags, text, confidence — equals the local sequential run, and the
    output schema is the declared cell contract."""
    docs, media = corpus
    cells = run_cells(docs, media, mode=mode)
    assert [(f.name, f.dataType) for f in cells.schema] == \
        [(f.name, f.dataType) for f in schemas.CELL_SCHEMA]
    assert sorted(map(_cell_key, cells.collect())) == \
        sorted(map(_cell_key, _local_reference_run(N_DOCS, mode)))


def test_run_cells_rejects_unknown_mode(spark, corpus):
    with pytest.raises(ValueError, match="mode"):
        run_cells(*corpus, mode="garbage")


def test_cell_rows_carry_confidence_and_grid(spark, corpus):
    docs, media = corpus
    cells = run_cells(docs, media, mode="clean")
    sample = cells.limit(50).collect()
    assert sample
    for c in sample:
        assert 0.0 <= c.confidence <= 1.0
        assert c.row_nums and c.column_nums
        assert c.cell_num >= 0


def _rotated_onto_page(b, det_bbox):
    """Upright table coords → page coords of a 'table rotated' detection:
    the inverse of the kernel's crop + 270° remap."""
    pad = DEFAULT_CROP_PADDING
    cx0, cy0 = det_bbox[0] - pad, det_bbox[1] - pad
    h = det_bbox[3] + pad - cy0
    ux0, uy0, ux1, uy1 = (v + pad for v in b)
    return [uy0 + cx0, h - ux1 - 1 + cy0, uy1 + cx0, h - ux0 - 1 + cy0]


def test_fused_kernel_drops_low_detections_and_unrotates():
    """Detection 0 scores below its class threshold and emits nothing;
    detection 1 is 'table rotated', keeps table_num 1, and its tokens are
    read in the upright frame.  The fixture corpus never reaches the
    threshold branch: its detection scores are all >= 0.9."""
    structure = [
        {"label": "table", "score": 1.0, "bbox": [0, 0, 200, 30]},
        {"label": "table row", "score": 1.0, "bbox": [0, 0, 200, 30]},
        {"label": "table column", "score": 1.0, "bbox": [0, 0, 100, 30]},
        {"label": "table column", "score": 1.0, "bbox": [100, 0, 200, 30]},
    ]
    words = [("alpha", [4, 4, 60, 26]), ("beta", [104, 4, 160, 26])]
    low = [50, 50, 250, 80]        # upright 200×30 table
    rotated = [50, 150, 80, 350]   # the same table turned on its side
    tokens = [{"text": "ghost", "bbox": [b[0] + low[0], b[1] + low[1],
                                         b[2] + low[0], b[3] + low[1]]}
              for _, b in words]
    tokens += [{"text": w, "bbox": _rotated_onto_page(b, rotated)}
               for w, b in words]
    page = {
        "tokens": [{**t, "block_num": 0, "line_num": 0, "span_num": i,
                    "flags": 0} for i, t in enumerate(tokens)],
        "detections": [
            {"label": "table",
             "score": DETECTION_CLASS_THRESHOLDS["table"] - 0.1,
             "bbox": low},
            {"label": "table rotated", "score": 0.95, "bbox": rotated},
        ],
        "tables": [{"design": {"structure": structure},
                    "structure_noisy": structure}] * 2,
    }
    batch = pd.DataFrame({"doc_id": ["D"], "media_ref": ["M"],
                          "page_offset": [0],
                          "payload": [encode_page_payload(page)]})
    out = pd.concat(list(make_fused_page_fn("clean")(iter([batch]))))
    assert list(out["table_num"]) == [1]
    cells = out["cells"].iloc[0]
    assert [(cols, text) for _, _, _, cols, _, _, text in cells] == \
        [([0], "alpha"), ([1], "beta")]


def _local_reference_run(n_docs, mode):
    """Single-threaded reimplementation of the cell extraction over the
    same fixture corpus: the sequential 'reference' the distributed run
    must match.  One row per cell, in CELL_SCHEMA column order."""
    from table_transformer_spark.config import STRUCTURE_CLASS_THRESHOLDS
    from table_transformer_spark.fixtures.generate import synth_page
    from table_transformer_spark.geometry import iob
    from table_transformer_spark.kernels.structure import objects_to_cells

    pad = DEFAULT_CROP_PADDING
    rows = []
    for doc in gen_corpus(n_docs):
        for span in doc["spans"]:
            if span["kind"] != "media":
                continue
            page = synth_page(span["media_ref"])
            for table_num, det in enumerate(page["detections"]):
                if det["score"] < DETECTION_CLASS_THRESHOLDS[det["label"]]:
                    continue
                crop = [det["bbox"][0] - pad, det["bbox"][1] - pad,
                        det["bbox"][2] + pad, det["bbox"][3] + pad]
                tokens = []
                for t in page["tokens"]:
                    if iob(t["bbox"], crop) >= 0.5:
                        tokens.append({**t, "bbox": [
                            t["bbox"][0] - crop[0], t["bbox"][1] - crop[1],
                            t["bbox"][2] - crop[0], t["bbox"][3] - crop[1]]})
                if det["label"] == "table rotated":
                    h = crop[3] - crop[1]
                    tokens = [{**t, "bbox": [h - t["bbox"][3] - 1,
                                             t["bbox"][0],
                                             h - t["bbox"][1] - 1,
                                             t["bbox"][2]]}
                              for t in tokens]
                table = page["tables"][table_num]
                source = (table["design"]["structure"] if mode == "clean"
                          else table["structure_noisy"])
                objects = [
                    {"label": o["label"], "score": float(o["score"]),
                     "bbox": [o["bbox"][0] + pad, o["bbox"][1] + pad,
                              o["bbox"][2] + pad, o["bbox"][3] + pad]}
                    for o in source]
                table_objs = sorted(
                    [o for o in objects if o["label"] == "table"],
                    key=lambda o: -o["score"])
                table_bbox = list(table_objs[0]["bbox"]) if table_objs \
                    else [0.0, 0.0, 1000.0, 1000.0]
                in_table = [o for o in objects
                            if iob(o["bbox"], table_bbox) >= 0.5]
                toks = [t for t in tokens
                        if iob(t["bbox"], table_bbox) >= 0.5]
                _, cells, confidence = objects_to_cells(
                    {"bbox": table_bbox, "page_num": 0}, in_table, toks,
                    STRUCTURE_CLASS_THRESHOLDS)
                cells = sorted(cells, key=lambda c: (min(c["row_nums"]),
                                                     min(c["column_nums"])))
                for cell_num, cell in enumerate(cells):
                    rows.append((
                        doc["doc_id"], span["media_ref"], span["offset"],
                        table_num, cell_num, cell["bbox"], cell["row_nums"],
                        cell["column_nums"], bool(cell["header"]),
                        bool(cell["subheader"]), cell["cell_text"],
                        float(confidence)))
    return rows


def _reference_spans(n_docs, mode):
    """Per-doc (kind, text, media_ref) span lists assembled from the
    reference cell rows: text spans plus non-empty cells, in page /
    table / cell order."""
    cells = {}
    for r in sorted(_local_reference_run(n_docs, mode),
                    key=lambda r: (r[0], r[2], r[3], r[4])):
        if r[10]:
            cells.setdefault((r[0], r[2]), []).append(("cell", r[10], r[1]))
    out = {}
    for doc in gen_corpus(n_docs):
        spans = []
        for span in sorted(doc["spans"], key=lambda s: s["offset"]):
            if span["kind"] == "text":
                spans.append(("text", span["text"], ""))
            else:
                spans.extend(cells.get((doc["doc_id"], span["offset"]), []))
        out[doc["doc_id"]] = spans
    return out
