"""Deterministic synthetic corpus generator (BASELINE input contract).

Generates ``documents(doc_id, spans:array<struct<kind,text,media_ref,
offset>>)`` plus a companion ``media(media_ref, payload:binary, width,
height)`` table.  All page content (tokens, table layouts, ground-truth
cells, model-stub outputs) derives *only* from the ``media_ref`` string
via a stable seed, so executors can regenerate any page independently —
no driver-side state, no external data.

The binary ``payload`` is a zlib-compressed JSON document embedding the
page: the pipeline's rasterize/tokenize + detection/recognition stubs
genuinely decode this binary column inside Arrow-batched UDFs, standing
in for PDF rasterization + DETR inference (reference analogs:
``scripts/process_pubmed.py:76-123`` page text extraction and
``src/inference.py:236-250`` ``outputs_to_objects``).  Swapping the stub
for a real model changes one function, not the topology.

Fixture layout parameters follow FIXTURES.md §7: 1–8 rows, 2–5 columns,
0–1 header rows, optional spanning cell in the header, optional
projected row header, 1–3 tokens per cell, page-level distractor tokens
outside tables, and a skew slice of multi-table documents.
"""

from __future__ import annotations

import json
import random
import zlib

GLOBAL_SEED = 42
PAGE_W = 1000
PAGE_H = 1400

_WORDS = (
    "alpha beta gamma delta total revenue cost share index rate value "
    "net gross margin units price volume growth region period item "
    "mean count basis yield quarter annual change percent level score"
).split()


def _rng_for(key: str) -> random.Random:
    return random.Random(zlib.crc32(f"{GLOBAL_SEED}:{key}".encode()) & 0xFFFFFFFF)


def _words(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(_WORDS) for _ in range(n)]


# ---------------------------------------------------------------------------
# table layout design (local/crop coordinates)
# ---------------------------------------------------------------------------

def _design_table(rng: random.Random, table_idx: int) -> dict:
    """Design one table layout: grid geometry, cell contents, ground-truth
    cells, and the clean structure-model boxes that reproduce them."""
    n_rows = rng.randint(2, 8)
    n_cols = rng.randint(2, 5)
    has_header = rng.random() < 0.8
    # irregular but positive row heights / column widths
    row_heights = [rng.randint(22, 40) for _ in range(n_rows)]
    col_widths = [rng.randint(70, 140) for _ in range(n_cols)]
    row_edges = [0]
    for h in row_heights:
        row_edges.append(row_edges[-1] + h)
    col_edges = [0]
    for w in col_widths:
        col_edges.append(col_edges[-1] + w)
    width, height = col_edges[-1], row_edges[-1]

    # optional structures
    span_cols = None
    if has_header and n_cols >= 3 and rng.random() < 0.5:
        c0 = rng.randint(0, n_cols - 2)
        c1 = rng.randint(c0 + 1, n_cols - 1)
        span_cols = (c0, c1)
    prh_row = None
    body_start = 1 if has_header else 0
    if n_rows - body_start >= 2 and rng.random() < 0.35:
        prh_row = rng.randint(body_start, n_rows - 1)

    # cell text + tokens -- reading order keys: one line per row,
    # span_num sequential row-major (matches extract_text_from_spans
    # (block, line, span) sort so assembled text == designed text)
    tokens = []
    grid_text = [["" for _ in range(n_cols)] for _ in range(n_rows)]
    span_num = 0
    for r in range(n_rows):
        for c in range(n_cols):
            if span_cols and has_header and r == 0 and span_cols[0] < c <= span_cols[1]:
                continue  # covered by the spanning cell's words
            if prh_row is not None and r == prh_row and c > 0:
                continue  # projected row header: only first cell filled
            n_tok = rng.randint(1, 3)
            words = _words(rng, n_tok)
            x0 = col_edges[c] + 4
            y0 = row_edges[r] + 4
            y1 = row_edges[r + 1] - 4
            cw = (col_edges[c + 1] - col_edges[c])
            sc1 = col_edges[span_cols[1] + 1] if (
                span_cols and has_header and r == 0 and c == span_cols[0]) else None
            if sc1 is not None:
                cw = sc1 - col_edges[c]
            step = max(8, (cw - 8) // max(n_tok, 1))
            for k, w in enumerate(words):
                tokens.append({
                    "text": w,
                    "bbox": [x0 + k * step, y0,
                             x0 + k * step + max(6, step - 2), y1],
                    "block_num": 0,
                    "line_num": r,
                    "span_num": span_num,
                    "flags": 0,
                })
                span_num += 1
            grid_text[r][c] = " ".join(words)

    # ground-truth cells (designed, not derived via the kernel)
    true_cells = []
    for r in range(n_rows):
        for c in range(n_cols):
            if span_cols and has_header and r == 0:
                if c == span_cols[0]:
                    true_cells.append({
                        "row_nums": [0],
                        "column_nums": list(range(span_cols[0], span_cols[1] + 1)),
                        "cell_text": grid_text[0][span_cols[0]],
                        "header": True, "subheader": False,
                    })
                    continue
                if span_cols[0] < c <= span_cols[1]:
                    continue
            if prh_row is not None and r == prh_row:
                if c == 0:
                    true_cells.append({
                        "row_nums": [r], "column_nums": list(range(n_cols)),
                        "cell_text": grid_text[r][0],
                        "header": False, "subheader": True,
                    })
                continue
            true_cells.append({
                "row_nums": [r], "column_nums": [c],
                "cell_text": grid_text[r][c],
                "header": has_header and r == 0,
                "subheader": False,
            })

    # clean structure-model boxes
    structure = [{"label": "table", "score": 1.0,
                  "bbox": [0, 0, width, height]}]
    for r in range(n_rows):
        structure.append({"label": "table row", "score": 1.0,
                          "bbox": [0, row_edges[r], width, row_edges[r + 1]]})
    for c in range(n_cols):
        structure.append({"label": "table column", "score": 1.0,
                          "bbox": [col_edges[c], 0, col_edges[c + 1], height]})
    if has_header:
        structure.append({"label": "table column header", "score": 1.0,
                          "bbox": [0, 0, width, row_edges[1]]})
    if span_cols and has_header:
        structure.append({"label": "table spanning cell", "score": 1.0,
                          "bbox": [col_edges[span_cols[0]], 0,
                                   col_edges[span_cols[1] + 1], row_edges[1]]})
    if prh_row is not None:
        structure.append({"label": "table projected row header", "score": 1.0,
                          "bbox": [0, row_edges[prh_row],
                                   width, row_edges[prh_row + 1]]})

    return {
        "width": width, "height": height,
        "tokens": tokens,
        "structure": structure,
        "true_cells": true_cells,
    }


def _perturb_structure(rng: random.Random, table: dict) -> list[dict]:
    """Noisy variant of the structure boxes: jittered scores, a duplicate
    row at lower confidence, a sub-threshold spurious spanning cell —
    exercises thresholding + NMS (src/postprocess.py:9-31,443-485)."""
    noisy = []
    for o in table["structure"]:
        o2 = {"label": o["label"],
              "score": round(min(1.0, 0.82 + 0.18 * rng.random()), 4),
              "bbox": [v + rng.uniform(-1.5, 1.5) for v in o["bbox"]]}
        noisy.append(o2)
    rows = [o for o in noisy if o["label"] == "table row"]
    if rows:
        dup = rng.choice(rows)
        noisy.append({"label": "table row", "score": 0.55,
                      "bbox": [v + rng.uniform(-3, 3) for v in dup["bbox"]]})
    noisy.append({"label": "table spanning cell", "score": 0.2,
                  "bbox": [10, 10, 60, 40]})  # below 0.5 threshold → dropped
    return noisy


# ---------------------------------------------------------------------------
# page synthesis (everything derives from media_ref)
# ---------------------------------------------------------------------------

def synth_page(media_ref: str) -> dict:
    """Deterministically synthesize a page from its media_ref: table
    placements, page tokens (table + distractor), detection objects,
    structure objects (clean + noisy), ground-truth cells."""
    rng = _rng_for(media_ref)
    # skew slice: ~6% of pages carry many tables (north-rule salting test)
    n_tables = rng.choice([1, 1, 1, 2]) if rng.random() > 0.06 else rng.randint(4, 6)

    tables, detections, page_tokens = [], [], []
    y_cursor = 40
    for t in range(n_tables):
        design = _design_table(rng, t)
        # ~15% of tables appear rotated 90° CW on the page; the crop
        # stage rotates them back (objects_to_crops rotation path,
        # src/inference.py:277-286).  Page footprint swaps W/H.
        rotated = rng.random() < 0.15
        fw = design["height"] if rotated else design["width"]
        fh = design["width"] if rotated else design["height"]
        ox = rng.randint(30, max(31, PAGE_W - fw - 30))
        oy = y_cursor + rng.randint(10, 40)
        if oy + fh > PAGE_H - 20:
            break
        y_cursor = oy + fh
        pad = 10  # DEFAULT_CROP_PADDING: the rotation mapping depends on
        # the padded crop height, so the fixture bakes the same value in
        if rotated:
            # invert the crop rotation: upright coords u → page coords.
            # crop height h = design.width + 2*pad; t = (u.y0, h-u.x1-1,
            # u.y1, h-u.x0-1); page = t + (crop origin) = t + (ox-pad,
            # oy-pad).
            h = design["width"] + 2 * pad
            def place(b, _h=h, _ox=ox, _oy=oy, _pad=pad):
                # upright (design) coords → padded-crop coords → page
                tx0, tx1 = b[1] + _pad, b[3] + _pad
                ty0 = _h - (b[2] + _pad) - 1
                ty1 = _h - (b[0] + _pad) - 1
                return [tx0 + (_ox - _pad), ty0 + (_oy - _pad),
                        tx1 + (_ox - _pad), ty1 + (_oy - _pad)]
        else:
            def place(b, _ox=ox, _oy=oy):
                return [b[0] + _ox, b[1] + _oy, b[2] + _ox, b[3] + _oy]
        placed_tokens = [{**tok, "bbox": place(tok["bbox"])}
                         for tok in design["tokens"]]
        page_tokens.extend(placed_tokens)
        detections.append({
            "label": "table rotated" if rotated else "table",
            "score": round(0.9 + 0.1 * rng.random(), 4),
            "bbox": [ox, oy, ox + fw, oy + fh],
        })
        tables.append({
            "table_id": t,
            "offset": [ox, oy],
            "rotated": rotated,
            "design": design,
            "structure_noisy": _perturb_structure(rng, design),
        })

    # distractor tokens between/around tables (page prose, figure labels)
    for d in range(rng.randint(3, 8)):
        x = rng.randint(10, PAGE_W - 80)
        y = rng.choice([10, 25, PAGE_H - 30, PAGE_H - 15])
        page_tokens.append({
            "text": rng.choice(_WORDS), "bbox": [x, y, x + 60, y + 12],
            "block_num": 9, "line_num": d, "span_num": 1000 + d, "flags": 0,
        })

    return {
        "media_ref": media_ref,
        "width": PAGE_W, "height": PAGE_H,
        "tokens": page_tokens,
        "detections": detections,
        "tables": tables,
    }


def encode_page_payload(page: dict) -> bytes:
    """Binary page payload (zlib-compressed JSON) — the opaque media blob
    the pipeline's decode UDF consumes.

    ``allow_nan=False`` keeps encode strictness symmetric with the
    preferred orjson decode path (``serde.json_loads``): orjson rejects
    the NaN/Infinity literals stdlib would otherwise emit, so a
    non-finite float in a payload must fail fast here at encode time,
    not later and only-when-orjson-is-installed at decode time."""
    return zlib.compress(
        json.dumps(page, sort_keys=True, allow_nan=False).encode())


# ---------------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------------

def gen_document(doc_id: str) -> dict:
    """One document: interleaved prose text spans and media (page) spans."""
    rng = _rng_for(f"doc:{doc_id}")
    n_pages = rng.randint(1, 3)
    spans = []
    offset = 0
    for p in range(n_pages):
        # a short prose block before each page
        for _ in range(rng.randint(1, 3)):
            spans.append({"kind": "text",
                          "text": " ".join(_words(rng, rng.randint(3, 8))),
                          "media_ref": "", "offset": offset})
            offset += 1
        spans.append({"kind": "media", "text": "",
                      "media_ref": f"img://{doc_id}/p{p}", "offset": offset})
        offset += 1
    if rng.random() < 0.5:
        spans.append({"kind": "text",
                      "text": " ".join(_words(rng, rng.randint(3, 8))),
                      "media_ref": "", "offset": offset})
    return {"doc_id": doc_id, "spans": spans}


def gen_corpus(n_docs: int):
    """Yield n_docs deterministic documents."""
    for i in range(n_docs):
        yield gen_document(f"DOC{i:07d}")


def corpus_media_refs(doc: dict) -> list[str]:
    return [s["media_ref"] for s in doc["spans"] if s["kind"] == "media"]


# ---------------------------------------------------------------------------
# expected output (the pytest oracle for the clean path)
# ---------------------------------------------------------------------------

def expected_spans_clean(doc: dict) -> list[dict]:
    """Ground-truth ordered output spans for the *clean* pipeline: text
    spans pass through; each media span is replaced by its tables' cell
    texts in reading order (cells sorted by (min row, min col), matching
    ``cells_to_html`` ordering at src/inference.py:541-542), ordered by
    table id; blank cells are skipped (they emit no span)."""
    out = []
    for span in sorted(doc["spans"], key=lambda s: s["offset"]):
        if span["kind"] == "text":
            out.append({"kind": "text", "text": span["text"],
                        "media_ref": "", "offset": len(out)})
            continue
        page = synth_page(span["media_ref"])
        for table in page["tables"]:
            cells = sorted(table["design"]["true_cells"],
                           key=lambda c: (min(c["row_nums"]),
                                          min(c["column_nums"])))
            for cell in cells:
                if not cell["cell_text"]:
                    continue
                out.append({"kind": "cell", "text": cell["cell_text"],
                            "media_ref": span["media_ref"],
                            "offset": len(out)})
    return out
