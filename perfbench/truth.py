"""Expected answers built from the fixture design and the benchmark's
own generator, and the checks that compare a pass's output with them.

Nothing here calls an extraction, GriTS or dedup kernel: the extraction
truth is ``fixtures.generate.expected_spans_clean`` (the generator's
designed cells), the GriTS truth is the designed slice counts with
every average at 1.0, and the curation truth is the planted clusters.

Every check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass

from table_transformer_spark.fixtures.generate import (
    corpus_media_refs,
    expected_spans_clean,
    gen_document,
    synth_page,
)

_MASK = (1 << 128) - 1
GRITS_AVERAGES = ("avg_grits_top", "avg_grits_loc", "avg_grits_con",
                  "avg_acc_con", "avg_dar_con")


def doc_id(i: int) -> str:
    return f"DOC{i:07d}"


@dataclass(frozen=True)
class SpanDigest:
    """Order-insensitive digest of (doc_id, kind, text, media_ref,
    offset) rows: row count plus the sum of per-row blake2b digests."""
    rows: int
    digest: int

    @classmethod
    def of(cls, rows) -> "SpanDigest":
        total, n = 0, 0
        for r in rows:
            key = "\x1f".join((r[0], r[1], r[2], r[3], str(int(r[4]))))
            total += int.from_bytes(
                hashlib.blake2b(key.encode(), digest_size=16).digest(),
                "big")
            n += 1
        return cls(n, total & _MASK)


# Distractor words are page prose the fixture scatters near the top and
# bottom page edges (block_num 9).  A table placed low on the page can
# reach the bottom distractor row, and the pipeline then, correctly,
# assigns that word to the cell it falls in, while the designed truth
# (``expected_spans_clean``) leaves it out.  Docs with such a page are
# checked loosely (see ``_matches_with_strays``); all others exactly.
DISTRACTOR_BLOCK = 9
_CROP_PAD = 10


def _distractors_in_tables(page: dict) -> list[str]:
    words = []
    for tok in page["tokens"]:
        if tok["block_num"] != DISTRACTOR_BLOCK:
            continue
        x0, y0, x1, y1 = tok["bbox"]
        if any(x0 < a1 + _CROP_PAD and x1 > a0 - _CROP_PAD
               and y0 < b1 + _CROP_PAD and y1 > b0 - _CROP_PAD
               for a0, b0, a1, b1 in (d["bbox"] for d in
                                      page["detections"])):
            words.append(tok["text"])
    return words


@dataclass
class ExtractTruth:
    exact: SpanDigest                 # every doc without a stray word
    loose: dict[str, tuple]           # doc → (spans, {media_ref: words})

    @property
    def rows(self) -> int:
        return self.exact.rows + sum(len(s) for s, _ in self.loose.values())


def extract_truth(lo: int, hi: int) -> ExtractTruth:
    exact_rows, loose = [], {}
    for i in range(lo, hi):
        doc = gen_document(doc_id(i))
        spans = [(s["kind"], s["text"], s["media_ref"])
                 for s in expected_spans_clean(doc)]
        stray = {}
        for ref in corpus_media_refs(doc):
            words = _distractors_in_tables(synth_page(ref))
            if words:
                stray[ref] = words
        if stray:
            loose[doc["doc_id"]] = (spans, stray)
        else:
            exact_rows.extend((doc["doc_id"], k, t, m, n)
                              for n, (k, t, m) in enumerate(spans))
    return ExtractTruth(SpanDigest.of(exact_rows), loose)


def _matches_with_strays(got: list[tuple], want: list[tuple],
                         stray: dict) -> bool:
    """*got* equals *want* except that stray words may trail a cell's
    text (they sort after the table's own tokens) or form a cell span of
    their own (a designed blank cell).  Each stray word is used once."""
    pools = {ref: Counter(words) for ref, words in stray.items()}
    i = j = 0
    while i < len(got):
        kind, text, ref = got[i]
        if j < len(want) and got[i] == want[j]:
            i, j = i + 1, j + 1
            continue
        pool = pools.get(ref, Counter())
        if (j < len(want) and kind == "cell" and want[j][0] == "cell"
                and ref == want[j][2]
                and text.startswith(want[j][1] + " ")):
            extra, j = Counter(text[len(want[j][1]) + 1:].split(" ")), j + 1
        elif kind == "cell":
            extra = Counter(text.split(" "))
        else:
            return False
        if extra - pool:
            return False
        pool.subtract(extra)
        i += 1
    return j == len(want)


def check_extract(rows, want: ExtractTruth,
                  resume_buckets: list) -> list[str]:
    """*rows*: (doc_id, kind, text, media_ref, offset) output rows."""
    exact, loose = [], {}
    for r in rows:
        if r[0] in want.loose:
            loose.setdefault(r[0], []).append(r)
        else:
            exact.append(r)
    problems = []
    got = SpanDigest.of(exact)
    if got != want.exact:
        problems.append(f"span digest {got} != expected {want.exact}")
    for doc, (spans, stray) in want.loose.items():
        out = sorted(loose.get(doc, []), key=lambda r: r[4])
        if [r[4] for r in out] != list(range(len(out))):
            problems.append(f"{doc}: offsets not 0..n-1")
        if not _matches_with_strays([tuple(r[1:4]) for r in out], spans,
                                    stray):
            problems.append(f"{doc}: spans differ beyond stray words")
    if resume_buckets:
        problems.append(f"resume reprocessed buckets {resume_buckets}")
    return problems


def design_counts(lo: int, hi: int) -> dict[str, int]:
    """Pages, tables, designed cells and complex (spanning-cell) tables
    of the doc range — the work the extraction layers must do."""
    c = Counter()
    for i in range(lo, hi):
        for ref in corpus_media_refs(gen_document(doc_id(i))):
            c["pages"] += 1
            for table in synth_page(ref)["tables"]:
                cells = table["design"]["true_cells"]
                c["tables"] += 1
                c["cells"] += len(cells)
                c["complex_tables"] += any(
                    len(x["row_nums"]) > 1 or len(x["column_nums"]) > 1
                    for x in cells)
    return dict(c)


def check_evaluate(summary: list[dict], counts: dict[str, int]
                   ) -> list[str]:
    """Noisy extraction must reproduce the designed cells exactly, so
    every average is 1.0 and the slices count the designed tables."""
    simple = counts["tables"] - counts["complex_tables"]
    want = {"all": counts["tables"], "complex": counts["complex_tables"],
            "simple": simple}
    want = {k: v for k, v in want.items() if v}
    got = {r["slice"]: r["n_tables"] for r in summary}
    problems = []
    if got != want:
        problems.append(f"slice counts {got} != designed {want}")
    for r in summary:
        bad = {k: r[k] for k in GRITS_AVERAGES if r[k] != 1.0}
        if bad:
            problems.append(f"slice {r['slice']}: averages {bad} != 1.0")
    return problems


@dataclass
class CurateOutput:
    """What one curate pass returned, reduced to what the checks need."""
    minhash_groups: list[tuple[int, int, int]]  # (band, n_docs, canon)
    simhash_pairs: set[tuple[int, int]]
    clusters: dict[int, int]                    # node → cluster id
    keepers: dict[int, int]                     # cluster id → n_members
    survivors: int
    ngram_pairs: set[tuple[int, int]]           # is_neardup pairs
    repetition_rows: int
    tfidf_rows: int
    lsh_top1: dict[int, int]                    # twin id → neighbour
    ivf_top1: dict[int, int]


def check_curate(out: CurateOutput, corpus) -> list[str]:
    problems = []
    n_docs = len(corpus.text)
    planted = corpus.clusters
    planted_nodes = {d for c in planted for d in c}

    # connected components: each planted cluster is one component and
    # nothing else clusters
    if set(out.clusters) != planted_nodes:
        extra = set(out.clusters) - planted_nodes
        missing = planted_nodes - set(out.clusters)
        problems.append(f"clustered nodes: {len(extra)} unplanted, "
                        f"{len(missing)} planted missing")
    for c in planted:
        labels = {out.clusters.get(d) for d in c}
        if labels != {min(c)}:
            problems.append(f"planted cluster {sorted(c)} got labels "
                            f"{labels}")
            break
    want_sizes = sorted(len(c) for c in planted)
    if sorted(out.keepers.values()) != want_sizes:
        problems.append("keeper cluster sizes differ from planted sizes")
    dropped = sum(len(c) - 1 for c in planted)
    if out.survivors != n_docs - dropped:
        problems.append(f"survivors {out.survivors} != {n_docs} docs - "
                        f"{dropped} dropped")

    pairs = corpus.planted_pairs()
    if not pairs <= out.simhash_pairs:
        problems.append(f"simhash missed {len(pairs - out.simhash_pairs)}"
                        " planted pairs")
    if not pairs <= out.ngram_pairs:
        problems.append(f"ngram missed {len(pairs - out.ngram_pairs)} "
                        "planted pairs")
    same = {d: min(c) for c in planted for d in c}
    stray = [p for p in out.ngram_pairs
             if same.get(p[0], -1) != same.get(p[1], -2)]
    if stray:
        problems.append(f"{len(stray)} ngram pairs cross clusters")

    for g in corpus.exact_groups:
        for band in (0, 1):
            if (band, len(g), min(g)) not in out.minhash_groups:
                problems.append(f"minhash band {band} lost exact group "
                                f"{sorted(g)}")
    if out.repetition_rows != n_docs:
        problems.append(f"repetition rows {out.repetition_rows} != "
                        f"{n_docs}")
    if out.tfidf_rows != 3 * n_docs:
        problems.append(f"tfidf rows {out.tfidf_rows} != 3 × {n_docs}")
    for name, top1 in (("lsh", out.lsh_top1), ("ivf", out.ivf_top1)):
        wrong = [(a, b) for a, b in corpus.twins
                 if top1.get(a) != b or top1.get(b) != a]
        if wrong:
            problems.append(f"{name} top-1 missed {len(wrong)} twins")
    return problems


def planted_recall(out: CurateOutput, corpus) -> float:
    pairs = corpus.planted_pairs()
    return len(pairs & out.simhash_pairs) / len(pairs)
