#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks (no Spark needed).

    python3 perfbench/selftest.py

For each workload it builds an output that matches the truth, checks
that it passes, then perturbs it in several ways and checks that every
perturbation is caught.  It also checks that ``BENCHMARK.json`` lists
exactly the per-layer metrics of ``perfbench/layers.json``.
"""

from __future__ import annotations

import copy
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.textgen import make_curate_corpus  # noqa: E402
from perfbench.truth import (  # noqa: E402
    GRITS_AVERAGES,
    CurateOutput,
    check_curate,
    check_evaluate,
    check_extract,
    design_counts,
    doc_id,
    extract_truth,
)
from table_transformer_spark.fixtures.generate import (  # noqa: E402
    expected_spans_clean,
    gen_document,
)

# contains DOC0001755, whose page p1 has a stray distractor word inside
# a table
EXTRACT_RANGE = (1750, 1760)


def _extract_rows(truth, with_strays: bool) -> list[tuple]:
    """Output rows as a correct pipeline emits them; with_strays appends
    each stray word to the last cell of its page, as the pipeline does
    for a word inside the table's last row."""
    rows = []
    for i in range(*EXTRACT_RANGE):
        doc = gen_document(doc_id(i))
        if doc["doc_id"] not in truth.loose:
            rows.extend((doc["doc_id"], s["kind"], s["text"], s["media_ref"],
                         s["offset"]) for s in expected_spans_clean(doc))
    for doc, (spans, stray) in truth.loose.items():
        spans = list(spans)
        if with_strays:
            for ref, words in stray.items():
                last = max(i for i, s in enumerate(spans) if s[2] == ref)
                kind, text, _ = spans[last]
                spans[last] = (kind, " ".join([text, *words]), ref)
        rows.extend((doc, k, t, m, n) for n, (k, t, m) in enumerate(spans))
    return rows


def extract_cases():
    truth = extract_truth(*EXTRACT_RANGE)
    assert truth.loose, "range must hold a doc with stray words"
    good = _extract_rows(truth, with_strays=True)
    yield "extract: correct output", check_extract(good, truth, []), True
    yield ("extract: correct output, strays absent",
           check_extract(_extract_rows(truth, False), truth, []), True)

    def edit(i, **kw):
        rows = list(good)
        r = list(rows[i])
        for k, v in kw.items():
            r[{"text": 2, "offset": 4}[k]] = v
        rows[i] = tuple(r)
        return rows

    loose_doc = next(iter(truth.loose))
    li = next(i for i, r in enumerate(good) if r[0] == loose_doc
              and r[1] == "cell")
    ei = next(i for i, r in enumerate(good) if r[0] not in truth.loose)
    cases = {
        "text changed": edit(ei, text=good[ei][2] + "x"),
        "offset changed": edit(ei, offset=good[ei][4] + 1),
        "row dropped": good[:ei] + good[ei + 1:],
        "row duplicated": good + [good[ei]],
        "stray-word doc: non-stray word added": edit(
            li, text=good[li][2] + " zzz"),
        "stray-word doc: row dropped": good[:li] + good[li + 1:],
    }
    for name, rows in cases.items():
        yield f"extract: {name}", check_extract(rows, truth, []), False
    yield ("extract: resume reprocessed a bucket",
           check_extract(good, truth, [3]), False)


def evaluate_cases():
    counts = design_counts(0, 12)
    simple = counts["tables"] - counts["complex_tables"]
    good = [{"slice": s, "n_tables": n, **{a: 1.0 for a in GRITS_AVERAGES}}
            for s, n in (("all", counts["tables"]),
                         ("complex", counts["complex_tables"]),
                         ("simple", simple)) if n]
    yield "evaluate: correct output", check_evaluate(good, counts), True
    low = copy.deepcopy(good)
    low[0]["avg_grits_con"] = 0.999
    yield "evaluate: one average below 1", check_evaluate(low, counts), False
    off = copy.deepcopy(good)
    off[-1]["n_tables"] += 1
    yield "evaluate: slice count off", check_evaluate(off, counts), False
    yield "evaluate: slice missing", check_evaluate(good[1:], counts), False


def curate_cases():
    corpus = make_curate_corpus(7, 400, 400)
    n = len(corpus.text)
    clusters = {d: min(c) for c in corpus.clusters for d in c}
    pairs = corpus.planted_pairs()
    top1 = {}
    for a, b in corpus.twins:
        top1[a], top1[b] = b, a
    good = CurateOutput(
        minhash_groups={(band, len(g), min(g))
                        for g in corpus.exact_groups for band in (0, 1)},
        simhash_pairs=set(pairs), clusters=clusters,
        keepers={min(c): len(c) for c in corpus.clusters},
        survivors=n - sum(len(c) - 1 for c in corpus.clusters),
        ngram_pairs=set(pairs), repetition_rows=n, tfidf_rows=3 * n,
        lsh_top1=dict(top1), ivf_top1=dict(top1))
    yield "curate: correct output", check_curate(good, corpus), True

    def bad(**kw):
        out = copy.deepcopy(good)
        for k, v in kw.items():
            setattr(out, k, v(getattr(out, k)))
        return check_curate(out, corpus)

    chain = corpus.chains[0]
    stranger = next(d for d in map(int, corpus.doc_id) if d not in clusters)
    yield "curate: chain split in two", bad(clusters=lambda c: {
        **c, chain[-1]: chain[-1]}), False
    yield "curate: unplanted doc clustered", bad(clusters=lambda c: {
        **c, stranger: min(chain)}), False
    yield "curate: survivors off by one", bad(
        survivors=lambda s: s + 1), False
    yield "curate: planted pair missed", bad(
        simhash_pairs=lambda p: set(sorted(p)[1:])), False
    yield "curate: ngram pair across clusters", bad(
        ngram_pairs=lambda p: p | {(min(chain), stranger)}), False
    yield "curate: twin not top-1", bad(
        ivf_top1=lambda t: {**t, corpus.twins[0][0]: stranger}), False
    yield "curate: minhash group lost", bad(
        minhash_groups=lambda g: set(sorted(g)[1:])), False


def metric_lists_agree():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((ROOT / "perfbench" / "layers.json").read_text())
    want = [{"name": k, "unit": v["unit"], "better": v["better"]}
            for k, v in layers.items()]
    return [] if bench["per_layer"] == want else [
        "BENCHMARK.json per_layer differs from perfbench/layers.json"]


def main() -> int:
    failures = 0
    for cases in (extract_cases(), evaluate_cases(), curate_cases()):
        for name, problems, should_pass in cases:
            ok = (not problems) == should_pass
            failures += not ok
            verdict = "ok  " if ok else "FAIL"
            print(f"{verdict} {name}: "
                  f"{'passes' if not problems else problems[0]}")
    problems = metric_lists_agree()
    failures += bool(problems)
    print(f"{'FAIL' if problems else 'ok  '} metric lists agree")
    print(f"{failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
