#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks (no Spark needed).

    python3 perfbench/selftest.py

Each check must accept a correct output and reject every deliberately
perturbed copy of it. Also verifies that BENCHMARK.json names exactly the
metrics the benchmark prints. Exits 1 if any expectation fails.
"""

from __future__ import annotations

import copy
import json
import random
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import inputs  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, problems: list[str], ok: bool) -> None:
    if bool(problems) == ok:
        FAILURES.append(f"{name}: {'rejected a correct' if ok else 'accepted a perturbed'} output {problems}")
    else:
        print(f"ok  {name}")


def corpus(n: int) -> list[dict]:
    from ocr_search_spark.corpus import build_document

    base = inputs.base_texts()
    return [build_document(i, base) for i in range(5000, 5000 + n)]


def test_ingest(docs: list[dict]) -> None:
    from ocr_search_spark.kernels.reference_impl import extract_document_spans

    kinds = [s["kind"] for d in docs for s in d["spans"]]
    meta = {
        "n_docs_total": len(docs),
        "n_spans": len(kinds),
        "failed_spans": sum(1 for k in kinds if k not in inputs.HANDLED_KINDS),
    }
    audit = {"docs": meta["n_docs_total"], "spans": meta["n_spans"], "failures": meta["failed_spans"]}
    expect("ingest counts", checks.check_ingest_counts(audit, meta), ok=True)
    for k in audit:
        bad = dict(audit, **{k: audit[k] + 1})
        expect(f"ingest counts, {k} off by one", checks.check_ingest_counts(bad, meta), ok=False)

    expect("failed spans", checks.check_failed_spans(meta["failed_spans"], kinds), ok=True)
    expect("failed spans, one more", checks.check_failed_spans(meta["failed_spans"] + 1, kinds), ok=False)

    ref = {
        d["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in extract_document_spans(d["spans"])]
        for d in docs
    }
    expect("ingest sample", checks.check_ingest_sample(copy.deepcopy(ref), ref), ok=True)
    victim = next(d for d, spans in ref.items() if any(s[1] for s in spans))
    i = next(j for j, s in enumerate(ref[victim]) if s[1])
    perturbations = {
        "one byte of text": lambda g: g[victim].__setitem__(i, (*g[victim][i][:1], g[victim][i][1][:-1] + "#", *g[victim][i][2:])),
        "a doc missing": lambda g: g.pop(victim),
        "an extra doc": lambda g: g.__setitem__("doc_extra", []),
        "spans reordered": lambda g: g[victim].reverse() if len(g[victim]) > 1 else g[victim].append(g[victim][0]),
        "a span dropped": lambda g: g[victim].pop(),
    }
    for name, mutate in perturbations.items():
        got = copy.deepcopy(ref)
        mutate(got)
        expect(f"ingest sample, {name}", checks.check_ingest_sample(got, ref), ok=False)


def test_search(docs: list[dict]) -> None:
    from ocr_search_spark.kernels.reference_impl import extract_document_spans

    content = {d["doc_id"]: "\n".join(s["text"] for s in extract_document_spans(d["spans"])) for d in docs}
    oracle = checks.SearchOracle(content)
    queries = inputs.draw_queries(random.Random(3), [inputs.tokens(c) for c in content.values()])
    for q in queries[: len(inputs.CLASS_WEIGHTS) * 3]:
        total, exp = oracle.expected(q)
        top = sorted(exp, key=lambda d: (-exp[d][2], d))[: checks.TOP_K]
        items = [(d, exp[d][0], exp[d][1]) for d in top]
        tag = f"search {q['cls']} {q['q']!r}"
        expect(tag, checks.check_search(total, exp, total, items), ok=True)
        expect(f"{tag}, total off by one", checks.check_search(total, exp, total + 1, items), ok=False)
        if not items:
            continue
        expect(f"{tag}, last item dropped", checks.check_search(total, exp, total, items[:-1]), ok=False)
        d, r, s = items[0]
        expect(f"{tag}, rank perturbed", checks.check_search(total, exp, total, [(d, r + 0.01, s)] + items[1:]), ok=False)
        other = next(x for x in content if x not in exp)
        expect(f"{tag}, non-matching doc", checks.check_search(total, exp, total, items[:-1] + [(other, r, s)]), ok=False)
        if len(items) > 1:
            swapped = [items[1], items[0]] + items[2:]
            expect(f"{tag}, two items swapped", checks.check_search(total, exp, total, swapped), ok=False)
        left_out = [x for x in exp if x not in top]
        if left_out:
            # replace the last item with a lower-ranked match
            worst = sorted(left_out, key=lambda x: (-exp[x][2], x))[-1]
            repl = items[:-1] + [(worst, exp[worst][0], exp[worst][1])]
            expect(f"{tag}, lower-ranked match shown", checks.check_search(total, exp, total, repl), ok=False)


def test_dedup() -> None:
    expected = {"doc_1", "doc_2", "doc_3"}
    expect("dedup survivors", checks.check_dedup(["doc_3", "doc_1", "doc_2"], expected), ok=True)
    expect("dedup, survivor dropped", checks.check_dedup(["doc_1", "doc_2"], expected), ok=False)
    expect("dedup, duplicate kept", checks.check_dedup(["doc_1", "doc_2", "doc_3", "doc_1_v0"], expected), ok=False)
    expect("dedup, survivor repeated", checks.check_dedup(["doc_1", "doc_2", "doc_3", "doc_3"], expected), ok=False)


def test_query_schedule() -> None:
    cycle = inputs._smooth_schedule()
    counts = {c: cycle.count(c) for c in inputs.CLASS_WEIGHTS}
    expect("query cycle holds every class", [] if min(counts.values()) >= 1 else [counts], ok=True)
    expect("and_postings is the majority", [] if 2 * counts["and_postings"] > len(cycle) else [counts], ok=True)


def test_host_gate() -> None:
    import compare

    def gate(base, new):
        side = lambda ref, steal: [{"host": {"cpu_ref_s": ref, "steal_share": steal}}] * 3  # noqa: E731
        problem = compare.host_disagreement(side(*base), side(*new))
        return [problem] if problem else []

    expect("host gate, same host", gate((0.1, 0.002), (0.105, 0.004)), ok=True)
    expect("host gate, slower host", gate((0.1, 0.002), (0.12, 0.002)), ok=False)
    expect("host gate, more steal", gate((0.1, 0.002), (0.1, 0.02)), ok=False)


def test_benchmark_json() -> None:
    import run
    import workloads

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    expect("BENCHMARK.json end_to_end", [] if e2e == run.END_TO_END else [e2e], ok=True)
    expect("BENCHMARK.json per_layer", [] if layers == workloads.PER_LAYER else [set(layers) ^ set(workloads.PER_LAYER)], ok=True)
    names = {w["name"] for w in spec["workloads"]}
    expect("BENCHMARK.json workloads", [] if names <= set(run.WORKLOADS) else [names], ok=True)


def main() -> int:
    docs = corpus(300)
    test_ingest(docs)
    test_search(docs)
    test_dedup()
    test_query_schedule()
    test_host_gate()
    test_benchmark_json()
    for f in FAILURES:
        print(f"FAIL {f}")
    print(f"{'FAILED' if FAILURES else 'passed'}: {len(FAILURES)} failures")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
