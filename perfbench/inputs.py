"""Seeded, cached benchmark inputs.

``--seed`` picks the ``corpus.build_document`` index window, the query
draws and the planted near-duplicate clusters; nothing else varies. The
base vocabulary is fixed, so every seed draws from the same language.
Generated inputs are cached under ``.perfbench/cache`` keyed by (workload,
seed, size, hash of the generator sources) and their doc and span counts
are re-verified whenever a cache entry is reused. Only inputs are cached;
program outputs are never reused across runs.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import random
import re
import shutil
from pathlib import Path

from env import CACHE, ROOT, nproc

#: documents per input (search adds its planted variants on top)
SIZES = {"ingest": 20_000, "search": 2_000}
#: the dedup workload runs on the search input, planted clusters included
INPUT_OF = {"ingest": "ingest", "search": "search", "dedup": "search"}

#: files whose change alters the generated inputs
GENERATOR_SOURCES = (
    "ocr_search_spark/corpus.py",
    "ocr_search_spark/kernels/cfb_build.py",
    "ocr_search_spark/kernels/xlsx_build.py",
    "perfbench/inputs.py",
)

#: kinds the extraction contract handles; any other kind (the corpus emits
#: ``uns``) yields no text and counts as a failed span
HANDLED_KINDS = frozenset(
    ("txt", "docx", "pdf", "html", "image", "rtf", "xls", "email", "msg")
)

TOKEN_RE = re.compile("[^a-zа-яё0-9_]+")

#: query classes and their slots in one cycle of the closed-loop mix.
#: These weights are assumed, not measured: nothing in the repository
#: records real query traffic. They keep only two properties: plain AND
#: over postings is the majority, and every class is sampled in every
#: cycle, so every run times (and checks) all seven classes.
CLASS_WEIGHTS = {
    "and_postings": 7,
    "phrase_postings": 1,
    "websearch_postings": 1,
    "rank_bm25": 1,
    "websearch_scan": 1,
    "rank_cd": 1,
    "no_match": 1,
}
CYCLE = sum(CLASS_WEIGHTS.values())
N_QUERIES = 15 * CYCLE
#: share of the corpus a two-term AND query matches (lower, upper)
PAIR_MATCH_SHARE = (0.01, 0.05)

#: share of search documents that get planted near-duplicate variants
PLANT_FRACTION = 0.05
#: a planted source needs enough tokens that a two-word edit keeps
#: 3-shingle Jaccard >= 0.95, far above the 0.5 threshold and the LSH cut
PLANT_MIN_TOKENS = 40

_SYLLABLES = (
    "ka lo mi ne ru sa ti vo ze bar dan fel gor hil jun kim lor mos nup "
    "pex qua ros sul tam ver wix"
).split()


def tokens(text: str) -> list[str]:
    """Search tokenization, restated: lowercase, split on non-word chars."""
    return [t for t in TOKEN_RE.split(text.lower()) if t]


def source_hash() -> str:
    h = hashlib.sha1()
    for rel in GENERATOR_SOURCES:
        h.update(rel.encode())
        h.update((ROOT / rel).read_bytes())
    return h.hexdigest()[:12]


def base_texts() -> list[str]:
    """Fixed base vocabulary texts (seed-independent)."""
    rng = random.Random("perfbench-base-v1")
    vocab = sorted(
        {"".join(rng.choice(_SYLLABLES) for _ in range(3)) for _ in range(3000)}
    )
    return [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(20, 90)))
        for _ in range(500)
    ]


def window_start(seed: int) -> int:
    return random.Random(f"perfbench-window:{seed}").randrange(0, 10_000_000)


def _build_chunk(args: tuple[int, int, bool]) -> list[tuple[dict, str | None]]:
    """Worker: documents [start, stop) and, if asked, their reference
    content (the oracle extraction, joined like ``ordered_text_agg``)."""
    import sys

    sys.path.insert(0, str(ROOT))
    from ocr_search_spark.corpus import build_document
    from ocr_search_spark.kernels.reference_impl import extract_document_spans

    start, stop, with_content = args
    base = base_texts()
    out = []
    for i in range(start, stop):
        doc = build_document(i, base)
        content = None
        if with_content:
            content = "\n".join(s["text"] for s in extract_document_spans(doc["spans"]))
        out.append((doc, content))
    return out


def _build(start: int, n: int, with_content: bool) -> list[tuple[dict, str | None]]:
    workers = max(1, min(4, nproc()))
    step = -(-n // (workers * 4))
    chunks = [(s, min(s + step, start + n), with_content) for s in range(start, start + n, step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        parts = pool.map(_build_chunk, chunks)
    return [item for part in parts for item in part]


def _doc_schema():
    import pyarrow as pa

    span = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    return pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])


def _smooth_schedule() -> list[str]:
    """One cycle of CLASS_WEIGHTS, interleaved by smooth weighted
    round-robin; the query stream repeats it, so every whole cycle holds
    every class."""
    total = CYCLE
    cur = dict.fromkeys(CLASS_WEIGHTS, 0)
    out = []
    for _ in range(total):
        for c, w in CLASS_WEIGHTS.items():
            cur[c] += w
        best = max(cur, key=lambda c: cur[c])
        cur[best] -= total
        out.append(best)
    return out


def render_query(groups: list[list[dict]]) -> str:
    parts = []
    for g in groups:
        items = []
        for it in g:
            text = " ".join(it["words"])
            if len(it["words"]) > 1:
                text = f'"{text}"'
            items.append(("-" if it["negated"] else "") + text)
        parts.append(" ".join(items))
    return " or ".join(parts)


def draw_queries(rng: random.Random, doc_tokens: list[list[str]]) -> list[dict]:
    n = len(doc_tokens)
    postings: dict[str, set[int]] = {}
    for i, toks in enumerate(doc_tokens):
        for t in set(toks):
            postings.setdefault(t, set()).add(i)
    band = sorted(t for t, docs in postings.items() if 0.05 * n <= len(docs) <= 0.5 * n)
    cyrillic = [t for t in band if re.search("[а-яё]", t)]
    long_docs = [toks for toks in doc_tokens if len(toks) >= 8]

    def term(exclude=()) -> str:
        while True:
            t = rng.choice(band)
            if t not in exclude:
                return t

    def pair() -> list[str]:
        """Two distinct terms, one Cyrillic half the time, whose AND
        matches PAIR_MATCH_SHARE of the corpus, so every seed's queries
        return comparable result sets."""
        lo, hi = (max(1, int(f * n)) for f in PAIR_MATCH_SHARE)
        while True:
            a = term()
            b = rng.choice(cyrillic) if cyrillic and rng.random() < 0.5 else term()
            if b != a and lo <= len(postings[a] & postings[b]) <= hi:
                return [a, b]

    def item(words, negated=False):
        return {"words": list(words), "negated": negated}

    queries = []
    schedule = _smooth_schedule()
    for k in range(N_QUERIES):
        cls = schedule[k % len(schedule)]
        mode, use_postings = "simple", True
        if cls in ("and_postings", "rank_bm25", "rank_cd"):
            groups = [[item([w]) for w in pair()]]
            mode = {"rank_bm25": "bm25", "rank_cd": "cd"}.get(cls, "simple")
        elif cls == "phrase_postings":
            toks = rng.choice(long_docs)
            i = rng.randrange(len(toks) - 1)
            groups = [[item(toks[i : i + 2])]]
        elif cls in ("websearch_postings", "websearch_scan"):
            a, b = pair()
            c = term((a, b))
            groups = [[item([a])], [item([b]), item([c], negated=True)]]
            use_postings = cls == "websearch_postings"
        else:  # no_match: a token absent from the corpus, trigram sim only
            while True:
                w = "zq" + "".join(rng.choice("qxzjwv") for _ in range(6))
                if w not in postings:
                    break
            groups = [[item([w])]]
        queries.append(
            {
                "cls": cls,
                "q": render_query(groups),
                "groups": groups,
                "rank_mode": mode,
                "postings": use_postings,
            }
        )
    return queries


def _plant(rng: random.Random, docs: list[dict], doc_tokens: list[list[str]]):
    """Near-duplicate variants of a seeded PLANT_FRACTION of the documents:
    exact copies, or the document plus one appended two-word txt span."""
    eligible = [i for i, toks in enumerate(doc_tokens) if len(toks) >= PLANT_MIN_TOKENS]
    n_src = min(len(eligible), int(PLANT_FRACTION * len(docs)))
    variants, clusters = [], {}
    for c, i in enumerate(sorted(rng.sample(eligible, n_src))):
        src = docs[i]
        ids = []
        for v in range(1 + rng.randrange(3)):
            spans = [dict(s) for s in src["spans"]]
            if not (v == 0 and rng.random() < 1 / 3):
                spans.append(
                    {
                        "kind": "txt",
                        "text": f"plant{c}x{v}a plant{c}x{v}b",
                        "media_ref": "",
                        "offset": max(s["offset"] for s in spans) + 1,
                    }
                )
            vid = f"{src['doc_id']}_v{v}"
            variants.append({"doc_id": vid, "spans": spans})
            ids.append(vid)
        clusters[src["doc_id"]] = ids
    return variants, clusters


def _count_spans(path: Path) -> tuple[int, int, int]:
    """(docs, spans, failed spans) of a cached docs parquet."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["spans"])
    spans = t.column("spans").combine_chunks()
    kinds = spans.flatten().field("kind")
    handled = pc.is_in(kinds, value_set=pa.array(sorted(HANDLED_KINDS)))
    return t.num_rows, len(kinds), len(kinds) - pc.sum(handled).as_py()


def load_or_build(workload: str, seed: int, log=print) -> tuple[Path, dict]:
    """Path of the cached docs parquet and its metadata for (workload, seed)."""
    workload = INPUT_OF[workload]
    n = SIZES[workload]
    key = f"{workload}-seed{seed}-n{n}-{source_hash()}"
    entry = CACHE / key
    docs_path, meta_path = entry / "docs.parquet", entry / "meta.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        counts = _count_spans(docs_path)
        if counts == (meta["n_docs_total"], meta["n_spans"], meta["failed_spans"]):
            return docs_path, meta
        log(f"cache entry {key} failed its count check {counts}; rebuilding")
    shutil.rmtree(entry, ignore_errors=True)

    import pyarrow as pa
    import pyarrow.parquet as pq

    start = window_start(seed)
    built = _build(start, n, with_content=workload != "ingest")
    docs = [d for d, _ in built]
    meta = {"workload": workload, "seed": seed, "window_start": start, "n_docs": n}
    rng = random.Random(f"perfbench-draws:{workload}:{seed}")
    if workload == "search":
        doc_tokens = [tokens(c) for _, c in built]
        meta["queries"] = draw_queries(rng, doc_tokens)
        variants, clusters = _plant(rng, docs, doc_tokens)
        docs = docs + variants
        meta["clusters"] = clusters
    tmp = CACHE / (key + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=_doc_schema()), tmp / "docs.parquet")
    n_docs_total, n_spans, failed = _count_spans(tmp / "docs.parquet")
    meta.update(n_docs_total=n_docs_total, n_spans=n_spans, failed_spans=failed)
    (tmp / "meta.json").write_text(json.dumps(meta))
    tmp.rename(entry)
    return docs_path, meta
