"""The three workloads (set-up, timed loop, checks) and the traced run's
layer probes. ``dedup`` runs on the ``search`` input, whose planted
near-duplicate clusters also give the traced ``ops.dedup`` probes real
edges on ``search``.

Every workload runs in one process on ``local[nproc]``. The JVM is started
once; each of the ``SETUP_REPS`` set-ups then starts a fresh SparkSession
in it, loads the cached inputs and prepares the workload, and the last
prepared state is measured. Outputs always go to fresh directories.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
import traceback
from pathlib import Path

import checks
import env
import inputs
from tracing import Tracer, engine_metrics

#: set-ups per run; the first is cold, and ingest's (no extraction) are
#: cheap enough to take more of them
SETUP_REPS = {"ingest": 5, "search": 3, "dedup": 3}
#: spans in the driver-side kernel replay sample
KERNEL_SAMPLE_SPANS = 3000
#: documents compared byte-for-byte with the reference extraction
INGEST_SAMPLE_DOCS = 1000
#: untimed queries run before the search loop
WARMUP_QUERIES = 1
#: untimed ingest passes before the timed ones: pass times keep falling
#: for about the first 100k documents a JVM extracts, then level off
WARMUP_PASSES = 3
#: operation time the loop is sized by (see ``Run.loop``): roughly one
#: operation's time on a 4-core host when the benchmark was defined
NOMINAL_OP_S = {"ingest": 5.0, "search": 1.5, "dedup": 5.0}
#: the ingest workload's search/dedup probes use 1 in this many documents
PROBE_MOD = 10

#: per-layer metrics of the traced run: name -> (unit, better)
PER_LAYER = {
    **{
        f"kernels.{k}.us_per_span": ("us", "lower")
        for k in ("dispatch", "html", "pdf", "email", "msg", "rtf", "xls", "image", "normalize")
    },
    "kernels.failed_spans": ("count", "lower"),
    "pipeline.extract.salt_shuffle_s": ("s", "lower"),
    "pipeline.extract.extract_s": ("s", "lower"),
    "pipeline.extract.partition_spans_max_over_median": ("ratio", "lower"),
    "pipeline.checkpoint.run_extraction_s": ("s", "lower"),
    "pipeline.checkpoint.write_publish_s": ("s", "lower"),
    "pipeline.checkpoint.output_files": ("count", "lower"),
    "pipeline.checkpoint.committed_spans_s": ("s", "lower"),
    "search.analysis.tokenize_s": ("s", "lower"),
    "search.engine.index_build_s": ("s", "lower"),
    "search.engine.postings_rows": ("count", "lower"),
    "search.engine.search_call_ms": ("ms", "lower"),
    "search.engine.items_ms": ("ms", "lower"),
    **{f"search.class.{c}_ms": ("ms", "lower") for c in inputs.CLASS_WEIGHTS},
    "ops.dedup.minhash_signatures_s": ("s", "lower"),
    "ops.dedup.lsh_candidate_pairs_s": ("s", "lower"),
    "ops.dedup.candidate_pairs": ("count", "lower"),
    "ops.dedup.verified_near_dup_pairs_s": ("s", "lower"),
    "ops.dedup.verified_pairs": ("count", "higher"),
    "ops.dedup.candidate_precision": ("ratio", "higher"),
    "ops.dedup.connected_components_labels_s": ("s", "lower"),
    "ops.dedup.survivors": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_records": ("count", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.py_worker_s": ("s", "lower"),
    "spark.py_bytes_in": ("bytes", "lower"),
    "spark.py_bytes_out": ("bytes", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "driver.gap_s": ("s", "lower"),
}

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload, seed, seconds, trace, docs_path, meta, work, log):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.docs_path, self.meta, self.work, self.log = docs_path, meta, work, log
        self.tracer = Tracer(trace)
        self.spark = None
        self.parts = 2 * env.nproc()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.op_s: list[float] = []
        self.setup_s: list[float] = []
        self.report: dict[str, tuple] = {}
        self.layers: dict[str, float] = {}
        self.last_out: str | None = None
        self.docs = None  # content DataFrame (search, dedup)
        self.content_path: str | None = None

    # -- bookkeeping -------------------------------------------------------

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems[:3])

    def guarded(self, what: str, fn):
        """Run one operation; an exception counts it as failed."""
        try:
            return fn()
        except Exception:
            self.record(what, [traceback.format_exc(limit=3).strip().splitlines()[-1]])
            self.log(traceback.format_exc())
            return None

    # -- session and set-up -----------------------------------------------

    def start(self) -> float:
        """Start the JVM and the first session; returns its wall time."""
        t, self.spark = _timed(lambda: env.start_session(self.work, self.trace))
        self.tracer.spark = self.spark if self.trace else None
        self.log(f"workers import {env.check_worker_imports(self.spark)}")
        return t

    def warm_up(self) -> None:
        """Run the timed operation's code path, untimed and unchecked, so
        JIT warm-up and worker start-up are paid before anything is timed.
        The first set-up rep has already warmed the extraction."""
        if self.workload == "ingest":
            for _ in range(WARMUP_PASSES):
                shutil.rmtree(self.extract(self.input_df))
        elif self.workload == "search":
            _, post = self.build_index()
            for q in self.meta["queries"][-WARMUP_QUERIES:]:
                self.query(q, post)
        else:
            self.near_dedup()

    def setup(self) -> None:
        """SETUP_REPS times: a new session on the running context, the
        cached input loaded and its counts verified, and the workload's
        preparation (extraction and content for search and dedup)."""
        from pyspark.sql import functions as F

        base = self.spark
        for rep in range(SETUP_REPS[self.workload]):
            with self.tracer.span("setup", rep=rep):
                t0 = time.perf_counter()
                self.spark = base.newSession()
                self.input_df = self.spark.read.parquet(str(self.docs_path))
                got = self.input_df.agg(
                    F.count("*").alias("docs"), F.sum(F.size("spans")).alias("spans")
                ).collect()[0]
                if (got.docs, got.spans) != (self.meta["n_docs_total"], self.meta["n_spans"]):
                    raise RuntimeError(f"input parquet holds {got}, not the cached counts")
                if self.workload != "ingest":
                    self.prepare_content()
                self.setup_s.append(time.perf_counter() - t0)

    def extract(self, df) -> str:
        """One fresh ``run_extraction`` of ``df``; returns its out dir."""
        from ocr_search_spark.pipeline.checkpoint import run_extraction

        out = self.work.fresh("extract")
        with self.tracer.span("pipeline.checkpoint.run_extraction"):
            run_extraction(self.spark, df, out, run_group="bench", num_partitions=self.parts)
        return out

    def content_of(self, out: str, keep=None) -> str:
        """Extracted docs joined to one ``content`` string per doc, written
        to parquet; returns the path."""
        from ocr_search_spark.pipeline.checkpoint import committed_spans
        from ocr_search_spark.pipeline.extract import explode_spans, ordered_text_agg

        with self.tracer.span("pipeline.checkpoint.committed_spans"):
            spans = committed_spans(self.spark, out)
        if keep is not None:
            spans = spans.filter(keep)
        path = self.work.fresh("content")
        with self.tracer.span("content"):
            (
                explode_spans(spans)
                .groupBy("doc_id")
                .agg(ordered_text_agg().alias("content"))
                .write.parquet(path)
            )
        return path

    def prepare_content(self) -> None:
        self.last_out = self.extract(self.input_df)
        self.content_path = self.content_of(self.last_out)
        self.docs = self.spark.read.parquet(self.content_path)

    # -- timed loop ---------------------------------------------------------

    def loop(self, op) -> None:
        """Closed loop: the next operation starts when the previous one has
        returned. ``seconds`` sets how many operations run: as many as take
        that long at the workload's NOMINAL_OP_S, so every run of a workload
        times the same operations. Search rounds to whole cycles of the
        query mix, so every run times every query class."""
        n_ops = max(3, round(self.seconds / NOMINAL_OP_S[self.workload]))
        if self.workload == "search":
            n_ops = inputs.CYCLE * max(1, round(n_ops / inputs.CYCLE))
        for i in range(n_ops):
            with self.tracer.span("op", i=i, timed=True):
                dt = self.guarded(f"op {i}", lambda: op(i))
            if dt is not None:
                self.op_s.append(dt)

    def run(self) -> None:
        getattr(self, f"run_{self.workload}")()

    # ingest ------------------------------------------------------------------

    def _audit_totals(self, out: str) -> dict:
        from pyspark.sql import functions as F

        from ocr_search_spark.pipeline.checkpoint import read_audit

        row = read_audit(self.spark, out).agg(
            F.sum("docs").alias("docs"), F.sum("spans").alias("spans"),
            F.sum("failures").alias("failures"),
        ).collect()[0]
        return row.asDict()

    def run_ingest(self) -> None:
        def one_pass(i):
            dt, out = _timed(lambda: self.extract(self.input_df))
            self.record(f"pass {i} counts", checks.check_ingest_counts(self._audit_totals(out), self.meta))
            if self.last_out:
                shutil.rmtree(self.last_out, ignore_errors=True)
            self.last_out = out
            return dt

        self.loop(one_pass)
        self.guarded("reference sample", self.check_ingest_sample)
        n_docs, n_spans = self.meta["n_docs_total"], self.meta["n_spans"]
        med = statistics.median(self.op_s)
        self.throughput = n_docs * len(self.op_s) / sum(self.op_s)
        self.report["ingest_s"] = (med, "s", len(self.op_s), f"{n_docs} docs / {n_spans} spans per pass")
        self.report["ingest_docs_per_s"] = (self.throughput, "docs/s", len(self.op_s), f"at {n_docs} docs / {n_spans} spans")

    def check_ingest_sample(self) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from ocr_search_spark.kernels.reference_impl import extract_document_spans
        from ocr_search_spark.pipeline.checkpoint import committed_spans

        table = pq.read_table(self.docs_path)
        rng = random.Random(f"perfbench-sample:{self.seed}")
        sample = rng.sample(table.column("doc_id").to_pylist(), INGEST_SAMPLE_DOCS)
        rows = table.filter(pc.is_in(table.column("doc_id"), value_set=pa.array(sample))).to_pylist()
        reference = {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in extract_document_spans(r["spans"])
            ]
            for r in rows
        }
        got = {
            r.doc_id: [(s.kind, s.text, s.media_ref, s.order) for s in r.spans]
            for r in committed_spans(self.spark, self.last_out)
            .filter(F.col("doc_id").isin(sample))
            .select("doc_id", "spans")
            .collect()
        }
        self.record("reference sample", checks.check_ingest_sample(got, reference))

    # search ------------------------------------------------------------------

    def build_index(self, timed: bool = False):
        from ocr_search_spark.search.engine import build_postings

        path = self.work.fresh("postings")
        with self.tracer.span("index_build", timed=timed):
            dt, _ = _timed(lambda: build_postings(self.docs).write.parquet(path))
        return dt, self.spark.read.parquet(path)

    def query(self, q: dict, postings):
        """One closed-loop client request: the call (which computes the
        eager ``total``) and the top-25 items. Returns (call_s, items_s,
        total, rows)."""
        from ocr_search_spark.search.engine import search_documents

        with self.tracer.span("search.engine.search_documents", cls=q["cls"]):
            t_call, res = _timed(lambda: search_documents(
                self.docs, q["q"], postings=postings if q["postings"] else None,
                rank_mode=q["rank_mode"],
            ))
        with self.tracer.span("search.engine.items", cls=q["cls"]):
            t_items, rows = _timed(lambda: res["items"].collect())
        return t_call, t_items, res["total"], [(r.doc_id, r.rank, r.sim) for r in rows]

    def run_search(self) -> None:
        queries = self.meta["queries"]
        self.index_s, self.postings = self.build_index(timed=True)
        self.results: list[tuple] = []

        def one(i):
            q = queries[i % len(queries)]
            t_call, t_items, total, rows = self.query(q, self.postings)
            self.results.append((q, t_call, t_items, total, rows))
            return t_call + t_items

        self.loop(one)
        self.guarded("search oracle", lambda: self.check_search(self.results))
        ms = [t * 1e3 for t in self.op_s]
        self.throughput = len(self.op_s) / (self.index_s + sum(self.op_s))
        self.report["index_build_s"] = (self.index_s, "s", 1, "")
        self.report["query_p50_ms"] = (statistics.median(ms), "ms", len(ms), "")
        p90 = statistics.quantiles(ms, n=10)[-1] if len(ms) >= 2 else ms[0]
        beyond = sum(1 for m in ms if m > p90)
        note = "" if beyond >= 10 else f"only {beyond} samples beyond p90"
        self.report["query_p90_ms"] = (p90, "ms", len(ms), note)

    def check_search(self, results: list[tuple]) -> None:
        """Every (query, call_s, items_s, total, rows) of ``results``
        against the oracle over the current content table."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.content_path)
        oracle = checks.SearchOracle(dict(zip(t.column("doc_id").to_pylist(), t.column("content").to_pylist())))
        for q, _, _, total, rows in results:
            total_exp, exp = oracle.expected(q)
            self.record(f"query {q['q']!r}", checks.check_search(total_exp, exp, total, rows))

    # dedup -------------------------------------------------------------------

    def expected_survivors(self) -> set[str]:
        import pyarrow.parquet as pq

        ids = set(pq.read_table(self.docs_path, columns=["doc_id"]).column("doc_id").to_pylist())
        planted = {v for vs in self.meta["clusters"].values() for v in vs}
        return ids - planted

    def near_dedup(self) -> list[str]:
        from ocr_search_spark.ops.dedup import near_dedup_cc

        with self.tracer.span("ops.dedup.near_dedup_cc"):
            rows = near_dedup_cc(self.docs, "doc_id", "content").select("doc_id").collect()
        return [r.doc_id for r in rows]

    def run_dedup(self) -> None:
        expected = self.expected_survivors()

        def one(i):
            dt, survivors = _timed(self.near_dedup)
            self.record(f"dedup {i}", checks.check_dedup(survivors, expected))
            self.survivors = len(survivors)
            return dt

        self.loop(one)
        n = self.meta["n_docs_total"]
        self.throughput = n * len(self.op_s) / sum(self.op_s)
        self.report["dedup_s"] = (
            statistics.median(self.op_s), "s", len(self.op_s),
            f"{n} docs, {len(self.meta['clusters'])} planted clusters",
        )

    # -- traced run: layer probes -------------------------------------------

    def probe(self, name: str, fn):
        with self.tracer.span(f"probe.{name}"):
            dt, out = _timed(fn)
        self.layers[name] = dt
        return out

    def probe_layers(self) -> None:
        from pyspark.sql import functions as F

        self.probe_kernels()
        self.probe_pipeline()
        if self.workload == "ingest":
            keep = F.pmod(F.xxhash64("doc_id"), F.lit(PROBE_MOD)) == 0
            self.content_path = self.content_of(self.last_out, keep)
            self.docs = self.spark.read.parquet(self.content_path)
        self.probe_search()
        self.probe_dedup()

    def probe_kernels(self) -> None:
        """One-thread, driver-side replay of a seeded span sample through
        the kernels' public functions."""
        import pandas as pd
        import pyarrow.parquet as pq

        from ocr_search_spark.kernels import dispatch
        from ocr_search_spark.kernels.normalize import normalize_series

        flat = pq.read_table(self.docs_path, columns=["spans"]).column("spans").combine_chunks().flatten()
        rng = random.Random(f"perfbench-kernels:{self.seed}")
        idx = sorted(rng.sample(range(len(flat)), min(KERNEL_SAMPLE_SPANS, len(flat))))
        sample = flat.take(idx)
        kind = pd.Series(sample.field("kind").to_pylist(), dtype=object)
        text = pd.Series(sample.field("text").to_pylist(), dtype=object).fillna("")
        media = pd.Series(sample.field("media_ref").to_pylist(), dtype=object).fillna("")

        t, (_, failed) = _timed(lambda: dispatch.extract_texts(kind, text, media))
        self.layers["kernels.dispatch.us_per_span"] = t * 1e6 / len(kind)
        self.layers["kernels.failed_spans"] = int(failed.sum())
        self.record("kernels.failed_spans", checks.check_failed_spans(int(failed.sum()), kind.tolist()))

        kernels = {
            "html": dispatch.html_to_text_fast,
            "pdf": dispatch.extract_pdf_page_text,
            "email": dispatch.eml_to_text_fast,
            "msg": dispatch.msg_to_text,
            "rtf": dispatch.rtf_to_text,
            "xls": dispatch.xls_any_to_text,
        }
        raw = text.where(kind.isin(("txt", "docx")), "")
        for k, fn in kernels.items():
            mask = kind == k
            t, out = _timed(lambda: text[mask].map(fn))
            raw[mask] = out
            self.layers[f"kernels.{k}.us_per_span"] = t * 1e6 / max(1, int(mask.sum()))
        mask = kind == "image"
        t, out = _timed(lambda: media[mask].map(dispatch.ocr_stub_text))
        raw[mask] = out
        self.layers["kernels.image.us_per_span"] = t * 1e6 / max(1, int(mask.sum()))
        t, _ = _timed(lambda: normalize_series(raw))
        self.layers["kernels.normalize.us_per_span"] = t * 1e6 / len(raw)

    def probe_pipeline(self) -> None:
        import glob

        from ocr_search_spark.pipeline.checkpoint import committed_spans, read_audit
        from ocr_search_spark.pipeline.extract import add_partition_salt, extract_documents

        L = self.layers
        self.probe("pipeline.extract.salt_shuffle_s", lambda: _noop(add_partition_salt(self.input_df, self.parts)))
        self.probe("pipeline.extract.extract_s", lambda: _noop(extract_documents(self.input_df, self.parts)))
        spans = [r.spans for r in read_audit(self.spark, self.last_out).select("spans").collect()]
        L["pipeline.extract.partition_spans_max_over_median"] = max(spans) / statistics.median(spans)
        runs = self.tracer.durations("pipeline.checkpoint.run_extraction")
        L["pipeline.checkpoint.run_extraction_s"] = statistics.median(runs)
        L["pipeline.checkpoint.write_publish_s"] = statistics.median(runs) - L["pipeline.extract.extract_s"]
        L["pipeline.checkpoint.output_files"] = len(glob.glob(f"{self.last_out}/spans/**/*.parquet", recursive=True))
        self.probe("pipeline.checkpoint.committed_spans_s", lambda: _noop(committed_spans(self.spark, self.last_out)))

    def probe_search(self) -> None:
        from pyspark.sql import functions as F

        from ocr_search_spark.search.analysis import tokens_expr

        L = self.layers
        self.probe(
            "search.analysis.tokenize_s",
            lambda: _noop(self.docs.select("doc_id", F.posexplode(tokens_expr("content")))),
        )
        if self.workload == "search":
            L["search.engine.index_build_s"] = self.index_s
            postings, qs = self.postings, self.meta["queries"]
            timed = self.results
        else:
            import pyarrow.parquet as pq

            L["search.engine.index_build_s"], postings = self.build_index()
            t = pq.read_table(self.content_path)
            toks = [inputs.tokens(c) for c in t.column("content").to_pylist()]
            qs = inputs.draw_queries(random.Random(f"perfbench-probe:{self.seed}"), toks)
            timed = []
        # one query of every class the timed loop did not reach, checked
        # against the oracle like the timed ones
        seen = {q["cls"] for q, *_ in timed}
        probed = []
        for q in qs:
            if q["cls"] not in seen:
                seen.add(q["cls"])
                probed.append((q, *self.query(q, postings)))
        if probed:
            self.guarded("probe search oracle", lambda: self.check_search(probed))
        calls = [(q["cls"], c, it) for q, c, it, _, _ in timed + probed]
        L["search.engine.postings_rows"] = postings.count()
        L["search.engine.search_call_ms"] = statistics.median(c for _, c, _ in calls) * 1e3
        L["search.engine.items_ms"] = statistics.median(it for _, _, it in calls) * 1e3
        for cls in inputs.CLASS_WEIGHTS:
            L[f"search.class.{cls}_ms"] = statistics.median(c + it for k, c, it in calls if k == cls) * 1e3

    def probe_dedup(self) -> None:
        from ocr_search_spark.ops import dedup

        L = self.layers
        sig_path = self.work.fresh("signatures")
        self.probe(
            "ops.dedup.minhash_signatures_s",
            lambda: dedup.minhash_signatures(self.docs, "doc_id", "content").write.parquet(sig_path),
        )
        sig = self.spark.read.parquet(sig_path)
        cand = self.probe("ops.dedup.lsh_candidate_pairs_s", lambda: dedup.lsh_candidate_pairs(sig).count())
        pairs_path = self.work.fresh("verified")
        self.probe(
            "ops.dedup.verified_near_dup_pairs_s",
            lambda: dedup.verified_near_dup_pairs(self.docs, "doc_id", "content").write.parquet(pairs_path),
        )
        verified = self.spark.read.parquet(pairs_path)
        n_verified = verified.count()
        self.probe("ops.dedup.connected_components_labels_s", lambda: dedup.connected_components_labels(verified).count())
        L["ops.dedup.candidate_pairs"] = cand
        L["ops.dedup.verified_pairs"] = n_verified
        L["ops.dedup.candidate_precision"] = n_verified / cand if cand else 1.0
        if self.workload == "dedup":
            L["ops.dedup.survivors"] = self.survivors
        else:
            survivors = self.near_dedup()
            L["ops.dedup.survivors"] = len(survivors)
            if self.workload == "search":
                self.record("probe dedup survivors", checks.check_dedup(survivors, self.expected_survivors()))

    def engine_layers(self, event_log: Path) -> None:
        self.layers.update(engine_metrics(event_log, self.tracer.spans))
