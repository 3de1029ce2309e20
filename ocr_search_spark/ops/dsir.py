"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169), the hashed-n-gram importance-weighting data-selection
method: fit two bag-of-hashed-n-grams multinomials — one on a small
TARGET corpus (the distribution you want more of, e.g. high-quality or
in-domain text) and one on the RAW pool — and rank every raw document by
its log importance weight ``log p_target(x) - log p_raw(x)``. The top
slice of the pool is the selected training data. The reference repo (a
search service) has no analogue; this is a first-class training-pipeline
operator in the family of ``ops/lm.py`` (CCNet perplexity) and
``ops/text_analysis.py`` (quality gates).

Integer-exact by construction (the ``ops/lm.py`` discipline), so the
DuckDB oracle matches hash-exactly:

* n-gram features are unigrams + adjacent bigrams hashed into
  ``n_buckets`` via the md5 convention of ``ops.sampling.hash_bucket``
  — both engines compute the identical bucket.
* log probabilities are never materialised as floats. Each count
  enters the weight in HALF-BIT units via
  ``hb(x) = floor(2*log2(x)) = length(bin(x*x)) - 1`` — exact BIGINT
  arithmetic (``x*x`` is exact for x < 2^31, ``bin()`` is engine-
  identical on BIGINT). The add-one-smoothed per-bucket weight is
  ``lambda_b = hb(ct_b + 1) - hb(cr_b + 1)`` and the shared
  normalisation is ``delta = hb(Tr + B) - hb(Tt + B)``; a document's
  score is ``sum_b c_b * lambda_b + n_grams * delta`` — a sum of
  integers, order-independent, engine-exact. Half-bit resolution of the
  log-ratio is ample for selection (weights span tens of bits); ties
  break on doc id.
* selection is deterministic top-n by (score desc, id) — the paper
  resamples with Gumbel noise, which needs ``log(-log(u))`` floats;
  the deterministic top slice is the reproducible variant (the paper's
  Appendix reports top-k selection performs comparably).

Scale shape (the 100-TB story):

* model fit: explode + map-side-combinable groupBy(bucket) — shuffle
  volume is ``n_buckets`` rows (1k–1M), not the token stream.
* the weight table is ``n_buckets`` rows and BROADCAST; scoring joins
  exploded grams against it map-side, then one shuffle keyed by doc id
  with partial aggregation — one row per document crosses the wire.
* totals ride along as broadcast single-row crossJoins (the
  ``search/ranking.py`` pattern), never ``.collect()``.
* no UDFs; every expression is whole-stage-codegen'd.

Bound: counts and (total + n_buckets) must stay below 2^31 so ``x*x``
fits BIGINT. A 100-TB pool exceeds that on the TOTALS (gram instances);
production would shard the model fit (per-shard counts capped) or use
``hb(x) = 2*(length(bin(x))-1) + (CASE big-remainder)`` — the per-bucket
counts themselves stay far below 2^31 for any realistic n_buckets. The
guard raises rather than silently overflowing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_search_spark.search.analysis import tokens_expr

#: default hashed-feature dimensionality (the paper uses 10^4)
DSIR_BUCKETS = 1024

_MAX_SQ = (1 << 31) - 1  # x*x must fit in BIGINT


def _grams_expr(text_col: str):
    """Array of unigrams + adjacent space-joined bigrams of the text
    column (bigrams contain a space, so the two families never collide)."""
    toks = tokens_expr(text_col)
    n = F.size(toks)
    m = F.greatest(n - 1, F.lit(0))
    bigs = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(toks, bigs)


def _bucket_expr(gram_col, n_buckets: int, salt: str = "dsir"):
    """Stable bucket in [0, n_buckets) — hash_bucket's md5 convention."""
    h = F.md5(F.concat(F.lit(salt + ":"), gram_col))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets


def _hb(col):
    """floor(2*log2(x)) for a positive BIGINT column, exactly:
    length(bin(x*x)) - 1. Raises on x >= 2^31 (x*x would overflow)."""
    guarded = F.when(
        col < F.lit(_MAX_SQ), col
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("dsir: count too large for exact half-bit log: "),
                col.cast("string"),
            )
        )
    )
    return F.length(F.bin(guarded * guarded)) - F.lit(1)


def dsir_bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Hashed-n-gram bucket counts of a corpus slice: (bucket, c) with one
    row per OCCUPIED bucket (c >= 1). Map-side combinable; the shuffle
    carries at most ``n_buckets`` rows."""
    return (
        df.select(F.explode(_grams_expr(text_col)).alias("g"))
        .select(_bucket_expr(F.col("g"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    target_flag: Column | None = None,
) -> DataFrame:
    """Per-document DSIR importance score over the raw pool:
    (id_col, n_grams, w_hb) where ``w_hb`` is the half-bit log importance
    weight ``sum_b c_b*lambda_b + n_grams*delta``. Documents with no
    grams score 0 with n_grams 0 — the neutral log-ratio, which RANKS
    ABOVE documents with negative evidence (more raw-like than
    target-like). That is the mathematically honest DSIR ordering, but
    if empty/junk documents shouldn't win selection slots, gate them out
    upstream (the ``selected_corpus`` composition runs quality gates
    first for exactly this reason).

    Scale shape: the raw pool's (id, bucket) gram stream materializes
    ONCE (localCheckpoint) and feeds both the raw-side bucket counts of
    the weight fit and the per-document scoring join — one tokenize +
    md5 pass over the pool instead of two (the hashing dominates; the
    materialized stream is two integers per gram, far smaller than the
    text it came from). The target slice keeps its own counting pass
    (it is an arbitrary DataFrame, usually a small seed corpus) —
    UNLESS the caller passes ``target_flag``, a boolean Column over
    ``raw`` marking the target slice: the flag then rides the
    materialized gram stream and the target fit is a filter of it, so
    the slice is never re-tokenized (the common
    target-is-a-slice-of-the-pool shape; measured 2.97 → 2.26 s on the
    dsir_select query at sf0.1, r6). Exactly one of ``target`` /
    ``target_flag`` must be provided; results are identical (same
    _grams_expr over the same slice texts)."""
    if (target is None) == (target_flag is None):
        raise ValueError("provide exactly one of target / target_flag")
    flagged = target_flag is not None
    gram_cols = [F.col(id_col)]
    if flagged:
        gram_cols.append(target_flag.cast("boolean").alias("__t"))
    grams = (
        raw.select(*gram_cols, F.explode(_grams_expr(text_col)).alias("g"))
        .select(
            id_col,
            *(["__t"] if flagged else []),
            _bucket_expr(F.col("g"), n_buckets).alias("bucket"),
        )
        .localCheckpoint()
    )
    if flagged:
        ct = (
            grams.filter(F.col("__t"))
            .groupBy("bucket")
            .agg(F.count("*").alias("ct"))
        )
    else:
        ct = dsir_bucket_counts(target, text_col, n_buckets).withColumnRenamed(
            "c", "ct"
        )
    cr = grams.groupBy("bucket").agg(F.count("*").alias("cr"))
    weights = (
        ct.join(cr, "bucket", "full_outer")
        .select(
            "bucket",
            (
                _hb(F.coalesce("ct", F.lit(0)) + 1)
                - _hb(F.coalesce("cr", F.lit(0)) + 1)
            ).alias("lambda_hb"),
        )
    )
    tt = ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
    tr = cr.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("tr"))
    totals = (
        tt.crossJoin(tr)
        .select(
            "tt",
            "tr",
            (
                _hb(F.col("tr") + F.lit(n_buckets))
                - _hb(F.col("tt") + F.lit(n_buckets))
            ).alias("delta_hb"),
        )
    )
    per_doc = (
        grams.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("lambda_hb", F.lit(0))).alias("w_part"),
        )
    )
    return (
        raw.select(id_col)
        .join(per_doc, id_col, "left")
        .crossJoin(F.broadcast(totals.select("delta_hb")))
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            (
                F.coalesce("w_part", F.lit(0))
                + F.coalesce("n_grams", F.lit(0)) * F.col("delta_hb")
            ).alias("w_hb"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame | None,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    target_flag: Column | None = None,
) -> DataFrame:
    """The selected slice: top ``n`` raw documents by importance weight
    (w_hb desc, id asc — deterministic). Returns (id_col, n_grams, w_hb,
    rnk). The top-n itself is TakeOrderedAndProject (per-partition heaps,
    no global sort); only the ``n`` selected rows pass through the
    single-partition ranking window."""
    from pyspark.sql import Window

    scored = dsir_weights(
        raw, target, id_col, text_col, n_buckets, target_flag=target_flag
    )
    order = [F.col("w_hb").desc(), F.col(id_col).asc()]
    top = scored.orderBy(*order).limit(int(n))
    # row-bound: `top` is the already-truncated top-n slice (<= n rows)
    return top.withColumn("rnk", F.row_number().over(Window.orderBy(*order)))
