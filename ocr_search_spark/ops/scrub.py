"""PII scrubbing and URL/domain extraction — training-corpus hygiene ops.

A web-scale training pipeline redacts contact information before a corpus
ships and routinely needs per-domain statistics for source mixing. The
reference has no analogue (it is a search service over trusted internal
documents); these are first-class additions in the spirit of the
dedup/quality family.

Engine-portable by construction: every pattern stays inside the common
Java-regex ∩ RE2 subset (no lookaround, no backreferences, and no ``\\b``
— Java's boundary is unicode-aware while RE2's is ASCII, so a digit next
to a Cyrillic letter would classify differently), so the DuckDB oracles
run the same expressions verbatim and match hash-exactly.

Scale shape: pure column expressions (regexp_replace / regexp_extract_all)
— whole-stage-codegen'd, no UDFs, no shuffle beyond what the caller adds;
``url_domains`` adds one explode + optional aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: redaction patterns, applied in this order (emails before phones so the
#: digits in an already-redacted token cannot double-match)
PII_PATTERNS: dict[str, str] = {
    # lowercase corpus convention; the char classes are ASCII like the
    # reference corpus
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "ipv4": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    # international-ish phone: 8+ digits with separators, optional +
    "phone": r"\+?\d[\d\- ]{6,}\d",
}

URL_PATTERN = r"https?://[a-z0-9.-]+(?:/[^\s]*)?"
#: domain part of a URL (group 1)
DOMAIN_PATTERN = r"https?://([a-z0-9.-]+)"


def redact_pii(
    df: DataFrame,
    text_col: str,
    repl: str = "[PII]",
    out_col: str | None = None,
) -> DataFrame:
    """Redact emails / IPv4 addresses / phone numbers and record per-type
    counts. Adds ``<text_col>_redacted`` (or ``out_col``) plus
    ``n_email`` / ``n_ipv4`` / ``n_phone`` columns.

    Counts are STAGED — each type is counted on the text as it stands
    just before that type's redaction pass — so the counts always sum to
    the number of redactions actually performed. (Counting every type on
    the original text overstates overlaps: the digit run inside an email
    would double-count as a phone even though only one span is redacted.)
    """
    out = out_col or f"{text_col}_redacted"
    red = F.col(text_col)
    counts = {}
    for name, pat in PII_PATTERNS.items():
        counts[f"n_{name}"] = F.size(
            F.regexp_extract_all(red, F.lit(pat), F.lit(0))
        )
        red = F.regexp_replace(red, pat, repl)
    return df.withColumns({**counts, out: red})


def url_domains(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """One row per URL found in ``text_col``: (id, url, domain).

    Explode of a computed regexp_extract_all array — cheap to re-evaluate
    per row when a vanilla session inlines the size()>0 inference (one
    regex pass, no interpreted lambdas re-reading outer trees), so this
    shape is driver-session-safe without the outer-generate guard.
    """
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
    return (
        df.select(F.col(id_col).alias("id"), urls.alias("__urls"))
        .select("id", F.explode("__urls").alias("url"))
        .withColumn("domain", F.regexp_extract("url", DOMAIN_PATTERN, 1))
    )


def domain_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-domain URL and document counts — the source-mixing statistic
    (map-side combinable aggregation over the URL explode)."""
    return (
        url_domains(df, id_col, text_col)
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("id").alias("n_docs"),
        )
    )


def domain_blocklist_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocked: list[str],
) -> DataFrame:
    """Drop every document containing a URL whose domain (or any parent
    domain) is blocklisted — the C4/RefinedWeb source-hygiene gate.
    Suffix semantics: ``ads.example.org`` is blocked by ``example.org``,
    but ``notexample.org`` is not (matches only on label boundaries).

    Shape: extract domains (one regex pass + explode), expand each
    domain into its dot-boundary suffixes (``a.b.c`` → a.b.c, b.c, c —
    bounded by label count, ≤ ~10 per URL), equi-join the broadcast
    blocklist table, anti-join the offending doc ids. The blocklist is
    DATA, not an expression: a 100k-entry curated list is one small
    broadcast hash table, never a 100k-term boolean tree the optimizer
    has to fold and codegen per row.
    """
    if not blocked:
        return df
    from ocr_search_spark.localrel import strings_df

    # JVM-local VALUES relation (no Python-RDD scan stage, r6)
    bl = F.broadcast(strings_df(df.sparkSession, list(blocked), "entry"))
    doms = url_domains(df, id_col, text_col).select("id", "domain")
    parts = F.split(F.col("domain"), "\\.")
    suffixes = F.transform(
        F.sequence(F.lit(0), F.size(parts) - 1),
        lambda i: F.array_join(F.slice(parts, i + 1, F.size(parts)), "."),
    )
    offenders = (
        doms.select("id", F.explode(suffixes).alias("entry"))
        .join(bl, "entry")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return df.join(offenders, id_col, "left_anti")


def badwords_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    badwords: list[str],
) -> DataFrame:
    """Drop every document containing ANY blocklisted token — C4's
    "dirty words" document gate (Raffel et al. 2020 drop a page on one
    hit from the public banned-word list; the list here is a
    parameter). Token-level on the shared tokenizer (lowercased,
    punctuation-split), so ``class`` never matches ``classic`` — the
    substring-match false-positive class the published list's users
    complain about is structurally excluded.

    Shape: the blocklist is DATA broadcast onto the exploded token
    stream (same discipline as :func:`domain_blocklist_filter` — a
    curated 100k-entry list is one broadcast hash table, never a
    100k-term boolean expression tree), offenders reduce to a distinct
    id set, survivors by anti-join. The token explode short-circuits
    through the broadcast semi-join before the distinct, so the only
    corpus-keyed shuffle is the offender-id dedup — bounded by the hit
    count, not the token stream.
    """
    if not badwords:
        return df
    import re as _re

    from ..search.analysis import tokens_expr

    # entries are matched by TOKEN equality: an entry that is not itself a
    # single token of the tokenizer alphabet ('bad word', 'bad-ass') could
    # NEVER match and would silently neuter the gate — fail loud and point
    # at the n-gram op that handles phrases
    bad_entries = [
        b for b in badwords
        if _re.findall(r"[a-zа-яё0-9_]+", b.lower()) != [b.lower()]
    ]
    if bad_entries:
        raise ValueError(
            f"badwords_filter matches single tokens; these entries can never "
            f"match: {bad_entries!r} — tokenize phrases yourself or use "
            f"dedup.decontaminate (k-token shingle overlap) for phrase lists"
        )
    from ocr_search_spark.localrel import strings_df

    bl = F.broadcast(
        strings_df(df.sparkSession, [b.lower() for b in badwords], "w")
    )
    offenders = (
        df.select(F.col(id_col).alias("id"), F.explode_outer(tokens_expr(F.col(text_col))).alias("w"))
        .join(bl, "w", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return df.join(offenders, id_col, "left_anti")


#: classic UTF-8-decoded-as-Latin-1 artifacts: C3/C2 lead bytes rendered
#: as 'A-tilde'/'A-circumflex' followed by a continuation-range char, the
#: U+FFFD replacement char, and the D0/D1 pairs of double-encoded
#: Cyrillic. \x{...} escapes parse identically in Java regex and RE2, so
#: the DuckDB oracle runs the same pattern verbatim.
MOJIBAKE_PATTERN = (
    r"(\x{00c3}[\x{0080}-\x{00bf}]"
    r"|\x{00c2}[\x{0080}-\x{00bf}]"
    r"|\x{fffd}"
    r"|\x{00d0}[\x{0080}-\x{00bf}]"
    r"|\x{00d1}[\x{0080}-\x{00bf}])"
)


def mojibake_signals(df: DataFrame, text_col: str) -> DataFrame:
    """Encoding-damage score (ftfy-style heuristic): counts of classic
    double-encoding artifact sequences and the replacement character.
    Adds ``n_mojibake`` (artifact count) and ``mojibake_per_10k``
    (integer rate per 10k chars — integer so gates never compare
    floats). Null text counts as empty (0 artifacts, rate 0) so the gate
    never silently drops null-text rows via null propagation. Pure
    regexp column expressions, codegen'd."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n = F.size(
        F.regexp_extract_all(txt, F.lit(MOJIBAKE_PATTERN), F.lit(0))
    ).cast("long")
    return df.withColumns(
        {
            "n_mojibake": n,
            "mojibake_per_10k": F.floor(
                n * 10_000 / F.greatest(F.length(txt), F.lit(1))
            ).cast("long"),
        }
    )


def mojibake_filter(
    df: DataFrame, text_col: str, max_per_10k: int = 10
) -> DataFrame:
    """Drop documents whose encoding-artifact rate exceeds
    ``max_per_10k`` per 10k chars (integer comparison)."""
    sig = mojibake_signals(df, text_col)
    return sig.filter(F.col("mojibake_per_10k") <= int(max_per_10k)).drop(
        "n_mojibake", "mojibake_per_10k"
    )


#: query parameters that never change page identity (analytics tags);
#: anchored, portable Java∩RE2 subset like every pattern in this module
TRACKING_PARAM_PATTERN = r"^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|yclid|mc_cid|mc_eid)="
#: scheme://authority prefix of a URL (the only case-insensitive part)
_URL_PREFIX_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"


#: curated subset of the (public) Mozilla Public Suffix List — the
#: multi-label suffixes common in web-crawl domain stats. Single-label
#: TLDs need no entry (they are the default rule). A production
#: deployment swaps in the full PSL snapshot; the algorithm is the same.
PUBLIC_SUFFIXES_2 = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "sch.uk",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz",
    "co.kr", "or.kr", "go.kr",
    "com.br", "net.br", "org.br", "gov.br",
    "com.mx", "org.mx", "gob.mx",
    "com.ar", "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.tw", "org.tw", "com.hk", "com.sg",
    "co.in", "net.in", "org.in", "gen.in", "firm.in",
    "co.za", "org.za", "net.za", "web.za",
    "com.tr", "org.tr", "net.tr", "com.ua",
    "co.il", "org.il", "ac.il",
    "com.eg", "com.sa", "com.my", "com.ph", "com.vn", "com.pk",
    "co.th", "or.th", "ac.th", "in.th", "go.th",
)
PUBLIC_SUFFIXES_3 = ("act.gov.au", "nsw.gov.au", "qld.gov.au")


def registered_domain_expr(col: Column | str) -> Column:
    """eTLD+1 (registered domain) of a hostname — the per-SITE grouping
    key for crawl stats ("bbc.co.uk", not "uk" or "news.bbc.co.uk").

    Longest-suffix match against the embedded public-suffix subset:
    if the last 3 labels form a known suffix the registrable domain is
    the last 4 labels; else last 2 labels if a known 2-label suffix;
    else the default rule (last 2 labels, suffix = the TLD alone).
    Hostnames with fewer labels than the match needs fall back to the
    whole hostname. Pure codegen: one split + literal IN-sets + slice —
    no UDF, no join (the suffix set is a compile-time constant, so the
    predicate stays a hashed In expression inside WholeStageCodegen).
    The hostname is lowercased and a single trailing dot (FQDN form /
    sentence punctuation captured by the URL regex) stripped first.
    """
    d = F.col(col) if isinstance(col, str) else col
    d = F.regexp_replace(F.lower(d), r"\.$", "")
    labels = F.split(d, r"\.")
    n = F.size(labels)

    def last_k(k: int) -> Column:
        return F.array_join(
            F.slice(labels, F.greatest(F.lit(1), n - (k - 1)), F.lit(k)), "."
        )

    return (
        F.when(
            (n >= 4) & last_k(3).isin(*PUBLIC_SUFFIXES_3), last_k(4)
        )
        .when((n >= 3) & last_k(2).isin(*PUBLIC_SUFFIXES_2), last_k(3))
        .otherwise(last_k(2))
    )


def registered_domain_counts(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-SITE (eTLD+1) URL and document counts — ``domain_counts``
    rolled up to the registrable domain, the grouping an actual crawl
    report uses (all subdomains of one owner collapse). Same plan shape:
    explode + map-side-combinable aggregation, one shuffle on the
    registered-domain key."""
    return (
        url_domains(df, id_col, text_col)
        .withColumn("reg_domain", registered_domain_expr("domain"))
        .groupBy("reg_domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("id").alias("n_docs"),
        )
    )


def canonical_url_expr(col: Column | str) -> Column:
    """Canonical form of a URL — the Common-Crawl-style page-identity key.

    Normalisations (each a documented identity-preserving choice):
    lowercase scheme+host; strip the fragment; strip a leading ``www.``;
    strip explicit default ports (``:80`` for http, ``:443`` for https);
    strip one trailing slash (host root with and without ``/`` unify);
    drop analytics query params (``TRACKING_PARAM_PATTERN``) and SORT the
    survivors, so ``?b=2&a=1`` and ``?a=1&utm_source=x&b=2`` collapse.

    Pure codegen'd column expressions — regexp chain + array
    filter/sort on the split query string, no UDF. Every pattern is in
    the Java∩RE2 subset and an unmatched optional group substitutes as
    empty in both engines, so the DuckDB twin (backslash group refs
    instead of ``$n``) is hash-exact. Param sort is binary string order
    (ASCII percent-encoded query strings sort identically in both).
    """
    u = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(u, r"#.*", "")
    u = F.concat(
        F.lower(F.regexp_extract(u, _URL_PREFIX_PATTERN, 0)),
        F.regexp_replace(u, _URL_PREFIX_PATTERN, ""),
    )
    u = F.regexp_replace(u, r"^(https?://)www\.", "$1")
    u = F.regexp_replace(u, r"^(http://[^/?#:]+):80([/?#].*)?$", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#:]+):443([/?#].*)?$", "$1$2")
    base = F.regexp_replace(F.regexp_replace(u, r"\?.*", ""), r"([^/])/$", "$1")
    params = F.array_sort(
        F.filter(
            F.split(F.regexp_extract(u, r"\?(.*)", 1), "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_PATTERN),
        )
    )
    return F.when(
        F.size(params) > 0,
        F.concat(base, F.lit("?"), F.array_join(params, "&")),
    ).otherwise(base)


def canonicalize_urls(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, url, domain, canon_url) for every URL in ``text_col`` —
    ``url_domains`` plus the canonical page-identity key."""
    return url_domains(df, id_col, text_col).withColumn(
        "canon_url", canonical_url_expr("url")
    )


def url_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """URL-level dedup table: one row per canonical URL with its raw-form
    count, distinct-document count, and the deterministic first (min-id)
    document — the crawl-frontier / page-identity dedup a web pipeline
    runs before any text-level dedup.

    One explode + one map-side-combinable groupBy on the canonical key;
    the canonicalisation itself is projection-only, so the shuffle
    carries per-partition partials of the distinct-URL table, never the
    raw URL stream.
    """
    return (
        canonicalize_urls(df, id_col, text_col)
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("id").alias("n_docs"),
            F.min("id").alias("first_id"),
        )
    )
