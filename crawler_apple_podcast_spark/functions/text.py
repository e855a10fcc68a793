"""Text-analysis expressions for large-scale training-data pipelines.

All pure JVM-side Column expressions (split / lambda higher-order
functions / integer arithmetic) — no Python on the hot path.  Outputs
are integers (counts, per-mille ratios via integer division) so results
are exactly reproducible in any ANSI SQL engine (the DuckDB oracle).

ANSI-mode note (Spark 4 default): divisions guard with ``nullif``; all
operands are non-negative and far below 2^53, so ``floor(a/b)`` equals
SQL integer division exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# compact English stopword list used by both engine and oracle SQL
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

FINGERPRINT_MOD = 1_000_003


def idiv(a: Column, b: Column) -> Column:
    """Exact integer division for non-negative operands (== SQL ``//``),
    NULL on zero divisor -> coalesced to 0."""
    return F.coalesce(
        F.floor(a.cast("double") / F.nullif(b.cast("double"), F.lit(0.0))).cast("long"),
        F.lit(0).cast("long"),
    )


def tokens(text: Column) -> Column:
    """Whitespace tokens, empty strings dropped (both engines agree)."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def token_count_ws(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex tokens: word pieces + standalone non-space symbols."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9']+|[^A-Za-z0-9\s]"), F.lit(0))
    ).cast("long")


def stopword_count(text: Column) -> Column:
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(tokens(text), lambda x: F.array_contains(stops, x))).cast("long")


def stopword_ratio_milli(text: Column) -> Column:
    """Stopwords per 1000 tokens — exact integer division."""
    return idiv(stopword_count(text) * F.lit(1000), token_count_ws(text))


def lang_id(text: Column, threshold_milli: int = 30) -> Column:
    """Heuristic language ID: 'en' iff the stopword ratio clears
    ``threshold_milli`` per-mille."""
    return F.when(stopword_ratio_milli(text) >= threshold_milli, F.lit("en")).otherwise(
        F.lit("other")
    )


def quality_score_milli(text: Column) -> Column:
    """Deterministic integer quality score in [0, 1000]: mean of three
    per-mille components — stopword ratio (natural-language signal),
    alpha-char density, and a length-band score."""
    toks = token_count_ws(text)
    stop_m = idiv(stopword_count(text) * F.lit(1000), toks)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("long")
    alpha_m = idiv(alpha * F.lit(1000), F.length(text).cast("long"))
    len_m = F.when((toks >= 20) & (toks <= 1000), F.lit(1000)).otherwise(F.lit(200)).cast("long")
    return idiv(stop_m + alpha_m + len_m, F.lit(3))


def fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: position-weighted token
    codes summed, reduced mod FINGERPRINT_MOD.  Matches the DuckDB
    formulation with 1-based ``list_transform`` indices."""
    codes = F.transform(
        tokens(text),
        lambda x, i: (i.cast("long") + 1)
        * (F.ascii(x).cast("long") + F.lit(31) * F.length(x).cast("long")),
    )
    total = F.aggregate(codes, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.pmod(total, F.lit(FINGERPRINT_MOD))


# ----------------------------------------------------- PII scrubbing

# Patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB oracle): character classes, bounded repetition, no
# backreferences or lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in ``text`` — count before scrubbing
    so redaction audits can reconcile totals."""
    n_e = F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), F.lit(0))).cast("long")
    n_p = F.size(F.regexp_extract_all(text, F.lit(PII_PHONE), F.lit(0))).cast("long")
    return n_e, n_p


def scrub_pii(text: Column) -> Column:
    """Redact emails then phone numbers with typed placeholders — the
    standard pre-training scrub, as a pure JVM expression (the 100 TB
    path is one regexp pass per pattern inside codegen, no Python)."""
    return F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
    )


def dup_ngram_milli(tk: Column, n: int = 2) -> Column:
    """Within-doc repetition signal (the Gopher-style quality rule):
    per-mille fraction of n-gram OCCURRENCES that are repeats of an
    earlier occurrence — 0 for all-distinct docs, approaching 1000 for
    loopy boilerplate.  Takes the MATERIALIZED token-array column, not
    raw text: an inlined ``tokens(text)`` would re-split the document
    per gram inside the lambda (the re-eval trap shingle_rows
    documents).  Docs with fewer than ``n`` tokens score 0 (no grams,
    nothing repeats); exact integer arithmetic throughout."""
    grams = F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - n + 1),
            lambda i: F.array_join(F.slice(tk, i, n), " "),
        ),
    ).otherwise(F.array())
    total = F.size(grams).cast("long")
    distinct = F.size(F.array_distinct(grams)).cast("long")
    return idiv((total - distinct) * F.lit(1000), total)


# Gopher quality rules (Rae et al. 2021, Appendix A1.1) — the classic
# web-text repetition/structure gate, as exact integer per-milles so
# the thresholds mean the same thing on every engine.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_stats(text: Column) -> dict[str, Column]:
    """The full Gopher rule inputs per document, integer-exact:
    word count, mean word length (milli-chars), '#'/'...' symbol
    ratio, bullet-start and ellipsis-end line shares, alphabetic-word
    share, distinct-stopword hits — plus the composite ``keep`` at the
    published thresholds (50..100k words, mean length 3..10, symbol
    ratio <= 0.1, bullet lines <= 10%, ellipsis lines <= 30%,
    alpha words >= 80%, >= 2 stopwords)."""
    # words come from the newline-normalized text (a word straddling a
    # line break is still one word per line); line rules use raw text
    tk = tokens(F.regexp_replace(text, "\n", " "))
    n_words = F.size(tk).cast("long")
    mean_wlen_milli = idiv(
        F.aggregate(tk, F.lit(0), lambda a, w: a + F.length(w)).cast("long")
        * F.lit(1000),
        n_words,
    )
    symbols = (
        F.regexp_count(text, F.lit(r"#")) + F.regexp_count(text, F.lit(r"\.\.\."))
    ).cast("long")
    symbol_milli = idiv(symbols * F.lit(1000), n_words)
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("long")
    bullet_milli = idiv(
        F.size(
            F.filter(lines, lambda l: l.startswith("•") | l.startswith("- "))
        ).cast("long")
        * F.lit(1000),
        n_lines,
    )
    ellipsis_milli = idiv(
        F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("long")
        * F.lit(1000),
        n_lines,
    )
    alpha_milli = idiv(
        F.size(F.filter(tk, lambda w: w.rlike("[A-Za-z]"))).cast("long")
        * F.lit(1000),
        n_words,
    )
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.filter(stops, lambda s: F.array_contains(tk, s))
    ).cast("long")
    keep = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (mean_wlen_milli >= 3000)
        & (mean_wlen_milli <= 10_000)
        & (symbol_milli <= 100)
        & (bullet_milli <= 100)
        & (ellipsis_milli <= 300)
        & (alpha_milli >= 800)
        & (stop_hits >= 2)
    )
    return {
        "n_words": n_words,
        "mean_wlen_milli": mean_wlen_milli,
        "symbol_milli": symbol_milli,
        "bullet_milli": bullet_milli,
        "ellipsis_milli": ellipsis_milli,
        "alpha_milli": alpha_milli,
        "stop_hits": stop_hits,
        "keep": keep,
    }


# ------------------------------------------------------------ mojibake

# Classic UTF-8-read-as-cp1252 damage: 2-byte sequences surface as
# 'Ã'+tail, 3-byte punctuation as 'â€'+tail, NBSP/degree/guillemets as
# 'Â'+tail, and an already-lost char as the literal mojibake of
# U+FFFD.  Alternation order matters for overlap — keep the pattern
# string IDENTICAL in engine and oracle.
MOJIBAKE_RE = "Ã.|â€.|Â.|ï¿½"


def mojibake_hits(text: Column) -> Column:
    """Count of mojibake sequences (non-overlapping, left-to-right)."""
    return F.regexp_count(text, F.lit(MOJIBAKE_RE)).cast("long")


def mojibake_milli(text: Column) -> Column:
    """Mojibake sequences per mille of characters — the encoding-
    damage quality signal (a page whose text is full of 'donâ€™t'
    was decoded with the wrong charset upstream; route it back
    through sniff_charset + re-decode instead of training on it).
    Integer per-mille so the oracle replays exactly."""
    return idiv(mojibake_hits(text) * F.lit(1000), F.length(text).cast("long"))


# ------------------------------------------------------- HTML entities

# (entity, replacement) — specific entities first; '&amp;' LAST so
# double-escaped text ('&amp;lt;') decodes to the literal '&lt;' the
# author wrote, exactly like a single-pass spec decoder.  Same chain
# order replayed in the SQL oracle.
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&#34;", '"'),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_unescape_basic(text: Column) -> Column:
    """Decode the entity set that dominates scraped webtext (the C4
    cleanup step).  A replace chain, not a regex engine: one codegen
    projection, exact and dialect-portable.  Rare named entities
    (&eacute; etc.) are out of scope — they survive untouched and the
    mojibake/quality signals still see them."""
    out = text
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out
