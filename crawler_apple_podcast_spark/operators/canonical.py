"""``<link rel="canonical">`` alias extraction and chain collapse.

rel=canonical is the page's own declaration that its content lives at
another URL — the strongest URL-aliasing signal a crawler gets ahead
of content dedup (print views, tracking-parameter variants, mirrors).
A frontier that folds canonical aliases into its seen-set skips whole
alias families for the cost of one fetch each; a training pipeline
keys its per-URL dedup ledger on the canonical target instead of the
alias.

Publishers chain and misconfigure these (A declares B, B declares C;
A and B declare each other), so collapse is the redirect-resolution
problem on a different edge relation — ``resolve_redirects``'s
pointer doubling is reused verbatim rather than re-implemented
(``operators/redirects.py``: log2(max_hops) shuffle rounds).  Cycles
come back ``status='truncated'`` and should be treated as
self-canonical by policy.

Extraction is two codegen regexes (tag scan, then href attribute — so
attribute order inside the tag never matters) plus the shared
``resolve_href`` base resolution: zero Python, zero shuffle until the
chain collapse.  Self-declarations (href == page URL, the dominant
case on the real web) are dropped before the collapse — they are
confirmations, not edges.

Both regexes are anchored at the attribute name (``[\\s"']rel``,
``(?:^|[\\s"'])href``) so ``barrel=`` / ``data-href=`` inside the tag
never match, and ``rel`` accepts single-quoted / unquoted /
whitespace-padded values (``rel='canonical'``, ``rel=canonical``,
``rel = "canonical"``) — the same laxity the robots/sitemap parsers
allow, because real publishers emit all of these.  Everything stays
RE2-safe (no lookahead/backrefs) so the Java engine and the DuckDB
oracle agree byte-for-byte.

Plan shape: the extracted href is materialized ONCE, behind an
``explode(array(href))`` Generate fence.  Inlined, the double
``regexp_extract`` over the full html column is re-evaluated in every
branch of ``resolve_href``'s 5-way CASE (conditional branches defeat
codegen subexpression hoisting) — and a plain staging projection does
NOT survive the optimizer: ``PushDownPredicates`` substitutes the
staged alias back into the ``isNotNull`` / self-edge filters as it
pushes them toward the scan, rebuilding the giant expression (one
observed fallback: ``WholeStageCodegenExec ... disabled``,
generated.java line 16609, janino's 64KB method limit).  A filter
that references a GENERATOR output cannot be pushed below its
Generate, and ``CollapseProject`` cannot merge across one either — so
the fence pins the html scan to exactly one evaluation and every
downstream reference to a cheap attribute, whatever expressions the
caller feeds in as ``url``/``html``.  Cost: one array wrap per row,
nothing moves.  ``tests/test_plan_shapes.py`` pins the single-scan,
codegen-live shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import resolve_href
from .redirects import resolve_redirects

_TAG_RE = r"""<link[^>]*[\s"']rel\s*=\s*["']?canonical\b[^>]*>"""
_HREF_DQ = r"""(?:^|[\s"'])href\s*=\s*"([^"]*)\""""
_HREF_SQ = r"""(?:^|[\s"'])href\s*=\s*'([^']*)'"""


def declared_href(html):
    """Raw declared canonical href of a page (NOT base-resolved), NULL
    when the page declares none.  Two regexp passes: the tag scan over
    the html, then the anchored href attribute over the (short) tag —
    double-quoted wins over single-quoted when both appear."""
    tag = F.regexp_extract(html, _TAG_RE, 0)
    return F.coalesce(
        F.nullif(F.regexp_extract(tag, _HREF_DQ, 1), F.lit("")),
        F.nullif(F.regexp_extract(tag, _HREF_SQ, 1), F.lit("")),
    )


def canonical_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, dst_url) alias edges: pages declaring a canonical URL
    other than themselves.  The href is staged behind a Generate fence
    (see module docstring: a plain staging projection is re-inlined by
    predicate pushdown and the plan falls back to interpreted
    evaluation)."""
    staged = pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(F.array(declared_href(F.col(html_col)))).alias("_href"),
    ).where(F.col("_href").isNotNull())
    return (
        staged.select(
            "src_url",
            resolve_href(F.col("_href"), F.col("src_url")).alias("dst_url"),
        )
        .where(F.col("dst_url") != F.col("src_url"))
        .select("src_url", "dst_url")
    )


def resolve_canonical(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    max_hops: int = 8,
) -> DataFrame:
    """(src_url, final_url, hops, status) for every alias-declaring
    page: the canonical chain's terminal URL, or ``truncated`` for
    over-long chains and declaration cycles."""
    return resolve_redirects(
        canonical_edges(pages, url_col, html_col),
        src_col="src_url",
        dst_col="dst_url",
        max_hops=max_hops,
    )
