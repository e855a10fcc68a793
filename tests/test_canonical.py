"""rel=canonical alias extraction + chain collapse (operators/canonical.py)."""

from __future__ import annotations

from crawler_apple_podcast_spark.operators.canonical import (
    canonical_edges,
    resolve_canonical,
)


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url STRING, html STRING")


def test_extraction_attribute_order_relative_and_self(spark):
    rows = [
        # href BEFORE rel — attribute order must not matter
        ("https://a.ex/p/1",
         '<link href="https://a.ex/canon" rel="canonical"><body>x'),
        # root-relative href resolves against the page origin
        ("https://b.ex/dir/page",
         '<head><link rel="canonical" href="/canon2"/></head>'),
        # self-declaration: dropped (confirmation, not an edge)
        ("https://c.ex/p", '<link rel="canonical" href="https://c.ex/p">'),
        # no declaration
        ("https://d.ex/p", "<html><body>nothing</body></html>"),
        # protocol-relative href takes the base scheme
        ("https://e.ex/p", '<link rel="canonical" href="//cdn.ex/x">'),
    ]
    got = {
        r.src_url: r.dst_url
        for r in canonical_edges(_pages(spark, rows)).collect()
    }
    assert got == {
        "https://a.ex/p/1": "https://a.ex/canon",
        "https://b.ex/dir/page": "https://b.ex/canon2",
        "https://e.ex/p": "https://cdn.ex/x",
    }


def test_chain_collapse_and_cycle_truncation(spark):
    rows = [
        ("u1", '<link rel="canonical" href="u2">'),
        ("u2", '<link rel="canonical" href="u3">'),
        ("u3", "<body>terminal</body>"),
        ("c1", '<link rel="canonical" href="c2">'),
        ("c2", '<link rel="canonical" href="c1">'),
    ]
    # hrefs here are opaque non-slash strings: resolve_href treats them
    # as path-relative, so give pages same-dir URLs to keep them short
    pages = _pages(
        spark,
        [(f"https://x.ex/{u}", h.replace('href="', 'href="/')) for u, h in rows],
    )
    out = {
        r.src_url: (r.final_url, r.hops, r.status)
        for r in resolve_canonical(pages).collect()
    }
    assert out["https://x.ex/u1"] == ("https://x.ex/u3", 2, "resolved")
    assert out["https://x.ex/u2"] == ("https://x.ex/u3", 1, "resolved")
    assert out["https://x.ex/c1"] == (None, None, "truncated")
    assert out["https://x.ex/c2"] == (None, None, "truncated")


def test_extraction_laxity_and_attribute_anchoring(spark):
    rows = [
        # single-quoted rel value
        ("https://a.ex/1", "<link rel='canonical' href=\"https://a.ex/c1\">"),
        # unquoted rel value
        ("https://a.ex/2", '<link rel=canonical href="https://a.ex/c2">'),
        # whitespace around the equals signs
        ("https://a.ex/3", '<link rel = "canonical" href = "https://a.ex/c3">'),
        # single-quoted href
        ("https://a.ex/4", "<link rel=\"canonical\" href='https://a.ex/c4'>"),
        # data-href is NOT href (anchored attribute match); real href wins
        ("https://a.ex/5",
         '<link rel="canonical" data-href="https://a.ex/bad" href="https://a.ex/c5">'),
        # data-href alone must not produce an edge
        ("https://a.ex/6", '<link rel="canonical" data-href="https://a.ex/bad">'),
        # "barrel=" must not satisfy the rel scan
        ("https://a.ex/7", '<link barrel="canonical" href="https://a.ex/bad">'),
        # rel=canonicals (longer token) must not match (\b)
        ("https://a.ex/8", '<link rel="canonicals" href="https://a.ex/bad">'),
    ]
    got = {
        r.src_url: r.dst_url
        for r in canonical_edges(_pages(spark, rows)).collect()
    }
    assert got == {
        "https://a.ex/1": "https://a.ex/c1",
        "https://a.ex/2": "https://a.ex/c2",
        "https://a.ex/3": "https://a.ex/c3",
        "https://a.ex/4": "https://a.ex/c4",
        "https://a.ex/5": "https://a.ex/c5",
    }
