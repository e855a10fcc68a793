"""RFC-9309 robots.txt parsing + longest-match gating, all JVM-side.

The reference never parses robots.txt at all — it hard-sleeps 10-15 s
between fetches of one host (/root/reference/crawler_podcasts.py:81)
and fetches nothing it wasn't seeded with.  A web-scale frontier must
honor the Robots Exclusion Protocol for arbitrary hosts, which means a
real parser (agent groups, Allow/Disallow, ``*``/``$`` wildcards) and
the RFC-9309 decision rule (most-specific a.k.a. longest match wins;
Allow wins length ties).  This module is the engine's one Disallow
implementation; ``operators/politeness.py:parse_robots`` reads only
each host's Crawl-delay, for the per-wave budgets.

Spark shape — everything stays in DataFrame ops:

- **Parse**: split body into lines -> ``posexplode`` -> one regexp per
  directive.  Group membership (a rule belongs to every agent named in
  the block of consecutive ``User-agent`` lines immediately above it)
  is a per-host running sum over a window — robots bodies are tiny
  (KBs), so a per-host window partition is bounded by the file size,
  never by corpus size.
- **Gate**: the applicable group per host is the crawler's own product
  token if the host names it, else ``*`` (RFC 9309 §2.2.1).  Rules are
  a dim table (a few rows per host) -> broadcast join against the
  frontier; wildcard patterns compile to anchored regexes via pure
  string expressions (see ``_pattern_regex``), evaluated by
  ``regexp_like`` with a per-row pattern.  The winner per URL is a
  ``max(struct(specificity, is_allow))`` aggregate — no per-URL window,
  one map-side-combinable shuffle keyed on the frontier row, and on a
  broadcast join the groupBy can re-use the scan partitioning.

Decision rule (RFC 9309 §2.2.2, matching Google's published REP
implementation): among matching rules pick the one with the LONGEST
pattern; on a length tie Allow wins.  No applicable rule -> allowed.
Empty-path rules ("Disallow:" alone = allow everything) are dropped at
gate time — they match nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import host_of

# Directive line: optional leading whitespace, directive, ':', value
# up to an optional '#' comment.  Case-insensitive directive names.
_DIRECTIVE_RE = r"(?i)^[ \t]*(user-agent|allow|disallow)[ \t]*:[ \t]*([^#]*)"


def parse_robots_rules(
    robots: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``(host, body)`` -> ``(host, agent, rule, path, line_no)``.

    One output row per (agent-in-block, rule-line) pair: a block of
    consecutive ``User-agent`` lines shares all the Allow/Disallow
    lines that follow it (RFC 9309 §2.2.1).  ``line_no`` is the rule
    line's 0-based position in the body — kept so callers can audit
    and tests can compare ordering.  Unknown directives and comment /
    blank lines are ignored (but do NOT split a group: only a
    User-agent line following a non-User-agent directive starts a new
    block, per the RFC's grammar where groups are delimited by
    startgroupline sequences).
    """
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(body_col), r"\r?\n")).alias("line_no", "line"),
    )
    parsed = lines.select(
        "host",
        "line_no",
        F.lower(F.regexp_extract("line", _DIRECTIVE_RE, 1)).alias("directive"),
        F.trim(F.regexp_extract("line", _DIRECTIVE_RE, 2)).alias("value"),
    ).where(F.col("directive") != "")

    w = Window.partitionBy("host").orderBy("line_no")
    is_agent = (F.col("directive") == "user-agent").cast("int")
    # A block starts at a user-agent line whose previous directive line
    # is NOT a user-agent line (or start of file).
    starts = F.when(
        (is_agent == 1) & (F.coalesce(F.lag(is_agent).over(w), F.lit(0)) == 0),
        F.lit(1),
    ).otherwise(F.lit(0))
    blocks = parsed.withColumn("group_id", F.sum(starts).over(w))

    agents = (
        blocks.where(F.col("directive") == "user-agent")
        .select("host", "group_id", F.lower(F.col("value")).alias("agent"))
        .distinct()
    )
    rules = blocks.where(F.col("directive") != "user-agent").select(
        "host",
        "group_id",
        F.col("directive").alias("rule"),
        F.col("value").alias("path"),
        "line_no",
    )
    return agents.join(rules, ["host", "group_id"]).select(
        "host", "agent", "rule", "path", F.col("line_no").cast("long").alias("line_no")
    )


def _pattern_regex(pat: Column) -> Column:
    """Robots path pattern -> anchored Java/RE2-safe regex, as a pure
    string expression (patterns come from data, so this must be
    per-row).  ``*`` matches any char sequence; ``$`` anchors the end
    ONLY as the last character (elsewhere it is literal); everything
    else is literal.  The same three regexp_replace steps exist
    verbatim in the DuckDB oracle, so both engines match byte-equal
    semantics.
    """
    ends = pat.endswith("$")
    body = F.when(ends, F.substring(pat, 1, F.length(pat) - 1)).otherwise(pat)
    # escape every regex metachar EXCEPT '*' (handled next)
    esc = F.regexp_replace(body, r"([.^$+?(){}\[\]|\\])", r"\\$1")
    wild = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), wild, F.when(ends, F.lit("$")).otherwise(F.lit("")))


def url_path_for_matching(url: Column) -> Column:
    """Everything after the authority (path + query), '/' if empty —
    the string robots patterns match against (REP matches the full
    path-with-query, not the bare path)."""
    rest = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    nofrag = F.split(rest, "#", 2).getItem(0)
    return F.when(F.length(nofrag) == 0, F.lit("/")).otherwise(nofrag)


def select_agent_group(rules: DataFrame, agent: str) -> DataFrame:
    """Applicable rules per host for crawler product token ``agent``:
    the host's group naming the token exactly (case-insensitive) if
    one exists, else its ``*`` group (RFC 9309 §2.2.1).  Hosts with
    neither contribute no rules (-> everything allowed)."""
    a = agent.lower()
    mine = rules.where(F.col("agent").isin(a, "*"))
    has_specific = (
        mine.where(F.col("agent") == a).select("host").distinct()
        .withColumn("_spec", F.lit(True))
    )
    return (
        mine.join(has_specific, "host", "left")
        .where(
            (F.col("agent") == a)
            | (F.col("agent") == "*") & F.col("_spec").isNull()
        )
        .drop("_spec")
    )


def robots_gate(
    frontier: DataFrame,
    rules: DataFrame,
    agent: str,
    url_col: str = "fetch_url",
    keep_decision: bool = False,
) -> DataFrame:
    """Filter ``frontier`` to robots-allowed URLs under RFC-9309
    longest-match semantics.  ``rules`` is ``parse_robots_rules``
    output; the applicable agent group is selected here.  With
    ``keep_decision`` the full frontier is returned with a boolean
    ``allowed`` column instead of being filtered.

    Scale: rules are a per-host dim table (robots bodies are capped at
    500 KiB by the RFC and hosts number ~10^7 vs 10^10 URLs) ->
    broadcast; the winner-per-URL aggregate is map-side combinable.
    """
    grp = (
        select_agent_group(rules, agent)
        .where(F.length("path") > 0)  # empty Disallow/Allow matches nothing
        .select(
            "host",
            F.col("rule"),
            F.col("path").alias("_pat"),
            _pattern_regex(F.col("path")).alias("_rx"),
        )
    )
    f = frontier.withColumn("_host", host_of(F.col(url_col))).withColumn(
        "_path", url_path_for_matching(F.col(url_col))
    )
    j = f.join(F.broadcast(grp), f["_host"] == grp["host"], "left")
    hit = F.col("_rx").isNotNull() & F.regexp_like(F.col("_path"), F.col("_rx"))
    # specificity = pattern length; tie -> allow wins, so the struct
    # orders (length, is_allow) and max() is exactly the RFC rule.
    verdict = F.when(
        hit,
        F.struct(
            F.length("_pat").alias("spec"),
            (F.col("rule") == "allow").alias("is_allow"),
        ),
    )
    keys = [c for c in frontier.columns]
    agg = j.groupBy(*[F.col(k) for k in keys]).agg(F.max(verdict).alias("_win"))
    allowed = F.coalesce(F.col("_win.is_allow"), F.lit(True))
    if keep_decision:
        return agg.select(*keys, allowed.alias("allowed"))
    return agg.where(allowed).select(*keys)


_SITEMAP_RE = r"(?i)^[ \t]*sitemap[ \t]*:[ \t]*([^#\s]+)"


def sitemap_directives(
    robots: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``(host, sitemap_url, line_no)`` from ``Sitemap:`` directives.

    Per RFC 9309 §2.3 / sitemaps.org, ``Sitemap`` lines are
    HOST-GLOBAL — valid anywhere in the file, NOT part of any
    user-agent group — so this is a separate single-pass extraction,
    deliberately not routed through ``parse_robots_rules`` (whose
    directive grammar is user-agent/allow/disallow only).  Feeds
    ``functions/urls.py`` sitemap ingestion: discovery -> fetch ->
    ``<loc>`` extraction closes the crawler's seed loop.
    """
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(body_col), r"\r?\n")).alias("line_no", "line"),
    )
    return (
        lines.select(
            "host",
            F.regexp_extract("line", _SITEMAP_RE, 1).alias("sitemap_url"),
            F.col("line_no").cast("long").alias("line_no"),
        )
        .where(F.length("sitemap_url") > 0)
    )
