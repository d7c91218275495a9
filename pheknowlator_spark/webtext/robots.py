"""robots.txt parsing and REP url filtering over crawl tables.

The reference consumes pre-curated downloads (pkt_kg/downloads.py:33), so
it never has to honor the Robots Exclusion Protocol; a Common-Crawl-style
pipeline filters its page table against per-host robots rules before any
downstream stage sees the html. Both operators are pure Column
expressions, so every rule replays as a DuckDB oracle.

Semantics implemented (documented subset of RFC 9309):

* a rule line (``Allow:`` / ``Disallow:``) belongs to the **nearest
  preceding** ``User-agent:`` line (single-agent groups; multi-agent
  group headers are the one RFC feature out of scope),
* agent resolution: if the host has any group for the specific agent,
  only those rules apply; otherwise the ``*`` group applies,
* a rule's path matches from the start of the url's path and query;
  ``*`` matches any run of characters and a trailing ``$`` anchors the
  rule at the end of the url (other characters match themselves),
* the longest matching rule wins; on a tie ``Allow`` wins,
* an empty ``Disallow:`` value matches nothing (spec: allow all),
* no matching rule → allowed.

100 TB plan: robots files are a per-host dimension (≤ a few hundred
rules each, hosts ≪ pages), so ``robots_filter`` is a broadcast hash
join from pages to the parsed-rule dim plus one ``max_by`` aggregation
per page — the page table never shuffles. Parsing uses one window per
host to attach rules to their agent group; robots files are tiny, so the
per-host window state is bounded by file line count, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["parse_robots", "robots_filter"]

_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
# path and query: robots rules such as ``/*?sid=`` match the query too
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)"


def parse_robots(robots: DataFrame) -> DataFrame:
    """``(host, robots_txt)`` → one row per rule: ``(host, agent, allow,
    prefix)`` with ``allow`` boolean and ``prefix`` the rule's path prefix.

    Lines are normalized case-insensitively on the directive name; values
    keep their case (paths are case-sensitive per spec). Comments (``#``)
    and unknown directives are dropped. Empty ``Disallow:`` rows are
    dropped here (they match nothing)."""
    lines = robots.select(
        "host",
        F.posexplode(F.split(F.col("robots_txt"), r"\r?\n")).alias("pos", "line"),
    ).select(
        "host",
        "pos",
        F.trim(F.regexp_replace("line", r"#.*$", "")).alias("line"),
    )
    directive = F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1))
    value = F.trim(F.regexp_extract("line", r"^[A-Za-z-]+\s*:(.*)$", 1))
    tagged = lines.select(
        "host",
        "pos",
        directive.alias("directive"),
        value.alias("value"),
    ).filter(F.col("directive").isin("user-agent", "allow", "disallow"))
    # attach each rule line to the nearest preceding user-agent line
    w = Window.partitionBy("host").orderBy("pos")
    agent = F.last(
        F.when(
            F.col("directive") == "user-agent", F.lower(F.col("value"))
        ),
        ignorenulls=True,
    ).over(w)
    return (
        tagged.withColumn("agent", agent)
        .filter(
            (F.col("directive") != "user-agent")
            & F.col("agent").isNotNull()
            # empty Disallow: matches nothing; empty Allow: likewise inert
            & (F.col("value") != "")
        )
        .select(
            "host",
            "agent",
            (F.col("directive") == "allow").alias("allow"),
            F.col("value").alias("prefix"),
        )
    )


def _like_pattern(rule: str):
    """RFC 9309 rule path → ``LIKE`` pattern (escape character ``\\``)."""
    p = F.col(rule)
    for ch in ("\\", "%", "_"):
        p = F.replace(p, F.lit(ch), F.lit("\\" + ch))
    p = F.replace(p, F.lit("*"), F.lit("%"))
    return F.when(p.endswith("$"), F.regexp_replace(p, r"\$$", "")).otherwise(
        F.concat(p, F.lit("%"))
    )


def robots_filter(
    pages: DataFrame,
    rules: DataFrame,
    agent: str = "*",
) -> DataFrame:
    """Pages allowed for ``agent`` under the per-host rules from
    :func:`parse_robots`. Adds a ``robots_host`` column; rows whose url
    is disallowed are removed.

    Scale shape: the per-agent rules collapse to ONE array-valued row per
    host (a dim far smaller than the page table), broadcast-joined to the
    pages; the longest-match verdict is then pure per-row array math
    (``filter`` + ``array_max`` over (prefix_len, allow) structs) — no
    row explosion, no re-aggregation, the page table keeps its
    partitioning end to end. Each rule is matched as a SQL ``LIKE``
    pattern, built once per rule on the dim side: ``\\``, ``%`` and ``_``
    are escaped, ``*`` becomes ``%``, and a ``%`` is appended unless the
    rule ends in ``$``."""
    agent = agent.lower()
    # agent-group resolution: specific group if present, else '*'
    host_has_specific = rules.filter(F.col("agent") == agent).select(
        "host"
    ).distinct().withColumn("has_specific", F.lit(True))
    eff = (
        rules.filter(F.col("agent").isin(agent, "*"))
        .join(host_has_specific, "host", "left")
        .filter(
            F.when(
                F.col("has_specific").isNotNull(), F.col("agent") == agent
            ).otherwise(F.col("agent") == "*")
        )
        .groupBy("host")
        .agg(
            F.collect_list(
                F.struct("prefix", "allow", _like_pattern("prefix").alias("like"))
            ).alias("__rules")
        )
    )
    host = F.regexp_extract(
        F.lower(F.regexp_extract(F.col("url"), _HOSTPORT_RE, 1)),
        r"^([^:]*)",
        1,
    )
    path_raw = F.regexp_extract(F.col("url"), _PATH_RE, 1)
    path = F.when(
        path_raw.startswith("/"), path_raw
    ).otherwise(F.concat(F.lit("/"), path_raw))
    keyed = pages.withColumn("robots_host", host).withColumn("__path", path)
    matches = F.filter(
        F.col("__rules"),
        lambda r: F.like(F.col("__path"), r["like"]),
    )
    # longest rule wins; tie → allow (true sorts above false)
    verdict = F.array_max(
        F.transform(
            matches,
            lambda r: F.struct(
                F.length(r["prefix"]).alias("l"), r["allow"].alias("allow")
            ),
        )
    )["allow"]
    return (
        keyed.join(
            F.broadcast(eff),
            keyed["robots_host"] == eff["host"],
            "left",
        )
        .withColumn("__verdict", verdict)
        .filter(F.col("__verdict").isNull() | F.col("__verdict"))
        .drop("__verdict", "__path", "__rules", "host")
    )
