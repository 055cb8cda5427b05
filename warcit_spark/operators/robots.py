"""robots.txt rule application as a broadcast join (SURVEY.md §2.9).

The reference has no robots handling (its inputs are enumerated files); the
frontier engine needs it.  Model: a small ``robots(host, path_prefix,
allow, crawl_delay)`` table; for each URL the **longest matching
path_prefix** rule on its host wins; no matching rule means allowed with
crawl_delay 1.0.

Physical shape — zero shuffle on the frontier side: rules are pre-grouped
per host (tiny aggregation on the broadcast side), broadcast-joined on
``host``, and the longest-prefix argmax runs *inside the row* with
higher-order array functions (``filter`` + ``aggregate``).  The frontier is
scanned once, no window, no re-grouping; the 10^10-row side never moves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_RULE_TYPE = "struct<path_prefix:string,allow:boolean,crawl_delay:double>"
# seconds; a host with no robots rule, or no Crawl-delay line, gets this
DEFAULT_CRAWL_DELAY = 1.0


def _longest_prefix_rule(rules: Column, path: Column) -> Column:
    matched = F.filter(rules, lambda r: path.startswith(r["path_prefix"]))
    return F.aggregate(
        matched,
        F.lit(None).cast(_RULE_TYPE),
        lambda acc, r: F.when(
            acc.isNull()
            | (F.length(r["path_prefix"]) > F.length(acc["path_prefix"])),
            r,
        ).otherwise(acc),
    )


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Annotate frontier rows with ``allowed`` and ``crawl_delay``.

    ``frontier`` must carry ``url`` and ``host``.  Grain preserved: one row
    in, one row out.
    """
    rules_by_host = robots.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.col("path_prefix"), F.col("allow"), F.col("crawl_delay")
            )
        ).alias("_rules"),
        # crawl_delay is a HOST-level property (max over the host's rules —
        # conservative politeness).  Keeping the per-round budget constant
        # within a host is what makes the two-stage salted politeness
        # ranking exactly equal to the single-window spec (top-k per host
        # distributes over salt slots only under a uniform cutoff).
        F.max("crawl_delay").alias("_host_delay"),
    )
    path = F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    best = _longest_prefix_rule(F.col("_rules"), path)
    return (
        frontier.join(F.broadcast(rules_by_host), on="host", how="left")
        .withColumn("_best", best)
        .select(
            *frontier.columns,
            F.coalesce(F.col("_best")["allow"], F.lit(True)).alias("allowed"),
            F.coalesce(F.col("_host_delay"), F.lit(DEFAULT_CRAWL_DELAY)).alias(
                "crawl_delay"
            ),
        )
    )

# ------------------------------------------------------------------ parser
_ACC_TYPE = (
    "struct<in_ua:boolean,active:boolean,"
    "rules:array<struct<path_prefix:string,allow:boolean>>,delay:double>"
)


def parse_robots_txt(
    robots_bodies: DataFrame,
    agent: str = "*",
) -> DataFrame:
    """Parse raw robots.txt bodies into the rules table ``apply_robots``
    consumes — closes the fetch->parse->rules gap in the crawl story
    (previously the rules table was assumed pre-parsed).

    Grammar (RFC 9309): a group is a run of consecutive ``User-agent``
    lines followed by directives; the group applies when any of its
    agent lines is ``*`` or equals ``agent`` (case-insensitive);
    ``#`` starts a comment; blank lines are insignificant; directive
    keys are case-insensitive; an empty ``Disallow:`` value allows all
    (no rule).  ``Crawl-delay`` (de-facto extension) is host-level: the
    max over applicable groups, ``DEFAULT_CRAWL_DELAY`` otherwise.

    Pattern support matches the engine's politeness model (prefix-only,
    ``apply_robots`` above): a trailing ``*`` is stripped (identical
    under prefix semantics); a rule with an interior wildcard is
    truncated at its first ``*`` (the conservative prefix superset —
    Google's documented longest-prefix fallback); a ``$``-anchored rule
    cannot be represented as a prefix and is dropped — both policies are
    pinned by test, not silent code paths.

    Scale shape: each robots.txt is one row (RFC caps bodies at 500 KiB)
    and the whole parse is ONE row-local fold (``F.aggregate``) over the
    split lines — JVM higher-order exprs, zero Python, zero shuffle; the
    output explodes to one row per rule plus an always-present
    empty-prefix allow row so a host with only a Crawl-delay still
    carries it (longest-prefix matching means the '' rule only wins when
    nothing else matches = the default-allow the engine already applies).
    """
    agent_lc = agent.lower()

    def step(acc, raw):
        clean = F.trim(F.substring_index(raw, "#", 1))
        ci = F.instr(clean, ":")
        key = F.lower(F.trim(F.substring(clean, F.lit(1), ci - 1)))
        val = F.trim(clean.substr(ci + 1, F.length(clean)))
        is_blank = clean == ""
        is_ua = (ci > 0) & (key == "user-agent")
        ua_match = is_ua & ((F.lower(val) == "*") | (F.lower(val) == agent_lc))

        active = F.when(
            is_ua,
            F.when(acc["in_ua"], acc["active"] | ua_match).otherwise(ua_match),
        ).otherwise(acc["active"])

        # prefix-only normalization: cut at the first '*', drop '$' rules
        prefix = F.substring_index(val, "*", 1)
        rule_ok = (
            (ci > 0)
            & acc["active"]
            & ((key == "disallow") | (key == "allow"))
            & (val != "")
            & ~prefix.contains("$")
        )
        rules = F.when(
            rule_ok,
            F.array_append(
                acc["rules"],
                F.struct(
                    prefix.alias("path_prefix"),
                    (key == "allow").alias("allow"),
                ),
            ),
        ).otherwise(acc["rules"])

        delay_val = val.try_cast("double")
        delay = F.when(
            (ci > 0)
            & acc["active"]
            & (key == "crawl-delay")
            & delay_val.isNotNull(),
            F.greatest(acc["delay"], delay_val),
        ).otherwise(acc["delay"])

        return F.when(is_blank, acc).otherwise(
            F.struct(
                is_ua.alias("in_ua"),
                active.alias("active"),
                rules.alias("rules"),
                delay.alias("delay"),
            ).cast(_ACC_TYPE)
        )

    lines = F.split(F.col("body"), r"\r?\n")
    init = F.named_struct(
        F.lit("in_ua"), F.lit(False),
        F.lit("active"), F.lit(False),
        F.lit("rules"), F.array().cast(
            "array<struct<path_prefix:string,allow:boolean>>"
        ),
        F.lit("delay"), F.lit(DEFAULT_CRAWL_DELAY),
    ).cast(_ACC_TYPE)
    acc = F.aggregate(lines, init, step)
    # '' allow rule: carries the host delay even with zero path rules and
    # only wins longest-prefix when nothing else matches (= default allow)
    all_rules = F.array_append(
        acc["rules"],
        F.named_struct(
            F.lit("path_prefix"), F.lit(""), F.lit("allow"), F.lit(True)
        ).cast("struct<path_prefix:string,allow:boolean>"),
    )
    return (
        robots_bodies.select(
            "host",
            acc["delay"].alias("crawl_delay"),
            F.explode(all_rules).alias("_r"),
        )
        .select(
            "host",
            F.col("_r")["path_prefix"].alias("path_prefix"),
            F.col("_r")["allow"].alias("allow"),
            "crawl_delay",
        )
    )
