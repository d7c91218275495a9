"""Temporal joins over event streams.

``asof_join`` is the operator Spark's built-in join surface lacks: match
every left row to the nearest right row at-or-before (or at-or-after) it
within a key — the "latest dimension version as of the fact timestamp"
join that event/session pipelines (SURVEY §2.11's events surface) need
when enriching events with slowly-changing state. The reference resolves
entity metadata against whole-snapshot tables (pkt_kg/metadata.py); the
as-of join is the incremental-snapshot generalization of that lookup.

Spark-first design: NOT a windowed cross join and NOT a per-key UDF —
one union, one shuffle on the key, one running ``last(..., ignorenulls)``
window. At 100 TB the single shuffle is keyed on the join key (users,
devices, entities), so skew handling is the same story as every other
keyed shuffle here (AQE skew-join + salting for pathological keys); the
within-key sort is bounded by per-key event counts, which event stores
bound by time-partitioning upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "asof_join",
    "coalesce_intervals",
    "cohort_retention",
    "funnel_counts",
    "interval_join",
    "sessionized_event_counts",
]


_TS_TYPES = (T.TimestampType, T.TimestampNTZType)


def _ord_col(col, dtype) -> F.Column:
    if isinstance(dtype, _TS_TYPES):
        # NTZ casts to TIMESTAMP via the session zone (pinned UTC here),
        # so the micros ordinal is deterministic for both flavors
        return F.unix_micros(col.cast("timestamp"))
    return col.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str = "ts",
    right_cols: list[str] | None = None,
    direction: str = "backward",
    suffix: str = "_right",
) -> DataFrame:
    """As-of join: for each left row, the single right row with the same
    key and the greatest right timestamp <= the left one (``backward``;
    ties at equal timestamps match, like DuckDB ``ASOF JOIN ... ON l.ts >=
    r.ts``) or the least one >= it (``forward``); both sides name the
    timestamp ``left_ts``. Left rows with no candidate keep NULL right
    columns (left-outer semantics). Returns all left columns plus
    ``left_ts + suffix`` and each requested right column renamed
    ``col + suffix``.

    When several right rows share the chosen (key, timestamp), the
    lexicographically greatest payload struct wins — an explicit
    deterministic tie-break where DuckDB/pandas leave the pick
    partition-order-dependent, so results are stable across cluster
    sizes, retries, and resumes.

    Plan shape (the 100 TB story): tag-and-union both inputs, ONE shuffle
    partitioned by the key, and a running ``last(payload, ignorenulls)``
    over ``(time, tag)`` with right rows sorting before left rows at
    equal time — every left row reads the most recent right payload in
    O(1) per row. No range cross-join blowup, no per-key
    ``applyInPandas``; the whole match is two window expressions inside
    one stage.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c not in keys and c != left_ts
        ]

    l_dtype = left.schema[left_ts].dataType
    r_dtype = right.schema[left_ts].dataType
    sign = F.lit(1) if direction == "backward" else F.lit(-1)

    payload = F.struct(
        F.col(left_ts).alias("__rts"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    # one payload per (key, timestamp): greatest struct wins (deterministic)
    r = (
        right.groupBy(*keys, left_ts)
        .agg(F.max(payload).alias("__p"))
        .select(
            *keys,
            (sign * _ord_col(F.col(left_ts), r_dtype)).alias("__ord"),
            F.lit(0).alias("__tag"),
            F.col("__p"),
        )
    )
    l = left.select(
        *left.columns,
        (sign * _ord_col(F.col(left_ts), l_dtype)).alias("__ord"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
    )
    # align the union schema: right side carries NULL left columns
    for c in left.columns:
        if c not in keys:
            r = r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    u = l.unionByName(r.select(*l.columns))

    w = (
        Window.partitionBy(*keys)
        .orderBy("__ord", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__p", ignorenulls=True).over(w))
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col(f"__m.__rts").alias(left_ts + suffix))
    out_cols.extend(F.col(f"__m.{c}").alias(c + suffix) for c in right_cols)
    return matched.filter(F.col("__tag") == 1).select(*out_cols)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str = "ts",
    right_start: str = "start",
    right_end: str = "end",
    bucket: str = "1 hour",
) -> DataFrame:
    """Point-in-interval join: every (left row, right interval) pair with
    the same key and ``right_start <= left_ts <= right_end`` (inclusive
    both ends). Returns all left columns plus all right columns except
    the key. Left rows in no interval are dropped (inner semantics);
    rows in several overlapping intervals appear once per interval.

    Spark's built-in planner turns a raw range predicate into a per-key
    cross join — quadratic in the hot key. This implements the standard
    bucketed range join instead: each interval explodes into the
    fixed-width time buckets it covers, each point maps to its single
    bucket, the join runs on ``(key, bucket)`` equality, and the exact
    BETWEEN filter runs post-join. Cost is linear in points + interval
    rows × buckets-per-interval; pick ``bucket`` near the typical
    interval length so that factor stays O(1). One equality shuffle —
    AQE skew-join and salting apply as with any keyed join.

    Timestamps or numerics both work; ``bucket`` is a Spark interval
    string for timestamps (e.g. ``'1 hour'``) or a number for numerics.
    """
    keys = [on] if isinstance(on, str) else list(on)
    l_dtype = left.schema[left_ts].dataType

    if isinstance(l_dtype, _TS_TYPES):
        # micros per bucket, computed once driver-side from the literal
        import re as _re

        m = _re.match(r"\s*(\d+)\s*(\w+)\s*$", str(bucket))
        if not m:
            raise ValueError(f"bad bucket interval: {bucket!r}")
        n, unit = int(m.group(1)), m.group(2).rstrip("s").lower()
        micros = {
            "second": 1_000_000,
            "minute": 60_000_000,
            "hour": 3_600_000_000,
            "day": 86_400_000_000,
        }
        if unit not in micros:
            raise ValueError(f"unsupported bucket unit: {unit!r}")
        w = n * micros[unit]

        def to_ord(c):
            return F.unix_micros(c.cast("timestamp"))

    else:
        w = float(bucket)

        def to_ord(c):
            return c.cast("double")

    l_bucket = F.floor(to_ord(F.col(left_ts)) / w)
    r_first = F.floor(to_ord(F.col(right_start)) / w)
    r_last = F.floor(to_ord(F.col(right_end)) / w)

    right_payload = [c for c in right.columns if c not in keys]
    r = right.filter(
        F.col(right_start).isNotNull()
        & F.col(right_end).isNotNull()
        & (F.col(right_start) <= F.col(right_end))
    ).select(
        *keys,
        *right_payload,
        F.explode(F.sequence(r_first, r_last)).alias("__bucket"),
    )
    l = left.withColumn("__bucket", l_bucket)
    return (
        l.join(r, keys + ["__bucket"])
        .filter(
            (F.col(left_ts) >= F.col(right_start))
            & (F.col(left_ts) <= F.col(right_end))
        )
        .drop("__bucket")
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Ordered-funnel analysis: how many users reached each step of
    ``steps`` IN ORDER (step *i+1* counts only events at-or-after the
    user's earliest completion of step *i* — the strict-sequence funnel
    semantics). Returns ``[step_idx, step, n_users]``, one row per step.

    Plan: one filtered min-aggregation per step, each joined to the
    previous step's per-user completion time — every shuffle is keyed on
    the user column, so all |steps| rounds reuse one partitioning, and
    each aggregation partially combines map-side. No window over the
    event table, no per-user UDF, no driver state; |steps| is small and
    fixed, so the plan is |steps| joins regardless of corpus size.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    prev = None
    counts = []
    for i, step in enumerate(steps):
        ev = events.filter(F.col("event_type") == step).select(
            F.col("user_id").alias("__u"), F.col("ts").alias("__ts")
        )
        if prev is not None:
            ev = ev.join(prev, "__u").filter(F.col("__ts") >= F.col("__pt"))
        cur = ev.groupBy("__u").agg(F.min("__ts").alias("__pt"))
        counts.append(
            cur.agg(
                F.lit(i).alias("step_idx"),
                F.lit(step).alias("step"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
        prev = cur.select("__u", "__pt")
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


# cohort granularity → (unit of the offset difference, units per period)
_COHORT_PERIODS = {
    "second": ("second", 1),
    "minute": ("second", 60),
    "hour": ("second", 3600),
    "day": ("day", 1),
    "week": ("day", 7),
    "month": ("month", 1),
    "quarter": ("month", 3),
    "year": ("month", 12),
}


def cohort_retention(
    events: DataFrame,
    granularity: str = "day",
) -> DataFrame:
    """Cohort retention matrix: users grouped by the period of their
    first event (the cohort), counted on every later period they were
    active. Returns ``[cohort, period_offset, n_users]`` — offset 0 is
    the cohort's own period, so its count is the cohort size.

    Plan: one min-aggregation for first-activity (cohort dim, keyed on
    user), one distinct over (user, period), one join keyed on user, one
    final partially-combined aggregation — every shuffle is on the user
    key or the small (cohort, offset) result key; no window, no driver
    state. ``granularity`` is a ``date_trunc`` unit from second to year,
    and ``period_offset`` counts whole periods of it (weeks for ``week``,
    calendar months for ``month``).
    """
    if granularity not in _COHORT_PERIODS:
        raise ValueError(
            f"granularity {granularity!r} not in {sorted(_COHORT_PERIODS)}"
        )
    unit, n = _COHORT_PERIODS[granularity]
    # cast to date so the grain matches ANSI date_trunc('day') (DATE,
    # not midnight TIMESTAMP); sub-day granularities keep the timestamp
    cast_to = "timestamp" if unit == "second" else "date"
    first = events.groupBy(F.col("user_id").alias("__u")).agg(
        F.date_trunc(granularity, F.min(F.col("ts")))
        .cast(cast_to)
        .alias("cohort")
    )
    act = events.select(
        F.col("user_id").alias("__u"),
        F.date_trunc(granularity, F.col("ts")).cast(cast_to).alias("__d"),
    ).distinct()
    # both ends are truncated to the grain, so each difference is a whole
    # multiple of the period
    if unit == "month":
        offset = F.months_between(F.col("__d"), F.col("cohort"))
    elif unit == "day":
        offset = F.datediff(F.col("__d"), F.col("cohort"))
    else:
        offset = F.unix_timestamp(F.col("__d")) - F.unix_timestamp(F.col("cohort"))
    if n != 1:
        offset = offset / n
    return (
        act.join(first, "__u")
        .groupBy("cohort", offset.cast("long").alias("period_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def coalesce_intervals(
    df: DataFrame,
    keys: "list[str]",
) -> DataFrame:
    """Merge overlapping-or-touching validity intervals per key — the
    temporal-KG compaction step: a fact asserted by many overlapping
    page snapshots collapses to its minimal validity ranges, after which
    "triples valid at time T" is a plain range filter. An interval joins
    the previous island when its start is ≤ the running max end seen so
    far (touching counts as connected). Returns ``keys + [start, end,
    n_merged]``.

    Plan: ONE window per key ordered by (start, end) computing the
    running max-end (the island boundary test) and the island id as a
    running sum — the window sorts only each key's interval history,
    never a global ordering — then ONE partially-combined aggregation on
    (key, island). Two shuffles total, both on the key.
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    w = Window.partitionBy(*keys).orderBy(F.col("start"), F.col("end"))
    prev_max = F.max(F.col("end")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max.isNull() | (F.col("start") > prev_max), F.lit(1)
    ).otherwise(F.lit(0))
    island = F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__island", island)
        .groupBy(*keys, "__island")
        .agg(
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("__island")
    )


def sessionized_event_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session-window counts per ``user_id`` over ``ts``: consecutive events
    of one user closer than ``gap`` merge into one session (the dynamic-gap
    analog of the reference's per-entity grouping). Equals the SQL
    gaps-and-islands derivation (see the ``events_sessionized`` oracle).

    One shuffle on the user: Spark merges overlapping session windows
    inside the aggregation."""
    # session_window needs TIMESTAMP (not NTZ/string); the session zone is
    # pinned UTC, so the cast is value-preserving
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
