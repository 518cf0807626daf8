"""Temporal join operators Spark has no built-in for: as-of join and
banded range join — composed from exchanges Spark DOES have, never from a
nested-loop.

Scale design:
- As-of join: the classic union + tagged-sort + last-non-null window. ONE
  hash exchange on the key (both inputs share it) + a per-partition sort —
  the same cost as a single groupBy, regardless of how many right rows
  precede each left row. A join-based formulation (left.ts >= right.ts)
  would be a BroadcastNestedLoopJoin — quadratic per key.
- Range join (|a.ts - b.ts| <= band): bucketize both sides to band-width
  buckets, explode the probe side to its 3 candidate buckets, equi-join on
  (key, bucket), filter the exact band. Each qualifying pair meets in
  EXACTLY one bucket (the build row's own), so no dedup pass is needed.
  Cost: a 3x fan-out of one side + a hash join — no inequality join, which
  Catalyst can only execute as nested-loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.grid import r6
from ..sources.io import load_events


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_cols: list[str],
    suffix: str = "_asof",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the nearest right row per ``on`` key —
    ``direction="backward"`` (default): the LATEST right row with
    ``right.ts <= left.ts``; ``direction="forward"``: the EARLIEST right
    row with ``right.ts >= left.ts``. Unmatched left rows keep nulls;
    equal timestamps match in both directions.
    When several right rows share the same ``(on, ts)``, the one with the
    greatest ``right_cols`` tuple wins — a deterministic tiebreak (the
    bare (ts, _side) ordering would leave ``last(...)``'s pick to
    partition arrival order).

    Returns all left columns + ``<c><suffix>`` for each requested right
    column. Both directions are the same single-exchange plan — forward
    just scans the per-key sort in reverse (ts desc), so "the last right
    row seen at-or-before me" becomes "the earliest at-or-after me".
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    lt = left.withColumn("_side", F.lit(1))
    # carry the right columns as ONE struct: last(ignorenulls) then picks a
    # whole right ROW atomically — per-column last() would mix values from
    # different right rows tied on (key, ts) whenever a carried column is
    # NULL (a phantom tuple matching no input row)
    rt = right.select(
        on, ts, F.struct(*right_cols).alias("_payload")
    ).withColumn("_side", F.lit(0))
    combined = lt.unionByName(rt, allowMissingColumns=True)
    # right rows sort before left at equal ts (_side 0 < 1), so a left row
    # sees a right row with the same timestamp; the payload struct as a
    # trailing sort key makes the winner among equal-(key, ts) right rows
    # deterministic — struct ordering is field-wise, so "greatest
    # right_cols tuple wins" (left rows hold NULL payloads — nulls_last
    # keeps them after the right rows they must see, and _side already
    # splits the sides). Forward direction reverses only the ts scan; the
    # payload tiebreak stays ascending so the greatest tuple is scanned
    # last and wins at equal ts in both directions.
    ts_key = F.col(ts).asc() if direction == "backward" else F.col(ts).desc()
    w = (
        Window.partitionBy(on)
        .orderBy(ts_key, F.col("_side").asc(), F.col("_payload").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = combined.select(
        "*", F.last("_payload", ignorenulls=True).over(w).alias("_f")
    )
    return (
        carried.where(F.col("_side") == 1)
        .select(
            *left.columns,
            *[F.col(f"_f.{c}").alias(f"{c}{suffix}") for c in right_cols],
        )
    )


def range_join_banded(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    band: int,
) -> DataFrame:
    """All (left, right) pairs per key with ``|left_ts - right_ts| <= band``
    — via bucketed equi-join (see module docstring). Returns left ⨯ right
    matched columns; callers project."""
    lb = left.withColumn("_bucket", (F.col(left_ts) / band).cast("long"))
    rb = right.withColumn(
        "_rb", (F.col(right_ts) / band).cast("long")
    ).withColumn(
        "_bucket",
        F.explode(F.array(F.col("_rb") - 1, F.col("_rb"), F.col("_rb") + 1)),
    ).drop("_rb")
    joined = lb.join(rb, [on, "_bucket"])
    return joined.where(
        F.abs(F.col(left_ts) - F.col(right_ts)) <= band
    ).drop("_bucket")


# ---------------------------------------------------------------------------
# Driver queries over the events fixture
# ---------------------------------------------------------------------------


def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase with its user's most recent click at-or-before it."""
    ev = load_events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_sec"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_sec").alias("click_sec")
    )
    out = asof_join(
        purchases,
        clicks.withColumnRenamed("click_sec", "ts_sec"),
        on="user_id",
        ts="ts_sec",
        right_cols=["ts_sec"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.col("ts_sec_asof").alias("asof_click_sec"),
        (F.col("ts_sec") - F.col("ts_sec_asof")).alias("gap_sec"),
    )


def q_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each error event with its user's NEXT click at-or-
    after it — the did-the-user-recover probe of incident analysis.
    Same one-exchange plan as the backward direction (reversed scan)."""
    ev = load_events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_sec"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts_sec"
    )
    out = asof_join(
        errors,
        clicks,
        on="user_id",
        ts="ts_sec",
        right_cols=["ts_sec"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.col("ts_sec_asof").alias("next_click_sec"),
        (F.col("ts_sec_asof") - F.col("ts_sec")).alias("gap_sec"),
    )


RANGE_BAND_SEC = 3600


def q_range_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(error, click) pairs for the same user within ±1 hour."""
    ev = load_events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ts_sec").alias("err_sec")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts_sec").alias("click_sec")
    )
    pairs = range_join_banded(
        errors,
        clicks,
        on="user_id",
        left_ts="err_sec",
        right_ts="click_sec",
        band=RANGE_BAND_SEC,
    )
    return pairs.select(
        "err_id", "click_id", "user_id", (F.col("err_sec") - F.col("click_sec")).alias("dt_sec")
    )


def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/SCD "current view" compaction: the single latest event per user
    (ts_ns ordering, event_id tiebreak) — the keep-last-version pass every
    change-capture pipeline runs before serving a snapshot.

    One exchange on the key; at scale this is the compaction of a
    billions-of-rows changelog down to one row per key, and the window
    formulation lets AQE split any hot key's sort.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_ns"), F.desc("event_id"))
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts_sec",
            "event_type",
            F.round("value", 2).alias("value"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → SCD2 (slowly-changing-dimension type 2) history: each
    purchase event becomes a versioned row with its validity interval —
    ``valid_from_sec`` = the event, ``valid_to_sec`` = the user's next
    purchase (NULL while current) — the standard warehouse shape for
    as-was queries and the batch twin of a CDC merge.

    One exchange on user_id; ``lead()`` over (ts_ns, event_id) — a total
    order, so version numbering is exactly reproducible. At 100 TB the
    changelog is already partitioned by entity key, making this the
    cheapest possible history pass: no join, one window.
    """
    ev = load_events(spark, sf_dir).where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("ts_sec").alias("valid_from_sec"),
        F.lead("ts_sec").over(w).alias("valid_to_sec"),
        F.round("value", 2).alias("value"),
        F.lead("ts_sec").over(w).isNull().alias("is_current"),
    )


NEAREST_TOLERANCE_SEC = 1800


def asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_cols: list[str],
    tolerance: int | None = None,
) -> DataFrame:
    """Nearest-in-time as-of join: for each left row, the right row (per
    ``on`` key) minimizing ``|right.ts - left.ts|``; ties at equal
    distance prefer the BACKWARD match (pandas ``merge_asof``'s
    ``direction='nearest'`` convention). ``tolerance`` (same unit as
    ``ts``) nulls any match farther than the bound, keeping the left row.

    Built as one backward + one forward pass of ``asof_join`` — each a
    single hash exchange on ``on`` (the 100 TB posture of the base
    operator; direction only flips the per-key sort). The winner is a
    row-local CASE over the two carried candidates, so no further
    shuffle. Returns all left columns, ``<c>_nearest`` per right column,
    ``gap_<ts>`` (absolute), and ``matched_direction``
    ('backward' | 'forward' | NULL).
    """
    b = asof_join(left, right, on, ts, right_cols, suffix="_prev",
                  direction="backward")
    bn = asof_join(b, right, on, ts, right_cols, suffix="_next",
                   direction="forward")
    prev_ts, next_ts = F.col(f"{ts}_prev"), F.col(f"{ts}_next")
    prev_gap = F.col(ts) - prev_ts
    next_gap = next_ts - F.col(ts)
    if tolerance is not None:
        prev_gap = F.when(prev_gap <= tolerance, prev_gap)
        next_gap = F.when(next_gap <= tolerance, next_gap)
    take_prev = prev_gap.isNotNull() & (
        next_gap.isNull() | (prev_gap <= next_gap)
    )
    take_next = ~take_prev & next_gap.isNotNull()
    direction = (
        F.when(take_prev, "backward").when(take_next, "forward")
    )
    picked = [
        F.when(take_prev, F.col(f"{c}_prev"))
        .when(take_next, F.col(f"{c}_next"))
        .alias(f"{c}_nearest")
        for c in right_cols
    ]
    gap = F.when(take_prev, prev_gap).when(take_next, next_gap)
    return bn.select(
        *left.columns,
        *picked,
        gap.alias(f"gap_{ts}"),
        direction.alias("matched_direction"),
    )


def q_asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each error event with its user's nearest click within 30 minutes in
    EITHER direction — 'what was the user doing around the failure'. The
    nearest variant completes the as-of family (backward / forward /
    nearest-with-tolerance, the pandas merge_asof trio) distributed as
    two single-exchange passes."""
    ev = load_events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_sec"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts_sec"
    )
    out = asof_nearest(
        errors, clicks, on="user_id", ts="ts_sec",
        right_cols=["ts_sec"], tolerance=NEAREST_TOLERANCE_SEC,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.col("ts_sec_nearest").alias("nearest_click_sec"),
        F.col("gap_ts_sec").alias("gap_sec"),
        "matched_direction",
    )


def interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-intersection join: how much of each user session fell
    inside an ANOMALOUS hour — the attribution query an incident review
    runs (which sessions were exposed to the outage/spike window, for
    how long), composing the sessionizer with the volume-anomaly alert
    relation.

    Interval join strategy (the banded-range-join move, reapplied): a
    session [start, end] explodes into its covered hour buckets —
    fanout bounded by session duration in hours, never data-dependent
    skew — and joins the anomalous-hours relation on the bucket
    equi-key; the alert side is alert-sized (z-filtered), so it
    BROADCASTS and the session side never shuffles. Overlap is integer
    seconds of [start, end] ∩ [h, h+3600): exact arithmetic, no float
    surface at all. Every joined pair overlaps by construction (a
    session covers each of its own hour buckets), so no post-filter.
    """
    from .events import q_anomaly_hours, q_sessionize

    s = q_sessionize(spark, sf_dir)
    hours = q_anomaly_hours(spark, sf_dir).select("hour_start_sec").distinct()
    covered = s.select(
        "user_id",
        "session_seq",
        "session_start_sec",
        "session_end_sec",
        F.explode(
            F.sequence(
                (F.col("session_start_sec") / 3600).cast("long"),
                (F.col("session_end_sec") / 3600).cast("long"),
            )
        ).alias("hb"),
    )
    overlap = (
        F.least(F.col("session_end_sec"), F.col("hour_start_sec") + 3599)
        - F.greatest(F.col("session_start_sec"), F.col("hour_start_sec"))
        + 1
    )
    return covered.join(
        F.broadcast(hours), covered["hb"] * 3600 == hours["hour_start_sec"]
    ).select(
        "user_id",
        "session_seq",
        "hour_start_sec",
        overlap.cast("long").alias("overlap_sec"),
    )


#: Gap-fill bucket width (seconds). 10-minute buckets leave real gaps in
#: the fixture stream at every SF (hourly is gap-free at sf0.1), so the
#: interpolation path is actually exercised.
GAP_FILL_BUCKET_SEC = 600


def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize the event stream per event_type into a dense
    10-minute-bucket series with LINEAR INTERPOLATION across empty
    buckets — the densification a forecasting/feature pipeline needs
    when carry-forward (``events_resample``'s rule) is too coarse:
    ``value_filled`` at a gap is the line between the nearest observed
    buckets on each side.

    Shape: one (type, bucket) aggregate; the per-type spine comes from
    the observed min/max exploded through ``sequence`` (no driver
    collect); prev/next observations attach via two ignore-nulls windows
    PARTITIONED BY TYPE over the bucket relation — bounded by history
    length x type count, never by event count. The interpolation itself
    is one arithmetic expression over 6dp-rounded inputs, so the DuckDB
    replay is bit-exact. Spine endpoints are observed by construction,
    so every gap is interior and interpolation is total.
    """
    ev = load_events(spark, sf_dir)
    bucket = (
        F.col("ts_sec") - F.col("ts_sec") % GAP_FILL_BUCKET_SEC
    ).alias("bucket_start_sec")
    # r6, not round(x, 6): the interpolated line can land on an exact .5
    # at 6dp
    observed = ev.groupBy("event_type", bucket).agg(
        F.count("*").cast("long").alias("n_events"),
        r6(
            F.sum(F.col("value").cast("decimal(38,2)")).cast("double")
            / F.count("*")
        ).alias("value_avg"),
    )
    spine = (
        observed.groupBy("event_type")
        .agg(
            F.min("bucket_start_sec").alias("lo"),
            F.max("bucket_start_sec").alias("hi"),
        )
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(GAP_FILL_BUCKET_SEC))
            ).alias("bucket_start_sec"),
        )
    )
    base = spine.join(observed, ["event_type", "bucket_start_sec"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start_sec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start_sec")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bucket = F.when(
        F.col("value_avg").isNotNull(), F.col("bucket_start_sec")
    )
    prev_v = F.last("value_avg", ignorenulls=True).over(w_prev)
    prev_b = F.last(obs_bucket, ignorenulls=True).over(w_prev)
    next_v = F.first("value_avg", ignorenulls=True).over(w_next)
    next_b = F.first(obs_bucket, ignorenulls=True).over(w_next)
    frac = (F.col("bucket_start_sec") - prev_b) / (next_b - prev_b)
    return base.select(
        "event_type",
        "bucket_start_sec",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        "value_avg",
        F.when(F.col("value_avg").isNotNull(), F.col("value_avg"))
        .otherwise(r6(prev_v + (next_v - prev_v) * frac))
        .alias("value_filled"),
        F.when(F.col("value_avg").isNotNull(), F.lit("observed"))
        .otherwise(F.lit("interpolated"))
        .alias("fill_kind"),
    )


#: Interval-union exposure window: each event opens a half-open
#: [ts, ts + this) coverage interval.
UNION_WINDOW_SEC = 1800


def interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interval union (gaps-and-islands): every event opens a
    30-minute exposure window; overlapping/contiguous windows merge into
    islands and the user's DEDUPLICATED covered time is the sum of
    island lengths — the attribution primitive (ad exposure, dwell,
    on-call coverage) naive sum-of-windows double-counts.

    The classic two-window dance, one exchange total: running max of
    interval end over all PRECEDING rows (per user, (ts, event_id)
    order — the unique id makes equal-ts rows deterministic) flags a
    new island when the next start clears it (strict >: touching
    intervals are contiguous coverage and merge); a running sum of
    flags numbers the islands; a groupBy collapses them. All integer
    seconds — no float surface. The user partition is reused by both
    windows and the aggregate, so 100 TB pays ONE hash exchange; no
    interval self-join (the quadratic trap) anywhere. Reference
    parity: the ordered-accumulator-per-key shape of CountTF's reducer
    (CountTF.java:92-99) with window algebra instead of a buffer."""
    ev = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.col("ts_sec").alias("start_sec"),
        (F.col("ts_sec") + UNION_WINDOW_SEC).alias("end_sec"),
    )
    order = [F.asc("start_sec"), F.asc("event_id")]
    prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cur = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "start_sec",
        "end_sec",
        F.when(
            F.col("start_sec") > F.max("end_sec").over(prev), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_island"),
    ).select(
        "user_id",
        "start_sec",
        "end_sec",
        F.sum("new_island").over(cur).alias("island"),
    )
    islands = flagged.groupBy("user_id", "island").agg(
        F.min("start_sec").alias("i_start"),
        F.max("end_sec").alias("i_end"),
        F.count("*").alias("n_windows"),
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.sum("n_windows").alias("n_windows"),
            F.count("*").alias("n_islands"),
            F.sum(F.col("i_end") - F.col("i_start")).alias("covered_sec"),
            F.max(F.col("i_end") - F.col("i_start")).alias("max_island_sec"),
        )
        .orderBy("user_id")
    )


#: max staleness an as-of match may carry before it is discarded.
ASOF_TOLERANCE_SEC = 3600


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE (pandas ``merge_asof``'s
    ``tolerance=``): each purchase takes its user's most recent click
    at-or-before it ONLY if that click is within an hour — an older
    match is attribution noise and is nulled out, visibly (``matched``
    false), never silently kept. The production guard for the classic
    as-of footgun: a user's single click three weeks ago "explaining"
    today's purchase.

    Same single-exchange union+window plan as ``q_asof_purchase_click``
    — the tolerance is a post-hoc null-out expression, free at any
    scale; the oracle applies the identical CASE to DuckDB's native
    ASOF join."""
    ev = load_events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_sec"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts_sec"
    )
    out = asof_join(
        purchases, clicks, on="user_id", ts="ts_sec", right_cols=["ts_sec"]
    )
    gap = F.col("ts_sec") - F.col("ts_sec_asof")
    fresh = gap <= ASOF_TOLERANCE_SEC
    return out.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.when(fresh, F.col("ts_sec_asof")).alias("asof_click_sec"),
        F.when(fresh, gap).alias("gap_sec"),
        F.coalesce(fresh, F.lit(False)).alias("matched"),
    )
