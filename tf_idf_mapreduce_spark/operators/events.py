"""Event-stream operators (batch form) over the ``events`` fixture table.

The reference is batch-only (SURVEY.md §2.7); these give the engine the
time-series surface a pipeline needs — sessionization, tumbling windows,
JSON payload extraction. ``streaming/`` hosts the Structured Streaming
variants of the same semantics.

Scale posture: everything partitions by ``user_id`` or a time bucket —
high-cardinality keys, no global windows; sessionization is the classic
lag+cumsum pattern (two window passes sharing one exchange on user_id).

Determinism: outputs use exact integer epoch-seconds (``ts_sec``) instead of
timestamps — the fixture's NANOS parquet type round-trips differently
through Spark (full nanos) and DuckDB (micro truncation), but integer
seconds derived by integer division are identical. Ordering keys keep full
``ts_ns`` resolution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.grid import r6
from ..sources.io import load_events
from .prefix import two_phase_running_sum

SESSION_GAP_SEC = 30 * 60


def session_ids(
    events: DataFrame,
    gap_sec: int = SESSION_GAP_SEC,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-EVENT session assignment (the lag+cumsum half of ``sessionize``):
    each event tagged with its user's ``session_seq``. Both window passes
    share one exchange on user_id (same partitioning, same ordering).
    ``carry`` lists extra event columns to keep (e.g. ``event_type`` for
    path mining)."""
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    flagged = events.select(
        "user_id",
        "ts_ns",
        "event_id",
        "ts_sec",
        *carry,
        F.when(
            F.col("ts_sec") - F.lag("ts_sec", 1).over(w) > gap_sec, 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("new_session")


def sessionize(events: DataFrame, gap_sec: int = SESSION_GAP_SEC) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is idle
    longer than ``gap_sec``.

    Returns one row per session: (user_id, session_seq, session_start_sec,
    session_end_sec, n_events, duration_sec).
    """
    return session_ids(events, gap_sec).groupBy("user_id", "session_seq").agg(
        F.min("ts_sec").alias("session_start_sec"),
        F.max("ts_sec").alias("session_end_sec"),
        F.count("*").alias("n_events"),
        (F.max("ts_sec") - F.min("ts_sec")).alias("duration_sec"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_events(spark, sf_dir))


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session summary on top of sessionize — stacked aggregation."""
    s = q_sessionize(spark, sf_dir)
    return s.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("duration_sec").alias("max_duration_sec"),
    )


def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type: integer bucket arithmetic
    (``ts_sec - ts_sec % 3600``) — portable, and at scale cheaper than
    timestamp truncation."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        (F.col("ts_sec") - F.col("ts_sec") % 3600).alias("hour_start_sec"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,2)"))
        .cast("double")
        .alias("total_value"),
    )


def q_json_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props payload + aggregates over it."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(k).alias("sum_k"),
        F.count("*").alias("n_events"),
    )


FUNNEL_STEP_WINDOW_SEC = 24 * 3600


def _funnel_steps(ev: DataFrame, window_sec: int) -> DataFrame:
    """Per-user (view_sec, click_sec, purchase_sec) for a given step
    window — the chained conditional-min windows shared by ``q_funnel``
    (its original inline body, parameterized) and the window sweep."""
    w = Window.partitionBy("user_id")
    step1 = ev.withColumn(
        "view_sec",
        F.min(F.when(F.col("event_type") == "view", F.col("ts_sec"))).over(w),
    )
    step2 = step1.withColumn(
        "click_sec",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts_sec") > F.col("view_sec"))
                & (F.col("ts_sec") <= F.col("view_sec") + window_sec),
                F.col("ts_sec"),
            )
        ).over(w),
    )
    step3 = step2.withColumn(
        "purchase_sec",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_sec") > F.col("click_sec"))
                & (F.col("ts_sec") <= F.col("click_sec") + window_sec),
                F.col("ts_sec"),
            )
        ).over(w),
    )
    return (
        step3.where(F.col("view_sec").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("view_sec").alias("view_sec"),
            F.min("click_sec").alias("click_sec"),
            F.min("purchase_sec").alias("purchase_sec"),
        )
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: per user, the first view, the first click
    AFTER that view, and the first purchase AFTER that click — each within
    24 h of the previous step.

    Three chained window passes over the same user_id partition (one
    exchange; each step's min is conditional on the previous step's
    result), then one distinct-per-user aggregate that reuses the
    clustering. Only users with at least a view appear.
    Returns (user_id, view_sec, click_sec, purchase_sec, steps_completed).
    """
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_sec")
    return (
        _funnel_steps(ev, FUNNEL_STEP_WINDOW_SEC)
        .select(
            "user_id",
            "view_sec",
            "click_sec",
            "purchase_sec",
            (
                F.lit(1)
                + F.col("click_sec").isNotNull().cast("int")
                + F.col("purchase_sec").isNotNull().cast("int")
            )
            .cast("long")
            .alias("steps_completed"),
        )
    )


WEEK_SEC = 7 * 24 * 3600


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by their first-activity week,
    counted distinct in each subsequent week offset — the
    (cohort_week, week_offset, n_users) matrix behind every retention
    curve.

    Two aggregations sharing the user_id exchange: first-week per user,
    then distinct (user, week) activity joined back (broadcast — one row
    per user ≪ events) and counted per cell. Weeks are integer epoch-week
    buckets (portable; no calendar dependence).
    """
    ev = load_events(spark, sf_dir).select(
        "user_id", (F.col("ts_sec") / WEEK_SEC).cast("long").alias("week")
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    return (
        active.join(F.broadcast(first), "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences: for every
    (src, dst) event-type pair, how often dst immediately follows src, and
    the row-normalized probability — the first-order model behind
    next-event prediction and anomaly scoring on clickstreams.

    One exchange on ``user_id`` for the ``lead()`` sequence window
    (``ts_ns`` with ``event_id`` tiebreak — a total order, so results are
    exactly reproducible); the transition count then partial-aggregates
    map-side onto a |types|² relation that is tiny at any scale, and the
    row-normalizing window runs on that tiny relation — at 100 TB the only
    full-data pass is the one sequence shuffle.
    """
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "ts_ns", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    row_tot = Window.partitionBy("src")
    return (
        counts.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(row_tot), 6)
        )
        .orderBy("src", "dst")
    )


PATH_TOP_K = 25


def q_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the top-25 event-type TRIGRAMS that occur
    inside a single session — "what do users actually do in a sitting",
    the sequence-pattern summary behind funnel design and behavioral
    training-data selection.

    Scale: the trigram window rides the SAME user_id exchange the
    sessionizer already made (lead() over (user_id, session_seq) is a
    sub-ordering of the session window); the path counts then partial-
    aggregate map-side onto a |types|³-bounded relation, and the global
    top-k is a tiny sort. The only full-data pass is the one sessionize
    shuffle.
    """
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "ts_ns", "event_id", "ts_sec"
    )
    tagged = session_ids(ev, carry=("event_type",))
    w = Window.partitionBy("user_id", "session_seq").orderBy("ts_ns", "event_id")
    tri = tagged.select(
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("path"),
        F.lead("event_type", 2).over(w).alias("_third"),
    ).where(F.col("_third").isNotNull())
    return (
        tri.groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("path"))
        .limit(PATH_TOP_K)
    )


ANOMALY_Z_THRESHOLD = 2.0


def q_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours whose event count sits >= 2 sample
    standard deviations from that event type's hourly mean — the alerting
    pass a pipeline runs over ingest volumes.

    Two-phase shape: hourly counts partial-aggregate map-side; the
    per-type mean/stddev reduce over the (types x hours)-bounded counts
    relation; the z-score join broadcasts the per-type stats (|types|
    rows) back onto the counts — no second full-data exchange, no hot-key
    window (a ``avg() over (partition by type)`` would funnel each type
    into one task).
    """
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        (F.col("ts_sec") - F.col("ts_sec") % 3600).alias("hour_start_sec"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    return anomaly_scores(hourly)


def anomaly_scores(hourly: DataFrame) -> DataFrame:
    """The z-score step over ``(hour_start_sec, event_type, n_events)``
    hourly counts, shared by the batch query and its streaming twin:
    per-type mean/stddev broadcast back onto the counts, both on the r6
    grid (z_score gates the filter, so a round() tie flip would change
    the row set), kept at ``|z| >= ANOMALY_Z_THRESHOLD``."""
    stats = hourly.groupBy("event_type").agg(
        F.avg("n_events").alias("mean_n"),
        F.stddev_samp("n_events").alias("sd_n"),
    )
    z = r6((F.col("n_events") - F.col("mean_n")) / F.col("sd_n"))
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "hour_start_sec",
            "n_events",
            r6(F.col("mean_n")).alias("mean_n"),
            z.alias("z_score"),
        )
        .where(F.abs(F.col("z_score")) >= ANOMALY_Z_THRESHOLD)
    )


WAU_WINDOW_DAYS = 7


def q_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day active users per day (the WAU curve): for each day
    with any activity, how many distinct users appeared in the 7-day
    window ending that day.

    Rolling DISTINCT doesn't compose from daily distincts (users repeat),
    so each (user, active-day) pair — already deduped, one row per user
    per day — fans out to the {0..6} future days it keeps the user
    "active" for, and one countDistinct per day finishes it. Shuffle
    volume is 7x the deduped user-day relation (not 7x the raw events),
    and the fan-out is a codegen ``explode(sequence(...))`` — the
    standard scale shape for sliding-window distinct aggregation.
    Days carry as integer epoch-days (exact arithmetic both engines).
    """
    ev = load_events(spark, sf_dir)
    user_days = ev.select(
        "user_id", (F.col("ts_sec") / 86400).cast("long").alias("day")
    ).distinct()
    active_days = user_days.select("day").distinct()
    fanned = user_days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + (WAU_WINDOW_DAYS - 1)
            )
        ).alias("day"),
    )
    return (
        fanned.join(active_days, "day")  # only report days that exist
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


def q_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample of the click stream: EVERY hour between
    the first and last click appears — zero-filled counts plus a
    carry-forward column (the last non-gap value) — the densification
    pass charting/forecasting needs before a regular time series exists.

    The hour spine comes from one broadcast min/max row exploded through
    ``sequence`` (no driver collect); the carry-forward window is global
    but runs over the HOUR-bucket relation (bounded: one row per hour of
    history — ~9k rows per decade), not the events. At larger horizons
    partition the carry by month and stitch boundaries.
    """
    ev = load_events(spark, sf_dir).where(F.col("event_type") == "click")
    hourly = ev.groupBy(
        (F.col("ts_sec") - F.col("ts_sec") % 3600).alias("hour_start_sec")
    ).agg(F.count("*").alias("n"))
    bounds = hourly.agg(
        F.min("hour_start_sec").alias("lo"), F.max("hour_start_sec").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(3600))
        ).alias("hour_start_sec")
    )
    w = Window.orderBy("hour_start_sec").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.join(hourly, "hour_start_sec", "left")
        .select(
            "hour_start_sec",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.last("n", ignorenulls=True).over(w).cast("long").alias("n_carry"),
        )
    )


def q_active_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency profile: how many sessions were ACTIVE during each
    hour (a session covers every hour bucket its [start, end] interval
    touches) — the load curve capacity planning reads.

    Interval → covered-hours fan-out (``sequence`` per session, bounded
    by session length) + one count per hour: the bucketed sweep that
    replaces a global ordered prefix-sum sweep-line, so there is no
    single-task total order anywhere — the same bucketize-don't-sort
    trade as the banded range join.
    """
    s = sessionize(load_events(spark, sf_dir))
    covered = s.select(
        F.explode(
            F.sequence(
                (F.col("session_start_sec") / 3600).cast("long"),
                (F.col("session_end_sec") / 3600).cast("long"),
            )
        ).alias("hour_bucket")
    )
    return (
        covered.groupBy((F.col("hour_bucket") * 3600).alias("hour_start_sec"))
        .agg(F.count("*").alias("n_active_sessions"))
    )


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for users who completed each funnel
    depth, the exact p25/p50/p75 of the view→last-step lag — the latency
    lens on the funnel (how long conversion actually takes, not just how
    many convert).

    Rides the funnel's single user_id exchange; the percentile aggregate
    then runs per steps_completed group (3 groups — exact sort-based
    percentile is fine; at petabyte funnel volumes swap in
    approx_percentile, same output shape).
    """
    f = q_funnel(spark, sf_dir)
    lag = F.coalesce(
        F.col("purchase_sec"), F.col("click_sec"), F.col("view_sec")
    ) - F.col("view_sec")
    pcts = F.percentile(
        lag, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        f.groupBy("steps_completed")
        .agg(
            F.count("*").alias("n_users"),
            pcts.alias("pct"),
        )
        .select(
            "steps_completed",
            "n_users",
            F.round(F.element_at("pct", 1), 6).alias("lag_p25"),
            F.round(F.element_at("pct", 2), 6).alias("lag_p50"),
            F.round(F.element_at("pct", 3), 6).alias("lag_p75"),
        )
    )


RFM_BUCKETS = 4
#: parallelism of the distributed exact-rank pass (value-interval
#: buckets); any value >= 1 returns identical rows
RFM_RANK_BUCKETS = 32


def _exact_global_ntile(base: DataFrame, key: Column, score_name: str) -> DataFrame:
    """Exact global ntile(RFM_BUCKETS) of ``base`` rows by ``key`` (asc,
    user_id tiebreak) WITHOUT a single-partition window over the data.

    Two-phase distributed rank (shard_pack's prefix-sum pattern, keyed
    by VALUE instead of doc_id): rows bucket by deterministic equal-width
    intervals of the key — a pure function of the value, so the result
    is partition-invariant — local ranks come from per-bucket windows,
    bucket counts (a |buckets|-row relation, the only single-partition
    window) turn into exclusive offsets, and global_rank = offset +
    local_rank. The ntile is then ARITHMETIC on (rank, n): the first
    n % k buckets take ceil(n/k) rows, the rest floor(n/k) — identical
    to the window function's semantics. Skewed keys degrade parallelism
    of a bucket, never correctness.
    """
    s = base.select("user_id", key.cast("double").alias("_k"))
    mm = s.groupBy().agg(
        F.min("_k").alias("_mn"),
        F.max("_k").alias("_mx"),
        F.count("*").alias("_n"),
    )
    width = (F.col("_mx") - F.col("_mn")) / RFM_RANK_BUCKETS
    b = s.crossJoin(F.broadcast(mm)).withColumn(
        "_bkt",
        F.when(F.col("_mx") == F.col("_mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(RFM_RANK_BUCKETS - 1),
                F.floor((F.col("_k") - F.col("_mn")) / width),
            )
        )
        .cast("long"),
    )
    # a running count with a tie-free order IS row_number — the global
    # rank rides the shared two-phase prefix sum
    ranked = two_phase_running_sum(
        b,
        bucket="_bkt",
        order_by=[F.asc("_k"), F.asc("user_id")],
        value=F.lit(1),
        out="_rank",
    )
    rank = F.col("_rank")
    q = F.floor(F.col("_n") / RFM_BUCKETS)
    r = F.col("_n") % RFM_BUCKETS
    big = r * (q + 1)
    score = F.when(rank <= big, F.ceil(rank / (q + 1))).otherwise(
        r + F.ceil((rank - big) / q)
    )
    return ranked.select("user_id", score.cast("long").alias(score_name))


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation — recency (seconds since the user's last
    purchase, relative to the corpus max), frequency (purchase count),
    monetary (DECIMAL-exact value sum) plus 1..4 quartile scores per
    axis, the classic marketing/value segmentation a warehouse team
    ships weekly.

    One groupBy builds the per-user triple (the event scan partial-
    aggregates map-side; only user rows shuffle). Each quartile score is
    an exact global ntile computed by the DISTRIBUTED two-phase rank in
    ``_exact_global_ntile`` — ``ntile() OVER (ORDER BY ...)`` with no
    partition would funnel every user into one task, the same 100 TB
    trap ``curate_shard_pack`` avoids. Recency anchors to max(event ts)
    over the corpus (broadcast 1-row agg), not wall-clock; descending
    axes rank on the negated key; all ties break by user_id.
    """
    ev = load_events(spark, sf_dir).where(F.col("event_type") == "purchase")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts_sec").alias("last_sec"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.col("value").cast("decimal(38,2)"))
        .cast("double")
        .alias("monetary"),
    )
    anchor = ev.agg(F.max("ts_sec").alias("corpus_max_sec"))
    base = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        (F.col("corpus_max_sec") - F.col("last_sec")).alias("recency_sec"),
        "frequency",
        F.round("monetary", 6).alias("monetary"),
    ).localCheckpoint(eager=False)
    # fewer seconds since last purchase = better: recency ranks ASCENDING
    # so score 1 is the best quartile on every axis
    r_s = _exact_global_ntile(base, F.col("recency_sec"), "r_score")
    f_s = _exact_global_ntile(base, -F.col("frequency"), "f_score")
    m_s = _exact_global_ntile(base, -F.col("monetary"), "m_score")
    return (
        base.join(r_s, "user_id")
        .join(f_s, "user_id")
        .join(m_s, "user_id")
        .select(
            "user_id",
            "recency_sec",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
        )
    )


def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: volume and the
    share of the type's traffic in each of the 24 periodic buckets (not
    calendar hours — the folded profile capacity planning and
    anomaly-baseline jobs consume).

    One partial-combined aggregate to |types| x 24 rows; the per-type
    totals broadcast back onto that tiny relation. Shares use the
    repo's floor @6dp formula (k/n half-ties break identically on both
    engines).
    """
    ev = load_events(spark, sf_dir)
    prof = ev.groupBy(
        "event_type",
        F.pmod(F.floor(F.col("ts_sec") / 3600), F.lit(24))
        .cast("long")
        .alias("hour_of_day"),
    ).agg(F.count("*").cast("long").alias("n_events"))
    totals = prof.groupBy("event_type").agg(
        F.sum("n_events").alias("type_total")
    )
    return prof.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "hour_of_day",
        "n_events",
        r6(F.col("n_events") / F.col("type_total")).alias("share"),
    )


MAU_WINDOW_DAYS = 30


def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per active day — the engagement ratio product
    teams track (1.0 = every monthly user shows up daily).

    Same fan-out shape as ``q_wau``: the deduped (user, active-day)
    relation explodes to the {0..29} future days each appearance keeps
    the user "monthly active" for; DAU is the zero-offset slice of the
    same relation, so ONE fan-out feeds both counts (the offset-0 copy
    tags as ``is_today``). Shuffle volume is 30x the user-day relation,
    never 30x raw events. The ratio uses the repo's floor @6dp formula.
    """
    ev = load_events(spark, sf_dir)
    user_days = ev.select(
        "user_id", (F.col("ts_sec") / 86400).cast("long").alias("day")
    ).distinct()
    active_days = user_days.select("day").distinct()
    fanned = user_days.select(
        "user_id",
        F.col("day").alias("src_day"),
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (MAU_WINDOW_DAYS - 1))
        ).alias("day"),
    )
    counts = (
        fanned.join(active_days, "day")
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").cast("long").alias("mau"),
            F.countDistinct(
                F.when(F.col("src_day") == F.col("day"), F.col("user_id"))
            )
            .cast("long")
            .alias("dau"),
        )
    )
    return counts.select(
        "day",
        "dau",
        "mau",
        r6(F.col("dau") / F.col("mau")).alias("stickiness"),
    )


#: Forecast-baseline lags (seconds): one day back (seasonal-naive) and
#: one bucket back (persistence), over the gap_fill 10-minute buckets.
FORECAST_BUCKET_SEC = 600
FORECAST_SEASON_SEC = 86400


def q_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the two classic zero-parameter forecasters on the event
    stream — seasonal-naive (same bucket yesterday) vs persistence
    (previous bucket) — per event type: eval count, exact MAE, and mean
    signed error (bias) for each, plus which baseline wins. The
    sanity floor every real forecasting pipeline must beat before its
    model earns a slot.

    Predictions attach by EQUI-JOIN on (type, bucket - lag), not by
    row-offset windows — offset windows silently compare against the
    wrong time once the series has gaps, a join cannot. Two bounded
    self-joins of the (type, bucket) aggregate (history-sized, never
    event-sized); per-bucket values are floor-rounded @6dp first, so
    the diffs are identical doubles cross-engine, and the MAE/bias
    aggregates run through DECIMAL(38,18) — order-independent, exact.
    """
    ev = load_events(spark, sf_dir)

    def dsum(col: Column) -> Column:
        return F.sum(col.cast("decimal(38,18)")).cast("double")

    hourly = (
        ev.groupBy(
            "event_type",
            (F.col("ts_sec") - F.col("ts_sec") % FORECAST_BUCKET_SEC).alias(
                "bucket_start_sec"
            ),
        )
        .agg(
            r6(
                F.sum(F.col("value").cast("decimal(38,2)")).cast("double")
                / F.count("*")
            ).alias("v")
        )
        .localCheckpoint()
    )

    def baseline(lag_sec: int, tag: str) -> DataFrame:
        pred = hourly.select(
            "event_type",
            (F.col("bucket_start_sec") + lag_sec).alias("bucket_start_sec"),
            F.col("v").alias("pred"),
        )
        return (
            hourly.join(pred, ["event_type", "bucket_start_sec"])
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias(f"n_{tag}"),
                r6(
                    dsum(F.abs(F.col("v") - F.col("pred"))) / F.count("*")
                ).alias(f"mae_{tag}"),
                r6(
                    dsum(F.col("v") - F.col("pred")) / F.count("*")
                ).alias(f"bias_{tag}"),
            )
        )

    season = baseline(FORECAST_SEASON_SEC, "seasonal")
    persist = baseline(FORECAST_BUCKET_SEC, "persist")
    return (
        season.join(persist, "event_type")
        .select(
            "event_type",
            "n_seasonal",
            "mae_seasonal",
            "bias_seasonal",
            "n_persist",
            "mae_persist",
            "bias_persist",
            F.when(F.col("mae_seasonal") < F.col("mae_persist"), F.lit("seasonal"))
            .when(F.col("mae_persist") < F.col("mae_seasonal"), F.lit("persist"))
            .otherwise(F.lit("tie"))
            .alias("better"),
        )
        .orderBy("event_type")
    )


#: M4 downsampling bucket width (seconds) — hourly, the same tumbling
#: grid as q_tumbling_hourly.
M4_BUCKET_SEC = 3600


def q_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling: per (event_type, hour bucket) keep
    the four line-rendering extremes — first, last, min and max value —
    the lossless-at-pixel-width reduction a dashboard reads instead of
    the raw 100 TB stream (Jugel et al., VLDB'14 shape).

    ONE aggregate, no window, no sort: first/last ride ``min_by`` /
    ``max_by`` over a zero-padded ``(ts_ns, event_id)`` string key —
    lexicographic order IS the numeric order, the unique event_id makes
    every selection deterministic, and DuckDB's ``arg_min``/``arg_max``
    accept the same VARCHAR key (it cannot order structs), so both
    engines pick identical rows. All outputs are SELECTED raw values —
    no float arithmetic, no rounding, zero parity risk. At 100 TB this
    partial-aggregates map-side to 4 scalars per (type, bucket) before
    the exchange; contrast the row_number formulation, which would sort
    every bucket four ways. Reference parity: the keep-the-extreme-row
    idea is SortByValue's top-1-per-group made symmetric
    (SortByValue.java:101-121)."""
    return m4_aggregate(load_events(spark, sf_dir)).orderBy(
        "event_type", "bucket_sec"
    )


def m4_aggregate(ev: DataFrame) -> DataFrame:
    """The M4 aggregate per (event_type, hour bucket) over an events
    relation, batch or streaming: count, first/last ts and the four
    extremes, with first/last picked by the zero-padded
    ``(ts_ns, event_id)`` string key."""
    key = F.concat(
        F.lpad(F.col("ts_ns").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            "event_type",
            (F.col("ts_sec") - F.col("ts_sec") % M4_BUCKET_SEC).alias(
                "bucket_sec"
            ),
            "ts_sec",
            "value",
            key.alias("ord_key"),
        )
        .groupBy("event_type", "bucket_sec")
        .agg(
            F.count("*").alias("n_points"),
            F.min("ts_sec").alias("ts_first_sec"),
            F.max("ts_sec").alias("ts_last_sec"),
            F.min_by("value", F.col("ord_key")).alias("v_first"),
            F.max_by("value", F.col("ord_key")).alias("v_last"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
    )


def q_session_window_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions through the SQL front-end's ``session_window``
    TVF in BATCH mode — the same native session operator the streaming
    twin (``stream_session_window``) runs live, shown on the SQL
    surface (GROUP BY user_id, session_window(ts, '30 minutes')), and
    pinned to the identical relation: Spark's TVF merges events whose
    [ts, ts+gap) ranges OVERLAP, so a gap of exactly 1800 s starts a
    new session — one second tighter than the lag-based sessionizer's
    ``diff > gap`` convention, and the shared oracle encodes exactly
    that. Plans as one (user, assigned-window) hash aggregate after a
    per-partition session-assignment pass — no self-join, no window
    sort; 100 TB pays one exchange."""
    ev = load_events(spark, sf_dir).select("user_id", "ts", "ts_sec")
    ev.createOrReplaceTempView("events_norm")
    return spark.sql(
        """
        SELECT user_id,
               min(ts_sec) AS session_start_sec,
               max(ts_sec) AS session_end_sec,
               count(*) AS n_events,
               max(ts_sec) - min(ts_sec) AS duration_sec
        FROM events_norm
        GROUP BY user_id, session_window(ts, '30 minutes')
        """
    )


#: Bot heuristic: at least this many gaps, coefficient of variation of
#: inter-event gaps below this → machine-regular cadence.
BOT_MIN_GAPS = 20
BOT_MAX_CV = 0.3


def q_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-likeness score per user from inter-event cadence: humans have
    bursty, high-variance gaps; scripted traffic ticks — the screen a
    training pipeline runs on behavioral logs before they become
    features (bot sessions poison retention/funnel stats and RLHF-style
    event corpora alike).

    One (user, ts, id) window pass produces the gaps; the moments are
    EXACT integer sums (Σg, Σg² as bigint — gaps are seconds, the sums
    stay far under 2^53), so population variance and the CV flag derive
    from identical integers on both engines, rounded on the shared @6dp
    grid. One exchange; per-user output."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts_sec"), F.asc("event_id"))
    gaps = (
        ev.select(
            "user_id",
            (F.col("ts_sec") - F.lag("ts_sec").over(w)).alias("gap"),
        )
        .where(F.col("gap").isNotNull())
    )
    return bot_flags(
        gaps.groupBy("user_id").agg(
            F.count("*").alias("n_gaps"),
            F.sum("gap").alias("sum_gap"),
            F.sum(F.col("gap") * F.col("gap")).alias("sum_gap2"),
            F.min("gap").alias("min_gap"),
        )
    )


def bot_flags(moments: DataFrame) -> DataFrame:
    """The bot-flag select over per-user cadence moments ``(user_id,
    n_gaps, sum_gap, sum_gap2, min_gap)``, shared by the batch query and
    its streaming twin: mean, population variance and CV on the r6 grid
    and the ``bot_like`` verdict, ordered by user."""
    mean = F.col("sum_gap") / F.col("n_gaps")
    # clamp at 0: constant gaps can land epsilon-negative in fp, and
    # sqrt(-eps) is NaN — a null-vs-NaN parity trap across engines
    varp = F.greatest(
        F.col("sum_gap2") / F.col("n_gaps") - mean * mean, F.lit(0.0)
    )
    cv = F.when(mean > 0, F.sqrt(varp) / mean)
    return moments.select(
        "user_id",
        "n_gaps",
        "min_gap",
        r6(mean).alias("mean_gap"),
        r6(varp).alias("var_gap"),
        r6(cv).alias("gap_cv"),
        (
            (F.col("n_gaps") >= BOT_MIN_GAPS)
            & F.coalesce(cv < BOT_MAX_CV, F.lit(False))
        ).alias("bot_like"),
    ).orderBy("user_id")


#: step windows swept by the funnel sensitivity report.
FUNNEL_SWEEP_WINDOWS = (3600, 21600, 86400)


def q_funnel_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel-window sensitivity report: the 3-step conversion funnel
    evaluated at 1 h / 6 h / 24 h step windows in one relation — the
    decision report (the ``banding_sweep``/``nprobe_sweep`` pattern
    applied to product analytics) that shows how much measured
    conversion is an artifact of the attribution window before anyone
    ships "the" number.

    One loaded events relation feeds all three chained-window funnels
    (same user_id partition each pass); each config reduces to a 1-row
    summary, unioned — cost is three funnel passes, output is three
    rows, and every count is integer-exact with rates on the @6dp
    grid."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_sec")
    parts = []
    for wsec in FUNNEL_SWEEP_WINDOWS:
        f = _funnel_steps(ev, wsec)
        parts.append(
            f.agg(
                F.count("*").alias("n_viewers"),
                F.count("click_sec").alias("n_clicked"),
                F.count("purchase_sec").alias("n_purchased"),
            ).select(
                F.lit(wsec).cast("long").alias("window_sec"),
                "n_viewers",
                "n_clicked",
                "n_purchased",
                r6(F.col("n_clicked") / F.col("n_viewers")).alias(
                    "click_rate"
                ),
                r6(F.col("n_purchased") / F.col("n_viewers")).alias(
                    "purchase_rate"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("window_sec")


def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predictability of the event stream, per source type: the Shannon
    entropy of each type's next-event distribution plus its modal next
    step — near-zero entropy means scripted/deterministic flows (the
    distribution-level cousin of the per-user ``events_bot_score``
    cadence screen), high entropy means genuinely exploratory behavior;
    the number that says whether a first-order model
    (``events_transitions``) can predict anything at all.

    Runs entirely on the |types|^2 counts relation after the one
    sequence shuffle; entropy uses the exact-integer form
    H = ln(N) + (Σ round(-n·ln n, 6))/N (the ``data_card`` recipe) so
    the only float surface is rounded per-cell terms plus one ln."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "ts_ns", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    rn = F.row_number().over(
        Window.partitionBy("src").orderBy(F.desc("n"), F.asc("dst"))
    )
    top = (
        counts.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select("src", F.col("dst").alias("top_dst"), F.col("n").alias("top_n"))
    )
    agg = counts.groupBy("src").agg(
        F.sum("n").alias("tot"),
        F.count("*").alias("n_dst_types"),
        F.sum(
            F.round(-F.log("n") * F.col("n").cast("double"), 6).cast(
                "decimal(38,6)"
            )
        ).alias("wlog"),
    )
    return (
        agg.join(top, "src")
        .select(
            "src",
            F.col("tot").alias("n_transitions"),
            "n_dst_types",
            r6(
                F.log(F.col("tot").cast("double"))
                + F.col("wlog").cast("double") / F.col("tot").cast("double")
            ).alias("entropy_nats"),
            "top_dst",
            r6(F.col("top_n") / F.col("tot")).alias("top_p"),
        )
        .orderBy("src")
    )


#: Stationary-distribution iteration count / damping (teleport) — shared
#: with the unrolled-CTE oracle so the replay depth always matches.
MARKOV_ITERS = 10
MARKOV_DAMP_PCT = 85


def q_markov_stationary(
    spark: SparkSession,
    sf_dir: str,
    iters: int = MARKOV_ITERS,
    damp_pct: int = MARKOV_DAMP_PCT,
) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: the
    long-run share of time a user spends in each event type under the
    observed first-order transition model (``events_transitions``) —
    the steady-state companion to ``events_transition_entropy``
    (which scores one step, not the limit). Damped with a uniform
    teleport (the PageRank convention) so periodic or reducible chains
    still converge; dangling types (never a source) spread their mass
    uniformly.

    Arithmetic is the engine's fixed-point convention (``pagerank``):
    probabilities live as BIGINT nano-units, every step is integer
    multiply-divide, sums are order-independent — bit-exact across
    partitionings and engines at any iteration count.

    Scale: ONE full-data pass (the per-user sequence shuffle) builds
    the |types|^2 transition matrix; the matrix then COLLECTS (it is
    model-sized — |event types|^2 rows, the same class of state as the
    k-means centroids) and all ten iterations run on the driver with
    the identical integer arithmetic (Python ``//`` == BIGINT ``div``
    on non-negative operands) — bit-exact, without the former 10
    rounds of join+aggregate jobs over a few-hundred-row relation
    (guide §1.2: iterate where the model already lives)."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "ts_ns", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    # null-dst rows (each user's final event) are KEPT through the
    # group-by so one scan yields both the transition cells and the
    # full type inventory: every event is a src exactly once under
    # lead(), so distinct src == distinct event_type
    cells = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    )
    types = sorted({r["src"] for r in cells})
    t = len(types)
    cm = [
        (r["src"], r["dst"], r["n"])
        for r in cells
        if r["dst"] is not None
    ]
    row_tot: dict[str, int] = {}
    for src, _dst, n in cm:
        row_tot[src] = row_tot.get(src, 0) + n
    srcs = set(row_tot)
    pi = {ty: 1_000_000_000 // t for ty in types}
    base_nano = (100 - damp_pct) * 10_000_000  # (1-d) * 1e9
    for _ in range(iters):
        dm = sum(pi[ty] for ty in types if ty not in srcs)
        inb: dict[str, int] = {}
        for src, dst, n in cm:
            inb[dst] = inb.get(dst, 0) + (pi[src] * n) // row_tot[src]
        pi = {
            ty: base_nano // t
            + (damp_pct * (inb.get(ty, 0) + dm // t) + 50) // 100
            for ty in types
        }
    out = spark.createDataFrame(
        [(ty, pi[ty]) for ty in types],
        schema="event_type string, pi_nano bigint",
    )
    return out.select(
        "event_type",
        "pi_nano",
        (F.col("pi_nano") / 1_000_000_000).alias("pi"),
    ).orderBy("event_type")
