"""Temporal operators: as-of join and tumbling-window rollups.

Spark's DataFrame API has no native as-of join (pandas-on-Spark
``merge_asof`` exists but drops to a different API family), so
``asof_join`` implements the standard union+window composition:

    tag side → unionByName → per-key sort by (ts, side) →
    last_value(right payload, ignore nulls) over rows unbounded preceding →
    keep left rows

which Catalyst plans as ONE hash shuffle on the key plus one sort — the
same physical shape as a co-partitioned merge join, with no Python in the
path.  The DuckDB gate cross-checks it against DuckDB's NATIVE ``ASOF
LEFT JOIN`` — an independent implementation, not a mirror of this
construction — so the tie and miss semantics are verified, not assumed.

Scale notes:
- Shuffle is keyed on ``by``; skewed keys behave like any windowed agg
  (AQE handles moderate skew; salt upstream for pathological keys).
- The window is ROWS UNBOUNDED PRECEDING over a single sort — no
  per-row join amplification, memory bounded by the run length of one
  key within a partition (streamed by Spark's window operator).
- ``window_rollup`` is a plain groupBy on (bucket, event_type): map-side
  partial aggregation applies; one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Backward as-of join: for every left row, attach the right row with
    the greatest ``right.on <= left.on`` within the same ``by`` key.

    Right payload columns are exposed with ``suffix`` appended, plus
    ``{on}{suffix}`` (the matched right timestamp, int64 micros; NULL when
    no right row precedes).  Right rows are first deduplicated to one per
    (by, on) — the max-payload row — so the match is deterministic.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, by)]
    ts_us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731

    payload = {c: f"__p_{c}" for c in right_cols}
    r = (
        right.select(
            F.col(by),
            ts_us(on).alias("__ts_us"),
            *[F.col(c).alias(p) for c, p in payload.items()],
        )
        # deterministic dedup: one right row per (by, ts)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(by, "__ts_us").orderBy(
                    *[F.desc(p) for p in payload.values()]
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("__side", F.lit(0))
        .withColumn("__p_ts", F.col("__ts_us"))
    )
    l = left.withColumn("__ts_us", ts_us(on)).withColumn("__side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    # right rows sort BEFORE left rows at equal ts (side 0 < 1), so an
    # exact-ts right row is visible to the left row — matching ASOF's <=
    w = (
        Window.partitionBy(by)
        .orderBy("__ts_us", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attach = [
        F.last(F.when(F.col("__side") == 0, F.col(p)), ignorenulls=True)
        .over(w)
        .alias(c + suffix)
        for c, p in payload.items()
    ] + [
        F.last(F.when(F.col("__side") == 0, F.col("__p_ts")), ignorenulls=True)
        .over(w)
        .alias(on + suffix)
    ]
    out_cols = [c for c in left.columns] + [c + suffix for c in right_cols] + [on + suffix]
    return (
        u.select("*", *attach)
        .filter(F.col("__side") == 1)
        .selectExpr(*[f"`{c}`" for c in out_cols])
    )


def window_rollup(
    events: DataFrame,
    width: str = "1 hour",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window aggregate: (window_start_us, event_type, n_events,
    total_value).  Buckets align to the epoch origin (UTC), matching
    DuckDB's time_bucket; value sums are DECIMAL-exact then cast back to
    double for a stable schema.  The same expression works under
    Structured Streaming (F.window is the streaming group key)."""
    return (
        events.withColumn("_val", F.col(value_col).cast("decimal(18,2)"))
        .groupBy(F.window(F.col("ts").cast("timestamp"), width).alias("__w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_val").cast("double").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("__w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def edge_time_ranges(raw_records: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Temporal lineage per extracted edge → (source, target,
    first_seen, last_seen, n_convs).

    Time-travel/freshness metadata for the KG: an edge's valid range is
    the span of the conversations that assert it (conversation
    granularity — the chunker folds turns into windows, so the
    conversation is the finest provenance unit whose timestamps survive
    assembly).  ``AS OF t`` subgraphs fall out as
    ``first_seen <= t`` filters; staleness audits as ``last_seen < t``.

    Shape: the conv→(min ts, max ts) aggregate is tiny (one row per
    conversation) and map-side combinable; the distinct pair×conv frame
    joins it on conv_id and re-aggregates — two combinable aggregates
    and one equi-join, no window, no skew pivot (pair×conv cardinality
    is bounded by the records themselves).
    """
    from .parse import parse_relationships, split_records

    rel = parse_relationships(split_records(raw_records))
    pairs = rel.select(
        F.least("source", "target").alias("source"),
        F.greatest("source", "target").alias("target"),
        "conv_id",
    ).distinct()
    conv_ts = transcripts.groupBy("conv_id").agg(
        F.min("ts").alias("c_first"), F.max("ts").alias("c_last")
    )
    return (
        pairs.join(conv_ts, "conv_id")
        .groupBy("source", "target")
        .agg(
            F.min("c_first").alias("first_seen"),
            F.max("c_last").alias("last_seen"),
            F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
        )
    )


def sliding_rollup(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    dims: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Sliding (hopping) window aggregate → (window_start_us, *dims,
    n_events, total_value); each event lands in width/slide windows.

    The moving-average / trailing-rate view a monitoring pipeline needs
    (tumbling windows jitter at bucket edges).  F.window with a slide is
    the native streaming-compatible operator — Spark plans the per-event
    window explosion itself; the oracle enumerates the same windows
    closed-form (start = slide_bucket(t) − k·slide for k < width/slide,
    all epoch-aligned).  DECIMAL-exact sums as in window_rollup.
    """
    dims = dims if dims is not None else ["event_type"]
    return (
        events.withColumn("_val", F.col(value_col).cast("decimal(18,2)"))
        .groupBy(
            F.window(F.col(ts_col).cast("timestamp"), width, slide).alias("__w"),
            *dims,
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_val").cast("double").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("__w.start")).alias("window_start_us"),
            *dims,
            "n_events",
            "total_value",
        )
    )


def session_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Native session windows → (user_id, start_us, end_us, n_events,
    total_value) via ``F.session_window`` — the streaming-compatible
    twin of sessions.session_stats (which builds the same gap sessions
    from lag/flag/running-sum).  Spark's session end is last event + gap
    (the window stays open one gap past the last event); the gate's
    oracle derives the identical sessions from the INDEPENDENT lag
    construction, so the two implementations cross-check each other.

    Scale shape: one shuffle on the key; Spark merges overlapping
    per-event [t, t+gap) intervals inside the aggregation — no window
    function pass, works unchanged under Structured Streaming with a
    watermark.
    """
    return (
        events.withColumn("_val", F.col(value_col).cast("decimal(18,2)"))
        .groupBy(
            F.col(key),
            F.session_window(F.col(ts_col).cast("timestamp"), gap).alias("__w"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_val").cast("double").alias("total_value"),
        )
        .select(
            key,
            F.unix_micros(F.col("__w.start")).alias("start_us"),
            F.unix_micros(F.col("__w.end")).alias("end_us"),
            "n_events",
            "total_value",
        )
    )


def comention_burst_profile(
    transcripts: DataFrame,
    mention_pattern: str | None = None,
    bucket_s: int = 3600,
    trail_buckets: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Turn-level co-mention burst detection → (source, target,
    hour_epoch, cnt, trail_sum, is_burst).

    The KG's temporal health telemetry at TURN granularity (edge_time_
    ranges / kg_asof work at conversation granularity — the finest unit
    whose timestamps survive chunk assembly; this op reads the raw turns
    directly, so sudden co-mention spikes inside long-running
    conversations are visible).  Every unordered pair of distinct
    entity mentions within one turn is an occurrence; occurrences bucket
    by ``bucket_s`` seconds of the turn timestamp, and a bucket is a
    BURST iff its count reaches ``min_count`` and exceeds 2x the trailing
    mean over the previous ``trail_buckets`` buckets — evaluated in
    exact integers as ``trail_buckets*cnt > 2*trail_sum`` (a pair's first
    active bucket has trail_sum 0 and is a novelty burst when it clears
    min_count).

    Scale shape: mention extraction is a native regexp over the turn
    scan (no Python), the per-turn pair explode is bounded by mentions-
    per-turn squared (single-digit), the (pair, bucket) count is a
    map-side-combinable aggregate, and the trailing frame is a RANGE
    window partitioned by pair — never global, and pair x bucket
    cardinality is already the aggregate's output, not the corpus.
    """
    from .extract import MENTION_PATTERN

    pat = mention_pattern or MENTION_PATTERN
    # pairs within one turn: no synthetic turn id, no self-join — the
    # per-row mention array double-explodes into its ordered pairs
    pairs = transcripts.select(
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
        F.array_distinct(
            F.regexp_extract_all("text", F.lit(pat), F.lit(0))
        ).alias("ms"),
    )
    exploded = (
        pairs.select("ep", F.explode("ms").alias("ma"), "ms")
        .select("ep", "ma", F.explode("ms").alias("mb"))
        .filter(F.col("ma") < F.col("mb"))
    )
    counts = (
        exploded.select(
            F.col("ma").alias("source"),
            F.col("mb").alias("target"),
            # floor-to-bucket in pure int64 (ep - pmod = floor multiple):
            # no float division, and exact on pre-1970 (negative) epochs
            # where DuckDB's truncating // would disagree with floor
            (F.col("ep") - F.pmod(F.col("ep"), F.lit(bucket_s)))
            .cast("bigint")
            .alias("hour_epoch"),
        )
        .groupBy("source", "target", "hour_epoch")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = (
        Window.partitionBy("source", "target")
        .orderBy("hour_epoch")
        .rangeBetween(-trail_buckets * bucket_s, -bucket_s)
    )
    return counts.select(
        "source",
        "target",
        "hour_epoch",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint").alias("trail_sum"),
        (
            (F.col("cnt") >= min_count)
            & (
                F.lit(trail_buckets) * F.col("cnt")
                > F.lit(2) * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            )
        ).alias("is_burst"),
    )


def edge_recency_weights(
    edge_times: DataFrame, bucket_sec: int = 86400, max_buckets: int = 20
) -> DataFrame:
    """Exponential recency decay over the KG's temporal edge lineage →
    (source, target, last_seen_epoch, age_buckets, decay_micro,
    support_decayed_micro).

    Half-life = one ``bucket_sec`` bucket: decay_micro =
    1000000 DIV 2^age_buckets (0 past ``max_buckets`` — 2^20 > 1e6, so
    the cap changes nothing numerically, it just keeps the shift inside
    int64); support_decayed_micro = n_convs · decay_micro, the
    recency-weighted assertion count.  Pure integer arithmetic both
    engines (epoch seconds, floor division, bigint shift).

    The freshness re-ranker for KG reads: a 100-TB transcript corpus
    spans years, and an edge asserted daily last week should outrank one
    asserted once in 2019 even at lower raw weight.  t_max comes from the
    edge table itself (max last_seen) so the op is deterministic given
    its input — no wall-clock dependence to break resume/oracle parity.

    Scale shape: one 1-row max aggregate broadcast onto the edge table
    (BroadcastNestedLoopJoin on a scalar — the hits_int pattern), then
    row-local Column algebra.  No shuffle beyond the aggregate.

    Reference anchor: the reference keeps no temporal metadata at all
    (graph rows carry only source_id provenance, index/operate.py) —
    this is the freshness layer a trillion-turn KG needs.
    """
    et = edge_times.select(
        "source",
        "target",
        F.col("last_seen_epoch").cast("bigint").alias("last_seen_epoch"),
        F.col("n_convs").cast("bigint").alias("n_convs"),
    )
    tmax = et.agg(F.max("last_seen_epoch").alias("t_max"))
    # DIV keeps the bucket index in integer arithmetic end-to-end
    age = F.expr(f"(t_max - last_seen_epoch) DIV {int(bucket_sec)}").cast("bigint")
    decay = F.when(age >= max_buckets, F.lit(0).cast("bigint")).otherwise(
        F.expr(
            "CAST(1000000 AS BIGINT) DIV shiftleft(CAST(1 AS BIGINT), "
            "CAST(age_buckets AS INT))"
        )
    )
    return (
        et.join(F.broadcast(tmax))
        .withColumn("age_buckets", age)
        .withColumn("decay_micro", decay)
        .select(
            "source",
            "target",
            "last_seen_epoch",
            "age_buckets",
            "decay_micro",
            (F.col("n_convs") * F.col("decay_micro"))
            .cast("bigint")
            .alias("support_decayed_micro"),
        )
    )


def lateness_profile(transcripts: DataFrame) -> DataFrame:
    """Event-time lateness audit per conversation → (conv_id, n_turns,
    n_late, max_late_us, total_late_us).

    The watermark-sizing telemetry every streaming deployment needs
    BEFORE picking ``withWatermark`` delays: treating (conv_id, turn_idx)
    as arrival order — the order the transcript log appends — a turn is
    LATE when its event time precedes the running maximum of the turns
    that arrived before it, and its lateness is that deficit in exact
    int64 epoch-microseconds.  max_late_us over the corpus is the
    smallest watermark delay that drops nothing; the n_late/n_turns
    ratio says how much state a too-tight delay would discard.  (The
    streaming sessionizers in streaming/ consume exactly this shape.)

    Scale shape: one conv-keyed window (running max over prior rows —
    partitioned, never global) + one map-side-combinable groupBy.
    """
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = t.withColumn(
        "late_us",
        F.greatest(
            F.lit(0).cast("bigint"),
            # explicit coalesce: the first arrival has no prior max (NULL) —
            # don't lean on engine-specific greatest() NULL semantics
            F.coalesce(
                F.max("ts_us").over(w) - F.col("ts_us"), F.lit(0).cast("bigint")
            ),
        ),
    )
    return late.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.sum((F.col("late_us") > 0).cast("bigint")).cast("bigint").alias("n_late"),
        F.max("late_us").cast("bigint").alias("max_late_us"),
        F.sum("late_us").cast("bigint").alias("total_late_us"),
    )


def kg_version_diff(
    old: DataFrame,
    new: DataFrame,
    src: str = "source",
    dst: str = "target",
    weight: str = "weight",
) -> DataFrame:
    """Edge-level diff between two KG versions → (source, target, w_old,
    w_new, delta, status ∈ added|removed|changed|same).

    The CDC-companion audit: given two committed edge tables (two
    ``edges__v{k}`` versions, an as-of snapshot vs the current graph, a
    pre- vs post-retraction state), report exactly which relationships
    appeared, vanished, or changed co-occurrence weight: the row-level
    account a takedown review or extraction-regression triage actually
    reads.

    Scale shape: ONE full-outer shuffle join on the edge key — both
    sides hash-partition on (source, target), so the join co-locates;
    no window, no collect.  Weights compare as their exact stored
    doubles (the KG's are integral sums of 1.0s, so equality is safe;
    mirrored by the oracle).  Reference anchor: the reference rebuilds
    its graph per run and keeps no version history (utils/graph.py
    68-115) — versioned diffing is what the Spark-side CDC sink adds.
    """
    o = old.select(
        F.col(src).alias("source"),
        F.col(dst).alias("target"),
        F.col(weight).cast("double").alias("w_old"),
    )
    n = new.select(
        F.col(src).alias("source"),
        F.col(dst).alias("target"),
        F.col(weight).cast("double").alias("w_new"),
    )
    j = o.join(n, ["source", "target"], "full_outer")
    status = (
        F.when(F.col("w_old").isNull(), F.lit("added"))
        .when(F.col("w_new").isNull(), F.lit("removed"))
        .when(F.col("w_old") != F.col("w_new"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.select(
        "source",
        "target",
        "w_old",
        "w_new",
        (F.coalesce("w_new", F.lit(0.0)) - F.coalesce("w_old", F.lit(0.0))).alias(
            "delta"
        ),
        status.alias("status"),
    )


def entity_lifecycle(
    transcripts: DataFrame,
    mention_pattern: str | None = None,
    bucket_s: int = 3600,
) -> DataFrame:
    """Per-entity temporal lifecycle → (title, first_seen, last_seen,
    span_s, n_turns, n_convs, n_active_buckets), epochs as exact int64.

    The NODE-level companion of ``edge_time_ranges`` (per-edge) and
    ``comention_burst_profile`` (per-pair): when did each entity enter
    the corpus, when was it last asserted, across how many
    conversations, and over how many distinct ``bucket_s``-second
    activity buckets — the staleness/coverage readout behind
    ``edge_recency_weights``'s decay and the retention review a
    multi-year transcript KG runs ("entities unseen for N months").
    Reads raw turns directly (turn timestamps survive; chunk assembly
    keeps only conversation granularity).

    Scale shape: mention extraction is a native regexp over the turn
    scan (no Python), one explode bounded by mentions-per-turn, then the
    classic exact-distinct aggregate: Expand (3× map-side — one branch
    per distinct column + one for the plain aggs) feeding TWO partial-
    aggregated shuffles (dedupe the (title, conv/bucket) keys, then the
    per-title fold) — the plan Spark uses for multiple exact
    count-distincts in one groupBy; both exchanges combine map-side, so
    hot entities ship per-partition partials, never raw occurrence rows.
    No window, no collect.  Reference anchor: the reference keeps no
    timestamps at all on its graph (utils/graph.py merges drop source
    ts); temporal lineage is what the Spark rebuild adds.
    """
    from .extract import MENTION_PATTERN

    pat = mention_pattern or MENTION_PATTERN
    m = transcripts.select(
        "conv_id",
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
        F.explode(
            F.array_distinct(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
        ).alias("title"),
    )
    bucket = F.expr(f"ep - ((ep % {bucket_s} + {bucket_s}) % {bucket_s})")
    return (
        m.withColumn("bucket", bucket)
        .groupBy("title")
        .agg(
            F.min("ep").alias("first_seen"),
            F.max("ep").alias("last_seen"),
            F.count("*").cast("bigint").alias("n_turns"),
            F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
            F.countDistinct("bucket").cast("bigint").alias("n_active_buckets"),
        )
        .select(
            "title",
            "first_seen",
            "last_seen",
            (F.col("last_seen") - F.col("first_seen")).cast("bigint").alias("span_s"),
            "n_turns",
            "n_convs",
            "n_active_buckets",
        )
    )
