"""Time-series extension: as-of attribution over the events stream.

The brief's canonical example of an operator Spark lacks natively:
the backward as-of join (``functions.asof``).  Registered here as a
concrete attribution query — each purchase event attributed to the
same user's latest click at-or-before it — with DuckDB's NATIVE
``ASOF JOIN`` as the oracle twin, so the union-and-carry Spark
formulation is checked against a genuinely independent engine
implementation of the same semantics.

Timestamps are carried as epoch-nanosecond BIGINTs end to end (the
``conformed.model`` convention: the testdata's TIMESTAMP(NANOS)
parquet reads as raw nanos via ``nanosAsLong``, and integer epochs
make both engines agree regardless of session timezone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from astra_perseverance_spark.conformed.model import _read, memo_value
from astra_perseverance_spark.functions.asof import asof_backward


def _serving_bucketed_events(spark: SparkSession) -> bool:
    """True iff the session serves the durable user_id-bucketed events
    table — THE one definition of the predicate, shared by
    ``_events_ns`` (which table to read) and ``_events_by_user``
    (whether a clustering repartition is redundant), so the two can
    never drift (ADVICE r15: a drift would silently add a redundant
    exchange to a bucketed read, or skip clustering a raw one)."""
    from astra_perseverance_spark.extensions.corpus import bucketed_db

    db = bucketed_db()
    return bool(db) and spark.catalog.tableExists(f"{db}.events")


def _events_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, user_id, event_type, ns): the events table with the
    timestamp as epoch nanos BIGINT — same type-branching as
    ``conformed.model.build_gc_event`` (nanos / instant / ntz).

    With the bucketed warehouse opt-in (``corpus.BUCKETED_DB_ENV``
    naming a database holding ``sinks.warehouse.write_bucketed_events``
    output) the user_id-bucketed table is read instead: the scan is
    already hash-clustered on user_id, so every
    ``Window.partitionBy("user_id")`` in this family plans with NO
    Exchange (gated in ``tests/test_warehouse.py``).  Falls through
    to raw parquet when the database has no events table (a
    corpus-only warehouse)."""
    from astra_perseverance_spark.extensions.corpus import bucketed_db

    if _serving_bucketed_events(spark):
        return spark.table(f"{bucketed_db()}.events").select(
            "event_id", "user_id", "event_type", "ns")
    raw = _read(spark, sf_dir, "events")
    ts_type = dict(raw.dtypes).get("ts", "")
    if ts_type in ("bigint", "long"):
        ns = F.col("ts")
    elif ts_type == "timestamp":
        ns = F.expr("unix_micros(ts)") * 1000
    else:  # timestamp_ntz — keep full microsecond precision
        ns = F.expr(
            "timestampdiff(MICROSECOND,"
            " to_timestamp_ntz('1970-01-01 00:00:00'),"
            " cast(ts as timestamp_ntz))"
        ).cast("long") * 1_000
    return raw.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        ns.cast("long").alias("ns"),
    )


# Scale-adaptive clustering width for the whole-user WINDOW consumers
# (optimization r15, same rule as ``corpus.cluster_width``): the
# sessionize/funnel windows exchange on user_id and AQE then coalesces
# that exchange by BYTES (events rows are ~40 B, so a bench-scale
# stream coalesces to 1–2 partitions and the three window passes run
# nearly single-threaded — measured 0.8 s → 0.43 s at sf0.1 with the
# width floored by ROWS instead).  At production scale ``n/target``
# exceeds the core count and the width grows linearly with the
# stream, like every other clustered frame.  Applied ONLY to the
# single-scan window consumers (sessionize ×2, funnel): the planned
# repartition there IS the window's one exchange at an explicit
# width.  The as-of family keeps the plain frame — its union-and-
# carry reads events through TWO filtered branches, and a base-frame
# repartition would double the scan-side exchanges at scale; the
# groupBy consumers (``user_skew_audit``) also keep the plain frame
# so partial aggregation keeps collapsing rows BEFORE their shuffle
# (measured slower with the pre-shuffle clustering).
EVENTS_MIN_ROWS_ENV = "SPARK_GRAFT_EVENTS_MIN_ROWS"
EVENTS_TARGET_ROWS_ENV = "SPARK_GRAFT_EVENTS_TARGET_ROWS"
# 12.5k events floor a task (sweep over {4, 8, 16, 32} partitions at
# the 100k-event sf0.1 stream: width 8 best); 4M events ≈ 160 MB cap
# one.
EVENTS_MIN_ROWS = 12_500
EVENTS_TARGET_ROWS = 4_000_000

def n_events(spark: SparkSession, sf_dir: str) -> int:
    """Event row count — a driver scalar, memoized like ``corpus.n_docs``
    so consumers never re-run the count job."""
    return memo_value(spark, sf_dir, ("n_events",),
                      lambda: _events_ns(spark, sf_dir).count())


def _events_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_events_ns`` clustered by user_id INSIDE the consumer's plan
    — for the whole-user window pipelines (see the width note above).
    In bucketed-warehouse mode the table is already durably
    user_id-clustered and the frame passes through untouched (the
    zero-Exchange plans pinned in ``tests/test_warehouse.py``)."""
    import os

    from astra_perseverance_spark.extensions.corpus import cluster_width

    ev = _events_ns(spark, sf_dir)
    if _serving_bucketed_events(spark):
        return ev
    width = cluster_width(
        spark, n_events(spark, sf_dir),
        int(os.environ.get(EVENTS_MIN_ROWS_ENV) or 0) or EVENTS_MIN_ROWS,
        int(os.environ.get(EVENTS_TARGET_ROWS_ENV) or 0)
        or EVENTS_TARGET_ROWS)
    return ev.repartition(width, "user_id")


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase attribution: each purchase event joined
    as-of to the same user's latest click at-or-before it.

    Uses the union-and-carry as-of join (``functions.asof`` — one
    shuffle on user_id, a partition-local running carry, no range-
    join row explosion), the shape that survives a 100 TB event
    stream; the oracle twin is DuckDB's native ASOF JOIN.

    Output: event_id, user_id, purchase_ns, asof_ns (click time,
    NULL if the user never clicked before), asof_event_id, gap_ns."""
    return _click_purchase_asof(spark, sf_dir, tolerance=None)


def _click_purchase_asof(spark: SparkSession, sf_dir: str,
                         tolerance: int | None) -> DataFrame:
    """The one click->purchase attribution build shared by the
    unbounded (``q_events_asof``) and tolerance-capped
    (``q_events_asof_1h``) queries — the two differ ONLY in the
    ``tolerance=`` argument to ``asof_backward``."""
    ev = _events_ns(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ns").alias("purchase_ns"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ns", "event_id")
    joined = asof_backward(
        purchases, clicks,
        keys=["user_id"], left_ts="purchase_ns", right_ts="ns",
        payload=["event_id"], tolerance=tolerance,
    )
    return (
        joined.select(
            "event_id", "user_id", "purchase_ns",
            F.col("asof_ns"),
            F.col("asof_event_id"),
            (F.col("purchase_ns") - F.col("asof_ns")).alias("gap_ns"),
        )
        .orderBy("event_id")
    )


# Attribution window for the banded range join: clicks within this
# many nanoseconds at-or-before a purchase count toward it.
ATTR_WINDOW_NS = 3_600 * 1_000_000_000  # 1 hour


def q_events_asof_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded attribution: ``events_asof`` with the
    lookback capped at one hour — a click older than ATTR_WINDOW_NS
    no longer attributes the purchase (real campaigns cap the click
    window; the unbounded variant matches clicks from years back).

    Implementation is the SAME one-shuffle union-and-carry plan as
    ``events_asof`` plus a single ``when`` on the carried struct
    (``functions.asof`` ``tolerance=``) — the bound costs nothing at
    100 TB, unlike re-shaping the query as a range join.  Oracle:
    DuckDB native ASOF JOIN with the bound applied post-join, which
    is exactly the tolerance semantics (match-then-null, not
    match-next-older)."""
    return _click_purchase_asof(spark, sf_dir, tolerance=ATTR_WINDOW_NS)


def q_events_window_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed attribution — the RANGE-join sibling of
    ``events_asof``: for each purchase, how many clicks the same user
    made within the hour at-or-before it, and the newest such click.

    The scalable shape is the BANDED range join: time is bucketed at
    the window width, clicks join on (user_id, bucket), and each
    purchase probes exactly its own and the previous bucket — any
    click within range lives in one of the two — then the exact
    range predicate filters the band.  Work per purchase is bounded
    by the user's clicks in two buckets, never a corpus-wide
    inequality join; the equi-join keys keep Catalyst on hash joins
    (a raw ``BETWEEN`` join would plan as a nested-loop product).

    Output: event_id, user_id, purchase_ns, n_clicks_1h (0 when
    none), last_click_ns (NULL when none)."""
    ev = _events_ns(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ns").alias("purchase_ns"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ns").alias("click_ns"),
        (F.col("ns") - (F.col("ns") % ATTR_WINDOW_NS)).alias("bts"))
    probes = purchases.withColumn(
        "bts",
        F.explode(F.array(
            F.col("purchase_ns") - (F.col("purchase_ns") % ATTR_WINDOW_NS),
            F.col("purchase_ns") - (F.col("purchase_ns") % ATTR_WINDOW_NS)
            - ATTR_WINDOW_NS,
        )),
    )
    # LEFT band join + range predicate folded into the aggregates
    # (r15): the inner-join twin needed a second purchases scan and an
    # event_id-keyed join back just to restore zero-click purchases
    # (F5 — the rejoin rebuilt the purchases subtree).  A click lands
    # in exactly one bucket, so each (purchase, click-in-range) pair
    # still matches exactly once; unmatched probe rows aggregate to
    # (0, NULL), which is precisely what the rejoin's coalesce
    # produced.  One events pass fewer and one exchange fewer;
    # digest-identical at sf0.1, rows identical at sf0.001/sf0.01.
    in_range = (
        (F.col("click_ns") >= F.col("purchase_ns") - ATTR_WINDOW_NS)
        & (F.col("click_ns") <= F.col("purchase_ns"))
    )
    return (
        probes.join(clicks.hint("shuffle_hash"), ["user_id", "bts"],
                    "left")
        .groupBy("event_id", "user_id", "purchase_ns")
        .agg(
            F.count(F.when(in_range, F.lit(1)))
            .cast("long").alias("n_clicks_1h"),
            F.max(F.when(in_range, F.col("click_ns")))
            .alias("last_click_ns"),
        )
        .select("event_id", "user_id", "purchase_ns", "n_clicks_1h",
                "last_click_ns")
        .orderBy("event_id")
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: for each
    user with at least one view, the EARLIEST view, the earliest
    click at-or-after it, and the earliest purchase at-or-after that
    click — the classic product-analytics funnel, where a step only
    counts if it happens after the previous step completed.

    Plan: ONE shuffle on user_id, then three whole-partition window
    aggregates computed in sequence (each step's conditional MIN can
    reference the previous step's column because the window is the
    whole user partition) and a user-grain dedup that reuses the same
    clustering — no self-joins, no per-step re-shuffle, no range
    join.  A naive formulation is three chained as-of joins (three
    shuffles); the single-exchange form is what survives a 100 TB
    event stream.

    Output: user_id, view_ns, click_ns, purchase_ns (NULL once the
    chain breaks), reached (1–3 = deepest step completed)."""
    ev = _events_by_user(spark, sf_dir)
    w = Window.partitionBy("user_id")
    t = F.col("event_type")
    staged = (
        ev.withColumn(
            "view_ns",
            F.min(F.when(t == "view", F.col("ns"))).over(w))
        .withColumn(
            "click_ns",
            F.min(F.when((t == "click")
                         & (F.col("ns") >= F.col("view_ns")),
                         F.col("ns"))).over(w))
        .withColumn(
            "purchase_ns",
            F.min(F.when((t == "purchase")
                         & (F.col("ns") >= F.col("click_ns")),
                         F.col("ns"))).over(w))
    )
    return (
        staged.filter(F.col("view_ns").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max("view_ns").alias("view_ns"),
            F.max("click_ns").alias("click_ns"),
            F.max("purchase_ns").alias("purchase_ns"),
        )
        .select(
            "user_id", "view_ns", "click_ns", "purchase_ns",
            (F.lit(1)
             + F.col("click_ns").isNotNull().cast("int")
             + F.col("purchase_ns").isNotNull().cast("int"))
            .cast("int").alias("reached"),
        )
        .orderBy("user_id")
    )


# Sessionization inactivity gap: two events of the same user more
# than this far apart start a new session.
SESSION_GAP_NS = 1_800 * 1_000_000_000  # 30 minutes


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization of the events stream: per user,
    consecutive events closer than ``SESSION_GAP_NS`` belong to one
    session (the standard 30-minute web-analytics rule).  The batch
    twin of the streaming ``gc_sessions`` shape, but SQL-expressible
    and therefore under the hard oracle gate.

    Plan: the lag-flag-cumsum idiom — ONE shuffle on user_id, then
    three partition-local window passes (previous timestamp → new-
    session flag → running flag sum = session index) and a session-
    grain aggregate that reuses the same (user_id) clustering; no
    self-joins, no range comparisons.  Ties at equal ns are ordered
    by event_id (total order → deterministic session boundaries).

    Output: user_id, session_idx (0-based per user), start_ns,
    end_ns, n_events, duration_ns."""
    return _sessionize(_events_by_user(spark, sf_dir))


def _sessionize(ev: DataFrame) -> DataFrame:
    """Gap-based sessionization of an (event_id, user_id, ns) frame —
    the lag-flag-cumsum pipeline shared by ``q_events_sessionize``
    and its whale-capped variant."""
    w = Window.partitionBy("user_id").orderBy("ns", "event_id")
    sessions = (
        ev.withColumn("_prev", F.lag("ns").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | (F.col("ns") - F.col("_prev") > SESSION_GAP_NS),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_idx",
            (F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ) - 1).cast("long"),
        )
    )
    return (
        sessions.groupBy("user_id", "session_idx")
        .agg(
            F.min("ns").alias("start_ns"),
            F.max("ns").alias("end_ns"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            "user_id", "session_idx", "start_ns", "end_ns", "n_events",
            (F.col("end_ns") - F.col("start_ns")).alias("duration_ns"),
        )
        .orderBy("user_id", "session_idx")
    )


def q_events_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-next-error after each purchase: the FORWARD as-of join
    (``functions.asof.asof_forward``) — for each purchase, the
    earliest error event of the same user at-or-after it.  The
    operational twin of ``events_asof``'s backward attribution; same
    one-shuffle union-and-carry shape, walked in descending time.

    Output: event_id, user_id, purchase_ns, next_ns (NULL if the user
    never errors afterwards), next_event_id, wait_ns."""
    from astra_perseverance_spark.functions.asof import asof_forward

    ev = _events_ns(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ns").alias("purchase_ns"))
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ns", "event_id")
    joined = asof_forward(
        purchases, errors,
        keys=["user_id"], left_ts="purchase_ns", right_ts="ns",
        payload=["event_id"], prefix="next_",
    )
    return (
        joined.select(
            "event_id", "user_id", "purchase_ns",
            F.col("next_ns"),
            F.col("next_event_id"),
            (F.col("next_ns") - F.col("purchase_ns")).alias("wait_ns"),
        )
        .orderBy("event_id")
    )


# Heavy-hitter guard for the whole-user window families.  Every
# operator above that does Window.partitionBy("user_id")
# (sessionize, funnel, the as-of carry) must by construction sort one
# user's whole event history inside one task — AQE skew-join splitting
# does not apply to window functions, so a power-law "whale" user
# (one bot with 10^9 events) is a straggler or an OOM no in-plan
# trick can fix.  The mitigation is therefore UPSTREAM and explicit:
# q_user_skew_audit detects whales (registered, oracle-checked), and
# cap_user_events deterministically downsamples users over the cap
# before the window families run.  Default cap chosen so one user's
# partition stays comfortably inside an executor task at 100 TB
# (10M events x ~50 B ≈ 500 MB sorted spill-free).
USER_EVENT_CAP = 10_000_000
SKEW_TOP_K = 10


def q_user_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-user (whale) audit over the events stream: the top-10
    heaviest users by event count, each against the global per-user
    count distribution (p50/p99 by the repo's exact nearest-rank
    half-even pick, max, and the max/p99 skew ratio).  A skew_ratio
    in the hundreds means the whole-user window families
    (``q_events_sessionize``/``q_events_funnel``/``functions.asof``)
    have a straggler partition — feed the listed user_ids to
    ``cap_user_events`` or a quarantine list.

    Plan: per-user counts are ONE shuffle with map-side partial
    aggregation (the whale itself collapses on the map side, so the
    audit never suffers the skew it measures); the percentile is read
    off the counts-of-counts histogram (the ``gc_percentiles``
    pattern — a running sum over a tiny value-histogram, no global
    sort of the user grain); the top-10 is ``orderBy().limit()`` =
    TakeOrderedAndProject, distributed; the final rank is a window
    over exactly 10 rows.

    Output: rank, user_id, n_events, share (of all events), p50_n,
    p99_n, max_n, skew_ratio (max_n/p99_n)."""
    from astra_perseverance_spark.functions.percentiles import (
        nearest_rank_1based,
    )

    cnt = (
        _events_ns(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    hist = cnt.groupBy("n_events").agg(
        F.count("*").cast("long").alias("n_users_at"))
    # tiny frame (distinct count values), single-partition window OK.
    # The totals ride the SAME histogram frame as two whole-frame
    # window sums (r15: a separate `cnt.agg(...)` totals branch was a
    # third full events pass — plans don't share common subtrees, F5;
    # n_users = Σ n_users_at, total_events = Σ n·n_users_at, both
    # exact over the bounded histogram, results digest-identical).
    wall = Window.orderBy("n_events").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = (
        hist.withColumn("cum", F.sum("n_users_at").over(wall))
        .withColumn("n_users", F.sum("n_users_at").over(wtot))
        .withColumn("total_events",
                    F.sum(F.col("n_events") * F.col("n_users_at"))
                    .over(wtot).cast("long"))
    )
    n_users = F.col("n_users")
    stats = cum.agg(
        F.max("n_users").alias("n_users"),
        F.max("total_events").alias("total_events"),
        F.max("n_events").alias("max_n"),
        F.min(F.when(
            F.col("cum") >= nearest_rank_1based(n_users, 50),
            F.col("n_events"))).alias("p50_n"),
        F.min(F.when(
            F.col("cum") >= nearest_rank_1based(n_users, 99),
            F.col("n_events"))).alias("p99_n"),
    )
    top = (
        cnt.orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(SKEW_TOP_K)  # TakeOrderedAndProject — no global window
    )
    wr = Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (
        top.withColumn("rank", F.row_number().over(wr).cast("int"))
        .crossJoin(F.broadcast(stats))
        .select(
            "rank", "user_id", "n_events",
            (F.col("n_events").cast("double")
             / F.col("total_events")).alias("share"),
            "p50_n", "p99_n", "max_n",
            (F.col("max_n").cast("double")
             / F.col("p99_n")).alias("skew_ratio"),
        )
        .orderBy("rank")
    )


def cap_user_events(ev: DataFrame, cap: int = USER_EVENT_CAP) -> DataFrame:
    """Deterministic whale downsample: users with more than ``cap``
    events keep a uniform hash-selected ~``cap``-event subset; all
    other users pass through untouched.

    Selection is ``h15(event_id) % ceil(n/cap) == 0`` — a pure
    function of the row, so re-runs, retries and AQE re-plans keep
    the identical subset, and no per-user ORDER is ever computed (a
    first-N-by-time truncation would itself need the whale sorted in
    one task, the exact operation being guarded).  The hash is the
    repo's cross-engine ``texthash.h15`` (md5-prefix, the
    ``corpus_sample`` pattern) and the stride is an exact integer
    ceiling division, so the DuckDB oracle twin of
    ``q_events_sessionize_capped`` reproduces the identical subset.
    Sampling, not truncation, is deliberate: it preserves the
    event-rate *shape* for bot-grade users while bounding every
    downstream ``Window.partitionBy(user_id)`` partition at ~``cap``
    rows.  Semantics for capped users are approximate by declaration
    — the audit query names them so pipelines can quarantine
    instead."""
    from astra_perseverance_spark.functions.texthash import h15

    cnt = ev.groupBy("user_id").agg(F.count("*").alias("_n"))
    # exact BIGINT ceil-div (F.ceil of a double quotient drifts past
    # 2^53; both engines share this integer form)
    stride = F.expr(f"(_n + {cap} - 1) div {cap}").cast("long")
    whales = cnt.filter(F.col("_n") > cap).select(
        "user_id", stride.alias("_stride"))
    return (
        ev.join(F.broadcast(whales), "user_id", "left")
        .filter(
            F.col("_stride").isNull()
            | (F.pmod(h15(F.col("event_id").cast("string")),
                      F.col("_stride")) == 0)
        )
        .select(*ev.columns)  # restore caller's column order
    )


# Demonstration cap for the REGISTERED capped-sessionize variant: the
# production guard (USER_EVENT_CAP = 10M) never triggers on the test
# corpora (per-user max ≈ 100), so the registered query runs the
# guard with a cap the fixtures actually exceed — the oracle then
# checks real capped-mode semantics, not a pass-through.
SESSION_CAP_DEMO = 50


def q_events_sessionize_capped(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Whale-guarded sessionization: ``cap_user_events`` composed
    with the ``q_events_sessionize`` pipeline — the form a 100-TB
    deployment actually runs, where one bot-grade user would
    otherwise be a straggler partition inside every
    ``Window.partitionBy(user_id)`` (see the heavy-hitter guard
    note above ``USER_EVENT_CAP``).  Registered with
    ``SESSION_CAP_DEMO`` so the cap path is oracle-exercised at test
    scale; production composes the same two functions with the 10M
    default.

    Same output schema as ``events_sessionize``; capped users'
    sessions are computed over their hash-selected subset (declared
    approximate — fewer events, possibly different gap boundaries),
    uncapped users' sessions are identical to the plain query."""
    return _sessionize(
        cap_user_events(_events_by_user(spark, sf_dir), cap=SESSION_CAP_DEMO))
