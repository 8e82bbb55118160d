"""Event-stream operators over the `events` table: tumbling-window
aggregation and gap-based sessionization.

Batch forms are pure built-in expressions with exact SQL oracles; the
streaming form (Structured Streaming with watermark + window) shares the
same aggregation expression and is exercised in tests via a file source -
the reference itself is batch-only (SURVEY.md §2.9), so streaming is an
additive capability, not a parity surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ntz_epoch_us(col) -> Column:
    """TZ-proof epoch microseconds of a TIMESTAMP_NTZ wall time —
    pure calendar-field extraction (datediff + hour/minute +
    fractional-second date_part), so the result is identical under ANY
    session timezone. ``unix_micros(cast(x AS timestamp_ltz))`` is NOT:
    for an NTZ input the cast interprets the wall time in the SESSION
    zone, shifting every epoch by the zone offset (reproduced: -5h
    under America/New_York — the round-4 driver-only hash-red
    mechanism for absolute-time surfaces). Equals DuckDB's
    ``epoch_us(ts)`` on the same naive timestamp, bit-exactly."""
    c = col if isinstance(col, Column) else F.col(col)
    day = F.datediff(c.cast("date"),
                     F.lit("1970-01-01").cast("date")).cast("long")
    mins = (F.hour(c) * 3600 + F.minute(c) * 60).cast("long")
    # date_part SECOND on NTZ is DECIMAL(8,6) incl. the micro fraction
    frac = (F.date_part(F.lit("SECOND"), c) * 1000000).cast("long")
    return day * F.lit(86400000000).cast("long") + mins * 1000000 + frac


def windowed_counts(events: DataFrame, minutes: int = 60) -> DataFrame:
    """(window_start, event_type, n_events, total_value) per tumbling
    window."""
    w = F.window("ts", f"{minutes} minutes")
    return (events.groupBy(w.alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "total_value"))


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the previous
    event is more than ``gap_minutes`` older. Returns one row per session
    (user_id, session_id, session_start, n_events)."""
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # epoch seconds; works for both TIMESTAMP and TIMESTAMP_NTZ columns
    # (session timezone is pinned to UTC in session.py so NTZ == instant)
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp_ltz"))
    gap = epoch - F.lag(epoch).over(by_user)
    tagged = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0))
    numbered = tagged.withColumn(
        "session_id", F.sum("new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)))
    return (numbered.groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.count(F.lit(1)).alias("n_events")))


def streaming_sessionize(stream: DataFrame,
                         gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): the
    streaming twin of ``sessionize``.

    Per-user state carries the open session (first-event timestamp in
    microseconds, last-event second, event count). A session CLOSES - and
    is emitted - when a later event arrives more than ``gap_minutes``
    after the previous one; the still-open session stays in state (a
    deployment would add an event-time timeout to flush it; tests close
    the tail with a far-future sentinel event per user). Gap comparison
    uses floor'd epoch seconds, matching the batch operator's
    ``unix_timestamp`` semantics so both twins cut sessions identically.

    ORDERED-SOURCE REQUIREMENT: events must arrive time-ordered ACROSS
    micro-batches per user (each trigger only sorts within its own
    batch). An event older than the user's last seen timestamp in a later
    trigger would split or corrupt a session silently - this operator has
    no watermark to reorder it. That is the contract of the replay/log
    sources it targets (file drops of time-partitioned data, Kafka with
    event-time = append order); for out-of-order sources, add a watermark
    + EventTimeTimeout variant and buffer per-user events in state until
    the watermark passes them.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap = gap_minutes * 60
    out_schema = ("user_id long, session_start timestamp, n_events long")
    state_schema = "start_us long, last_sec long, n long"

    def fn(key, pdfs, state):
        import pandas as pd
        if state.exists:
            start_us, last_sec, n = state.get
        else:
            start_us, last_sec, n = None, None, 0
        closed_starts, closed_counts = [], []
        for pdf in pdfs:
            order = ["ts", "event_id"] if "event_id" in pdf.columns else ["ts"]
            for t in pdf.sort_values(order)["ts"]:
                us = t.value // 1_000          # pandas ns -> microseconds
                sec = us // 1_000_000
                if start_us is None:
                    start_us, last_sec, n = us, sec, 1
                elif sec - last_sec > gap:
                    closed_starts.append(start_us)
                    closed_counts.append(n)
                    start_us, last_sec, n = us, sec, 1
                else:
                    last_sec = sec
                    n += 1
        state.update((start_us, last_sec, n))
        if closed_starts:
            yield pd.DataFrame(
                {"user_id": key[0],
                 "session_start": pd.to_datetime(closed_starts, unit="us"),
                 "n_events": closed_counts})

    stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)


def streaming_windowed_counts(stream: DataFrame, minutes: int = 60,
                              watermark: str = "2 hours") -> DataFrame:
    """Structured-Streaming twin of windowed_counts (watermarked).

    Watermarks require an instant (TIMESTAMP) event-time column; NTZ inputs
    are reinterpreted in the session timezone (pinned to UTC)."""
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", f"{minutes} minutes").alias("w"),
                     "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events"))


def streaming_sessionize_event_time(stream: DataFrame,
                                    gap_minutes: int = 30,
                                    watermark: str = "2 hours") -> DataFrame:
    """Out-of-order-tolerant sessionizer: watermark + EventTimeTimeout.

    Unlike ``streaming_sessionize`` (which requires time-ordered arrival
    across micro-batches), this variant BUFFERS each user's event
    timestamps in state and only finalizes a session once the watermark
    has passed its close condition: a session ending at L is emitted when
    watermark > L + gap, because any event that could still attach would
    need ts <= L + gap < watermark, which the watermark contract rules
    out. Events later than their batch but within the watermark delay
    therefore land in the right session; events older than the current
    watermark are dropped INSIDE the operator (Spark does not filter
    late rows for arbitrary stateful operators the way it does for
    windowed aggregations - verified by test; the drop is the standard
    trade and keeps finalized sessions immutable).

    Tail sessions flush WITHOUT sentinels: after each invocation the
    group arms an event-time timeout at (last_event + gap); when the
    watermark passes it with no new events, the timed-out callback emits
    the remaining sessions. State is O(events within the watermark
    horizon) per user - bounded by gap+delay, the canonical shape for
    this operator class.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap = gap_minutes * 60
    out_schema = "user_id long, session_start timestamp, n_events long"
    state_schema = "buf array<long>"

    def _sessions(buf):
        """sorted event times (us) -> [(start_us, last_sec, n), ...]"""
        out = []
        start_us = last_sec = n = None
        for us in buf:
            sec = us // 1_000_000
            if start_us is None:
                start_us, last_sec, n = us, sec, 1
            elif sec - last_sec > gap:
                out.append((start_us, last_sec, n))
                start_us, last_sec, n = us, sec, 1
            else:
                last_sec, n = sec, n + 1
        if start_us is not None:
            out.append((start_us, last_sec, n))
        return out

    def fn(key, pdfs, state):
        import pandas as pd
        buf = list(state.get[0]) if state.exists else []
        wm_us_floor = (state.getCurrentWatermarkMs() // 1000) * 1_000_000
        for pdf in pdfs:
            # drop events at/below the watermark: their session horizon is
            # already finalized; admitting them would mutate emitted output
            buf.extend(us for us in
                       (int(t.value) // 1_000 for t in pdf["ts"])
                       if us >= wm_us_floor)
        buf.sort()
        wm_sec = state.getCurrentWatermarkMs() // 1000
        closed, keep = [], []
        for start_us, last_sec, n in _sessions(buf):
            if wm_sec > last_sec + gap:
                closed.append((start_us, n))
            else:
                keep.extend(u for u in buf
                            if u >= start_us)  # first kept session onward
                break
        if keep:
            state.update((keep,))
            # flush when the watermark passes the last buffered event +
            # gap (must exceed the current watermark by contract)
            timeout_ms = max((keep[-1] // 1000) + (gap + 1) * 1000,
                             state.getCurrentWatermarkMs() + 1000)
            state.setTimeoutTimestamp(timeout_ms)
        else:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {"user_id": key[0],
                 "session_start": pd.to_datetime([c[0] for c in closed],
                                                 unit="us"),
                 "n_events": [c[1] for c in closed]})

    stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return (stream.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.EventTimeTimeout))


def asof_join(left: DataFrame, right: DataFrame, on: str,
              ts_col: str = "ts", right_cols: list | None = None,
              prefix: str = "asof_",
              tolerance_seconds: float | None = None,
              direction: str = "backward") -> DataFrame:
    """As-of join: enrich each left row with the LATEST right row whose
    ``ts_col`` <= the left row's (``direction="backward"``, default) or
    the EARLIEST right row whose ``ts_col`` >= the left row's
    (``direction="forward"`` - next-event lookup: time-to-response,
    next-quote fills), per ``on`` key - the point-in-time lookup Spark
    has no native operator for (feature stores, attribution,
    slowly-changing-dimension reads).

    The forward variant is the same single-shuffle union+window plan
    scanned in DESCENDING timestamp order (right rows still sort first
    at equal timestamps, keeping the bound inclusive); with a
    tolerance it bounds how far AHEAD the match may be.

    NOT implemented as a range join (whose candidate space is
    |left| x |right rows in range| and explodes on hot keys). Instead
    the classic union trick: tag both sides, union, and carry the last
    right-side payload forward with one running ``last(ignorenulls)``
    window per key - ONE shuffle total (the window's hashpartitioning
    on the key), cost O((|L|+|R|) log window) with no pair blowup. Right
    rows sort before left rows at equal timestamps, giving inclusive
    (<=) semantics - the same as DuckDB's ASOF JOIN, which the SQL
    oracle uses as an independent formulation.

    The right payload rides as ONE struct so all its fields come from
    the SAME matched row (per-column last() could mix rows when a
    right column is null). ``tolerance_seconds`` nullifies matches
    older than the bound (pandas merge_asof semantics). Unmatched left
    rows keep null payload (left-join semantics)."""
    right_cols = right_cols or [
        c for c in right.columns if c not in (on, ts_col)]
    rpay = F.struct(F.col(ts_col).alias("_rts"),
                    *[F.col(c) for c in right_cols])
    rpay_type = right.select(rpay.alias("_r")).schema["_r"].dataType
    lrow = F.struct(*[F.col(c) for c in left.columns])
    lrow_type = left.select(lrow.alias("_l")).schema["_l"].dataType

    lu = left.select(F.col(on).alias("_k"), F.col(ts_col).alias("_ts"),
                     F.lit(1).alias("_side"), lrow.alias("_lrow"),
                     F.lit(None).cast(rpay_type).alias("_rpay"))
    ru = right.select(F.col(on).alias("_k"), F.col(ts_col).alias("_ts"),
                      F.lit(0).alias("_side"),
                      F.lit(None).cast(lrow_type).alias("_lrow"),
                      rpay.alias("_rpay"))
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    order_ts = (F.col("_ts").asc() if direction == "backward"
                else F.col("_ts").desc())
    w = (Window.partitionBy("_k").orderBy(order_ts, F.col("_side").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = (lu.unionByName(ru)
               .withColumn("_m", F.last("_rpay", ignorenulls=True).over(w))
               .filter(F.col("_side") == 1))
    if tolerance_seconds is not None:
        # cast handles TIMESTAMP_NTZ columns (unix_micros rejects them);
        # build_session pins the session zone to UTC so the cast is an
        # exact epoch read, and the DIFFERENCE is offset-invariant anyway
        gap = (F.unix_micros(F.col("_ts").cast("timestamp"))
               - F.unix_micros(F.col("_m._rts").cast("timestamp")))
        if direction == "forward":
            gap = -gap
        in_tol = gap <= int(tolerance_seconds * 1_000_000)
        carried = carried.withColumn(
            "_m", F.when(in_tol, F.col("_m")))
    out = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    out.append(F.col("_m._rts").alias(f"{prefix}{ts_col}"))
    out += [F.col(f"_m.{c}").alias(f"{prefix}{c}") for c in right_cols]
    return carried.select(*out)


def interval_join_bucketed(points: DataFrame, intervals: DataFrame,
                           on: str = "user_id", ts_col: str = "ts",
                           start_col: str = "start", end_col: str = "end",
                           bucket_minutes: int = 10) -> DataFrame:
    """Range/interval join: every (point, interval) pair with the same
    ``on`` key and ``start <= ts < end`` - sessions-to-events
    attribution, outage-window blame, feature windows.

    A naive inequality join degenerates to a per-key nested loop
    (BroadcastNestedLoop or a storm of post-filtered pairs on hot
    keys). This is the standard bucketed decomposition instead: each
    interval is exploded to the time buckets it overlaps (map-side
    ``sequence`` explode, bounded by interval length / bucket width),
    each point gets its single bucket, and the join becomes an
    EQUI-join on (key, bucket) + a residual range filter - hash/sort
    -merge joinable, AQE-splittable, and candidate count proportional
    to genuinely co-bucketed rows rather than |points| x |intervals
    per key|. Choose ``bucket_minutes`` near the typical interval
    length: one bucket-row per interval, a handful at worst."""
    step = bucket_minutes * 60
    pb = points.withColumn(
        "_bucket", F.floor(F.unix_micros(F.col(ts_col).cast("timestamp"))
                           / (step * 1_000_000)))
    ib = intervals.withColumn("_bucket", F.explode(F.sequence(
        F.floor(F.unix_micros(F.col(start_col).cast("timestamp"))
                / (step * 1_000_000)),
        F.floor(F.unix_micros(F.col(end_col).cast("timestamp"))
                / (step * 1_000_000)))))
    return (pb.join(ib, [on, "_bucket"])
            .filter((F.col(ts_col) >= F.col(start_col))
                    & (F.col(ts_col) < F.col(end_col)))
            .drop("_bucket"))


def window_anomalies(events: DataFrame, minutes: int = 60,
                     z_threshold: float = 3.0) -> DataFrame:
    """Volume-anomaly detection over tumbling event-time windows:
    per (event_type, window) the count, the type's global mean/stddev
    of per-window counts, the z-score, and the anomaly flag
    |z| >= ``z_threshold``. The standard ops/abuse dashboard primitive
    (crawler traps, bot bursts, a source going dark all surface here
    first).

    Two partial-agged aggregations, no window function: window counts
    (groupBy type+bucket), then per-type moments (groupBy type) joined
    back on the type key - a small dimension by construction, but left
    to AQE rather than broadcast-hinted (type cardinality is data-
    dependent). Population stddev via the E[x^2]-E[x]^2 identity with
    both moments rounded at the END only; windows with zero events do
    NOT exist as rows (the tumbling-window semantic of
    ``windowed_counts``), so moments are over OBSERVED windows -
    documented contract, matched by the oracle."""
    sec = minutes * 60
    # TZ-proof tumbling bucket from the NTZ wall time (ntz_epoch_us):
    # unix_timestamp(ts) interprets an NTZ column in the SESSION zone,
    # shifting every bucket boundary with the timezone (the round-5
    # full-registry sweep caught exactly this here). All-integer:
    # us - us % window is divisible by 1e6, so the /1e6 is exact.
    us = ntz_epoch_us("ts")
    wus = F.lit(sec * 1000000).cast("long")
    bucket = ((us - us % wus) / F.lit(1000000)).cast("long")
    wc = (events.select("event_type", bucket.alias("win_start"))
          .groupBy("event_type", "win_start")
          .agg(F.count(F.lit(1)).alias("n")))
    mom = wc.groupBy("event_type").agg(
        F.avg("n").alias("mu"),
        (F.avg(F.col("n") * F.col("n"))
         - F.avg("n") * F.avg("n")).alias("var"))
    z = F.when(F.col("var") > 0,
               (F.col("n") - F.col("mu")) / F.sqrt("var")) \
        .otherwise(F.lit(0.0))
    return (wc.join(mom, "event_type")
            .select("event_type", "win_start", "n",
                    F.round("mu", 6).alias("mean_n"),
                    F.round(F.when(F.col("var") > 0, F.sqrt("var"))
                            .otherwise(F.lit(0.0)), 6).alias("std_n"),
                    F.round(z, 6).alias("z"),
                    (F.abs(z) >= z_threshold).alias("anomaly")))


def funnel(events: DataFrame, steps=("view", "click", "purchase"),
           user_col: str = "user_id", type_col: str = "event_type",
           ts_col: str = "ts") -> DataFrame:
    """Ordered funnel analysis: per user the EARLIEST time each step
    completed, where step i+1 must occur STRICTLY AFTER step i's
    completion -> (user, t1..tN, stage). The product-analytics staple
    (signup -> activation -> purchase) and, on a crawl pipeline, the
    page-lifecycle funnel (discovered -> fetched -> extracted).

    Shape: one groupBy for step 1, then per later step ONE user-keyed
    join back to the events (filtered to that step's type - the filter
    prunes before the shuffle) + one partial-agged min. All joins share
    the user-hash partitioning, so AQE/ReuseExchange keep the chain to
    one physical Exchange per step; no window over a user's whole
    history, no collect of per-user event arrays (a hot user costs one
    aggregation buffer, not a sort). stage = number of steps completed
    (monotone by construction: t_{i+1} exists only if t_i does)."""
    u, ty, ts = F.col(user_col), F.col(type_col), F.col(ts_col)
    out = events.groupBy(user_col).agg(
        F.min(F.when(ty == steps[0], ts)).alias("t1"))
    for i, s in enumerate(steps[1:], start=2):
        prev = f"t{i - 1}"
        nxt = (events.filter(ty == s)
               .join(out.select(user_col, prev), user_col)
               .filter(ts > F.col(prev))
               .groupBy(user_col).agg(F.min(ts).alias(f"t{i}")))
        out = out.join(nxt, user_col, "left")
    stage = F.when(F.col(f"t{len(steps)}").isNotNull(), len(steps))
    for i in range(len(steps) - 1, 0, -1):      # deepest step wins
        stage = stage.when(F.col(f"t{i}").isNotNull(), i)
    return out.withColumn("stage", stage.otherwise(0).cast("long"))


def streaming_funnel(stream: DataFrame,
                     steps=("view", "click", "purchase"),
                     user_col: str = "user_id", type_col: str = "event_type",
                     ts_col: str = "ts") -> DataFrame:
    """Streaming twin of ``funnel`` (applyInPandasWithState): per-user
    state carries the earliest completion time of each step; a row
    (user, stage, t1..t3) is emitted whenever the user's stage ADVANCES
    within a trigger - funnel progression is monotone, so every emitted
    row is final for its stage and the user's LATEST row is the current
    funnel position (the batch-equivalence test takes exactly that).

    Same ORDERED-SOURCE contract as ``streaming_sessionize``: events
    must arrive time-ordered across triggers per user (each trigger
    sorts only within its batch); an out-of-order deployment buffers
    under a watermark first. Exactly three steps (state schema is
    fixed-arity)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if len(steps) != 3:
        raise ValueError("streaming_funnel supports exactly 3 steps")
    out_schema = (f"{user_col} long, stage long, t1 timestamp, "
                  "t2 timestamp, t3 timestamp")
    state_schema = "t1_us long, t2_us long, t3_us long"

    def fn(key, pdfs, state):
        import pandas as pd
        t = list(state.get) if state.exists else [None, None, None]

        def stage():
            return (3 if t[2] is not None else
                    2 if t[1] is not None else
                    1 if t[0] is not None else 0)

        before = stage()
        emitted = []
        for pdf in pdfs:
            order = [ts_col, type_col]
            for _, row in pdf.sort_values(order).iterrows():
                us = row[ts_col].value // 1_000
                ty = row[type_col]
                if ty == steps[0] and t[0] is None:
                    t[0] = us
                elif (ty == steps[1] and t[1] is None
                      and t[0] is not None and us > t[0]):
                    t[1] = us
                elif (ty == steps[2] and t[2] is None
                      and t[1] is not None and us > t[1]):
                    t[2] = us
                if stage() > before:
                    before = stage()
                    emitted.append((before, list(t)))
        state.update(tuple(t))
        if emitted:
            yield pd.DataFrame(
                {user_col: key[0],
                 "stage": [e[0] for e in emitted],
                 "t1": pd.to_datetime([e[1][0] for e in emitted],
                                      unit="us"),
                 "t2": pd.to_datetime([e[1][1] for e in emitted],
                                      unit="us"),
                 "t3": pd.to_datetime([e[1][2] for e in emitted],
                                      unit="us")})

    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
    return stream.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)


def cohort_retention(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts", days: int = 7) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    period (tumbling ``days``-day buckets), counted in every later
    period they return -> (cohort_start, period_offset, n_users). The
    standard growth/engagement table, and on a crawl corpus the
    re-crawl freshness matrix (hosts first seen in week W that were
    seen again k weeks later).

    Three partial-agged aggregations, no window: per-user first event
    (groupBy user), distinct (user, period) activity (groupBy both -
    dedup and count compose map-side), then the matrix rollup after a
    user-keyed join. offset is integer periods since the user's cohort
    period; offset 0 row = cohort size."""
    sec = days * 86400
    bucket = (F.floor(F.unix_timestamp(ts_col) / sec) * sec).cast("long")
    firsts = (events.select(F.col(user_col).alias("u"),
                            bucket.alias("p"))
              .groupBy("u").agg(F.min("p").alias("cohort_start")))
    active = (events.select(F.col(user_col).alias("u"), bucket.alias("p"))
              .distinct())
    return (active.join(firsts, "u")
            .select("cohort_start",
                    ((F.col("p") - F.col("cohort_start")) / sec)
                    .cast("long").alias("period_offset"))
            .groupBy("cohort_start", "period_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


def streaming_window_anomalies(counts: DataFrame,
                               z_threshold: float = 3.0) -> DataFrame:
    """ONLINE volume-anomaly detection over a stream of per-window
    counts (the output shape of ``streaming_windowed_counts``):
    per event_type, Welford running moments score each arriving window
    against the moments of the windows seen BEFORE it (prequential
    semantics - the honest online rule: a window cannot absolve itself
    by inflating the variance it is judged with). Emits (event_type,
    window_start, n, z, anomaly); the first two windows of a type carry
    z = 0 (no variance estimate yet).

    This is deliberately NOT batch-equivalent to ``window_anomalies``
    (which scores against GLOBAL moments a batch can see all of): online
    monitoring only ever has the past. State per type = three floats
    (count, mean, M2) at ANY history length - the bounded-state
    companion to the batch op's two-pass exactness. Same ordered-source
    contract as the other NoTimeout operators (windows arrive in
    event-time order per type; the upstream windowed aggregation's
    watermark provides exactly that)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("event_type string, window_start timestamp, n long, "
                  "z double, anomaly boolean")
    state_schema = "cnt long, mean double, m2 double"

    def fn(key, pdfs, state):
        import math

        import pandas as pd
        cnt, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        ws, ns, zs, flags = [], [], [], []
        for pdf in pdfs:
            for _, row in pdf.sort_values("window_start").iterrows():
                x = float(row["n"])
                if cnt >= 2 and m2 > 0:
                    sd = math.sqrt(m2 / cnt)      # population, like batch
                    z = (x - mean) / sd
                else:
                    z = 0.0
                ws.append(row["window_start"])
                ns.append(int(x))
                zs.append(round(z, 6))
                flags.append(abs(z) >= z_threshold)
                cnt += 1                           # Welford update AFTER
                d = x - mean
                mean += d / cnt
                m2 += d * (x - mean)
        state.update((cnt, mean, m2))
        if ws:
            yield pd.DataFrame({"event_type": key[0], "window_start": ws,
                                "n": ns, "z": zs, "anomaly": flags})

    return counts.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)


def scd2_history(events: DataFrame, key_col: str = "user_id",
                 attr_col: str = "event_type", ts_col: str = "ts",
                 id_col: str = "event_id") -> DataFrame:
    """Slowly-changing-dimension type-2 build from an event/snapshot
    stream: one row per (key, attribute-version) with
    [valid_from, valid_to) validity, version number, and an is_current
    flag. A new version opens whenever ``attr_col`` differs from the
    previous row's value (per key, ordered by (ts, id) - the id
    tie-break makes the ordering total, so the output is deterministic
    under any partitioning).

    Scale shape: two windows over the SAME (key, ts, id) ordering - one
    to tag change rows, one to close them with lead() - so Catalyst
    plans a single Exchange on key_col and sorts once. No global sort,
    no join; the classic MERGE-free SCD2 derivation a warehouse
    backfill runs over 100 TB of CDC events.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    prev = F.lag(attr_col).over(w)
    changes = (events
               .withColumn("_chg", prev.isNull()
                           | (F.col(attr_col) != prev))
               .filter(F.col("_chg"))
               .select(key_col, F.col(attr_col).alias("attr_value"),
                       F.col(ts_col).alias("valid_from"),
                       F.col(id_col).alias("_id")))
    w2 = Window.partitionBy(key_col).orderBy("valid_from", "_id")
    return (changes
            .withColumn("valid_to", F.lead("valid_from").over(w2))
            .withColumn("version", F.row_number().over(w2))
            .withColumn("is_current", F.col("valid_to").isNull())
            .drop("_id"))


# Allen's interval algebra (Allen 1983, CACM 26(11)): the 13 exhaustive,
# mutually exclusive relations between two intervals. CATENA's TLINK
# vocabulary (BEFORE/AFTER/INCLUDES/IS_INCLUDED/SIMULTANEOUS/...,
# /root/reference/src/catena/model/CandidateLinks.java) is a coarsening
# of exactly this algebra, so the KG pipeline gets the full-resolution
# operator as a first-class relational primitive.
_ALLEN_CASES = (
    # (name, predicate builder) - evaluated IN ORDER on both engines;
    # point intervals (start == end) make some guards overlap, so the
    # fixed evaluation order IS the semantics.
    ("equals", lambda s1, e1, s2, e2: (s1 == s2) & (e1 == e2)),
    ("starts", lambda s1, e1, s2, e2: (s1 == s2) & (e1 < e2)),
    ("started_by", lambda s1, e1, s2, e2: (s1 == s2) & (e1 > e2)),
    ("finishes", lambda s1, e1, s2, e2: (e1 == e2) & (s1 > s2)),
    ("finished_by", lambda s1, e1, s2, e2: (e1 == e2) & (s1 < s2)),
    ("meets", lambda s1, e1, s2, e2: e1 == s2),
    ("met_by", lambda s1, e1, s2, e2: s1 == e2),
    ("before", lambda s1, e1, s2, e2: e1 < s2),
    ("after", lambda s1, e1, s2, e2: s1 > e2),
    ("overlaps", lambda s1, e1, s2, e2: (s1 < s2) & (e1 > s2) & (e1 < e2)),
    ("overlapped_by",
     lambda s1, e1, s2, e2: (s2 < s1) & (e2 > s1) & (e2 < e1)),
    ("during", lambda s1, e1, s2, e2: (s1 > s2) & (e1 < e2)),
    ("contains", lambda s1, e1, s2, e2: (s1 < s2) & (e1 > e2)),
)


def allen_relations(intervals: DataFrame, key_col: str = "user_id",
                    id_col: str = "interval_id",
                    start_col: str = "start_ts",
                    end_col: str = "end_ts") -> DataFrame:
    """Pairwise Allen-interval-algebra relations between intervals that
    share a key. For every pair (a, b) with a.id < b.id the relation of
    a RELATIVE TO b is emitted (the < ordering halves the join and the
    13-relation vocabulary covers both directions, so no information is
    lost).

    Scale shape: a key-equi self-join - one Exchange on key_col, and
    the pair fan-out per key is C(n_intervals_per_key, 2), bounded
    when intervals are per-(key, category) rollups (the driver query
    rolls events up to one interval per (user, event_type) first).
    The classifier is a chained CASE, pure codegen.
    """
    a = intervals.select(F.col(key_col).alias("k"),
                         F.col(id_col).alias("id_a"),
                         F.col(start_col).alias("s1"),
                         F.col(end_col).alias("e1"))
    b = intervals.select(F.col(key_col).alias("k"),
                         F.col(id_col).alias("id_b"),
                         F.col(start_col).alias("s2"),
                         F.col(end_col).alias("e2"))
    pairs = a.join(b, "k").filter(F.col("id_a") < F.col("id_b"))
    s1, e1 = F.col("s1"), F.col("e1")
    s2, e2 = F.col("s2"), F.col("e2")
    rel = F
    for name, pred in _ALLEN_CASES:
        rel = rel.when(pred(s1, e1, s2, e2), name) \
            if rel is not F else F.when(pred(s1, e1, s2, e2), name)
    return (pairs.select(F.col("k").alias(key_col), "id_a", "id_b",
                         rel.alias("relation")))


def interval_enrich(left: DataFrame, right: DataFrame,
                    on: str = "user_id", minutes: int = 30,
                    watermark: str = "1 hour") -> DataFrame:
    """Stream-stream interval enrichment: every right-side event that
    follows a left-side event by the same key within ``minutes`` -
    impression->click attribution, request->error correlation. Works on
    BOTH streaming and static frames (``withWatermark`` is a documented
    no-op in batch), so the batch run of the identical expression is
    the streaming run's equivalence oracle.

    Under readStream this is Spark's watermarked stream-stream inner
    join: both sides buffer state only inside the watermark+bound
    horizon - left rows are evicted once the right watermark passes
    ``l_ts + minutes``, so state is bounded by (event rate x horizon)
    regardless of total stream length, the property that makes the join
    runnable forever at ingest scale. The time-range predicate is what
    enables that eviction: an unconstrained stream-stream join would
    have to buffer both streams in full.

    Returns (on, l_id, l_type, l_ts, r_id, r_type, r_ts)."""
    # event time MUST be TIMESTAMP (ltz) — streaming watermarks reject
    # NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). For an NTZ input the
    # cast interprets the wall time in the SESSION zone; the join's
    # interval arithmetic is shift-invariant (both sides move
    # together), but the emitted l_ts/r_ts are session-zone instants:
    # callers needing a TZ-proof surface cast them back to
    # timestamp_ntz (exact wall-time round trip within one session)
    l = (left.select(F.col(on).alias("k"),
                     F.col("event_id").alias("l_id"),
                     F.col("event_type").alias("l_type"),
                     F.col("ts").cast("timestamp_ltz").alias("l_ts"))
         .withWatermark("l_ts", watermark))
    r = (right.select(F.col(on).alias("rk"),
                      F.col("event_id").alias("r_id"),
                      F.col("event_type").alias("r_type"),
                      F.col("ts").cast("timestamp_ltz").alias("r_ts"))
         .withWatermark("r_ts", watermark))
    cond = ((l["k"] == r["rk"])
            & (r["r_ts"] >= l["l_ts"])
            & (r["r_ts"] <= l["l_ts"] + F.expr(
                f"INTERVAL {int(minutes)} MINUTES")))
    return (l.join(r, cond, "inner")
            .select(F.col("k").alias(on), "l_id", "l_type", "l_ts",
                    "r_id", "r_type", "r_ts"))


def cusum_alarms(series: DataFrame, key_col: str, order_col: str,
                 value_col: str, target_col: str, slack: int = 0,
                 threshold: int = 8) -> DataFrame:
    """Upper-sided CUSUM change detection (Page 1954) over per-key
    ordered series -> (key, order, value, cusum, alarm).

    s_t = max(0, s_{t-1} + (x_t - target - slack)); alarm when
    s_t >= threshold. The recursion is NOT computed recursively: the
    clipped sum has the closed form s_t = P_t - min(0, min_{j<=t} P_j)
    with P = running sum of the drifts, so the whole detector is two
    stacked cumulative windows per key - one Exchange on key, no
    mapInPandas, no iteration, and exact INTEGER arithmetic throughout
    (value/target/slack/threshold are integers by contract - counts,
    cents, ppm - so the alarm boundary is engine-deterministic).

    The complementary lower-sided detector is the same identity on
    negated drifts. CATENA has no counterpart; this is the
    volume-regression tripwire a 100-TB ingest pipeline points at
    per-source document counts (vs window_anomalies' z-scores, which
    grade each window against global moments rather than tracking
    small persistent shifts)."""
    d = (F.col(value_col).cast("long") - F.col(target_col).cast("long")
         - F.lit(int(slack)))
    w = (Window.partitionBy(key_col).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (series
           .withColumn("_p", F.sum(d).over(w))
           .withColumn("_pmin", F.min("_p").over(w))
           .withColumn("cusum",
                       (F.col("_p") - F.least(F.lit(0), F.col("_pmin")))
                       .cast("long"))
           .withColumn("alarm", F.col("cusum") >= int(threshold)))
    return out.drop("_p", "_pmin")


def session_transitions(events: DataFrame, user_col: str = "user_id",
                        ts_col: str = "ts", type_col: str = "event_type",
                        tie_col: str = "event_id") -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams -> (src, dst, n, p): the empirical next-action model
    behind clickstream analysis, funnel design, and next-event
    prediction baselines.

    One window (lead over user-partitioned, ts-then-tie ordered
    streams - the tie column pins ordering when timestamps collide)
    and one partial-agged groupBy. p = n / row-total of exact integer
    counts, a single division rounded 6dp - no float accumulation."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tie_col)
    pairs = (events
             .withColumn("_dst", F.lead(type_col).over(w))
             .filter(F.col("_dst").isNotNull())
             .select(F.col(type_col).alias("src"),
                     F.col("_dst").alias("dst")))
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    tot = Window.partitionBy("src")
    return counts.withColumn(
        "p", F.round(F.col("n").cast("double")
                     / F.sum("n").over(tot).cast("double"), 6))


def streaming_cusum_alarms(counts: DataFrame, slack: int = 0,
                           threshold: int = 8) -> DataFrame:
    """ONLINE CUSUM over a stream of per-(event_type, window) counts
    (the ``streaming_windowed_counts`` output shape plus a ``target``
    column) -> (event_type, window_start, n, cusum, alarm).

    State per key is TWO integers - the running drift prefix sum and
    its running minimum - because the batch closed form
    s_t = P_t - min(0, min P_j) is itself incremental; unlike the
    prequential z-score op above, this detector is EXACTLY
    batch-equivalent to ``cusum_alarms`` (integer arithmetic, no
    moments), which the tests assert. Same ordered-source contract as
    the other NoTimeout operators (windows arrive in event-time order
    per key)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("event_type string, window_start timestamp, n long, "
                  "cusum long, alarm boolean")
    state_schema = "p long, pmin long"
    sl, th = int(slack), int(threshold)

    def fn(key, pdfs, state):
        import pandas as pd
        p, pmin = state.get if state.exists else (0, 0)
        ws, ns, cs, flags = [], [], [], []
        for pdf in pdfs:
            for _, row in pdf.sort_values("window_start").iterrows():
                p += int(row["n"]) - int(row["target"]) - sl
                pmin = min(pmin, p)
                s = p - pmin
                ws.append(row["window_start"])
                ns.append(int(row["n"]))
                cs.append(s)
                flags.append(s >= th)
        state.update((p, pmin))
        if ws:
            yield pd.DataFrame({"event_type": key[0], "window_start": ws,
                                "n": ns, "cusum": cs, "alarm": flags})

    return counts.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)


def mann_kendall(series: DataFrame, key_col: str, order_col: str,
                 value_col: str) -> DataFrame:
    """Mann–Kendall trend test per key over an ordered series ->
    (key, n, s, var18, z): the nonparametric "is this metric trending"
    gate for corpus telemetry (daily volume per source, weekly dup
    rate). S = sum over ordered pairs of sign(x_j - x_i) and the
    tie-corrected 18*Var(S) = n(n-1)(2n+5) - sum_t t(t-1)(2t+5) are
    EXACT integers; only the normal-approximation z-score
    (continuity-corrected (S -/+ 1)/sqrt(var), 0 when S = 0 or the
    variance is degenerate) is a per-row 6dp float over them.

    Scale shape: the pairwise S is a within-key equi-join (keyed, no
    cartesian) over the AGGREGATED series — n per key is bounded by
    the upstream rollup grain (days, weeks), not corpus size, the same
    bounded-series contract as ``cusum_alarms``; the tie correction is
    one extra per-(key, value) groupBy. Never feed raw event rows."""
    s = series.select(F.col(key_col).alias("key"),
                      F.col(order_col).cast("long").alias("o"),
                      F.col(value_col).cast("long").alias("x"))
    a = s.select("key", F.col("o").alias("oi"), F.col("x").alias("xi"))
    b = s.select("key", F.col("o").alias("oj"), F.col("x").alias("xj"))
    sign = (F.when(F.col("xj") > F.col("xi"), 1)
            .when(F.col("xj") < F.col("xi"), -1).otherwise(0))
    pairs = (a.join(b, "key").filter(F.col("oi") < F.col("oj"))
             .groupBy("key")
             .agg(F.sum(sign).cast("long").alias("s")))
    n = s.groupBy("key").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (s.groupBy("key", "x")
            .agg(F.count(F.lit(1)).cast("long").alias("t"))
            .groupBy("key")
            .agg(F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
                 .cast("long").alias("tie18")))
    out = (n.join(pairs, "key", "left").join(ties, "key")
           .select("key", "n",
                   F.coalesce("s", F.lit(0)).cast("long").alias("s"),
                   (F.expr("n * (n - 1) * (2 * n + 5)") - F.col("tie18"))
                   .cast("long").alias("var18")))
    z = (F.when((F.col("s") == 0) | (F.col("var18") <= 0), F.lit(0.0))
         .otherwise((F.col("s") - F.signum(F.col("s")))
                    / F.sqrt(F.col("var18") / F.lit(18.0))))
    return out.select("key", "n", "s", "var18",
                      F.round(z, 6).alias("z"))


def acf(series: DataFrame, key_col: str, order_col: str, value_col: str,
        max_lag: int = 5) -> DataFrame:
    """Autocorrelation function per key at lags 1..max_lag ->
    (key, lag, n, n_pairs, num, den, acf): seasonality/memory telemetry
    for per-source volume series (a weekly crawl cadence shows as a
    lag-7 spike). Uses the full-series mean in N-SCALED integer form:
    with integer values x and S = sum(x),

        num(k) = sum_t (n*x_t - S) * (n*x_{t+k} - S)   over valid t
        den    = sum_t (n*x_t - S)^2

    — both exact integers (engine-exact under the hash gate), and
    acf = num/den is the only float (6dp, per-row). Missing order
    points simply contribute no pair (the join is on order + lag, so
    gaps behave as series holes, not zeros).

    Scale shape: one per-key agg for (n, S) broadcast back, then ONE
    keyed equi-join on (key, o + lag = o) after a map-side explode of
    the 1..max_lag literal array — bounded series per key (the
    ``mann_kendall`` contract), no window, no cartesian."""
    s = series.select(F.col(key_col).alias("key"),
                      F.col(order_col).cast("long").alias("o"),
                      F.col(value_col).cast("long").alias("x"))
    tot = s.groupBy("key").agg(F.count(F.lit(1)).cast("long").alias("n"),
                               F.sum("x").cast("long").alias("ssum"))
    c = (s.join(F.broadcast(tot), "key")
         .select("key", "o", "n",
                 (F.col("n") * F.col("x") - F.col("ssum")).alias("cx")))
    den = c.groupBy("key").agg(
        F.sum(F.col("cx") * F.col("cx")).cast("long").alias("den"),
        F.max("n").cast("long").alias("n"))
    lags = F.explode(F.array(*[F.lit(k) for k in range(1, max_lag + 1)]))
    left = c.select("key", "o", F.col("cx").alias("cx_t")) \
        .withColumn("lag", lags) \
        .withColumn("o_j", F.col("o") + F.col("lag"))
    right = c.select("key", F.col("o").alias("o_j"),
                     F.col("cx").alias("cx_tk"))
    num = (left.join(right, ["key", "o_j"])
           .groupBy("key", "lag")
           .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.sum(F.col("cx_t") * F.col("cx_tk")).cast("long")
                .alias("num")))
    return (num.join(F.broadcast(den), "key")
            .select("key", F.col("lag").cast("int").alias("lag"), "n",
                    "n_pairs", "num", "den",
                    F.when(F.col("den") > 0,
                           F.round(F.col("num") / F.col("den"), 6))
                    .alias("acf")))


def linfit(series: DataFrame, key_col: str, order_col: str,
           value_col: str) -> DataFrame:
    """Per-key ordinary least squares over an ordered series ->
    (key, n, sx, sy, sxy, sx2, sy2, slope, intercept, r2): the effect-
    size companion of ``mann_kendall`` (MK says WHETHER a series
    trends; the fitted slope says how fast, r2 how linearly). All five
    moment sums are EXACT integers from one partial-agged groupBy;
    slope/intercept/r2 are per-row 6dp floats over them:

        slope = (n*sxy - sx*sy) / (n*sx2 - sx^2)
        intercept = (sy - slope*sx) / n
        r2 = (n*sxy - sx*sy)^2 / ((n*sx2 - sx^2) * (n*sy2 - sy^2))

    Degenerate keys (constant x, or n < 2) yield NULL slope/r2 via
    when() guards rather than an ANSI division error; constant y with
    varying x fits slope 0 with r2 NULL (zero variance to explain).

    Scale shape: ONE groupBy, no window, no join — works on raw rows
    at any cardinality (unlike the pairwise ``mann_kendall``, this
    needs no bounded-series contract)."""
    s = series.select(F.col(key_col).alias("key"),
                      F.col(order_col).cast("long").alias("x"),
                      F.col(value_col).cast("long").alias("y"))
    agg = s.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"))
    dx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(dx > 0, cov.cast("double") / dx.cast("double"))
    return agg.select(
        "key", "n", "sx", "sy", "sxy", "sx2", "sy2",
        F.round(slope, 6).alias("slope"),
        F.round(F.when(dx > 0,
                       (F.col("sy") - slope * F.col("sx"))
                       / F.col("n").cast("double")), 6).alias("intercept"),
        F.round(F.when((dx > 0) & (dy > 0),
                       cov.cast("double") * cov.cast("double")
                       / (dx.cast("double") * dy.cast("double"))), 6)
        .alias("r2"))


def holt_smooth(series: DataFrame, key_col: str, order_col: str,
                value_col: str, alpha_ppm: int = 300_000,
                beta_ppm: int = 100_000) -> DataFrame:
    """Holt double-exponential smoothing per key in EXACT integer
    micro-unit arithmetic -> (key, o, x, level_u, trend_u, forecast_u):
    the one-step-ahead volume forecaster (level + trend) whose residual
    against forecast_u is the alarm signal ``cusum_alarms`` then
    tracks. State lives in micro-units (1e6 x value) and every update
    is a FLOOR integer division, so the whole recursion is engine-
    deterministic — no float accumulates anywhere:

        L_t = (a*x_t*1e6 + (1e6-a)*(L_{t-1}+T_{t-1})) fdiv 1e6
        T_t = (b*(L_t - L_{t-1}) + (1e6-b)*T_{t-1})   fdiv 1e6

    with L_0 = x_0*1e6 and the standard first-difference trend init
    T_0 = (x_1-x_0)*1e6 (0 for a 1-point series); forecast_u =
    L_{t-1}+T_{t-1} (NULL on the first point). fdiv is FLOOR division
    on both engines — Python's native ``//`` here, and the oracle
    emulates it in SQL as (a - ((a%b+b)%b))/b because SQL's div/%
    truncate toward zero on negatives (trend terms go negative; a
    bare div twin diverges on the first downswing).

    Scale shape: the recursion is inherently sequential per key, so it
    runs as one applyInPandas over the AGGREGATED bounded series (the
    ``mann_kendall`` contract: days/weeks per key, never raw rows) —
    one Exchange on key, state O(1) per key."""
    a, b = int(alpha_ppm), int(beta_ppm)
    m = 1_000_000

    def fn(pdf):
        import pandas as pd
        pdf = pdf.sort_values("o").reset_index(drop=True)
        xs = [int(v) for v in pdf["x"]]
        lvl = xs[0] * m
        tr = (xs[1] - xs[0]) * m if len(xs) > 1 else 0
        levels, trends, fcasts = [lvl], [tr], [None]
        for x in xs[1:]:
            f = lvl + tr
            new_l = (a * x * m + (m - a) * f) // m
            tr = (b * (new_l - lvl) + (m - b) * tr) // m
            lvl = new_l
            levels.append(lvl)
            trends.append(tr)
            fcasts.append(f)
        return pd.DataFrame({"key": pdf["key"], "o": pdf["o"],
                             "x": pdf["x"], "level_u": levels,
                             "trend_u": trends,
                             "forecast_u": pd.array(fcasts,
                                                    dtype="Int64")})

    s = series.select(F.col(key_col).alias("key"),
                      F.col(order_col).cast("long").alias("o"),
                      F.col(value_col).cast("long").alias("x"))
    return s.groupBy("key").applyInPandas(
        fn, "key string, o long, x long, level_u long, trend_u long, "
            "forecast_u long")


def streaming_holt(series: DataFrame, alpha_ppm: int = 300_000,
                   beta_ppm: int = 100_000) -> DataFrame:
    """ONLINE Holt smoothing over a stream of per-key series points
    (key, o, x) — the stateful twin of ``holt_smooth``, and EXACTLY
    batch-equivalent (the recursion is pure integer arithmetic, so
    there is no moment drift to diverge on; the tests assert equality
    across a trigger boundary splitting one key's series).

    State per key is four integers (n_seen, first point, level_u,
    trend_u). The one semantic consequence of the batch init
    T_0 = (x_1 - x_0)*1e6 is that a key's FIRST row cannot be emitted
    until its second point arrives — a 1-point key stays pending in
    state (same trade as ``streaming_sessionize``'s open session;
    tests flush with a sentinel). Same ordered-source contract as the
    other NoTimeout operators (points arrive o-ordered per key across
    triggers)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    a, b = int(alpha_ppm), int(beta_ppm)
    m = 1_000_000
    out_schema = ("key string, o long, x long, level_u long, "
                  "trend_u long, forecast_u long")
    state_schema = "n long, o0 long, x0 long, level_u long, trend_u long"

    def fn(key, pdfs, state):
        import pandas as pd
        n, o0, x0, lvl, tr = (state.get if state.exists
                              else (0, None, None, None, None))
        out = {"o": [], "x": [], "level_u": [], "trend_u": [],
               "forecast_u": []}

        def emit(o, x, lv, t, f):
            out["o"].append(o)
            out["x"].append(x)
            out["level_u"].append(lv)
            out["trend_u"].append(t)
            out["forecast_u"].append(f)

        for pdf in pdfs:
            for _, row in pdf.sort_values("o").iterrows():
                o, x = int(row["o"]), int(row["x"])
                if n == 0:
                    o0, x0, n = o, x, 1
                    continue
                if n == 1:
                    lvl, tr = x0 * m, (x - x0) * m
                    emit(o0, x0, lvl, tr, None)
                f = lvl + tr
                new_l = (a * x * m + (m - a) * f) // m
                tr = (b * (new_l - lvl) + (m - b) * tr) // m
                lvl = new_l
                emit(o, x, lvl, tr, f)
                n += 1
        state.update((n, o0, x0, lvl, tr))
        if out["o"]:
            yield pd.DataFrame(
                {"key": key[0], "o": out["o"], "x": out["x"],
                 "level_u": out["level_u"], "trend_u": out["trend_u"],
                 "forecast_u": pd.array(out["forecast_u"],
                                        dtype="Int64")})

    return series.groupBy("key").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)


def attribution(events: DataFrame, conv_type: str = "purchase",
                touch_types: tuple = ("view", "click"),
                horizon_minutes: int = 120,
                user_col: str = "user_id", ts_col: str = "ts",
                type_col: str = "event_type",
                id_col: str = "event_id") -> DataFrame:
    """Multi-touch conversion attribution -> one row per (conversion,
    touch) pair within the lookback horizon: (conv_id, conv_ts,
    touch_id, touch_type, touch_ts, n_touches, first_ppm, last_ppm,
    linear_ppm). The product-analytics classic, and the labeled-pair
    generator for training conversion models off event logs.

    A touch attributes to a conversion when same user, touch_ts in
    [conv_ts - horizon, conv_ts). All three standard models ride one
    result in exact integer ppm: first/last give 1e6 to the earliest/
    latest touch (ties broken by the id column, deterministically);
    linear gives each of the k touches 1e6 div k with the REMAINDER
    (1e6 mod k) assigned to the last touch, so every conversion's
    weights sum to exactly 1e6 under the hash gate.

    Scale shape: the conversion->lookback-window pairing is the
    bucketed ``interval_join_bucketed`` equi-join (never a per-user
    nested loop), then one window partitioned by conversion ranks
    touches — cardinality bounded by touches-per-horizon, not corpus
    size."""
    convs = (events.filter(F.col(type_col) == conv_type)
             .select(F.col(user_col),
                     F.col(id_col).alias("conv_id"),
                     F.col(ts_col).alias("conv_ts"))
             .withColumn("start", F.col("conv_ts")
                         - F.expr(f"INTERVAL {int(horizon_minutes)} "
                                  "MINUTES"))
             .withColumnRenamed("conv_ts", "end"))
    touches = (events.filter(F.col(type_col).isin(*touch_types))
               .select(F.col(user_col), F.col(ts_col),
                       F.col(id_col).alias("touch_id"),
                       F.col(type_col).alias("touch_type")))
    paired = interval_join_bucketed(
        touches, convs, on=user_col, ts_col=ts_col,
        start_col="start", end_col="end",
        bucket_minutes=max(1, horizon_minutes // 4)) \
        .withColumnRenamed("end", "conv_ts")
    w = Window.partitionBy("conv_id")
    asc = w.orderBy(F.col(ts_col).asc(), F.col("touch_id").asc())
    ranked = (paired
              .withColumn("rk", F.row_number().over(asc))
              .withColumn("n_touches",
                          F.count(F.lit(1)).over(w).cast("long")))
    first_w = F.when(F.col("rk") == 1, F.lit(1_000_000)) \
        .otherwise(F.lit(0)).cast("long")
    last_w = F.when(F.col("rk") == F.col("n_touches"),
                    F.lit(1_000_000)).otherwise(F.lit(0)).cast("long")
    lin = F.expr("1000000 div n_touches") \
        + F.when(F.col("rk") == F.col("n_touches"),
                 F.expr("1000000 % n_touches")).otherwise(F.lit(0))
    return ranked.select(
        "conv_id", "conv_ts", "touch_id", "touch_type",
        F.col(ts_col).alias("touch_ts"), "n_touches",
        first_w.alias("first_ppm"), last_w.alias("last_ppm"),
        lin.cast("long").alias("linear_ppm"))


def seasonal_decompose(events: DataFrame, ts_col: str = "ts",
                       type_col: str = "event_type",
                       period: int = 7) -> DataFrame:
    """Classical multiplicative seasonal decomposition of the per-day
    event counts -> one row per (event_type, dow): the day-of-week
    seasonal index in exact integer ppm, plus the day count behind it.
    The ratio-to-moving-average method every ops dashboard uses
    ("Mondays run 18% hot"), in arithmetic both engines replay bit-
    for-bit: trend = centered ``period``-row sum over the per-type
    day series (only FULL windows count — edges yield no ratio), and
    ratio_ppm = (period * 1_000_000 * day_count) div trend_sum, so no
    float division ever happens; the per-dow index is the integer mean
    of its ratios. Day-of-week is epoch-day mod 7 (1970-01-01 = Thu =
    dow 0) — locale/engine-neutral, unlike dayofweek() whose origin
    differs per engine.

    The ROW frame runs over the *observed* consecutive days per type
    (a gap day is absent, not zero) — deterministic on both engines
    and the standard treatment for sparse series. Scale shape: one
    partial-agged groupBy to day grain (corpus-scale -> 365·k rows),
    then a window and a groupBy over statistic-scale data."""
    half = period // 2
    daily = (events.groupBy(F.col(type_col).alias("event_type"),
                            F.to_date(F.col(ts_col)).alias("day"))
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-half, half))
    t = (daily.withColumn("s", F.sum("cnt").over(w))
         .withColumn("k", F.count("cnt").over(w))
         .filter(F.col("k") == period))
    ratio = t.select(
        "event_type",
        (F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % period)
        .cast("long").alias("dow"),
        F.expr(f"({period} * 1000000 * cnt) div s").alias("ratio_ppm"))
    return (ratio.groupBy("event_type", "dow")
            .agg(F.expr("sum(ratio_ppm) div count(1)")
                 .alias("seasonal_ppm"),
                 F.count(F.lit(1)).cast("long").alias("n_days")))


def kaplan_meier(events: DataFrame, interest: str = "purchase",
                 ts_col: str = "ts", user_col: str = "user_id",
                 type_col: str = "event_type") -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-``interest`` per
    user -> one row per event time: (duration_min, n_risk, n_events,
    survival). Right-censoring done properly: a user who never fires
    the event of interest is censored at their LAST observed event
    (they contribute to the risk sets up to that point, then leave) —
    the estimator every retention/conversion analysis wants instead
    of the biased "% converted by day d over everyone".

    Arithmetic contract: durations are integer minutes (epoch-MICRO-
    second difference, integer div — unix_timestamp()/epoch() disagree
    on sub-second truncation across engines), risk/death counts are
    exact integers
    from ONE cumulative window in descending duration order (n_risk
    at t = subjects with duration >= t, so the cumsum needs no
    separate total), and the survival product is
    exp(sum over ln((n-d)/n)) rounded 6dp — sums of a handful of logs,
    the same determinism envelope as the pagerank/bm25 float gates.
    A time where the whole remaining risk set dies (n == d) pins the
    curve to exact 0.0 via a cumulative flag rather than feeding
    ln(0) to either engine.

    Scale shape: one groupBy to subjects (corpus-scale, partial-
    agged), one groupBy to distinct durations, then windows over the
    duration table only — statistic-scale (bounded by the time
    resolution, not the corpus)."""
    subj = _survival_subjects(events, interest, ts_col, user_col,
                              type_col).drop(user_col)
    times = (subj.groupBy("duration_min")
             .agg(F.sum("observed").cast("long").alias("d"),
                  F.count(F.lit(1)).cast("long").alias("c")))
    w_desc = (Window.orderBy(F.col("duration_min").desc())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    at_risk = times.withColumn("n_risk",
                               F.sum("c").over(w_desc).cast("long"))
    km = at_risk.filter(F.col("d") > 0)
    w_asc = (Window.orderBy("duration_min")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    dead = F.max((F.col("d") == F.col("n_risk")).cast("int")).over(w_asc)
    log_term = F.when(F.col("d") < F.col("n_risk"),
                      F.log((F.col("n_risk") - F.col("d"))
                            / F.col("n_risk"))).otherwise(F.lit(0.0))
    surv = F.when(dead == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(log_term).over(w_asc)), 6))
    return km.select(F.col("duration_min").cast("long"),
                     "n_risk", F.col("d").alias("n_events"),
                     surv.alias("survival"))


def _survival_subjects(events: DataFrame, interest: str, ts_col: str,
                       user_col: str, type_col: str) -> DataFrame:
    """Shared subject table for the survival estimators: one row per
    user with (user, duration_min, observed). Right-censoring and the
    integer-microsecond duration contract are exactly kaplan_meier's
    (see its docstring); factored out so Nelson-Aalen and the log-rank
    test cannot drift from the KM subject definition."""
    is_evt = F.col(type_col) == interest
    subj = (events.groupBy(user_col)
            .agg(F.min(ts_col).alias("t0"),
                 F.max(ts_col).alias("t_last"),
                 F.min(F.when(is_evt, F.col(ts_col))).alias("t_evt")))
    return subj.select(
        F.col(user_col),
        F.expr("(unix_micros(cast(coalesce(t_evt, t_last) as timestamp))"
               " - unix_micros(cast(t0 as timestamp))) div 60000000")
        .alias("duration_min"),
        F.col("t_evt").isNotNull().cast("long").alias("observed"))


def nelson_aalen(events: DataFrame, interest: str = "purchase",
                 ts_col: str = "ts", user_col: str = "user_id",
                 type_col: str = "event_type") -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator for time-to-first-
    ``interest`` per user -> (duration_min, n_risk, n_events,
    cumhaz_ppm): H(t) = sum over event times t_i <= t of d_i / n_i.
    The additive sibling of ``kaplan_meier`` — preferred when hazards
    are the modelling target (exp(-H) is an alternative survival
    estimate) and, here, the INTEGER-PURE member of the survival
    family: each per-time increment is (1_000_000 * d) div n_risk and
    the curve is a cumulative window sum of those exact integers, so
    the output is bit-identical across engines, libm builds, and
    partial-agg merge orders (no exp/ln anywhere, unlike KM's float
    survival column).

    Scale shape: identical to kaplan_meier — one corpus-scale groupBy
    to subjects, one to distinct durations, then windows over the
    statistic-scale duration table only."""
    subj = _survival_subjects(events, interest, ts_col, user_col,
                              type_col)
    times = (subj.groupBy("duration_min")
             .agg(F.sum("observed").cast("long").alias("d"),
                  F.count(F.lit(1)).cast("long").alias("c")))
    w_desc = (Window.orderBy(F.col("duration_min").desc())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    at_risk = times.withColumn("n_risk",
                               F.sum("c").over(w_desc).cast("long"))
    na = at_risk.filter(F.col("d") > 0)
    w_asc = (Window.orderBy("duration_min")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    inc = F.expr("(1000000 * d) div n_risk")
    return na.select(
        F.col("duration_min").cast("long"),
        "n_risk", F.col("d").alias("n_events"),
        F.sum(inc).over(w_asc).cast("long").alias("cumhaz_ppm"))


def logrank_test(events: DataFrame, interest: str = "purchase",
                 ts_col: str = "ts", user_col: str = "user_id",
                 type_col: str = "event_type") -> DataFrame:
    """Two-sample log-rank test (Mantel-Cox) comparing time-to-first-
    ``interest`` between arms user_id % 2 -> ONE row (n_times, o1,
    e1_micro, v_micro, z). At each pooled event time: observed arm-1
    deaths d1, expected E1 = d * n1 / n, variance
    V = d * (n1/n) * (1 - n1/n) * (n - d) / (n - 1); the test sums
    them over event times and z = (O1 - E1) / sqrt(V).

    Determinism contract: E1/V accumulate as LOCKSTEP integer
    micro-units — a = (1e6*d*n1) div n, b = (a*(n-n1)) div n,
    v = (b*(n-d)) div (n-1) — an identical div sequence on both
    engines (documented rather than exact-rational: it also bounds
    intermediates to ~1e16 at n ~ 1e5 subjects, where the exact
    single-fraction numerator would overflow 2^63). z is then a
    single-row float over those exact integers (no merge-order
    exposure), rounded 6dp.

    Scale shape: subjects groupBy (corpus-scale, partial-agged), a
    (duration, arm) groupBy, then windows over the statistic-scale
    pooled duration grid."""
    subj = _survival_subjects(events, interest, ts_col, user_col,
                              type_col)
    subj = subj.withColumn("arm",
                           (F.col(user_col) % 2 == 1).cast("int"))
    cell = (subj.groupBy("duration_min", "arm")
            .agg(F.sum("observed").cast("long").alias("da"),
                 F.count(F.lit(1)).cast("long").alias("ca")))
    per_t = (cell.groupBy("duration_min")
             .agg(F.sum(F.when(F.col("arm") == 1, F.col("da"))
                        .otherwise(F.lit(0))).alias("d1"),
                  F.sum("da").alias("d"),
                  F.sum(F.when(F.col("arm") == 1, F.col("ca"))
                        .otherwise(F.lit(0))).alias("c1"),
                  F.sum("ca").alias("c")))
    w_desc = (Window.orderBy(F.col("duration_min").desc())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = (per_t
            .withColumn("n1", F.sum("c1").over(w_desc).cast("long"))
            .withColumn("n", F.sum("c").over(w_desc).cast("long"))
            .filter(F.col("d") > 0))
    risk = risk.withColumn("a", F.expr("(1000000 * d * n1) div n"))
    risk = risk.withColumn("b", F.expr("(a * (n - n1)) div n"))
    risk = risk.withColumn(
        "v", F.when(F.col("n") > 1,
                    F.expr("(b * (n - d)) div (n - 1)"))
        .otherwise(F.lit(0)).cast("long"))
    agg = risk.agg(F.count(F.lit(1)).cast("long").alias("n_times"),
                   F.sum("d1").cast("long").alias("o1"),
                   F.sum("a").cast("long").alias("e1_micro"),
                   F.sum("v").cast("long").alias("v_micro"))
    z = F.when(F.col("v_micro") > 0,
               F.round((F.col("o1") - F.col("e1_micro") / 1e6)
                       / F.sqrt(F.col("v_micro") / 1e6), 6))
    return agg.select("n_times", "o1", "e1_micro", "v_micro",
                      z.alias("z"))


def theil_sen(series: DataFrame, key_col: str, order_col: str,
              value_col: str) -> DataFrame:
    """Theil-Sen robust trend per key -> (key, n_pairs, slope): the
    lower weighted median of all pairwise slopes
    (y_j - y_i) / (x_j - x_i), i < j — the estimator that shrugs off
    the outlier days OLS (``linfit``) gets dragged by; the robust
    companion to ``mann_kendall``'s trend TEST over the same
    within-key pair join. Slopes are 6dp-rounded BEFORE the median
    selection, so the pick (a min over the cumulative-weight window)
    lands on an identical grid on both engines — the ranked-float
    contract every ranked surface here uses.

    Pair volume is O(n_k^2) per key — the documented contract shared
    with mann_kendall: a per-key series is statistic-scale (days,
    windows), never corpus-scale; the join is a keyed equi-join on
    the key column, not a loop."""
    from .textstats import weighted_median
    a = series.select(F.col(key_col).alias("k"),
                      F.col(order_col).alias("x1"),
                      F.col(value_col).alias("y1"))
    b = series.select(F.col(key_col).alias("k"),
                      F.col(order_col).alias("x2"),
                      F.col(value_col).alias("y2"))
    pairs = (a.join(b, "k").filter(F.col("x1") < F.col("x2"))
             .select("k", F.round((F.col("y2") - F.col("y1"))
                                  / (F.col("x2") - F.col("x1")), 6)
                     .alias("slope6"),
                     F.lit(1).alias("one")))
    med = weighted_median(pairs, ["k"], "slope6", "one")
    return med.select(F.col("k").alias(key_col),
                      F.col("total_weight").alias("n_pairs"),
                      F.col("wmedian").alias("slope"))


def step_breakpoint(series: DataFrame, key_col: str, order_col: str,
                    value_col: str) -> DataFrame:
    """Single-breakpoint step-change detection per key -> (key, n,
    break_after, cost, mean_left, mean_right): the split of the
    ordered series into two segments of constant mean minimizing
    total SSE — "when did this metric change level", the first
    question after a drift alarm (CUSUM says THAT it moved; this says
    WHERE). SSE decomposes over prefix sums (cost(b) = S2L - SL^2/nL
    + S2R - SR^2/nR), so every candidate split is evaluated from ONE
    cumulative window pass — O(n) per key, not O(n^2). The argmin
    runs on the 6dp-rounded cost with the earlier split winning ties
    (the ranked-float contract).

    Keys with n < 2 emit no row (no split exists). Scale contract as
    the other series ops: per-key series are statistic-scale."""
    s = series.select(F.col(key_col).alias("k"),
                      F.col(order_col).alias("o"),
                      F.col(value_col).cast("double").alias("y"))
    w = (Window.partitionBy("k").orderBy("o")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = Window.partitionBy("k")
    pre = (s.withColumn("nl", F.count("y").over(w))
           .withColumn("sl", F.sum("y").over(w))
           .withColumn("s2l", F.sum(F.col("y") * F.col("y")).over(w))
           .withColumn("n", F.count("y").over(tot))
           .withColumn("st", F.sum("y").over(tot))
           .withColumn("s2t", F.sum(F.col("y") * F.col("y")).over(tot))
           .filter(F.col("nl") < F.col("n")))
    nr = F.col("n") - F.col("nl")
    sr = F.col("st") - F.col("sl")
    s2r = F.col("s2t") - F.col("s2l")
    cost = (F.col("s2l") - F.col("sl") * F.col("sl") / F.col("nl")
            + s2r - sr * sr / nr)
    cand = pre.select("k", "o", "n",
                      F.round(cost, 6).alias("cost"),
                      F.round(F.col("sl") / F.col("nl"), 6)
                      .alias("mean_left"),
                      F.round(sr / nr, 6).alias("mean_right"))
    pick = Window.partitionBy("k").orderBy("cost", "o")
    return (cand.withColumn("r", F.row_number().over(pick))
            .filter(F.col("r") == 1)
            .select(F.col("k").alias(key_col),
                    F.col("n").cast("long").alias("n"),
                    F.col("o").alias("break_after"),
                    "cost", "mean_left", "mean_right"))


def streaming_lateness(events: DataFrame) -> DataFrame:
    """ONLINE per-event lateness over a stream of (key, arr, ts_us)
    rows - EXACTLY batch-equivalent (the running max is pure integer state,
    so there is no moment drift): late_us = max event time seen so far
    for the key minus this event's time. The live feed for a watermark
    dashboard: it tracks whether the stream still fits the watermark.

    State per key is ONE integer (the running max). Same
    arrival-ordered contract as the other NoTimeout operators (rows
    arrive arr-ordered per key across triggers; within a batch the
    group is sorted)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "key long, arr long, late_us long"
    state_schema = "mx long"

    def fn(key, pdfs, state):
        import pandas as pd
        (mx,) = state.get if state.exists else (None,)
        out = {"arr": [], "late_us": []}
        for pdf in pdfs:
            for _, row in pdf.sort_values("arr").iterrows():
                arr, ts = int(row["arr"]), int(row["ts_us"])
                mx = ts if mx is None else max(mx, ts)
                out["arr"].append(arr)
                out["late_us"].append(mx - ts)
        state.update((mx,))
        if out["arr"]:
            yield pd.DataFrame({"key": key[0], "arr": out["arr"],
                                "late_us": out["late_us"]})

    return events.groupBy("key").applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def user_event_topk(events: DataFrame, k: int = 4,
                    user_col: str = "user_id",
                    type_col: str = "event_type") -> DataFrame:
    """Exact per-user top-k event types -> (user_id, event_type, cnt,
    rnk): one partial-agged groupBy then a PARTITIONED rank window
    (cnt desc, type asc — total order, engine-deterministic). The
    batch twin of ``streaming_topk`` below; with streaming capacity
    >= the user's distinct-type cardinality, space-saving is exact
    and the two agree row-for-row (pytest-pinned)."""
    counts = (events.groupBy(user_col, type_col)
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    w = Window.partitionBy(user_col).orderBy(F.col("cnt").desc(),
                                             type_col)
    return (counts.withColumn("rnk",
                              F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= k))


def streaming_topk(stream: DataFrame, k: int = 4, capacity: int = 8,
                   user_col: str = "user_id",
                   type_col: str = "event_type") -> DataFrame:
    """Streaming heavy-hitters per key (applyInPandasWithState):
    the space-saving sketch (Metwally et al., ICDT'05) with
    ``capacity`` monitored counters per user. When a new item arrives
    with the monitor table full, the minimum counter is evicted and
    inherited (the classic overestimate-bounded replacement:
    cnt_est - err <= true count <= cnt_est). Emits, per trigger in
    which a key's table changed, the current top-``k`` rows
    (user_id, event_type, cnt_est, err, rnk, ver) where ver is the
    per-key trigger revision — downstream (and the batch-equivalence
    test) keeps each key's max-ver rows.

    With capacity >= the key's true distinct cardinality nothing is
    ever evicted, err stays 0, and the output equals the exact batch
    ``user_event_topk`` — the exactness regime the equivalence test
    pins; a second test pins the overestimate bound under
    capacity < ndv. State is fixed-arity (three parallel arrays
    bounded by ``capacity`` + the revision counter)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (f"{user_col} long, event_type string, cnt_est long, "
                  "err long, rnk long, ver long")
    state_schema = ("items array<string>, counts array<long>, "
                    "errs array<long>, ver long")

    def fn(key, pdfs, state):
        import pandas as pd
        if state.exists:
            items, counts, errs, ver = state.get
            tab = {i: [c, e] for i, c, e in zip(items, counts, errs)}
        else:
            tab, ver = {}, 0
        changed = False
        for pdf in pdfs:
            for ty in pdf[type_col]:
                changed = True
                if ty in tab:
                    tab[ty][0] += 1
                elif len(tab) < capacity:
                    tab[ty] = [1, 0]
                else:
                    # evict the min counter (ties by item string so
                    # both any-replay orders pick identically)
                    victim = min(tab, key=lambda t: (tab[t][0], t))
                    vc = tab[victim][0]
                    del tab[victim]
                    tab[ty] = [vc + 1, vc]
        if not changed:
            return
        ver += 1
        state.update((list(tab.keys()),
                      [v[0] for v in tab.values()],
                      [v[1] for v in tab.values()], ver))
        top = sorted(tab.items(), key=lambda t: (-t[1][0], t[0]))[:k]
        yield pd.DataFrame(
            {user_col: key[0],
             "event_type": [t[0] for t in top],
             "cnt_est": [t[1][0] for t in top],
             "err": [t[1][1] for t in top],
             "rnk": list(range(1, len(top) + 1)),
             "ver": ver})

    return stream.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def markov_attribution(events: DataFrame, conv_type: str = "purchase",
                       user_col: str = "user_id", ts_col: str = "ts",
                       type_col: str = "event_type",
                       id_col: str = "event_id",
                       n_iters: int = 30) -> DataFrame:
    """First-order Markov removal-effect attribution (Anderl et al.
    2016) -> one row per non-converting channel (channel, p_full_ppm,
    p_removed_ppm, removal_ppm, share_ppm): the causal upgrade over
    rule-based multi-touch (:func:`attribution`) — a channel's credit
    is how much the journey->conversion probability DROPS when every
    visit to that channel is redirected to the null absorber.

    Journey model: per user, events ordered by (ts, id), truncated at
    the FIRST conversion (inclusive); transitions START->first,
    consecutive pairs, and last->NULL for non-converting journeys.
    Transition probabilities are exact-integer ppm (cnt*1e6 div
    row-total). Absorption probabilities come from ``n_iters`` rounds
    of the fixed-point recurrence
        a'(s) = pconv(s) + (sum_t p(s, t) * a(t)) div 1e6
    run in pure BIGINT ppm — monotone, bounded, and bit-replayable on
    any engine (the oracle unrolls the same rounds as chained CTEs).
    Removing channel c zeroes a(c) and pconv(c) inside the recurrence
    (its mass flows to NULL, no renormalization — the standard
    removal-effect definition).

    Scale shape: one window (per-user ordering) + one groupBy to the
    |channels|^2 transition table; the fixed-point solve runs on the
    DRIVER over that statistic-scale model (the cluster.kmeans_fit
    centroid contract — never data rows). Ordering by (ts, id) uses
    calendar-free comparisons only: TZ-proof on NTZ timestamps."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pos = (events.select(F.col(user_col).alias("u"),
                         F.col(type_col).alias("t"),
                         F.row_number().over(w).alias("p"),
                         F.min(F.when(F.col(type_col) == conv_type,
                                      F.row_number().over(w)))
                         .over(Window.partitionBy(user_col))
                         .alias("conv_p")))
    j = pos.filter(F.col("conv_p").isNull()
                   | (F.col("p") <= F.col("conv_p")))
    wj = Window.partitionBy("u").orderBy("p")
    steps = j.select(
        F.coalesce(F.lag("t").over(wj), F.lit("START")).alias("src"),
        F.col("t").alias("dst"), "u", "p",
        F.max("p").over(Window.partitionBy("u")).alias("last_p"))
    tails = (steps.filter((F.col("p") == F.col("last_p"))
                          & (F.col("dst") != conv_type))
             .select(F.col("dst").alias("src"),
                     F.lit("NULL").alias("dst")))
    trans = (steps.select("src", "dst").unionByName(tails)
             .groupBy("src", "dst").agg(F.count("*").alias("c")))
    rows = trans.collect()  # |channels|^2 model rows, never data rows
    out_tot: dict = {}
    for r in rows:
        out_tot[r["src"]] = out_tot.get(r["src"], 0) + r["c"]
    p_ppm = {(r["src"], r["dst"]):
             (r["c"] * 1_000_000) // out_tot[r["src"]] for r in rows}
    states = sorted({s for s, _ in p_ppm} | {t for _, t in p_ppm}
                    - {conv_type, "NULL"})
    channels = [s for s in states if s != "START"]

    def absorb(removed):
        a = {s: 0 for s in states}
        for _ in range(int(n_iters)):
            nxt = {}
            for s in states:
                if s == removed:
                    nxt[s] = 0
                    continue
                acc = sum(p_ppm.get((s, t), 0) * a[t]
                          for t in states if t != removed)
                nxt[s] = p_ppm.get((s, conv_type), 0) + acc // 1_000_000
            a = nxt
        return a["START"]

    p_full = absorb(None)
    p_removed = {c: absorb(c) for c in channels}
    removal = {c: max(p_full - p_removed[c], 0) for c in channels}
    tot_rem = sum(removal.values())
    recs = [(c, p_full, p_removed[c], removal[c],
             (removal[c] * 1_000_000) // tot_rem if tot_rem > 0
             else None) for c in channels]
    return events.sparkSession.createDataFrame(
        recs, "channel string, p_full_ppm long, p_removed_ppm long, "
        "removal_ppm long, share_ppm long")


DTW_SCHEMA = ("id1 long, id2 long, n1 long, n2 long, dtw long")


def dtw_banded(seqs: DataFrame, pairs: DataFrame, id_col: str = "id",
               seq_col: str = "seq", left_col: str = "id1",
               right_col: str = "id2", band: int = 4) -> DataFrame:
    """Sakoe-Chiba banded dynamic-time-warping distance between
    integer sequences -> (id1, id2, n1, n2, dtw): THE alignment
    metric for "do these two activity traces follow the same shape
    shifted in time" (user behaviour cohorts, host crawl rhythms,
    metric-curve matching) that a plain L2 over positions cannot see.

    Cost |a_i - b_j|, band |i - j| <= ``band`` (linear-time DP per
    pair), all BIGINT min-plus — bit-exact on any engine. A pair the
    band cannot connect (||a|-|b|| > band) emits NULL. The oracle is
    ONE recursive CTE walking the DP by ANTI-DIAGONALS (diag k
    depends only on diags k-1/k-2, so each step is a pure
    list_transform with no in-row dependency — in-row left-neighbor
    dependence is what makes the row-by-row formulation inexpressible
    as a list lambda), fuzz-validated against this op on 150 random
    (n, m, band) cases including unreachable ones.

    Scale shape: two equi-joins to attach sequences to the pair
    table, then one mapInPandas (Arrow batches, O(n*band) ints per
    pair) — the parallel unit is the PAIR, so skew is bounded by the
    pair list you pass, never by a self-join."""
    a = seqs.select(F.col(id_col).alias(left_col),
                    F.col(seq_col).alias("_a"))
    b = seqs.select(F.col(id_col).alias(right_col),
                    F.col(seq_col).alias("_b"))
    joined = pairs.join(a, left_col).join(b, right_col) \
                  .select(left_col, right_col, "_a", "_b")
    bd = int(band)
    inf = 1 << 40

    def run(batches):
        import pandas as pd
        for pdf in batches:
            out = {k: [] for k in ("id1", "id2", "n1", "n2", "dtw")}
            for i1, i2, sa, sb in zip(pdf[left_col], pdf[right_col],
                                      pdf["_a"], pdf["_b"]):
                av = [int(x) for x in sa]
                bv = [int(x) for x in sb]
                n, m = len(av), len(bv)
                prev = None
                for i in range(n):
                    cur = [inf] * m
                    lo = max(0, i - bd)
                    hi = min(m - 1, i + bd)
                    for j in range(lo, hi + 1):
                        c = abs(av[i] - bv[j])
                        if i == 0 and j == 0:
                            cur[j] = c
                            continue
                        best = inf
                        if i and prev[j] < best:
                            best = prev[j]
                        if j and cur[j - 1] < best:
                            best = cur[j - 1]
                        if i and j and prev[j - 1] < best:
                            best = prev[j - 1]
                        if best < inf:
                            cur[j] = c + best
                    prev = cur
                d = prev[m - 1] if n and m else inf
                out["id1"].append(int(i1))
                out["id2"].append(int(i2))
                out["n1"].append(n)
                out["n2"].append(m)
                out["dtw"].append(None if d >= inf else int(d))
            yield pd.DataFrame(out)

    return joined.mapInPandas(run, schema=DTW_SCHEMA)


def interval_union_len(df: DataFrame, key_col: str, start_col: str,
                       end_col: str) -> DataFrame:
    """Union length of (possibly overlapping) integer intervals per
    key -> (key, n_intervals, n_islands, union_len): the
    sweep-line classic behind "total active seconds per user",
    "covered crawl-window per host", SLA uptime, and span-coverage
    metrics — double-counting from overlaps is exactly what a naive
    sum(end - start) gets wrong.

    One window pass, all BIGINT: ordered by (start, end), prev_max =
    running max(end) over preceding rows; each row contributes
    max(0, end - max(start, prev_max)) to the union and opens a new
    island iff start > prev_max. Empty/negative intervals (end <=
    start) contribute nothing but still count in n_intervals.

    Scale shape: ONE shuffle (the window partition by key); the
    running max is streaming within partition — no self-join, no
    island groupBy round-trip."""
    w = (Window.partitionBy(key_col).orderBy(start_col, end_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    pm = F.max(F.col(end_col)).over(w)
    contrib = F.greatest(
        F.lit(0).cast("long"),
        F.col(end_col).cast("long")
        - F.greatest(F.col(start_col).cast("long"),
                     F.coalesce(pm.cast("long"),
                                F.col(start_col).cast("long"))))
    island = F.when(pm.isNull()
                    | (F.col(start_col) > pm), 1).otherwise(0)
    return (df.select(F.col(key_col).alias("key"),
                      contrib.alias("_c"), island.alias("_i"))
            .groupBy("key")
            .agg(F.count("*").cast("long").alias("n_intervals"),
                 F.sum("_i").cast("long").alias("n_islands"),
                 F.sum("_c").cast("long").alias("union_len")))


def reuse_distance_hist(events: DataFrame, user_col: str = "user_id",
                        key_col: str = "k", ts_col: str = "ts",
                        seq_col: str = "event_id") -> DataFrame:
    """LRU reuse-distance (stack-distance) histogram, Mattson et al.
    1970 -> (distance, n_accesses): for every access in each user's
    stream, the number of DISTINCT other keys touched since the
    previous access to the same key (-1 = cold / first touch). One
    pass yields the hit-rate curve for EVERY cache size at once — an
    access hits an LRU cache of capacity C iff distance < C — the
    cache-planning telemetry (shard-local doc cache, dictionary
    cache, page cache) that per-capacity simulation would need one
    run per C for.

    Scale shape: exact stack distance is inherently sequential per
    stream (the textbook algorithm is a balanced tree over one
    ordered scan), so each USER's stream — bounded by construction —
    replays in one applyInPandas group while users parallelize
    freely; per-group state is the LRU stack, bounded by the key
    cardinality, not the stream length. The output is a
    statistic-scale integer histogram (partial-aggregable count per
    distance). Never materializes pairs: the correlated
    count-distinct-in-gap formulation (the oracle) is Theta(n * gap)
    by construction and exists only to verify this one."""
    import pandas as pd

    acc = events.select(
        F.col(user_col).alias("u"), F.col(key_col).alias("key"),
        F.col(ts_col).alias("t"), F.col(seq_col).alias("s"))

    def _replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t", "s"], kind="mergesort")
        stack: list = []
        out = []
        for key in pdf["key"]:
            try:
                idx = stack.index(key)
            except ValueError:
                out.append(-1)
                stack.insert(0, key)
                continue
            out.append(idx)
            del stack[idx]
            stack.insert(0, key)
        return pd.DataFrame({"distance": out})

    dists = acc.groupBy("u").applyInPandas(_replay, "distance long")
    return dists.groupBy("distance").agg(
        F.count(F.lit(1)).cast("long").alias("n_accesses"))


def haar_coefficients(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts",
                      n_buckets: int = 16) -> DataFrame:
    """Unnormalized Haar wavelet decomposition of each user's
    day-bucketed activity series -> (user_id, level, pos, coeff):
    the multi-resolution shape signature (which time scale carries a
    user's burstiness?) behind wavelet-based series indexing and
    anomaly triage — level 1 contrasts adjacent buckets, the top
    level contrasts the two halves of the window.

    Integer end to end: buckets are TZ-proof epoch days (datediff
    from 1970-01-01 — the NTZ rule) mod ``n_buckets``; each
    coefficient is the CLOSED FORM sum(first half) - sum(second
    half) over its dyadic support, read off the bucket-count array
    with two slice folds — no per-level recursion, no window: ONE
    groupBy builds the 16-slot array via conditional sums and every
    coefficient is map-side array arithmetic."""
    assert n_buckets & (n_buckets - 1) == 0, "power of two"
    day = F.datediff(F.col(ts_col).cast("date"),
                     F.lit("1970-01-01").cast("date"))
    b = events.select(F.col(user_col).alias("u"),
                      (day % n_buckets).alias("b"))
    counts = b.groupBy("u").agg(*[
        F.sum(F.when(F.col("b") == i, 1).otherwise(0)).cast("long")
        .alias(f"c{i}") for i in range(n_buckets)])
    arr = counts.select("u", F.array(
        *[F.col(f"c{i}") for i in range(n_buckets)]).alias("x"))
    rows = []
    import math
    n_levels = int(math.log2(n_buckets))
    for level in range(1, n_levels + 1):
        h = 1 << (level - 1)
        for pos in range(n_buckets >> level):
            a = pos << level
            rows.append(
                f"struct({level}L AS level, {pos}L AS pos, "
                f"aggregate(slice(x, {a + 1}, {h}), 0L,"
                f" (s, v) -> s + v)"
                f" - aggregate(slice(x, {a + h + 1}, {h}), 0L,"
                f" (s, v) -> s + v) AS coeff)")
    return (arr.select("u", F.explode(F.expr(
        "array(" + ", ".join(rows) + ")")).alias("w"))
            .select(F.col("u").alias(user_col),
                    F.col("w.level").alias("level"),
                    F.col("w.pos").alias("pos"),
                    F.col("w.coeff").alias("coeff")))


def streaming_reuse(stream: DataFrame, user_col: str = "user_id",
                    key_col: str = "k", ts_col: str = "ts",
                    seq_col: str = "event_id") -> DataFrame:
    """Streaming LRU reuse-distance (applyInPandasWithState) — the
    10th custom stateful operator: the online twin of
    :func:`reuse_distance_hist`, emitting (user_id, key, distance)
    per access as the stream arrives (-1 = cold). State per user is
    the LRU stack alone — bounded by the user's key cardinality, not
    the stream length — so a cache-planning dashboard can aggregate
    the live hit-rate curve without ever replaying history.

    Rows inside a micro-batch are replayed in (ts, seq) order;
    cross-batch ordering is the caller's trigger discipline (the
    sessionizer contract — feed ordered batches or accept
    arrival-order semantics). The batch-equivalence test pins that
    the multiset of emitted distances over any trigger split equals
    the one-shot batch replay."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{user_col} long, key long, distance long"
    state_schema = "stack array<long>"

    def fn(key, pdfs, state):
        import pandas as pd
        stack = list(state.get[0]) if state.exists else []
        keys, dists = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, seq_col], kind="mergesort")
            for kk in pdf[key_col]:
                kk = int(kk)
                try:
                    idx = stack.index(kk)
                except ValueError:
                    idx = -1
                if idx >= 0:
                    del stack[idx]
                stack.insert(0, kk)
                keys.append(kk)
                dists.append(idx)
        if not keys:
            return
        state.update((stack,))
        yield pd.DataFrame({user_col: key[0], "key": keys,
                            "distance": dists})

    return stream.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def _exact_ntile(df: DataFrame, value_col: str, id_col: str,
                 k: int, bucket_width: int) -> DataFrame:
    """(id, tile): the exact SQL NTILE(k) index (1-based, larger tiles
    first) of each row under the total order (value, id) — computed
    WITHOUT a single-partition window.

    Global rank = value-range bucket offset + partitioned row_number
    (the sorted_neighborhood / quantile_normalize scheme: buckets are
    contiguous runs of the sort order because the bucket is a monotone
    function of the leading sort key). The tile index then follows
    from rank arithmetic alone: with n rows, q = n div k, r = n mod k,
    the first r tiles hold q+1 rows — identical to the SQL-standard
    NTILE distribution on both engines."""
    base = df.select(F.col(id_col).alias("rid"),
                     F.col(value_col).cast("long").alias("x"))
    bw = int(bucket_width)
    bkt = base.withColumn("bkt", F.expr(f"x div {bw}"))
    counts = bkt.groupBy("bkt").agg(F.count(F.lit(1)).cast("long")
                                    .alias("cnt"))
    w_off = (Window.orderBy("bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = counts.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))) \
        .withColumn("n", F.sum("cnt").over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)).cast("long"))
    w_loc = Window.partitionBy("bkt").orderBy("x", "rid")
    ranked = (bkt.join(F.broadcast(offs.select("bkt", "off", "n")), "bkt")
              .withColumn("r", (F.col("off")
                                + F.row_number().over(w_loc))
                          .cast("long")))
    kk = F.lit(int(k))
    q = (F.col("n") / kk).cast("long")  # floor: n, k positive
    r = F.col("n") % kk
    big = r * (q + 1)
    tile = (F.when(F.col("r") <= big,
                   ((F.col("r") - 1) / (q + 1)).cast("long") + 1)
            .otherwise(r + ((F.col("r") - big - 1)
                            / F.greatest(q, F.lit(1))).cast("long") + 1))
    return ranked.select(F.col("rid").alias(id_col),
                         tile.cast("long").alias("tile"))


def rfm_segments(events: DataFrame, user_col: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 k: int = 5) -> DataFrame:
    """RFM segmentation census -> (r_q, f_q, m_q, n_users, cents):
    the classic recency/frequency/monetary customer grid. Each user
    gets three ascending NTILE(k) quintile indexes — recency = last
    active epoch-day (TZ-proof date math, the ntz_epoch_us
    discipline), frequency = event count, monetary = integer-cents
    revenue — and the output is the k^3-bounded segment census with
    user counts and segment revenue.

    Scale shape: one corpus-scale groupBy collapses events to the
    user table; the three quintile passes run the bucket-offset
    exact-NTILE (no single-partition window, see _exact_ntile); the
    final census is a partial-aggregable groupBy on a k^3-bounded
    key. Money stays BIGINT cents end to end (the
    tpch_pricing_summary lesson: float sums at money magnitude drift
    under partial-agg merge order; integer sums cannot)."""
    ev = events.select(
        F.col(user_col).alias("uid"),
        F.datediff(F.col(ts_col).cast("date"),
                   F.lit("1970-01-01").cast("date"))
        .cast("long").alias("d"),
        F.floor(F.col(value_col) * 100).cast("long").alias("cents"))
    users = ev.groupBy("uid").agg(
        F.max("d").alias("rec"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("cents").alias("mon"))
    rq = _exact_ntile(users, "rec", "uid", k, 8) \
        .withColumnRenamed("tile", "r_q")
    fq = _exact_ntile(users, "freq", "uid", k, 8) \
        .withColumnRenamed("tile", "f_q")
    mq = _exact_ntile(users, "mon", "uid", k, 100000) \
        .withColumnRenamed("tile", "m_q")
    seg = (users.select("uid", "mon")
           .join(rq, "uid").join(fq, "uid").join(mq, "uid"))
    return (seg.groupBy("r_q", "f_q", "m_q")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                 F.sum("mon").alias("cents")))


def interval_scheduling(df: DataFrame, user_col: str = "user_id",
                        start_col: str = "start_s",
                        dur_col: str = "dur_s",
                        id_col: str = "event_id") -> DataFrame:
    """Greedy maximum non-overlapping interval selection per user ->
    (user, n_intervals, n_scheduled): the classic earliest-end-first
    exchange-argument optimum — how many of a user's sessions/jobs
    fit without overlap (capacity-1 admission control, ad-slot
    packing, meeting-room yield). Intervals are [start, start+dur);
    a candidate is taken iff start >= the last accepted end; order is
    (end, start, id) — total, engine-agnostic.

    The accepted-set cursor is inherently sequential per user ->
    applyInPandas per user group (one shuffle), O(n log n) per user.
    The DuckDB twin replays the same cursor as a recursive CTE over
    each user's (end, start, id)-sorted interval LIST — run it on a
    user stratum at large SF (the greedy_matching oracle contract);
    the Spark side has no such wall."""
    import pandas as pd

    out_schema = f"{user_col} long, n_intervals long, n_scheduled long"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(pdf[user_col].iloc[0])
        pdf = pdf.assign(end=pdf[start_col] + pdf[dur_col]).sort_values(
            ["end", start_col, id_col], kind="mergesort")
        last_end = None
        taken = 0
        for s, e in zip(pdf[start_col], pdf["end"]):
            if last_end is None or s >= last_end:
                taken += 1
                last_end = e
        return pd.DataFrame({user_col: [uid],
                             "n_intervals": [len(pdf)],
                             "n_scheduled": [taken]})

    return (df.select(user_col, start_col, dur_col, id_col)
            .groupBy(user_col).applyInPandas(fn, out_schema))


def ewma_anomalies(df: DataFrame, user_col: str = "user_id",
                   value_col: str = "cents", ts_col: str = "ts",
                   id_col: str = "event_id", shift_den: int = 4,
                   threshold: int = 2000) -> DataFrame:
    """Integer EWMA smoothing + deviation flags per user ->
    (user, n_events, n_anomalies, s_final): the exponential filter
    s += (x - s) div 4 (alpha = 1/4 as a pure integer shift-divide —
    trunc toward zero, written sign-explicitly because Python's //
    floors while Spark div / DuckDB // truncate) with an anomaly
    flagged whenever |x - s_prev| > threshold BEFORE the update. The
    recurrence-structure sibling of events_anomalies (prequential
    Welford z) and cusum_alarms (drift sums): EWMA weights recency
    geometrically, which neither of those does.

    Per-user sequential state -> applyInPandas over (ts, id)-ordered
    rows; the DuckDB twin steps the identical recurrence as a
    recursive CTE joined to an indexed per-user event table (state =
    one (s, count) pair per user)."""
    import pandas as pd

    den = int(shift_den)
    thr = int(threshold)
    out_schema = (f"{user_col} long, n_events long, n_anomalies long, "
                  "s_final long")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(pdf[user_col].iloc[0])
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        s = None
        anom = 0
        for x in pdf[value_col]:
            x = int(x)
            if s is None:
                s = x
                continue
            d = x - s
            if abs(d) > thr:
                anom += 1
            s = s + (abs(d) // den) * (1 if d >= 0 else -1)
        return pd.DataFrame({user_col: [uid], "n_events": [len(pdf)],
                             "n_anomalies": [anom],
                             "s_final": [s if s is not None else 0]})

    return (df.select(user_col, value_col, ts_col, id_col)
            .groupBy(user_col).applyInPandas(fn, out_schema))


def shapley_attribution(df: DataFrame, user_col: str = "user_id",
                        channel_col: str = "channel",
                        conv_col: str = "conv",
                        k: int = 4) -> DataFrame:
    """Exact Shapley-value channel attribution -> (channel,
    shapley_xkfact, v_solo, total_conv): the coalition-game answer to
    'which marketing/referral channel earns the conversion credit',
    complementing markov_attribution's removal effect with the
    axiomatically-fair split. v(S) = conversions among users whose
    touched-channel set is contained in S;
    phi_i = sum over S not containing i of |S|!(k-1-|S|)! *
    [v(S+i) - v(S)], emitted SCALED BY k! so everything stays BIGINT
    (k=4 -> x24; efficiency axiom: sum_i phi_i = k! * (v(full) -
    v(empty)), pytest-pinned).

    Scale shape: the ONLY corpus-scale work is one groupBy(user)
    building each user's channel bitmask (bit_or over shifted bits)
    + conversion flag, then one groupBy(mask) to the 2^k-row
    coalition table. Everything after — containment zeta transform
    (m & S = m), marginal contributions, factorial weights via
    bit_count — is joins over <= 2^k-row frames. k is small by
    contract (attribution channels, not items)."""
    kk = int(k)
    n_sub = 1 << kk
    um = (df.select(F.col(user_col).alias("u"),
                    F.col(channel_col).cast("int").alias("ch"),
                    F.col(conv_col).cast("long").alias("cv"))
          .groupBy("u")
          .agg(F.expr("bit_or(shiftleft(1, ch))").alias("m"),
               F.max("cv").alias("conv")))
    masks = um.groupBy("m").agg(F.sum("conv").cast("long").alias("c"))
    spark = df.sparkSession
    subsets = spark.range(n_sub).select(F.col("id").cast("int")
                                        .alias("s"))
    v = (subsets.join(F.broadcast(masks),
                      F.expr("(m & s) = m"), "left")
         .groupBy("s").agg(F.coalesce(F.sum("c"), F.lit(0))
                           .cast("long").alias("v")))
    chans = spark.range(kk).select(F.col("id").cast("int").alias("ch"))
    pairs = (chans.crossJoin(subsets)
             .filter(F.expr("(shiftright(s, ch) & 1) = 0")))
    vs = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vi = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    contrib = (pairs
               .join(F.broadcast(vs), F.col("s") == F.col("s0"))
               .join(F.broadcast(vi),
                     F.expr("(s | shiftleft(1, ch)) = s1"))
               .select("ch", F.expr(
                   f"factorial(bit_count(s)) "
                   f"* factorial({kk} - 1 - bit_count(s)) "
                   "* (v1 - v0)").alias("w")))
    solo = (chans.select(F.col("ch").alias("ch_s"))
            .join(F.broadcast(v),
                  F.expr("s = shiftleft(1, ch_s)"))
            .select("ch_s", F.col("v").alias("v_solo")))
    total = um.agg(F.sum("conv").cast("long").alias("total_conv"))
    return (contrib.groupBy("ch")
            .agg(F.sum("w").cast("long").alias("shapley_xkfact"))
            .join(F.broadcast(solo), F.col("ch") == F.col("ch_s"))
            .crossJoin(F.broadcast(total))
            .select(F.col("ch").cast("long").alias("channel"),
                    "shapley_xkfact", "v_solo", "total_conv"))


def ohlc_bars(df: DataFrame, user_col: str = "user_id",
              ts_col: str = "ts", value_col: str = "cents",
              id_col: str = "event_id",
              bar_seconds: int = 3600) -> DataFrame:
    """OHLC downsampling bars -> (user, bar, n, open_c, high_c,
    low_c, close_c, sum_c): the telemetry/trading resample that
    collapses a value stream to per-window open/high/low/close —
    open/close are argmin/argmax over (epoch, id) via min/max of a
    (ts_us, id, value) struct, so no window function and no
    first()/last() order dependence ever enters the plan; one
    partial-aggregable groupBy total. TZ-proof epoch via
    ntz_epoch_us; integer cents by contract."""
    b = df.select(
        F.col(user_col).alias("u"),
        ntz_epoch_us(F.col(ts_col)).alias("us"),
        F.col(id_col).cast("long").alias("eid"),
        F.col(value_col).cast("long").alias("c"))
    bar = F.expr(f"us div {int(bar_seconds) * 1000000}")
    g = (b.withColumn("bar", bar)
         .groupBy("u", "bar")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.min(F.struct("us", "eid", "c")).alias("o"),
              F.max(F.struct("us", "eid", "c")).alias("cl"),
              F.max("c").alias("high_c"),
              F.min("c").alias("low_c"),
              F.sum("c").alias("sum_c")))
    return g.select(F.col("u").alias(user_col), "bar", "n",
                    F.col("o.c").alias("open_c"), "high_c", "low_c",
                    F.col("cl.c").alias("close_c"), "sum_c")


def lis_per_user(df: DataFrame, user_col: str = "user_id",
                 value_col: str = "cents", ts_col: str = "ts",
                 id_col: str = "event_id") -> DataFrame:
    """Longest strictly-increasing subsequence per user -> (user,
    n_events, lis_len): the patience-sorting O(n log n) classic as a
    streak/trend statistic (how sustained is a user's value growth,
    order-robust unlike a single linear fit). tails[k] = the
    smallest possible tail of an increasing subsequence of length
    k+1; each value replaces the first tail >= it (or extends).

    Per-user sequential state -> applyInPandas over (ts, id)-ordered
    rows. The DuckDB twin carries the tails LIST through a recursive
    CTE joined to an indexed event table; the binary search
    degenerates to len(list_filter(tails, t -> t < x)) — identical
    insertion point, engine-pure."""
    import pandas as pd
    from bisect import bisect_left

    out_schema = f"{user_col} long, n_events long, lis_len long"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(pdf[user_col].iloc[0])
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        tails: list = []
        for x in pdf[value_col]:
            x = int(x)
            i = bisect_left(tails, x)
            if i == len(tails):
                tails.append(x)
            else:
                tails[i] = x
        return pd.DataFrame({user_col: [uid], "n_events": [len(pdf)],
                             "lis_len": [len(tails)]})

    return (df.select(user_col, value_col, ts_col, id_col)
            .groupBy(user_col).applyInPandas(fn, out_schema))


def max_concurrency(df: DataFrame, user_col: str = "user_id",
                    start_col: str = "start_s",
                    dur_col: str = "dur_s") -> DataFrame:
    """Maximum interval overlap per user -> (user, n_intervals,
    max_overlap, at_s): the classic +1/-1 boundary sweep — how many
    sessions/jobs run concurrently at the worst moment (the capacity
    question interval_scheduling's admission count and
    interval_coverage's union length don't answer). Ends sort before
    starts at the same instant ([s, e) half-open), encoded by delta
    ordering (-1 first): cumsum over (t, delta) per user, argmax =
    max(struct(run, -t)) so the EARLIEST peak instant is reported —
    pure aggregation after one user-partitioned window."""
    s = df.select(F.col(user_col).alias("u"),
                  F.col(start_col).cast("long").alias("t"),
                  F.lit(1).alias("d"))
    e = df.select(F.col(user_col).alias("u"),
                  (F.col(start_col) + F.col(dur_col)).cast("long")
                  .alias("t"), F.lit(-1).alias("d"))
    w = Window.partitionBy("u").orderBy("t", "d")
    run = (s.unionByName(e)
           .withColumn("run", F.sum("d").over(w).cast("long")))
    n = df.groupBy(F.col(user_col).alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"))
    mx = (run.groupBy("u")
          .agg(F.max(F.struct(F.col("run"),
                              (-F.col("t")).alias("negt"))).alias("m"))
          .select("u", F.col("m.run").alias("max_overlap"),
                  (-F.col("m.negt")).cast("long").alias("at_s")))
    return (n.join(mx, "u")
            .select(F.col("u").alias(user_col), "n_intervals",
                    "max_overlap", "at_s"))


def longest_streak(df: DataFrame, user_col: str = "user_id",
                   type_col: str = "event_type", ts_col: str = "ts",
                   id_col: str = "event_id") -> DataFrame:
    """Longest same-type run per user -> (user, n_events, best_type,
    best_len): the gaps-and-islands classic — island id = global
    row_number minus per-type row_number over the (ts, id) order, so
    consecutive equal types share an island; run lengths are one
    groupBy away and the winner is max(struct(len, type)) with the
    type tie-break made deterministic by naming it. All windows are
    user-partitioned."""
    wa = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    wt = Window.partitionBy(user_col, type_col).orderBy(ts_col,
                                                       id_col)
    isl = (df.select(user_col, type_col, ts_col, id_col)
           .withColumn("isl", F.row_number().over(wa)
                       - F.row_number().over(wt)))
    runs = (isl.groupBy(user_col, type_col, "isl")
            .agg(F.count(F.lit(1)).cast("long").alias("len")))
    best = (runs.groupBy(user_col)
            .agg(F.sum("len").cast("long").alias("n_events"),
                 F.max(F.struct(F.col("len"),
                                F.col(type_col).alias("t")))
                 .alias("m"))
            .select(user_col, "n_events",
                    F.col("m.t").alias("best_type"),
                    F.col("m.len").alias("best_len")))
    return best


def weighted_interval_scheduling(df: DataFrame,
                                 user_col: str = "user_id",
                                 start_col: str = "start_s",
                                 dur_col: str = "dur_s",
                                 weight_col: str = "w",
                                 id_col: str = "event_id") -> DataFrame:
    """Weighted interval scheduling optimum per user -> (user,
    n_intervals, best_value): the exact-DP companion to
    interval_scheduling's unweighted greedy (earliest-end-first is
    OPTIMAL only when every interval weighs 1; with weights the
    classic dp[i] = max(dp[i-1], w_i + dp[p_i]) over intervals
    sorted by (end, start, id) is required, where p_i = how many
    intervals end at-or-before interval i's start).

    The predecessor index p_i is RELATIONAL work, not replay: with
    ends sorted, p_i = count of ends <= start_i, computed per user
    inside the kernel by a merge over the two sorted orders (the
    same contract the DuckDB twin states as a correlated count).
    applyInPandas per user, O(n log n); the oracle carries the dp
    value LIST through a join-stepped recursive CTE (the knapsack
    state pattern)."""
    import pandas as pd
    from bisect import bisect_right

    out_schema = f"{user_col} long, n_intervals long, best_value long"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(pdf[user_col].iloc[0])
        iv = sorted(
            (int(s) + int(d), int(s), int(e), int(w))
            for s, d, e, w in zip(pdf[start_col], pdf[dur_col],
                                  pdf[id_col], pdf[weight_col]))
        ends = [e for e, _, _, _ in iv]
        dp = [0] * (len(iv) + 1)
        for i, (_, s, _, w) in enumerate(iv, start=1):
            p = bisect_right(ends, s, 0, i - 1)
            take = w + dp[p]
            dp[i] = take if take > dp[i - 1] else dp[i - 1]
        return pd.DataFrame({user_col: [uid],
                             "n_intervals": [len(iv)],
                             "best_value": [dp[len(iv)]]})

    return (df.select(user_col, start_col, dur_col, weight_col,
                      id_col)
            .groupBy(user_col).applyInPandas(fn, out_schema))
