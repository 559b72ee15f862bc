"""Sessionization: cut per-key event streams into sessions at
inactivity gaps — the standard event-analytics primitive (user visits,
device sessions, conversation turns) the reference's JX has no operator
for (beyond-reference, SURVEY §2 item 8 family).

Batch form: one window shuffle per key — ``lag`` marks a session start
when the gap from the previous event exceeds the threshold, a running
sum of starts numbers the sessions (both aggregates share one
partitionBy(key) exchange, whole-stage codegen, spillable). The session
id is (key, seq) — stable, join-able, and deterministic for a given
input.

Streaming form: Spark's native ``session_window`` — state is one open
window per active key, merged on arrival and closed by the watermark;
this is the bounded-state analog (the batch seq numbering needs the
whole history, so the streaming result carries the window struct
instead of a seq).

Oracle: plain SQL window functions (DuckDB side in tests/test_joins.py's
sibling, tests/test_sessions.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def sessionize(
    df: DataFrame,
    by: list[str],
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Add a ``session_seq`` column: 0-based session index per ``by``
    key, incremented whenever the gap from the previous event strictly
    exceeds ``gap`` (an INTERVAL literal). Rows keep their schema."""
    if not by:
        raise ValueError("sessionize requires at least one `by` key (a keyless "
                         "sessionization is one global window task)")
    w = Window.partitionBy(*by).orderBy(F.col(ts_col).asc())
    prev = F.lag(F.col(ts_col)).over(w)
    new_session = (
        prev.isNull() | (F.col(ts_col) > prev + F.expr(f"INTERVAL {gap}"))
    ).cast("long")
    seq = F.sum(new_session).over(
        Window.partitionBy(*by)
        .orderBy(F.col(ts_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ) - 1
    return df.withColumn("session_seq", seq)


def session_stats(
    df: DataFrame,
    by: list[str],
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """One row per session: (by..., session_seq, n_events, session_start,
    session_end, duration_secs). Two exchanges total — the sessionize
    window's, then the groupBy reuses that hash partitioning only if the
    grouping is a superset of the window keys plus seq; Catalyst keeps it
    to one additional partial-agg shuffle otherwise."""
    ss = sessionize(df, by, ts_col, gap)
    return ss.groupBy(*by, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        # double-cast difference keeps sub-second precision
        # (unix_timestamp truncates to whole seconds); NTZ needs the
        # intermediate TIMESTAMP cast (session TZ is pinned UTC)
        (
            F.max(ts_col).cast("timestamp").cast("double")
            - F.min(ts_col).cast("timestamp").cast("double")
        ).alias("duration_secs"),
    )


def funnel(
    df: DataFrame,
    by: list[str],
    steps: list,
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel conversion per key: for predicates ``steps =
    [A, B, C]`` (Column booleans), find the GREEDY earliest completion —
    t1 = min ts where A, t2 = min ts where B and ts > t1, ... Output one
    row per key: (by..., step_1_ts .. step_k_ts, converted). Greedy is
    optimal for unwindowed funnels: any completion's first step can be
    replaced by the earliest A without breaking the later strict
    inequalities.

    Plan: k chained window minima over the SAME partitionBy(by) — one
    hash exchange total, each step's min conditioned on the previous
    step's (per-key constant) timestamp; then one first() groupBy that
    reuses the window partitioning. No joins, no explode.
    """
    if not by:
        raise ValueError("funnel requires at least one `by` key")
    if not steps:
        raise ValueError("funnel requires at least one step predicate")
    w = Window.partitionBy(*by)
    out = df
    prev: Column | None = None
    names = [f"step_{i + 1}_ts" for i in range(len(steps))]
    for i, (pred, name) in enumerate(zip(steps, names)):
        hit = pred if prev is None else pred & (F.col(ts_col) > prev)
        out = out.withColumn(
            name, F.min(F.when(hit, F.col(ts_col))).over(w)
        )
        prev = F.col(name)
    return (
        out.groupBy(*by)
        .agg(*[F.first(n).alias(n) for n in names])
        .withColumn("converted", F.col(names[-1]).isNotNull())
    )


def funnel_within(
    df: DataFrame,
    by: list[str],
    steps: list,
    within: str,
    ts_col: str = "ts",
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Time-boxed funnel: converted iff SOME step-1 event starts a strict
    ordered completion of all steps with every later step inside
    ``within`` (an INTERVAL literal) of that start. Output one row per
    key: (by..., converted, start_ts = earliest completing start, or
    null).

    Greedy-earliest (see ``funnel``) is NOT exact here — the earliest
    step-1 may time-box out while a later one completes — so every
    candidate start is tried: one ``collect_list`` shuffle per key, then
    pure Column algebra — an outer HOF over candidate starts and an
    inner ``aggregate`` fold that greedily advances through the steps
    (greedy IS optimal once the start is fixed, by the classic exchange
    argument). O(n² · k) worst case per key inside whole-stage codegen;
    per-key memory is the event array — the same bound the trimmed-stats
    aggregate carries, and the practical one for per-user event counts.
    ``max_events_per_key`` (None = unbounded, exact over every key) is
    the skew valve for keys where that bound fails: keep the first cap
    events per key (ts order, step-mask tiebreak) and report the per-key
    ``n_dropped`` count — a capped key's result is computed over its
    earliest cap events, the truncation is visible, and no single task
    holds an unbounded array. Cross-checked against a pure-Python
    reference implementation over randomized corpora (hypothesis) in
    tests/test_sessions.py.
    """
    if not by:
        raise ValueError("funnel_within requires at least one `by` key")
    if not steps:
        raise ValueError("funnel_within requires at least one step predicate")
    k = len(steps)
    mask = F.array(*[F.coalesce(p.cast("boolean"), F.lit(False)) for p in steps])
    dropped = None
    if max_events_per_key is not None:
        # Skew valve (the snowflake child-cap contract): a bot/service key
        # with millions of events must not become one unbounded
        # collect_list task. Keep the FIRST cap events in (ts, step-mask)
        # order via a spillable row_number window BEFORE the collect —
        # both windows share the one partitionBy(by) exchange — and
        # surface the per-key dropped count as `n_dropped` (0 = exact).
        cap = int(max_events_per_key)
        if cap < 1:
            raise ValueError("max_events_per_key must be >= 1")
        maskbits = None
        for i in range(k):
            bit = F.element_at(mask, i + 1).cast("long") * F.lit(2**i)
            maskbits = bit if maskbits is None else maskbits + bit
        wv = Window.partitionBy(*by).orderBy(F.col(ts_col).asc(), maskbits.asc())
        wn = Window.partitionBy(*by)
        df = (
            df.withColumn("__fw_rn__", F.row_number().over(wv))
            .withColumn("__fw_n__", F.count(F.lit(1)).over(wn))
            .filter(F.col("__fw_rn__") <= cap)
        )
        dropped = F.greatest(F.max("__fw_n__") - F.lit(cap), F.lit(0)).alias(
            "n_dropped"
        )
    arr = F.sort_array(
        F.collect_list(F.struct(F.col(ts_col).alias("t"), mask.alias("m")))
    )
    aggs = [arr.alias("__arr__")] + ([dropped] if dropped is not None else [])
    grouped = df.groupBy(*by).agg(*aggs)
    win = F.expr(f"INTERVAL {within}")

    def completes(s):
        zero = F.struct(F.lit(1).alias("step"), s["t"].alias("last"))

        def advance(st, e):
            can = (
                (st["step"] < k)
                & F.element_at(e["m"], st["step"] + 1)
                & (e["t"] > st["last"])
                & (e["t"] <= s["t"] + win)
            )
            return F.when(
                can, F.struct((st["step"] + 1).alias("step"), e["t"].alias("last"))
            ).otherwise(st)

        return F.aggregate(F.col("__arr__"), zero, advance)["step"] == k

    starts = F.filter(F.col("__arr__"), lambda e: F.element_at(e["m"], 1))
    completing = F.filter(starts, completes)
    return grouped.select(
        *by,
        (F.size(completing) > 0).alias("converted"),
        # try_element_at: ANSI element_at throws on the empty array
        F.try_element_at(completing, F.lit(1))["t"].alias("start_ts"),
        *([F.col("n_dropped")] if dropped is not None else []),
    )


def stream_session_stats(
    sdf: DataFrame,
    by: list[str],
    ts_col: str = "ts",
    gap: str = "30 minutes",
    lateness: str = "1 hour",
) -> DataFrame:
    """Streaming sessions via the native ``session_window`` aggregate:
    per-key open-window state, merged on arrival, emitted once the
    watermark passes the session's close — bounded by ACTIVE keys, not
    history. Result: (by..., session struct{start, end}, n_events)."""
    from pyspark.sql import types as T

    if isinstance(sdf.schema[ts_col].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        sdf.withWatermark(ts_col, lateness)
        .groupBy(*by, F.session_window(F.col(ts_col), gap).alias("session"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def stream_funnel(
    sdf: DataFrame,
    by: list[str],
    steps: list,
    ts_col: str = "ts",
    lateness: str = "1 hour",
    max_buffer_per_key: int = 10_000,
) -> DataFrame:
    """Streaming greedy funnel — the streaming analog of ``funnel``:
    per-key state advances through the ordered step predicates and a row
    (by..., step_1_ts .. step_k_ts) is emitted the moment the LAST step
    completes (append mode, one completion per key — see the tombstone
    horizon caveat below).

    Event-time correctness under reordering: arriving events BUFFER in
    state; only events at or below the CURRENT WATERMARK are folded into
    the greedy advance, in event-time order — so any arrival order
    within the ``lateness`` horizon produces the batch operator's
    greedy-by-event-time result (the same exchange argument; the fold is
    incremental because greedy state is just (step, last_ts)). Events
    above the watermark wait for the next trigger's flush.

    State per key: (step, last_ts, step timestamps) plus the
    sub-watermark buffer — bounded by events inside the lateness horizon
    and hard-capped at ``max_buffer_per_key`` (a flooded key keeps the
    EARLIEST buffered events: the greedy fold prefers earliest anyway,
    so the cap degrades late-reordering tolerance, never memory — the
    funnel_within valve contract). Completed keys keep a tombstone state
    (step = k) until the watermark expires them, so later events cannot
    restart the funnel. A key whose EventTimeTimeout fires (quiet past
    the lateness horizon) folds its whole remaining buffer, emits any
    completion, and drops its state — so a drained availableNow stream
    emits funnels the final watermark can prove complete (standard
    append-mode semantics, as in stream_session_stats).

    Uniqueness caveat: the one-completion-per-key guarantee holds only
    within a lateness horizon of the completion. Once a completed key's
    tombstone expires (the key stayed quiet past ``lateness``), its state
    is gone — unbounded state for every key ever completed is exactly
    what streaming cannot hold — so events arriving after that restart
    the funnel at step 0 and the same key can emit a second completion.
    Consumers needing per-key uniqueness across horizons should dedup
    downstream on the key (e.g. ``dropDuplicates(by)`` on the sink table
    or first-write-wins in the store).
    """
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if not by:
        raise ValueError("stream_funnel requires at least one `by` key")
    if not steps:
        raise ValueError("stream_funnel requires at least one step predicate")
    k = len(steps)
    ttl_secs = _fixed_seconds_lateness(lateness)
    if isinstance(sdf.schema[ts_col].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    maskbits = None
    for i, p in enumerate(steps):
        bit = F.coalesce(p.cast("boolean"), F.lit(False)).cast("long") * F.lit(2**i)
        maskbits = bit if maskbits is None else maskbits + bit
    keyed = sdf.select(
        *[F.col(c) for c in by],
        F.col(ts_col).alias("__ts__"),
        maskbits.alias("__m__"),
    ).withWatermark("__ts__", lateness)

    key_fields = [sdf.schema[c] for c in by]
    out_schema = T.StructType(
        key_fields
        + [T.StructField(f"step_{i + 1}_ts", T.TimestampType()) for i in range(k)]
    )
    state_schema = T.StructType(
        [
            T.StructField("step", T.IntegerType()),
            T.StructField("step_us", T.ArrayType(T.LongType())),
            T.StructField("buf_us", T.ArrayType(T.LongType())),
            T.StructField("buf_m", T.ArrayType(T.LongType())),
        ]
    )

    def fold(key: tuple, pdfs, state: GroupState):
        import datetime as _dt

        import pandas as pd

        if state.exists:
            step, step_us, buf_us, buf_m = state.get
            step_us, buf_us, buf_m = list(step_us), list(buf_us), list(buf_m)
        else:
            step, step_us, buf_us, buf_m = 0, [], [], []
        for pdf in pdfs:
            for t, m in zip(pdf["__ts__"], pdf["__m__"]):
                buf_us.append(int(t.value // 1000))
                buf_m.append(int(m))
        if len(buf_us) > max_buffer_per_key:
            order = sorted(range(len(buf_us)), key=lambda i: (buf_us[i], buf_m[i]))
            order = order[:max_buffer_per_key]
            buf_us = [buf_us[i] for i in order]
            buf_m = [buf_m[i] for i in order]
        wm_us = state.getCurrentWatermarkMs() * 1000
        # on a timeout fire the horizon has passed: everything buffered is
        # final — fold it all and drop the key instead of holding state
        flush_all = state.hasTimedOut
        ready = sorted(
            ((t, m) for t, m in zip(buf_us, buf_m) if flush_all or t <= wm_us),
            key=lambda e: (e[0], e[1]),
        )
        pending = [] if flush_all else [(t, m) for t, m in zip(buf_us, buf_m) if t > wm_us]
        completed = None
        for t, m in ready:
            if step >= k:
                break
            if (m >> step) & 1 and (step == 0 or t > step_us[-1]):
                step_us.append(t)
                step += 1
                if step == k:
                    completed = list(step_us)
        if flush_all:
            state.remove()
        else:
            state.update(
                (
                    step,
                    step_us,
                    [t for t, _ in pending],
                    [m for _, m in pending],
                )
            )
            from mysql_to_s3_spark.streaming.stream_extract import arm_event_ttl

            all_us = [*buf_us, *step_us]
            arm_event_ttl(state, ttl_secs, max(all_us) // 1000 if all_us else 0)
        if completed is not None:
            row = {c: [v] for c, v in zip(by, key)}
            for i, us in enumerate(completed):
                row[f"step_{i + 1}_ts"] = [
                    _dt.datetime.utcfromtimestamp(us / 1_000_000)
                ]
            yield pd.DataFrame(row)

    return keyed.groupBy(*by).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def _fixed_seconds_lateness(lateness: str) -> int:
    """State TTL in seconds for a watermark ``lateness`` interval.

    This MUST agree with the horizon Spark derives from the same string in
    ``withWatermark`` — a shorter TTL expires state (funnel tombstones, the
    as-of quote carry) while in-horizon events can still arrive, silently
    producing duplicate completions / missed matches. So an interval we
    can't parse as fixed seconds (calendar months, typos) is an error, not
    a 3600-second guess."""
    from mysql_to_s3_spark.streaming.stream_extract import StreamError, _fixed_seconds

    try:
        return _fixed_seconds(lateness)
    except Exception as exc:
        raise StreamError(
            f"lateness {lateness!r} is not a fixed-seconds interval; the "
            "state TTL must match the watermark horizon exactly — use a "
            "fixed interval such as '1 hour' or '30 days'"
        ) from exc


def stream_funnel_within(
    sdf: DataFrame,
    by: list[str],
    steps: list,
    within: str,
    ts_col: str = "ts",
    lateness: str = "1 hour",
    max_buffer_per_key: int = 10_000,
) -> DataFrame:
    """Streaming TIME-BOXED funnel — the streaming analog of
    ``funnel_within``: a row (by..., start_ts) is emitted for a key's
    EARLIEST step-1 event that begins a strict ordered completion of all
    steps with every later step at most ``within`` after that start
    (greedy-per-start, exact for a fixed start — the batch operator's
    semantics).

    Decidability is what makes this streamable with bounded state: a
    candidate start ``s`` is judged only once the watermark passes
    ``s + within`` — every event that could sit in its window is then
    final — and starts are judged in event-time order, so the first
    success is THE earliest completing start. A start that fails is
    never revisited (its window can no longer change), and the buffer
    prunes to events newer than ``watermark - within``: an older event
    can serve neither as an undecided start nor inside an undecided
    start's window. State per key is therefore bounded by the events in
    a ``within + lateness`` horizon, hard-capped at
    ``max_buffer_per_key`` (earliest kept — the operator prefers
    earliest starts anyway, so a flood degrades late-reordering
    tolerance, never memory). Completed keys hold a tombstone until the
    TTL expires them (the stream_funnel uniqueness caveat applies across
    horizons). An EventTimeTimeout (key quiet past ``lateness``) judges
    every remaining start against the now-final buffer, emits any
    completion, and drops the state.
    """
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from mysql_to_s3_spark.streaming.stream_extract import (
        _fixed_seconds,
        arm_event_ttl,
    )

    if not by:
        raise ValueError("stream_funnel_within requires at least one `by` key")
    if len(steps) < 2:
        raise ValueError("stream_funnel_within requires at least two steps")
    k = len(steps)
    ttl_secs = _fixed_seconds_lateness(lateness)
    within_us = _fixed_seconds(within) * 1_000_000
    if isinstance(sdf.schema[ts_col].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    maskbits = None
    for i, p in enumerate(steps):
        bit = F.coalesce(p.cast("boolean"), F.lit(False)).cast("long") * F.lit(2**i)
        maskbits = bit if maskbits is None else maskbits + bit
    keyed = sdf.select(
        *[F.col(c) for c in by],
        F.col(ts_col).alias("__ts__"),
        maskbits.alias("__m__"),
    ).withWatermark("__ts__", lateness)

    key_fields = [sdf.schema[c] for c in by]
    out_schema = T.StructType(
        key_fields + [T.StructField("start_ts", T.TimestampType())]
    )
    state_schema = T.StructType(
        [
            T.StructField("done", T.IntegerType()),
            T.StructField("buf_us", T.ArrayType(T.LongType())),
            T.StructField("buf_m", T.ArrayType(T.LongType())),
        ]
    )

    def fold(key: tuple, pdfs, state: GroupState):
        import datetime as _dt

        import pandas as pd

        if state.exists:
            done, buf_us, buf_m = state.get
            buf_us, buf_m = list(buf_us), list(buf_m)
        else:
            done, buf_us, buf_m = 0, [], []
        for pdf in pdfs:
            for t, m in zip(pdf["__ts__"], pdf["__m__"]):
                buf_us.append(int(t.value // 1000))
                buf_m.append(int(m))
        flush_all = state.hasTimedOut
        if done:
            # tombstone: swallow events until the TTL drops the key
            if flush_all:
                state.remove()
            else:
                state.update((1, [], []))
                arm_event_ttl(
                    state, ttl_secs, max(buf_us) // 1000 if buf_us else 0
                )
            return
        if len(buf_us) > max_buffer_per_key:
            order = sorted(range(len(buf_us)), key=lambda i: (buf_us[i], buf_m[i]))
            order = order[:max_buffer_per_key]
            buf_us = [buf_us[i] for i in order]
            buf_m = [buf_m[i] for i in order]
        wm_us = state.getCurrentWatermarkMs() * 1000
        events = sorted(zip(buf_us, buf_m))
        start_hit = None
        for s, m in events:
            if not (m & 1):
                continue
            if not flush_all and s + within_us > wm_us:
                break  # this and all later starts are not yet decidable
            # greedy chain from this start: earliest next step, strictly
            # increasing ts, bounded by the start's window
            prev = s
            step = 1
            for t, mm in events:
                if step >= k:
                    break
                if t > prev and t <= s + within_us and (mm >> step) & 1:
                    prev = t
                    step += 1
            if step >= k:
                start_hit = s
                break
        if start_hit is not None:
            done = 1
            buf_us, buf_m = [], []
        elif not flush_all:
            # prune decided-failed starts and spent chain fodder: only
            # events newer than wm - within can matter from here on
            keep = [
                (t, m) for t, m in events if t + within_us > wm_us
            ]
            buf_us = [t for t, _ in keep]
            buf_m = [m for _, m in keep]
        if flush_all:
            # quiet past the horizon: whatever was decidable just was
            state.remove()
        else:
            state.update((done, buf_us, buf_m))
            mx = max(buf_us) // 1000 if buf_us else (start_hit or 0) // 1000
            arm_event_ttl(state, ttl_secs, mx)
        if start_hit is not None:
            row = {c: [v] for c, v in zip(by, key)}
            row["start_ts"] = [_dt.datetime.utcfromtimestamp(start_hit / 1_000_000)]
            yield pd.DataFrame(row)

    return keyed.groupBy(*by).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
