"""Sessionization (operators/sessions.py) vs a DuckDB window-SQL oracle,
plus the streaming session_window analog."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.sessions import (
    session_stats,
    sessionize,
    stream_session_stats,
)
from mysql_to_s3_spark.sources.registry import load_table


SESSION_SQL = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, event_id,
       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) - 1 AS session_seq
FROM marked
"""


def test_sessionize_matches_duckdb(spark, sf_dir, duck):
    ev = load_table(spark, sf_dir, "events")
    got = {
        (r.user_id, r.event_id): r.session_seq
        for r in sessionize(ev, by=["user_id"], gap="30 minutes").collect()
    }
    want = {(u, e): s for u, e, s in duck.execute(SESSION_SQL).fetchall()}
    assert got == want
    assert max(got.values()) > 0  # the corpus actually has multiple sessions


def test_session_stats_consistency(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    stats = session_stats(ev, by=["user_id"], gap="30 minutes")
    # totals reconcile: every event is in exactly one session
    assert stats.agg(F.sum("n_events")).first()[0] == ev.count()
    r = stats.filter(F.col("duration_secs") < 0).count()
    assert r == 0
    # sessions of one key never overlap: end_i < start_{i+1}
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("session_seq")
    overl = (
        stats.withColumn("next_start", F.lead("session_start").over(w))
        .filter(F.col("next_start").isNotNull() & (F.col("session_end") >= F.col("next_start")))
        .count()
    )
    assert overl == 0


def test_sessionize_single_exchange_plan(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plan = (
        sessionize(ev, by=["user_id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_sessionize_requires_key(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="by"):
        sessionize(ev, by=[])


def test_stream_session_stats_matches_batch_sessions(spark, tmp_path):
    """Streaming session_window over two micro-batches produces the same
    (start, end, n_events) sessions as the batch operator once the
    stream drains."""
    import pandas as pd

    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    src = str(tmp_path / "sess_stream")
    os.makedirs(src, exist_ok=True)
    t = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": pd.Series([t, t + 5 * m, t + 2 * m]).astype("datetime64[us]"),
            "v": [1.0, 2.0, 3.0],
        }
    ).to_parquet(src + "/a.parquet")
    pd.DataFrame(
        {
            "user_id": [1, 2],
            # user 1 re-appears 90 min later -> NEW session; user 2 at +3min -> same
            "ts": pd.Series([t + 95 * m, t + 3 * m]).astype("datetime64[us]"),
            "v": [4.0, 5.0],
        }
    ).to_parquet(src + "/b.parquet")
    # FileStreamSource orders pending files by modification time; the two
    # writes can land in the same ms, letting b go first and its t+95m
    # event advance the watermark past batch a's rows. Force the order.
    t_a = os.path.getmtime(src + "/a.parquet")
    os.utime(src + "/b.parquet", (t_a + 10, t_a + 10))

    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    out = stream_session_stats(sdf, by=["user_id"], gap="30 minutes", lateness="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session.start, r.session.end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    batch = session_stats(
        spark.read.parquet(src), by=["user_id"], gap="30 minutes"
    ).collect()
    # session_window's end = last event + gap (the close boundary), while
    # the batch end = last event ts; compare on (key, start, n)
    want = {(r.user_id, r.session_start, r.n_events) for r in batch}
    # append mode emits only watermark-closed sessions; every emitted one
    # must match a batch session, and the CLOSED ones (all but user 1's
    # late session, which the final watermark may or may not close) appear
    emitted = {(u, s, n) for (u, s, e, n) in got}
    assert emitted <= want
    assert (1, t.to_pydatetime(), 2) in emitted
    assert (2, (t + 2 * m).to_pydatetime(), 2) in emitted


FUNNEL_SQL = """
WITH t1 AS (SELECT user_id, min(ts) AS s1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
     t2 AS (SELECT e.user_id, min(e.ts) AS s2 FROM events e JOIN t1 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > t1.s1 GROUP BY e.user_id),
     t3 AS (SELECT e.user_id, min(e.ts) AS s3 FROM events e JOIN t2 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > t2.s2 GROUP BY e.user_id)
SELECT u.user_id, t1.s1, t2.s2, t3.s3, t3.user_id IS NOT NULL AS conv
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
"""


def test_funnel_matches_duckdb(spark, sf_dir, duck):
    """signup -> click -> purchase greedy funnel equals the chained-min
    DuckDB oracle for every user."""
    from mysql_to_s3_spark.operators.sessions import funnel

    ev = load_table(spark, sf_dir, "events")
    got = {
        r.user_id: (r.step_1_ts, r.step_2_ts, r.step_3_ts, r.converted)
        for r in funnel(
            ev,
            by=["user_id"],
            steps=[
                F.col("event_type") == "signup",
                F.col("event_type") == "click",
                F.col("event_type") == "purchase",
            ],
        ).collect()
    }
    want = {u: (s1, s2, s3, c) for u, s1, s2, s3, c in duck.execute(FUNNEL_SQL).fetchall()}
    assert got == want
    assert any(c for (_, _, _, c) in got.values())


def test_funnel_single_exchange(spark, sf_dir):
    from mysql_to_s3_spark.operators.sessions import funnel

    ev = load_table(spark, sf_dir, "events")
    plan = (
        funnel(ev, by=["user_id"], steps=[F.col("event_type") == "signup"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_funnel_within_basic(spark):
    """The earliest signup times out; a later one converts — greedy
    earliest-start would miss this."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    from mysql_to_s3_spark.operators.sessions import funnel_within

    rows = [
        ("u", ts(0), "A"),    # early start: next B is 100 min away -> out of window
        ("u", ts(90), "A"),   # late start: B at 100, C at 110 -> within 30 min
        ("u", ts(100), "B"),
        ("u", ts(110), "C"),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, e string")
    r = funnel_within(
        df, by=["k"],
        steps=[F.col("e") == s for s in ("A", "B", "C")],
        within="30 minutes",
    ).first()
    assert r.converted and r.start_ts == ts(90)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ev = st.tuples(st.integers(min_value=0, max_value=50), st.integers(min_value=0, max_value=7))


@given(st.lists(_ev, min_size=1, max_size=18), st.sampled_from([5, 15, 40]))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_funnel_within_property_matches_python_reference(spark, events, win_min):
    import datetime as dt

    from mysql_to_s3_spark.operators.sessions import funnel_within

    t0 = dt.datetime(2024, 1, 1)
    K = 3
    rows = [("k", t0 + dt.timedelta(minutes=m), v) for m, v in events]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v int")
    got = funnel_within(
        df, by=["k"],
        steps=[F.col("v").bitwiseAND(1 << i) != 0 for i in range(K)],
        within=f"{win_min} minutes",
    ).first()

    # pure-Python reference: same sort order (ts, then mask array), try
    # every start, greedy advance inside the window
    ev = sorted(
        ((t0 + dt.timedelta(minutes=m), [bool(v & (1 << i)) for i in range(K)])
         for m, v in events),
        key=lambda e: (e[0], e[1]),
    )
    win = dt.timedelta(minutes=win_min)
    expect_start = None
    for t1, m1 in ev:
        if not m1[0]:
            continue
        step, last = 1, t1
        for t, m in ev:
            if step < K and m[step] and t > last and t <= t1 + win:
                step, last = step + 1, t
        if step == K:
            expect_start = t1
            break
    assert got.converted == (expect_start is not None)
    assert got.start_ts == expect_start


def test_funnel_within_capped_golden(spark):
    """Skew valve: a 100k-event key under a 1k cap — the funnel is
    decided over the first 1k events (ts order), n_dropped reports the
    truncation, and no task collects the full array."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.sessions import funnel_within

    big = spark.range(100_000).select(
        F.lit("big").alias("k"),
        (F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(secs=F.col("id"))).alias("ts"),
        F.when(F.col("id") == 0, "A")
        .when(F.col("id") == 1, "B")
        .when(F.col("id") == 2, "C")
        .otherwise("X")
        .alias("e"),
    )
    small = spark.createDataFrame(
        [("small", __import__("datetime").datetime(2024, 1, 1), "A")],
        "k string, ts timestamp, e string",
    )
    out = {
        r.k: r
        for r in funnel_within(
            big.unionByName(small),
            by=["k"],
            steps=[F.col("e") == s for s in ("A", "B", "C")],
            within="1 hour",
            max_events_per_key=1000,
        ).collect()
    }
    assert out["big"].converted and out["big"].n_dropped == 99_000
    assert out["big"].start_ts.second == 0
    assert not out["small"].converted and out["small"].n_dropped == 0


def test_funnel_within_cap_no_truncation_matches_uncapped(spark, sf_dir):
    """A cap larger than any key's event count is a no-op apart from the
    n_dropped=0 column — capped and exact paths agree on the real
    events table at any test scale factor."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.sessions import funnel_within

    ev = load_table(spark, sf_dir, "events")
    steps = [F.col("event_type") == t for t in ("signup", "click", "purchase")]
    exact = {
        r.user_id: (r.converted, r.start_ts)
        for r in funnel_within(ev, by=["user_id"], steps=steps, within="3 days").collect()
    }
    capped = funnel_within(
        ev, by=["user_id"], steps=steps, within="3 days",
        max_events_per_key=10_000_000,
    ).collect()
    assert {r.user_id: (r.converted, r.start_ts) for r in capped} == exact
    assert all(r.n_dropped == 0 for r in capped)


def test_stream_funnel_completes_across_microbatches(spark, tmp_path):
    """Streaming greedy funnel: steps arriving in three separate
    micro-batches (one out of event-time order) complete once the
    watermark passes them, emitting exactly the batch operator's
    step timestamps; a non-converting key emits nothing."""
    import datetime as dt
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.operators.sessions import funnel, stream_funnel
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    src = str(tmp_path / "funnel_stream")
    _os.makedirs(src, exist_ok=True)
    # file a: u1's A and (out-of-order) C; u2 only A
    pd.DataFrame(
        {
            "user": ["u1", "u1", "u2"],
            "ts": pd.Series([ts(0), ts(10), ts(1)]).astype("datetime64[us]"),
            "e": ["A", "C", "A"],
        }
    ).to_parquet(src + "/a.parquet")
    # file b: u1's B (event-time BETWEEN the file-a events)
    pd.DataFrame(
        {
            "user": ["u1"],
            "ts": pd.Series([ts(5)]).astype("datetime64[us]"),
            "e": ["B"],
        }
    ).to_parquet(src + "/b.parquet")
    # file c: watermark pusher (far-future unrelated key)
    pd.DataFrame(
        {
            "user": ["wm"],
            "ts": pd.Series([ts(600)]).astype("datetime64[us]"),
            "e": ["X"],
        }
    ).to_parquet(src + "/c.parquet")
    t_a = _os.path.getmtime(src + "/a.parquet")
    _os.utime(src + "/b.parquet", (t_a + 10, t_a + 10))
    _os.utime(src + "/c.parquet", (t_a + 20, t_a + 20))

    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    out = stream_funnel(
        sdf,
        by=["user"],
        steps=[F.col("e") == s for s in ("A", "B", "C")],
        lateness="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM funnel_stream").collect()
    got = {r.user: (r.step_1_ts, r.step_2_ts, r.step_3_ts) for r in rows}
    batch = {
        r.user: (r.step_1_ts, r.step_2_ts, r.step_3_ts)
        for r in funnel(
            spark.read.parquet(src).filter(F.col("user") == "u1"),
            by=["user"],
            steps=[F.col("e") == s for s in ("A", "B", "C")],
        ).collect()
    }
    assert set(got) == {"u1"}  # u2 never converts, wm never matches step 1
    assert got["u1"] == batch["u1"] == (ts(0), ts(5), ts(10))


def test_stream_funnel_within_decides_starts_in_order(spark, tmp_path):
    """Time-boxed streaming funnel: the earliest start whose window
    fails (purchase lands outside `within`) is rejected for good, and a
    later start completing inside its window emits — equal to the batch
    funnel_within — with events arriving out of order across
    micro-batches. A never-converting key emits nothing."""
    import datetime as dt
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.operators.sessions import funnel_within, stream_funnel_within

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # u1: signup@0 fails (purchase@70 > 0+60) but signup@30 completes
    # (click@45, purchase@70 <= 90); u2 has no purchase at all
    rows = [
        ("u1", ts(0), "signup"), ("u1", ts(10), "click"),
        ("u1", ts(30), "signup"), ("u1", ts(45), "click"),
        ("u1", ts(70), "purchase"),
        ("u2", ts(5), "signup"), ("u2", ts(6), "click"),
    ]
    full = pd.DataFrame(rows, columns=["user", "ts", "e"])
    full["ts"] = full["ts"].astype("datetime64[us]")
    # arrival: scrambled (purchase and the second signup arrive FIRST),
    # then the rest, then the watermark pusher
    order = [4, 2, 0, 5, 1, 3, 6]
    full = pd.concat(
        [full.iloc[order], pd.DataFrame(
            {"user": ["wm"], "ts": [pd.Timestamp(ts(10_000)).as_unit("us")],
             "e": ["x"]})],
        ignore_index=True,
    )
    # concat can upcast mixed datetime units to ns, which this session
    # reads as LongType (nanosAsLong) — pin microseconds
    full["ts"] = full["ts"].astype("datetime64[us]")
    src = str(tmp_path / "fwin_stream")
    _os.makedirs(src, exist_ok=True)
    cuts = [(0, 2), (2, 5), (5, 7), (7, 8)]
    t_base = None
    for i, (a, b) in enumerate(cuts):
        p = f"{src}/f{i}.parquet"
        full.iloc[a:b].to_parquet(p)
        t_base = t_base or _os.path.getmtime(p)
        _os.utime(p, (t_base + 10 * i, t_base + 10 * i))

    schema = spark.read.parquet(src).schema
    steps = [F.col("e") == s for s in ("signup", "click", "purchase")]
    out = stream_funnel_within(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        by=["user"], steps=steps, within="60 minutes", lateness="30 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("fwin_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user: r.start_ts
        for r in spark.sql("SELECT * FROM fwin_stream").collect()
        if r.user != "wm"
    }
    batch = {
        r.user: r.start_ts
        for r in funnel_within(
            spark.read.parquet(src).filter(F.col("user") != "wm"),
            by=["user"], steps=steps, within="60 minutes",
        ).filter(F.col("converted")).collect()
    }
    assert got == batch == {"u1": ts(30)}
