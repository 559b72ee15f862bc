"""As-of / interval join (operators/joins.py) vs DuckDB's native ASOF
JOIN and range join (events view comes from the shared `duck` fixture)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.joins import JoinError, asof_join
from mysql_to_s3_spark.sources.registry import load_table


def test_asof_matches_duckdb_on_events(spark, sf_dir, duck):
    """Each purchase event gets the latest prior signup's value per user
    — identical to DuckDB ASOF JOIN row for row."""
    ev = load_table(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    quote = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id"), F.col("ts"), F.col("value").alias("signup_value")
    )
    got = {
        (r.event_id, r.signup_value)
        for r in asof_join(
            probe, quote, by=["user_id"], value_cols=["signup_value"]
        ).collect()
    }
    want = set(
        duck
        .execute(
            """
            SELECT p.event_id, q.value AS signup_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') q
              ON p.user_id = q.user_id AND p.ts >= q.ts
            """
        )
        .fetchall()
    )
    assert got == want
    assert any(v is not None for _, v in got)  # matches actually happen
    assert len(got) == probe.count()  # left join: every probe row kept


def test_asof_exact_match_and_tolerance(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    probe = spark.createDataFrame(
        [(1, "k", ts(10)), (2, "k", ts(30)), (3, "k", ts(0))],
        "id long, k string, ts timestamp",
    )
    quote = spark.createDataFrame(
        [("k", ts(10), 1.0), ("k", ts(25), 2.0)],
        "k string, ts timestamp, v double",
    )
    exact = {
        r.id: r.v
        for r in asof_join(probe, quote, by=["k"], value_cols=["v"]).collect()
    }
    # id=1 at t+10 sees the t+10 quote (exact match allowed); id=3 predates all
    assert exact == {1: 1.0, 2: 2.0, 3: None}
    strict = {
        r.id: r.v
        for r in asof_join(
            probe, quote, by=["k"], value_cols=["v"], allow_exact_matches=False
        ).collect()
    }
    assert strict == {1: None, 2: 2.0, 3: None}
    # tolerance: id=2 at t+30 matched t+25 (5 min back); a 4-minute window drops it
    tol = {
        r.id: r.v
        for r in asof_join(
            probe, quote, by=["k"], value_cols=["v"], tolerance="4 minutes"
        ).collect()
    }
    assert tol == {1: 1.0, 2: None, 3: None}


def test_asof_tiebreak_among_equal_ts_quotes(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    probe = spark.createDataFrame([(1, "k", t)], "id long, k string, ts timestamp")
    quote = spark.createDataFrame(
        [("k", t, 10.0, 1), ("k", t, 20.0, 2)],
        "k string, ts timestamp, v double, seq int",
    )
    r = asof_join(
        probe, quote, by=["k"], value_cols=["v"], quote_tiebreak="seq"
    ).first()
    assert r.v == 20.0  # highest tiebreak wins deterministically


def test_asof_single_shuffle_plan(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    quote = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("v")
    )
    plan = (
        asof_join(probe, quote, by=["user_id"], value_cols=["v"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_asof_validation(spark):
    df = spark.createDataFrame([(1, "k", 1.0)], "id long, k string, v double")
    with pytest.raises(JoinError, match="by"):
        asof_join(df, df, by=[], value_cols=["v"])
    with pytest.raises(JoinError, match="collide"):
        asof_join(df, df.withColumnRenamed("id", "x"), by=["k"], value_cols=["v"])


def test_interval_join_events_into_their_own_sessions(spark, sf_dir, duck):
    """Compose sessions -> interval_join: joining events into the session
    [start, end] intervals reproduces DuckDB's range join exactly, and
    every event lands in at least its own session."""
    from mysql_to_s3_spark.operators.joins import interval_join
    from mysql_to_s3_spark.operators.sessions import session_stats

    ev = load_table(spark, sf_dir, "events")
    sess = session_stats(ev, by=["user_id"], gap="30 minutes").select(
        "user_id",
        F.col("session_start").alias("start"),
        F.col("session_end").alias("end"),
        F.col("session_seq").alias("sess"),
    )
    got = {
        (r.event_id, r.sess)
        for r in interval_join(
            ev.select("event_id", "user_id", "ts"),
            sess,
            by=["user_id"],
            value_cols=["sess"],
            granularity_secs=1800,
        ).collect()
    }
    con = duck
    con.execute(
        """
        CREATE OR REPLACE VIEW sess AS
        WITH m AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS n
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, ts,
                     sum(n) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) - 1 AS sess
              FROM m)
        SELECT user_id, sess, min(ts) AS s0, max(ts) AS s1
        FROM s GROUP BY user_id, sess
        """
    )
    want = set(
        con.execute(
            """SELECT e.event_id, s.sess FROM events e JOIN sess s
               ON e.user_id = s.user_id AND e.ts >= s.s0 AND e.ts <= s.s1"""
        ).fetchall()
    )
    assert got == want
    assert len(got) >= load_table(spark, sf_dir, "events").count()


def test_interval_join_is_equi_join_not_range_cross(spark, sf_dir):
    from mysql_to_s3_spark.operators.joins import interval_join
    from mysql_to_s3_spark.operators.sessions import session_stats

    ev = load_table(spark, sf_dir, "events")
    sess = session_stats(ev, by=["user_id"], gap="30 minutes").select(
        "user_id",
        F.col("session_start").alias("start"),
        F.col("session_end").alias("end"),
        F.col("session_seq").alias("sess"),
    )
    plan = (
        interval_join(
            ev.select("event_id", "user_id", "ts"), sess,
            by=["user_id"], value_cols=["sess"],
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    # hash-partitioned equi-join on (key, bucket); the range predicate
    # refines INSIDE it — no BroadcastNestedLoopJoin/CartesianProduct
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_asof_null_keys_and_null_ts_never_match(spark):
    """SQL join semantics: a NULL by-key or NULL quote timestamp never
    matches (DuckDB ASOF JOIN parity — NULL = NULL is not true)."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    probe = spark.createDataFrame(
        [(1, None, t), (2, "k", t)], "id long, k string, ts timestamp"
    )
    quote = spark.createDataFrame(
        [(None, t - dt.timedelta(hours=1), 9.0), ("k", None, 5.0)],
        "k string, ts timestamp, v double",
    )
    got = {r.id: r.v for r in asof_join(probe, quote, by=["k"], value_cols=["v"]).collect()}
    # probe 1 has a NULL key; quote 1 has a NULL ts — neither pair matches
    assert got == {1: None, 2: None}


# -- property: random corpora (with NULL keys/timestamps) vs DuckDB ASOF --

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_key = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
_minute = st.one_of(st.none(), st.integers(min_value=0, max_value=120))
_probe_row = st.tuples(_key, st.integers(min_value=0, max_value=120))
_quote_row = st.tuples(_key, _minute, st.floats(min_value=-10, max_value=10,
                                               allow_nan=False, width=32))


@given(
    st.lists(_probe_row, min_size=1, max_size=15),
    st.lists(_quote_row, min_size=0, max_size=15),
    st.booleans(),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_asof_property_matches_duckdb(spark, probes, quotes, exact):
    import datetime as dt

    import duckdb as _dd

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return None if m is None else t0 + dt.timedelta(minutes=m)

    pdf = [(i, k, ts(m)) for i, (k, m) in enumerate(probes)]
    qdf = [(k, ts(m), float(v)) for (k, m, v) in quotes]
    probe = spark.createDataFrame(pdf, "id long, k string, ts timestamp")
    quote = spark.createDataFrame(qdf, "k string, ts timestamp, v double")
    got = {
        r.id: (None if r.v is None else round(r.v, 6))
        for r in asof_join(
            probe, quote, by=["k"], value_cols=["v"], allow_exact_matches=exact,
            quote_tiebreak="v",  # deterministic winner among equal-ts quotes
        ).collect()
    }
    con = _dd.connect()
    con.execute("CREATE TABLE p (id BIGINT, k VARCHAR, ts TIMESTAMP)")
    con.execute("CREATE TABLE q (k VARCHAR, ts TIMESTAMP, v DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?)", pdf)
    if qdf:
        con.executemany("INSERT INTO q VALUES (?, ?, ?)", qdf)
    op = ">=" if exact else ">"
    # DuckDB ASOF picks an arbitrary winner among equal-ts quotes; make it
    # deterministic the same way (max v per (k, ts)) before the ASOF join
    want = {
        i: (None if v is None else round(v, 6))
        for i, v in con.execute(
            f"""SELECT p.id, q.v FROM p ASOF LEFT JOIN
                (SELECT k, ts, max(v) AS v FROM q
                 WHERE k IS NOT NULL AND ts IS NOT NULL GROUP BY k, ts) q
                ON p.k = q.k AND p.ts {op} q.ts"""
        ).fetchall()
    }
    assert got == want


_iv_row = st.tuples(_key, st.integers(min_value=0, max_value=100),
                    st.integers(min_value=0, max_value=40))


@given(
    st.lists(_probe_row, min_size=1, max_size=12),
    st.lists(_iv_row, min_size=0, max_size=8),
    st.sampled_from([60, 600, 3600]),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_interval_join_property_matches_duckdb(spark, probes, ivs, gran):
    """Bucketized interval join == plain range join for any granularity."""
    import datetime as dt

    import duckdb as _dd

    from mysql_to_s3_spark.operators.joins import interval_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    pdf = [(i, k, ts(m)) for i, (k, m) in enumerate(probes)]
    # interval = [start, start + dur]; iv id for identity
    idf = [(j, k, ts(s), ts(s + d)) for j, (k, s, d) in enumerate(ivs)]
    probe = spark.createDataFrame(pdf, "id long, k string, ts timestamp")
    intervals = spark.createDataFrame(idf, "iv long, k string, start timestamp, end timestamp")
    got = {
        (r.id, r.iv)
        for r in interval_join(
            probe, intervals, by=["k"], value_cols=["iv"], granularity_secs=gran
        ).collect()
    }
    con = _dd.connect()
    con.execute("CREATE TABLE p (id BIGINT, k VARCHAR, ts TIMESTAMP)")
    con.execute("CREATE TABLE iv (iv BIGINT, k VARCHAR, s TIMESTAMP, e TIMESTAMP)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?)", pdf)
    if idf:
        con.executemany("INSERT INTO iv VALUES (?, ?, ?, ?)", idf)
    want = set(
        con.execute(
            "SELECT p.id, iv.iv FROM p JOIN iv ON p.k = iv.k "
            "AND p.ts >= iv.s AND p.ts <= iv.e"
        ).fetchall()
    )
    assert got == want


def test_stream_asof_join_matches_batch(spark, tmp_path):
    """Streaming as-of over a unioned event stream equals the batch
    asof_join on the same data, with quotes and probes arriving across
    micro-batches and one quote arriving out of event-time order."""
    import datetime as dt
    import os as _os

    import pandas as pd
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.joins import asof_join, stream_asof_join
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    src = str(tmp_path / "asof_stream")
    _os.makedirs(src, exist_ok=True)
    # file a: k1 quote@0 (v=1), k1 probe@10, k2 probe@3 (no quote ever)
    pd.DataFrame(
        {
            "k": ["k1", "k1", "k2"],
            "event_id": [1, 2, 3],
            "ts": pd.Series([ts(0), ts(10), ts(3)]).astype("datetime64[us]"),
            "e": ["q", "p", "p"],
            "v": [1.0, None, None],
        }
    ).to_parquet(src + "/a.parquet")
    # file b: k1 quote@5 (v=2, event-time BETWEEN file-a events) and probe@20
    pd.DataFrame(
        {
            "k": ["k1", "k1"],
            "event_id": [4, 5],
            "ts": pd.Series([ts(5), ts(20)]).astype("datetime64[us]"),
            "e": ["q", "p"],
            "v": [2.0, None],
        }
    ).to_parquet(src + "/b.parquet")
    # file c: watermark pusher
    pd.DataFrame(
        {
            "k": ["wm"],
            "event_id": [99],
            "ts": pd.Series([ts(600)]).astype("datetime64[us]"),
            "e": ["q"],
            "v": [0.0],
        }
    ).to_parquet(src + "/c.parquet")
    t_a = _os.path.getmtime(src + "/a.parquet")
    _os.utime(src + "/b.parquet", (t_a + 10, t_a + 10))
    _os.utime(src + "/c.parquet", (t_a + 20, t_a + 20))

    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    out = stream_asof_join(
        sdf,
        by=["k"],
        probe_when=F.col("e") == "p",
        quote_when=F.col("e") == "q",
        value_cols=["v"],
        probe_id_col="event_id",
        lateness="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: (r.k, r.ts, r.asof_ts, r.v)
        for r in spark.sql("SELECT * FROM asof_stream").collect()
        if r.k != "wm"
    }

    all_rows = spark.read.parquet(src)
    batch = asof_join(
        all_rows.filter(F.col("e") == "p").select("k", "event_id", "ts"),
        all_rows.filter(F.col("e") == "q").select("k", "ts", "v"),
        by=["k"],
        value_cols=["v"],
    )
    want = {r.event_id: (r.k, r.ts) for r in batch.collect()}
    vals = {r.event_id: r.v for r in batch.collect()}
    assert set(got) == set(want) == {2, 3, 5}
    for eid in got:
        assert (got[eid][0], got[eid][1]) == want[eid]
        assert got[eid][3] == vals[eid]
    # the out-of-order quote@5 is the as-of match for probe@10
    assert got[2][2] == ts(5) and got[2][3] == 2.0
    assert got[3][2] is None and got[3][3] is None  # k2: no quote


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Native stream-stream interval join (wrapped with the state-bound
    conditions) equals the batch interval_join on the same data, with
    probes and intervals arriving in separate micro-batches."""
    import datetime as dt
    import os as _os

    import pandas as pd
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.joins import interval_join, stream_interval_join
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    psrc = str(tmp_path / "probe_stream")
    isrc = str(tmp_path / "iv_stream")
    _os.makedirs(psrc, exist_ok=True)
    _os.makedirs(isrc, exist_ok=True)
    pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "event_id": [1, 2, 3],
            "ts": pd.Series([ts(5), ts(45), ts(5)]).astype("datetime64[us]"),
        }
    ).to_parquet(psrc + "/p1.parquet")
    pd.DataFrame(
        {
            "k": ["a"],
            "event_id": [4],
            "ts": pd.Series([ts(12)]).astype("datetime64[us]"),
        }
    ).to_parquet(psrc + "/p2.parquet")
    t_p = _os.path.getmtime(psrc + "/p1.parquet")
    _os.utime(psrc + "/p2.parquet", (t_p + 10, t_p + 10))
    pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "iv": [10, 11, 12],
            "start": pd.Series([ts(0), ts(10), ts(40)]).astype("datetime64[us]"),
            "end": pd.Series([ts(15), ts(20), ts(50)]).astype("datetime64[us]"),
        }
    ).to_parquet(isrc + "/i1.parquet")

    ps = spark.read.parquet(psrc).schema
    isch = spark.read.parquet(isrc).schema
    out = stream_interval_join(
        read_parquet_stream(spark, psrc, ps, max_files_per_trigger=1),
        read_parquet_stream(spark, isrc, isch, max_files_per_trigger=1),
        by=["k"],
        value_cols=["iv"],
        lateness="5 minutes",
        max_span="1 hour",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("iv_stream_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.iv)
        for r in spark.sql("SELECT * FROM iv_stream_join").collect()
    }
    want = {
        (r.event_id, r.iv)
        for r in interval_join(
            spark.read.parquet(psrc),
            spark.read.parquet(isrc),
            by=["k"],
            value_cols=["iv"],
            granularity_secs=600,
        ).collect()
    }
    # probe 1 (a@5) -> iv 10; probe 4 (a@12) -> ivs 10 and 11; probe 2
    # (a@45) and probe 3 (b@5) match nothing of their key
    assert want == {(1, 10), (4, 10), (4, 11)}
    assert got == want


def test_stream_asof_first_batch_state_survives_quiet_batches(spark, tmp_path):
    """Regression: state created in the query's FIRST micro-batch (when
    getCurrentWatermarkMs() is still 0) must not expire at the next
    batch. A quote arrives in batch 0; batch 1 touches only another key
    (advancing the watermark past the 1970-epoch timeout the old code
    armed); the probe in batch 2 must still match the batch-0 quote."""
    import datetime as dt
    import os as _os

    import pandas as pd
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.joins import stream_asof_join
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    src = str(tmp_path / "asof_quiet")
    _os.makedirs(src, exist_ok=True)
    # one dtype-stable frame sliced per micro-batch (an all-None chunk of
    # a float column must stay float64, not pyarrow's null type — the
    # _write_arrival_files discipline from test_stream_properties.py):
    # batch 0: k1's quote only; batch 1: unrelated key only — k1 gets
    # NOTHING (advancing the watermark past the 1970-epoch timeout the
    # old code armed); batch 2: k1's probe (in-horizon: 8 > 5-60);
    # batch 3: watermark pusher drains everything.
    full = pd.DataFrame(
        {
            "k": ["k1", "k2", "k1", "wm"],
            "event_id": [1, 2, 3, 9],
            "ts": pd.Series([ts(0), ts(5), ts(8), ts(600)]).astype("datetime64[us]"),
            "e": ["q", "q", "p", "q"],
            "v": [7.0, 1.0, None, 0.0],
        }
    )
    t_base = None
    for i in range(len(full)):
        p = f"{src}/f{i}.parquet"
        full.iloc[i:i + 1].to_parquet(p)
        t_base = t_base or _os.path.getmtime(p)
        _os.utime(p, (t_base + 10 * i, t_base + 10 * i))

    schema = spark.read.parquet(src).schema
    out = stream_asof_join(
        read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
        by=["k"],
        probe_when=F.col("e") == "p",
        quote_when=F.col("e") == "q",
        value_cols=["v"],
        probe_id_col="event_id",
        lateness="60 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("asof_quiet")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: (r.asof_ts, r.v)
        for r in spark.sql("SELECT * FROM asof_quiet").collect()
        if r.k == "k1"
    }
    assert got == {3: (ts(0), 7.0)}


@given(
    st.lists(_probe_row, min_size=1, max_size=15),
    st.lists(_quote_row, min_size=0, max_size=15),
    st.booleans(),
    st.sampled_from(["forward", "nearest"]),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_asof_direction_property_matches_duckdb(spark, probes, quotes, exact, direction):
    """forward / nearest directions vs a correlated-subquery DuckDB
    oracle spelling out the pandas merge_asof contract (nearest ties ->
    backward; equal-ts quote winner pinned by max-v tiebreak)."""
    import datetime as dt

    import duckdb as _dd

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return None if m is None else t0 + dt.timedelta(minutes=m)

    pdf = [(i, k, ts(m)) for i, (k, m) in enumerate(probes)]
    qdf = [(k, ts(m), float(v)) for (k, m, v) in quotes]
    probe = spark.createDataFrame(pdf, "id long, k string, ts timestamp")
    quote = spark.createDataFrame(qdf, "k string, ts timestamp, v double")
    got = {
        r.id: (None if r.v is None else round(r.v, 6))
        for r in asof_join(
            probe, quote, by=["k"], value_cols=["v"], allow_exact_matches=exact,
            quote_tiebreak="v", direction=direction,
        ).collect()
    }
    con = _dd.connect()
    con.execute("CREATE TABLE p (id BIGINT, k VARCHAR, ts TIMESTAMP)")
    con.execute("CREATE TABLE q0 (k VARCHAR, ts TIMESTAMP, v DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?)", pdf)
    if qdf:
        con.executemany("INSERT INTO q0 VALUES (?, ?, ?)", qdf)
    con.execute(
        """CREATE TABLE q AS SELECT k, ts, max(v) AS v FROM q0
           WHERE k IS NOT NULL AND ts IS NOT NULL GROUP BY k, ts"""
    )
    ge, le = (">=", "<=") if exact else (">", "<")
    back = f"""(SELECT q.v FROM q WHERE q.k = p.k AND p.ts {ge} q.ts
                ORDER BY q.ts DESC LIMIT 1)"""
    fwd = f"""(SELECT q.v FROM q WHERE q.k = p.k AND p.ts {le} q.ts
               ORDER BY q.ts ASC LIMIT 1)"""
    back_ts = f"""(SELECT q.ts FROM q WHERE q.k = p.k AND p.ts {ge} q.ts
                   ORDER BY q.ts DESC LIMIT 1)"""
    fwd_ts = f"""(SELECT q.ts FROM q WHERE q.k = p.k AND p.ts {le} q.ts
                  ORDER BY q.ts ASC LIMIT 1)"""
    if direction == "forward":
        sel = fwd
    else:
        sel = f"""CASE
            WHEN {back_ts} IS NULL THEN {fwd}
            WHEN {fwd_ts} IS NULL THEN {back}
            WHEN (epoch({fwd_ts}) - epoch(p.ts)) < (epoch(p.ts) - epoch({back_ts}))
                 THEN {fwd}
            ELSE {back} END"""
    want = {
        i: (None if v is None else round(v, 6))
        for i, v in con.execute(f"SELECT p.id, {sel} FROM p").fetchall()
    }
    assert got == want


def test_asof_forward_is_backward_under_time_reversal(spark):
    """Duality: forward(probe, quote) on numeric event times equals
    backward on the negated times — pins the direction machinery to the
    already-oracle-verified backward path with no SQL at all."""
    import random as _random

    rng = _random.Random(20260814)
    probes = [(i, f"k{rng.randrange(3)}", float(rng.randrange(200)))
              for i in range(40)]
    quotes = [(f"k{rng.randrange(3)}", float(rng.randrange(200)), float(i))
              for i in range(40)]
    p = spark.createDataFrame(probes, "id long, k string, ts double")
    q = spark.createDataFrame(quotes, "k string, ts double, v double")
    for exact in (True, False):
        fwd = {
            r.id: r.v
            for r in asof_join(p, q, by=["k"], value_cols=["v"],
                               allow_exact_matches=exact, quote_tiebreak="v",
                               direction="forward").collect()
        }
        pn = p.withColumn("ts", -F.col("ts"))
        qn = q.withColumn("ts", -F.col("ts"))
        back = {
            r.id: r.v
            for r in asof_join(pn, qn, by=["k"], value_cols=["v"],
                               allow_exact_matches=exact, quote_tiebreak="v",
                               direction="backward").collect()
        }
        assert fwd == back, exact


def test_asof_direction_validation_and_nearest_tie(spark):
    with pytest.raises(JoinError, match="direction"):
        asof_join(
            spark.range(1).withColumn("k", F.lit("a")).withColumn("ts", F.lit(1.0)),
            spark.range(1).withColumn("k", F.lit("a")).withColumn("ts", F.lit(1.0)).withColumn("v", F.lit(2.0)),
            by=["k"], value_cols=["v"], direction="sideways",
        )
    # equidistant quotes: nearest takes the BACKWARD one (pandas tie rule)
    p = spark.createDataFrame([(1, "a", 10.0)], "id long, k string, ts double")
    q = spark.createDataFrame(
        [("a", 7.0, 100.0), ("a", 13.0, 200.0)], "k string, ts double, v double"
    )
    r = asof_join(p, q, by=["k"], value_cols=["v"], direction="nearest").collect()
    assert r[0].v == 100.0


def test_interval_join_left_keeps_uncontained_probes(spark, duck):
    import datetime as dt

    from mysql_to_s3_spark.operators.joins import interval_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    probe = spark.createDataFrame(
        [(1, "a", ts(5)), (2, "a", ts(500)), (3, "b", ts(5))],
        "id long, k string, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [("a", 90, ts(0), ts(10))], "k string, iv long, start timestamp, end timestamp"
    )
    got = {
        (r.id, r.iv)
        for r in interval_join(
            probe, ivs, by=["k"], value_cols=["iv"], how="left",
            granularity_secs=600,
        ).collect()
    }
    assert got == {(1, 90), (2, None), (3, None)}
    with pytest.raises(JoinError, match="how"):
        interval_join(probe, ivs, by=["k"], value_cols=["iv"], how="full")


def test_stream_asof_forward_bounded_by_tolerance(spark, tmp_path):
    """Forward streaming as-of: a probe emits the EARLIEST following
    quote inside [ts, ts+tolerance] once the watermark proves the
    window complete; no quote in-window -> nulls; the quote arriving in
    a LATER micro-batch than its probe still matches."""
    import datetime as dt
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.operators.joins import stream_asof_join_forward
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # probe@10: quotes @5 (before: no), @12 (in window: MATCH), @14
    # (in window but later), @20 (outside tol=5) ; probe@30: none in
    # [30, 35] -> nulls
    full = pd.DataFrame(
        {
            "k": ["k1"] * 6 + ["wm"],
            "event_id": [1, 2, 3, 4, 5, 6, 9],
            "ts": pd.Series(
                [ts(10), ts(5), ts(12), ts(14), ts(20), ts(30), ts(600)]
            ).astype("datetime64[us]"),
            "e": ["p", "q", "q", "q", "q", "p", "q"],
            "v": [None, 5.0, 12.0, 14.0, 20.0, None, 0.0],
        }
    )
    src = str(tmp_path / "fwd_stream")
    _os.makedirs(src, exist_ok=True)
    # probe first, its matching quote in a LATER batch, then the rest
    cuts = [(0, 2), (2, 4), (4, 6), (6, 7)]
    t_base = None
    for i, (a, b) in enumerate(cuts):
        p = f"{src}/f{i}.parquet"
        full.iloc[a:b].to_parquet(p)
        t_base = t_base or _os.path.getmtime(p)
        _os.utime(p, (t_base + 10 * i, t_base + 10 * i))

    schema = spark.read.parquet(src).schema
    out = stream_asof_join_forward(
        read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
        by=["k"],
        probe_when=F.col("e") == "p",
        quote_when=F.col("e") == "q",
        value_cols=["v"],
        tolerance="5 minutes",
        probe_id_col="event_id",
        lateness="30 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("fwd_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: (r.asof_ts, r.v)
        for r in spark.sql("SELECT * FROM fwd_stream").collect()
        if r.k == "k1"
    }
    assert got == {1: (ts(12), 12.0), 6: (None, None)}


def test_stream_asof_nearest_picks_closer_ties_backward(spark, tmp_path):
    """direction='nearest' on the tolerance-bounded stream: closer side
    wins; equidistant -> backward (batch convention)."""
    import datetime as dt
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.operators.joins import stream_asof_join_forward
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # probe@10: quotes @7 (d=3 back) vs @12 (d=2 fwd) -> 12
    # probe@30: quotes @28 (d=2 back) vs @32 (d=2 fwd) -> tie -> 28
    # probe@60: only @70 (d=10 > tol 5) -> nulls
    full = pd.DataFrame(
        {
            "k": ["k1"] * 8 + ["wm"],
            "event_id": [1, 2, 3, 4, 5, 6, 7, 8, 9],
            "ts": pd.Series(
                [ts(10), ts(7), ts(12), ts(30), ts(28), ts(32), ts(60), ts(70),
                 ts(600)]
            ).astype("datetime64[us]"),
            "e": ["p", "q", "q", "p", "q", "q", "p", "q", "q"],
            "v": [None, 7.0, 12.0, None, 28.0, 32.0, None, 70.0, 0.0],
        }
    )
    src = str(tmp_path / "nearest_stream")
    _os.makedirs(src, exist_ok=True)
    cuts = [(0, 3), (3, 6), (6, 8), (8, 9)]
    t_base = None
    for i, (a, b) in enumerate(cuts):
        p = f"{src}/f{i}.parquet"
        full.iloc[a:b].to_parquet(p)
        t_base = t_base or _os.path.getmtime(p)
        _os.utime(p, (t_base + 10 * i, t_base + 10 * i))

    schema = spark.read.parquet(src).schema
    out = stream_asof_join_forward(
        read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
        by=["k"],
        probe_when=F.col("e") == "p",
        quote_when=F.col("e") == "q",
        value_cols=["v"],
        tolerance="5 minutes",
        probe_id_col="event_id",
        lateness="30 minutes",
        direction="nearest",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("nearest_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: r.v
        for r in spark.sql("SELECT * FROM nearest_stream").collect()
        if r.k == "k1"
    }
    assert got == {1: 12.0, 4: 28.0, 7: None}


def test_asof_join_multi_equals_separate_directional_joins(spark, sf_dir):
    """r10 optimization gate: the fused multi-direction as-of (one
    union+window pass, guide §2.4) is row-for-row equal to the four
    independent asof_join calls it replaced in temporal_events — same
    probe/quote/tiebreak, specs covering backward, forward, nearest,
    and backward+tolerance."""
    from mysql_to_s3_spark.operators.joins import asof_join_multi

    ev = load_table(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    quote = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("sv")
    )
    specs = [
        ("asof", "backward", None),
        ("asoff", "forward", None),
        ("asofn", "nearest", None),
        ("asoft", "backward", "2 days"),
    ]
    fused = asof_join_multi(
        probe, quote, by=["user_id"], value_cols=["sv"],
        quote_tiebreak="sv", specs=specs,
    )
    got = {
        leg: sorted(
            (r.event_id, r.sv)
            for r in fused.filter(F.col("leg") == leg).collect()
        )
        for leg, _, _ in specs
    }
    for leg, direction, tolerance in specs:
        want = sorted(
            (r.event_id, r.sv)
            for r in asof_join(
                probe, quote, by=["user_id"], value_cols=["sv"],
                quote_tiebreak="sv", direction=direction, tolerance=tolerance,
            ).collect()
        )
        assert got[leg] == want, f"leg {leg} diverged from asof_join"
        assert len(want) > 0


def test_asof_join_multi_plan_has_single_exchange(spark, sf_dir):
    """The point of the fusion: ONE shuffle for all four directional
    legs (the separate plans paid one Exchange each)."""
    from mysql_to_s3_spark.operators.joins import asof_join_multi

    # the temporal row caches its fused as-of frame; when the full suite
    # has built that row first, the CacheManager substitutes an
    # InMemoryTableScan into this identical plan and the stored plan text
    # doubles the Exchange count — clear the catalog's cached frames so
    # this plan is uncached
    spark.catalog.clearCache()

    ev = load_table(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    quote = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("sv")
    )
    fused = asof_join_multi(
        probe, quote, by=["user_id"], value_cols=["sv"], quote_tiebreak="sv",
        specs=[
            ("asof", "backward", None),
            ("asoff", "forward", None),
            ("asofn", "nearest", None),
            ("asoft", "backward", "2 days"),
        ],
    )
    plan = fused._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"expected 1 exchange, plan had {n_exchange}:\n{plan}"


def test_asof_join_multi_validation(spark):
    import datetime as dt

    from mysql_to_s3_spark.operators.joins import asof_join_multi

    t0 = dt.datetime(2024, 1, 1)
    probe = spark.createDataFrame([(1, "k", t0)], "id long, k string, ts timestamp")
    quote = spark.createDataFrame(
        [("k", t0, 1.0)], "k string, ts timestamp, v double"
    )
    with pytest.raises(JoinError, match="duplicate spec names"):
        asof_join_multi(
            probe, quote, ["k"], ["v"],
            [("a", "backward", None), ("a", "forward", None)],
        )
    with pytest.raises(JoinError, match="at least one spec"):
        asof_join_multi(probe, quote, ["k"], ["v"], [])
    with pytest.raises(JoinError, match="backward|forward|nearest"):
        asof_join_multi(probe, quote, ["k"], ["v"], [("a", "sideways", None)])
    with pytest.raises(JoinError, match="leg_col"):
        asof_join_multi(
            probe, quote, ["k"], ["v"], [("a", "backward", None)], leg_col="id"
        )
