"""Sub-document dedup: cross-doc duplicated-span fraction (Lee et al.
2022 exact-substring signal) and CCNet/RefinedWeb-style line-level
boilerplate removal — `operators/dedup.py` tail section.

Both operators are also driver-hash-verified as legs of the
`text_winnow_fingerprint` row (queries.py) against a DuckDB replica;
these tests pin the operator-level contracts on hand-built corpora
where the expected answer is enumerable by eye.
"""

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.dedup import (
    duplicated_span_fraction,
    span_windows,
    strip_boilerplate_lines,
    strip_duplicated_spans,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_span_keys_count_and_short_doc(spark):
    df = _docs(spark, [(1, "a b c d e f"), (2, "a b c"), (3, "x")])
    wins = sorted((r["id"], r["start"]) for r in span_windows(df, k=5).collect())
    # 6 tokens -> 2 windows of 5; docs shorter than k contribute no rows
    assert wins == [(1, 1), (1, 2)]


def test_span_keys_case_insensitive(spark):
    df = _docs(spark, [(1, "Foo Bar Baz"), (2, "foo bar baz")])
    a, b = sorted(span_windows(df, k=3).collect())
    assert (a["id"], b["id"]) == (1, 2) and a["key"] == b["key"]


def test_span_consumers_refuse_wins_of_another_width(spark):
    """A wins= frame built with a different k, or one span_windows never
    stamped, is refused by name instead of giving wrong spans."""
    df = _docs(spark, [(1, "a b c d e f g"), (2, "z a b c d e f")])
    wins3 = span_windows(df, k=3)
    for op in (duplicated_span_fraction, strip_duplicated_spans):
        with pytest.raises(ValueError, match=r"k=3.*k=5"):
            op(df, k=5, wins=wins3)
        with pytest.raises(ValueError, match=r"k=None.*k=3"):
            op(df, k=3, wins=wins3.withColumn("key", F.concat(F.col("key"))))
    assert duplicated_span_fraction(df, k=3, wins=wins3).count() == 2


def test_duplicated_span_fraction_hand_corpus(spark):
    # docs 1 and 2 share the run "p q r s t"; doc 3 is disjoint; doc 4 is
    # too short for any window
    df = _docs(
        spark,
        [
            (1, "p q r s t u v"),   # windows: pqrst qrstu rstuv
            (2, "z p q r s t"),     # windows: zpqrs pqrst
            (3, "m n o m n o m"),   # 3 windows, none shared across docs
            (4, "a b"),
        ],
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
        for r in duplicated_span_fraction(df, k=5).collect()
    }
    assert out[1] == (3, 1, pytest.approx(1 / 3, abs=1e-6))
    assert out[2] == (2, 1, pytest.approx(0.5, abs=1e-6))
    assert out[3] == (3, 0, 0.0)
    assert out[4] == (0, 0, None)


def test_duplicated_span_fraction_in_doc_repeat_not_dup(spark):
    # the same span repeated WITHIN one doc is not cross-doc duplication
    df = _docs(spark, [(1, "a b c a b c a b c"), (2, "x y z w v u")])
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in duplicated_span_fraction(df, k=3).collect()
    }
    assert out[1] == (7, 0)
    assert out[2] == (4, 0)


def test_duplicated_span_fraction_min_docs(spark):
    df = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "a b c")])
    frac2 = {
        r["doc_id"]: r["dup_frac"]
        for r in duplicated_span_fraction(df, k=3, min_docs=2).collect()
    }
    frac4 = {
        r["doc_id"]: r["dup_frac"]
        for r in duplicated_span_fraction(df, k=3, min_docs=4).collect()
    }
    assert frac2 == {1: 1.0, 2: 1.0, 3: 1.0}
    assert frac4 == {1: 0.0, 2: 0.0, 3: 0.0}


def test_strip_boilerplate_basic(spark):
    df = _docs(
        spark,
        [
            (1, "keep me\nshared footer\nunique a"),
            (2, "shared footer\nunique b"),
            (3, "unique c\n\nshared footer"),
        ],
    )
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=1).collect()}
    assert out[1]["clean_text"] == "keep me\nunique a"
    assert out[2]["clean_text"] == "unique b"
    # the blank line is structural and survives
    assert out[3]["clean_text"] == "unique c\n"
    assert [out[i]["n_dropped"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [out[i]["n_lines"] for i in (1, 2, 3)] == [3, 2, 3]


def test_strip_boilerplate_trim_normalization(spark):
    # the SAME content with different surrounding whitespace is one line
    # for frequency purposes, but the kept text is untouched
    df = _docs(spark, [(1, "  footer  \nmine"), (2, "footer\nyours")])
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=1).collect()}
    assert out[1]["clean_text"] == "mine"
    assert out[2]["clean_text"] == "yours"


def test_strip_boilerplate_max_docs_threshold(spark):
    df = _docs(spark, [(1, "x\na"), (2, "x\nb"), (3, "x\nc")])
    keep2 = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=3).collect()}
    drop2 = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=2).collect()}
    assert keep2[1]["clean_text"] == "x\na" and keep2[1]["n_dropped"] == 0
    assert drop2[1]["clean_text"] == "a" and drop2[1]["n_dropped"] == 1


def test_strip_boilerplate_all_dropped_and_in_doc_repeat(spark):
    # doc 3 is nothing but boilerplate -> empty string, not null; a line
    # repeated within ONE doc only is not boilerplate
    df = _docs(spark, [(1, "same\nsame"), (2, "promo"), (3, "promo")])
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=1).collect()}
    assert out[1]["clean_text"] == "same\nsame" and out[1]["n_dropped"] == 0
    assert out[2]["clean_text"] == "" and out[2]["n_dropped"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_dropped"] == 1


def test_strip_boilerplate_order_preserved(spark):
    lines = [f"line {i}" for i in range(20)]
    df = _docs(spark, [(1, "\n".join(lines)), (2, "line 7\nline 3")])
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=1).collect()}
    kept = [l for l in lines if l not in ("line 7", "line 3")]
    assert out[1]["clean_text"] == "\n".join(kept)


def test_span_and_line_plans_have_no_cross_join(spark):
    df = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e g")])
    for out in (
        duplicated_span_fraction(df, k=5),
        strip_boilerplate_lines(df),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Property conformance vs a pure-Python reference
# ---------------------------------------------------------------------------

import re as _re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_TOK = _re.compile(r"\w+|[^\w\s]", _re.ASCII)
_VOCAB = ["a", "b", "c", "dd", "ee"]


def _py_span_fraction(rows, k, min_docs):
    spans = {}  # key -> set(doc)
    per_doc = {}
    for doc_id, text in rows:
        t = _TOK.findall(text.lower())
        wins = [tuple(t[i : i + k]) for i in range(len(t) - k + 1)]
        per_doc[doc_id] = wins
        for w in wins:
            spans.setdefault(w, set()).add(doc_id)
    out = {}
    for doc_id, wins in per_doc.items():
        dup = sum(1 for w in wins if len(spans[w]) >= min_docs)
        out[doc_id] = (
            len(wins),
            dup,
            round(dup / len(wins), 6) if wins else None,
        )
    return out


def _py_strip_lines(rows, max_docs):
    freq = {}  # trimmed line -> set(doc)
    for doc_id, text in rows:
        for ln in text.split("\n"):
            if ln.strip():
                freq.setdefault(ln.strip(), set()).add(doc_id)
    out = {}
    for doc_id, text in rows:
        kept, dropped = [], 0
        for ln in text.split("\n"):
            if not ln.strip() or len(freq.get(ln.strip(), ())) <= max_docs:
                kept.append(ln)
            else:
                dropped += 1
        out[doc_id] = ("\n".join(kept), len(text.split("\n")), dropped)
    return out


_doc_text = st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=12).map(" ".join)
_line_text = st.lists(
    st.sampled_from(["promo", "nav bar", "real content", "  promo  ", ""]),
    min_size=1,
    max_size=6,
).map("\n".join)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(_doc_text, min_size=1, max_size=8),
    k=st.integers(min_value=2, max_value=4),
    min_docs=st.integers(min_value=2, max_value=3),
)
def test_prop_span_fraction_matches_python(spark, texts, k, min_docs):
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
        for r in duplicated_span_fraction(df, k=k, min_docs=min_docs).collect()
    }
    want = _py_span_fraction(rows, k, min_docs)
    for d in want:
        g, w = got[d], want[d]
        assert g[0] == w[0] and g[1] == w[1], (d, g, w)
        if w[2] is None:
            assert g[2] is None
        else:
            assert abs(g[2] - w[2]) < 1e-9


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(_line_text, min_size=1, max_size=8),
    max_docs=st.integers(min_value=1, max_value=3),
)
def test_prop_strip_lines_matches_python(spark, texts, max_docs):
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_dropped"])
        for r in strip_boilerplate_lines(df, max_docs=max_docs).collect()
    }
    assert got == _py_strip_lines(rows, max_docs)


def test_strip_duplicated_spans_keeper_semantics(spark):
    """r8: the rewrite half of exact-substring dedup — the keeper (min
    doc id) keeps its span, every other holder loses exactly the
    covered tokens (case-insensitive keying, original-case rebuild);
    unique docs and sub-k docs pass through untouched."""
    from mysql_to_s3_spark.operators.dedup import strip_duplicated_spans

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} one two three"),
            (2, f"zero {shared.upper()} four five"),
            (3, "totally unrelated words only here now"),
            (4, "tiny doc"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in strip_duplicated_spans(docs, k=5).collect()
    }
    # keeper (doc 1) intact
    assert got[1]["clean_text"] == f"{shared} one two three"
    assert got[1]["n_removed"] == 0
    # doc 2 loses the 5 covered tokens (its ORIGINAL-case copy), rest kept
    assert got[2]["clean_text"] == "zero four five"
    assert got[2]["n_removed"] == 5
    # untouched docs
    assert got[3]["n_removed"] == 0 and got[3]["clean_text"].startswith("totally")
    assert got[4]["n_removed"] == 0 and got[4]["clean_text"] == "tiny doc"
    assert got[4]["n_tokens"] == 2


def test_token_frame_pooling_matches_unpooled(spark):
    """r9: the toks= pooling hook — duplicated_span_fraction and
    strip_duplicated_spans fed a shared token_frame produce EXACTLY the
    no-pool outputs (mixed case, punctuation, sub-k docs, a 3-holder
    span family), and a malformed toks frame is refused with a clear
    error."""
    from mysql_to_s3_spark.operators.dedup import (
        strip_duplicated_spans,
        token_frame,
    )

    shared = "Alpha beta GAMMA delta, epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} one two three"),
            (2, f"zero {shared.lower()} four"),
            (3, f"pre {shared.upper()} post!"),
            (4, "unrelated words only here now truly"),
            (5, "tiny"),
        ],
        "doc_id bigint, text string",
    )
    toks = token_frame(docs)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(duplicated_span_fraction(docs, k=5, toks=toks)) == rows(
        duplicated_span_fraction(docs, k=5)
    )
    assert rows(strip_duplicated_spans(docs, k=5, toks=toks)) == rows(
        strip_duplicated_spans(docs, k=5)
    )
    bad = docs.select(F.col("doc_id").alias("id"))
    with pytest.raises(ValueError, match="token_frame"):
        duplicated_span_fraction(docs, k=5, toks=bad)
    with pytest.raises(ValueError, match="token_frame"):
        strip_duplicated_spans(docs, k=5, toks=bad)


def test_span_windows_pooling_matches_unpooled(spark):
    """r11: the wins= hook — duplicated_span_fraction and
    strip_duplicated_spans fed one shared span_windows frame produce
    EXACTLY the no-pool outputs (mixed case, punctuation, sub-k docs,
    a 3-holder span family, a fully-covered non-keeper, case mappings
    that change token boundaries), and a malformed wins frame is refused
    with a clear error."""
    from mysql_to_s3_spark.operators.dedup import (
        duplicated_span_fraction,
        span_windows,
        strip_duplicated_spans,
        token_frame,
    )

    shared = "Alpha beta GAMMA delta, epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} one two three"),
            (2, f"zero {shared.lower()} four"),
            (3, f"pre {shared.upper()} post!"),
            (4, "unrelated words only here now truly"),
            (5, "tiny"),
            (6, shared),          # keeper candidate of the bare span
            (7, shared.lower()),  # fully covered non-keeper -> ''
            # lower() re-tokenizes these: 'İ' (U+0130) becomes i + U+0307
            # (one token more), the Kelvin sign (U+212A) an ASCII k that
            # joins the next word (one token fewer)
            (8, f"a \u0130stanbul {shared} g h"),
            (9, f"\u212aelvin {shared} z"),
        ],
        "doc_id bigint, text string",
    )
    wins = span_windows(docs, k=5)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    frac = rows(duplicated_span_fraction(docs, k=5))
    assert rows(duplicated_span_fraction(docs, k=5, wins=wins)) == frac
    assert rows(duplicated_span_fraction(docs, k=5, toks=token_frame(docs))) == frac
    assert rows(strip_duplicated_spans(docs, k=5, wins=wins)) == rows(
        strip_duplicated_spans(docs, k=5)
    )
    # the fully-covered non-keeper really exercises the empty-rebuild path
    sp = {r["doc_id"]: r for r in strip_duplicated_spans(docs, k=5, wins=wins).collect()}
    assert sp[7]["clean_text"] == "" and sp[7]["n_removed"] == sp[7]["n_tokens"] > 0
    # windows index the raw token stream: exactly the 6 shared tokens go
    assert (sp[8]["clean_text"], sp[8]["n_tokens"], sp[8]["n_removed"]) == (
        "a \u0130 stanbul g h", 11, 6,
    )
    assert (sp[9]["clean_text"], sp[9]["n_tokens"], sp[9]["n_removed"]) == (
        "\u212a elvin z", 9, 6,
    )
    fr = {r[0]: r[1:3] for r in frac}
    assert fr[8] == (7, 2) and fr[9] == (5, 2)
    bad = docs.select(F.col("doc_id").alias("id"))
    with pytest.raises(ValueError, match="span_windows"):
        duplicated_span_fraction(docs, k=5, wins=bad)
    with pytest.raises(ValueError, match="span_windows"):
        strip_duplicated_spans(docs, k=5, wins=bad)
