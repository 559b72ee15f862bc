"""Deduplication operators for large-scale training-data pipelines:
exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup — each designed around its 100 TB shuffle story.

Scale design notes (per operator):

  exact        one hash shuffle on a 16-byte fingerprint; the canonical-doc
               pick is a partial-aggregatable min — no skew beyond true
               duplicate mass.
  ngram        EXACT Jaccard via prefix filtering (SSJoin/PPJoin):
               equi-join only each doc's rarest n-ceil(t*n)+1 shingles
               (recall provably exact at threshold t), verify candidates
               with exact Jaccard. Stop-shingles never enter the join —
               the freq^2 skew bomb of the naive shared-shingle join is
               structurally avoided. Never an all-pairs cross join.
  minhash_lsh  the scale path: per-doc signature (k xxhash64 mins — one
               projection, no shuffle), banded bucket keys, equi-join on
               (band, bucket) for candidates, then exact-Jaccard
               verification of candidates only. Collision probability per
               band = j^r; with r=4,b=16 a 0.9-Jaccard pair is missed with
               p=(1-0.9^4)^16 ~= 4e-8.
  simhash      60-bit signature from PORTABLE md5 token-hash bit votes
               (DuckDB-replicable); near-dup = hamming distance <= 3, found
               via the 4x16-bit band pigeonhole (any pair with hamming<=3
               agrees on >=1 band) — equi-join on (band, chunk), verify
               with bit_count(xor).
  embedding    cosine >= threshold; exact double-math dot/norms in Column
               algebra. The demo query is all-pairs (fine at oracle scale);
               at corpus scale use similarity.embedding_dup_pairs_lsh instead.

All operators are pure Column algebra — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.text import fingerprint, words

SHINGLE_K = 5  # character-shingle width
MINHASH_N = 64  # signature length
MINHASH_BANDS = 16  # bands of r = N/BANDS rows each


def shingles(col: Column, k: int = SHINGLE_K) -> Column:
    """Distinct character k-shingles of a document (order-free set).

    r11: shingle bytes come from a LET-BOUND per-codepoint split array
    (the single-element-array transform binding idiom) instead of
    ``col.substr(i, k)`` — UTF8String substr seeks from the string
    START per call (codepoint indexing), so the old form cost O(len)
    per window and O(len^2) per doc on every shingle consumer
    (ngram/minhash pair scans, the pipeline near-dup stage).
    ``array_join(slice(chars, i, k), '')`` rebuilds exactly substr's
    output, including the short tail shingle of sub-k docs."""
    n = F.greatest(F.length(col) - F.lit(k - 1), F.lit(1))

    def sh(cs: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(cs, i, k), ""),
        )

    return F.array_distinct(
        F.element_at(F.transform(F.array(F.split(col, "")), sh), 1)
    )


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str | None = None,
) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: one row per distinct
    fingerprint with the cluster size and the canonical (min-id) keeper.

    ``fp_col``: optional PRE-COMPUTED fingerprint column to group on
    instead of deriving one from ``text_col`` — callers that consume the
    fingerprint in several places (a dedup pass + a Bloom screen + a
    survivor re-group) should compute it once and share it, since the
    normalize+md5 is an O(doc length) regex per evaluation."""
    fp = F.col(fp_col) if fp_col is not None else fingerprint(F.col(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_dupes"))
    )


def url_dedup(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup: one row per CANONICAL url (operators/
    text.canonical_url — fragment/tracking-param/default-port/www/
    trailing-slash normalization) with the min-id keeper and the
    re-crawl count. The cheap first dedup pass of a crawl pipeline:
    at 100 TB it is one hash shuffle on a short canonical string,
    run BEFORE content fingerprinting so re-crawls of one address
    never reach the (heavier) text normalization at all.

    Rows without a USABLE address (null, blank, or anything whose
    CANONICAL form is blank — '#frag', '/', '?utm_source=x') are
    EXCLUDED from the groups: a missing address is "address unknown",
    not "the same address" — grouping them would report one giant
    bogus cluster (and a caller using the keepers to filter would
    silently drop every url-less doc but one). The shared
    ``text.usable_url`` predicate keeps this contract identical across
    this operator, the batch pipeline stage, and the streaming form;
    the pipeline keeps unusable-url docs unconditionally."""
    from mysql_to_s3_spark.operators.text import canonical_url, usable_url

    return (
        df.filter(usable_url(F.col(url_col)))
        .select(F.col(id_col), canonical_url(F.col(url_col)).alias("url"))
        .groupBy("url")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_dupes"))
    )


def url_blocklist_screen(
    df: DataFrame,
    hosts: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    host_col: str = "host",
) -> DataFrame:
    """Drop rows whose URL host — or any parent domain — appears in the
    ``hosts`` frame: the anti-join form of `text.url_blocked` for REAL
    blocklists (the published crawl blocklists run to millions of
    domains, far past what a literal in-row array can carry).

    Shape at 100 TB: the ≤#labels host-suffix chain explodes to a few
    short rows per doc, LEFT SEMI equi-joins against the blocklist on
    the suffix (AQE broadcasts a small list; a huge list is one hash
    shuffle of (id, suffix) pairs — never the doc text, which stays in
    place for the final LEFT ANTI on the id), and the blocked-id set
    anti-joins back. Both joins are equi-joins — never a
    BroadcastNestedLoop contains() scan. Rows without a usable host
    are kept ("address unknown" is not "blocked"), matching
    `text.url_blocked` and `url_dedup`'s stance on missing addresses."""
    from mysql_to_s3_spark.operators.text import host_suffixes, url_host

    blocked_ids = (
        df.select(
            F.col(id_col),
            F.explode(host_suffixes(url_host(F.col(url_col)))).alias("__suf__"),
        )
        .join(
            hosts.select(F.lower(F.col(host_col)).alias("__suf__")),
            "__suf__",
            "left_semi",
        )
        # no distinct: a left_anti join is insensitive to right-side
        # duplicates, and deduplicating here would cost an extra
        # exchange+aggregate per screened batch for nothing
        .select(id_col)
    )
    return df.join(blocked_ids, id_col, "left_anti")


def _shingle_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("id"), shingles(F.col(text_col)).alias("sh"))


def _verify_jaccard(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (a,b) pairs via the two shingle sets."""
    sa = sets.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    j_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    j = j_inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - j_inter)
    return (
        cand.join(sa, "a").join(sb, "b")
        .select("a", "b", F.round(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via prefix filtering
    (SSJoin/PPJoin family): candidates from an equi-join on each
    document's PREFIX shingles only, verified with exact Jaccard on the
    full sets.

    Prefix filter: order every shingle set by one global total order
    (ascending corpus document-frequency, shingle value as tie-break) and
    keep the first ``n - ceil(t*n) + 1`` shingles. Two sets with
    Jaccard >= t must overlap within their prefixes — if all common
    shingles sat outside both prefixes, the overlap would be below the
    t-required minimum — so recall is EXACT, unlike a frequency cutoff.

    100 TB story: the join touches ~(1-t) of each set, and because the
    order is rarest-first, corpus-wide stop-shingles (the freq^2 skew
    bombs of the naive shared-shingle join) land at the END of every set
    and never enter a prefix. Cost concentrates on rare shingles where
    freq^2 is tiny. df computation and the per-doc ranking are one
    hash-shuffle each; verification touches candidates only.
    """
    t = float(threshold)
    par = df.sparkSession.sparkContext.defaultParallelism
    sets = (
        _shingle_sets(df, id_col, text_col)
        .withColumn("__hb__", _base_hashes(F.col("sh")))
        .repartition(par, "id")
    )
    # every consumer of sets reads the one repartition exchange (Spark
    # reuses identical exchanges within a plan); the prefix self-join's
    # two sides are one subtree too, so neither frame is cached
    ex = sets.select("id", F.size("sh").alias("n"), F.explode("sh").alias("shingle"))
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "shingle")
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    prefix = (
        ex.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "shingle", "rn", "n")
    )
    # PPJoin refinements on the candidate join — both EXACT:
    #   length filter: J>=t forces t*|B| <= |A| (and symmetrically);
    #   positional filter: the overlap needed is a = ceil(t/(1+t)*(na+nb));
    #     at the FIRST shared prefix shingle (positions i, j) the overlap
    #     is bounded by 1 + min(na-i, nb-j). True pairs always pass at
    #     their first shared occurrence (which is one of the join rows),
    #     so keeping a pair when ANY occurrence passes loses nothing.
    # Both filters carry a 1e-9 epsilon so float representation error in
    # the threshold literal (0.9 as double * 10 = 9.000000000000002) can
    # never drop a boundary pair — they stay conservative SUPERSETS and
    # the rounded exact verify remains the sole decider.
    a = prefix.alias("x")
    b = prefix.alias("y")
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("x.n") + F.col("y.n")) - F.lit(1e-9))
    cand = (
        a.join(
            b,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.id") < F.col("y.id"))
            & (F.col("x.n") >= F.lit(t) * F.col("y.n") - F.lit(1e-9))
            & (F.col("y.n") >= F.lit(t) * F.col("x.n") - F.lit(1e-9))
            & (
                1 + F.least(F.col("x.n") - F.col("x.rn"), F.col("y.n") - F.col("y.rn"))
                >= alpha
            ),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    # staged verification — stage 1 intersects the 8-byte base-hash
    # arrays: cheap integer set math over the (measured 5.3M at sf0.1)
    # candidate pairs, ~1/4 the shuffle bytes of the string sets. The
    # sizes use array_distinct — `sh` is distinct but its 32-bit folded
    # hashes need not be, and an inflated denominator would UNDERestimate
    # the hashed Jaccard and drop a true pair. A rare collision INSIDE the
    # intersection can still shrink the numerator by ~1/|set| per event,
    # so the filter runs at round(h_j, 6) >= t - 0.01: the 0.01 slack
    # covers multiple simultaneous collisions (p ~ 1e-5 per pair for ONE)
    # and the rounding matches _verify_jaccard's round-6 compare. Stage 2
    # decides with exact string Jaccard on the few survivors.
    hsets_a = sets.select(F.col("id").alias("a"), F.array_distinct("__hb__").alias("hb_a"))
    hsets_b = sets.select(F.col("id").alias("b"), F.array_distinct("__hb__").alias("hb_b"))
    h_inter = F.size(F.array_intersect("hb_a", "hb_b"))
    h_j = h_inter.cast("double") / (F.size("hb_a") + F.size("hb_b") - h_inter)
    likely = (
        cand.join(hsets_a, "a")
        .join(hsets_b, "b")
        .filter(F.round(h_j, 6) >= F.lit(t) - F.lit(0.01))
        .select("a", "b")
    )
    return _verify_jaccard(likely, sets.select("id", "sh"), threshold)


# universal-hash family over a 2^32 universe: h_i(x) = (a_i*x + b_i) mod P.
# P prime > 2^32; a_i < 2^31 keeps a*x < 2^63 (no ANSI long overflow).
_MINHASH_P = 4294967311


def _perm_constants(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via splitmix64 from a fixed seed."""
    out, z = [], 0x9E3779B97F4A7C15
    for _ in range(n):
        z = (z + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        x = z
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        a = (x % (2**31 - 1)) + 1
        b = (x >> 32) % _MINHASH_P
        out.append((a, b))
    return out


def _base_hashes(sh: Column) -> Column:
    """ONE xxhash64 per shingle, folded into the 2^32 universe. The n_hashes
    minhash values are then cheap arithmetic permutations of these — not
    n_hashes fresh string hashes per shingle (64x the hashing work, which
    dominated the projection)."""
    return F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(2**32)))


def _minhash_columns(hb: Column, n_hashes: int) -> list[Column]:
    """The n_hashes minhash values over materialized base hashes ``hb``.
    ``hb`` must come from across an Exchange or cache so its per-shingle
    xxhash64 is evaluated once — otherwise Catalyst's projection collapse
    re-expands it into every permutation (n_hashes x the hashing work;
    the same trap measured 17x slower for band keys referencing raw
    minhash expressions)."""

    def perm(a: int, b: int):
        # single-arg lambda: a two-arg lambda would receive the array
        # INDEX as its second argument, clobbering captured defaults
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MINHASH_P))

    return [
        F.array_min(F.transform(hb, perm(a, b)))
        for a, b in _perm_constants(n_hashes)
    ]


def lsh_band_rows(docs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) LSH keys from a frame with (id, sig) — the ONE
    definition of the band-bucket formula, shared by the in-memory
    operator and the persisted incremental index (dedup_index.py): any
    change here changes both sides together, keeping signatures written
    by one batch joinable with keys computed by any later batch. ``sig``
    must be a MATERIALIZED column (cache/Exchange/parquet), see the
    projection-collapse note in `_minhash_columns`."""
    r = n_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.element_at("sig", b * r + j + 1) for j in range(r)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    return docs.select("id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = MINHASH_N,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """MinHash+LSH candidate generation -> exact-Jaccard verification.

    The banded bucket join touches only docs whose band signature collides;
    verification re-computes exact Jaccard so the output equals
    ngram_jaccard_pairs up to the (negligible) LSH miss probability.
    """
    # spread the (CPU-heavy) minhash projection across cores — a small
    # corpus arrives as one parquet split, which would serialize all
    # hash evaluations onto one task — and CHECKPOINT id/shingles/signature
    # so every downstream consumer reads materialized columns. The
    # repartition Exchange is ALSO the barrier that keeps Catalyst's
    # projection collapse from re-expanding the per-shingle base hash
    # into each of the n_hashes permutation expressions.
    par = df.sparkSession.sparkContext.defaultParallelism
    sig = F.array(*_minhash_columns(F.col("__hb__"), n_hashes))
    sets = (
        _shingle_sets(df, id_col, text_col)
        .withColumn("__hb__", _base_hashes(F.col("sh")))
        .repartition(par, "id")
        .select("id", "sh", sig.alias("sig"))
    )
    # a local checkpoint, not a cache: Spark frees it with the frame, so
    # nothing outlives the caller's action
    sets = sets.localCheckpoint(eager=False)
    # band keys read the CHECKPOINTED signature (element_at on a materialized
    # column — safe to reference n_hashes times, unlike the raw minhash
    # expressions, which projection collapse would duplicate per band)
    band_rows = lsh_band_rows(sets, n_hashes, bands)
    x = band_rows.alias("x")
    y = band_rows.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    # signature pre-verify: a template-heavy corpus floods the bands with
    # moderate-similarity collisions (measured 176k candidates for 255
    # true pairs at sf0.1), and exact array_intersect over ~300-string
    # shingle sets per candidate dominated the whole operator. Estimated
    # Jaccard = fraction of agreeing signature positions costs n_hashes
    # long compares and a small join payload; the prune margin scales
    # with the estimator's sigma — 4*sqrt(t*(1-t)/n_hashes), i.e. a 4-sigma
    # band (0.15 at t=0.9, n=64; wider at lower thresholds where sigma
    # grows) — so the added miss probability stays ~3e-5 per boundary
    # pair at ANY threshold rather than silently growing as t drops.
    # Exact Jaccard still decides; the prune is threshold-dependent and
    # strictly additive to the base (1-t^r)^b LSH miss probability.
    margin = 4.0 * (threshold * (1.0 - threshold) / n_hashes) ** 0.5
    sigs = sets.select("id", "sig")
    est = (
        cand.join(sigs.select(F.col("id").alias("a"), F.col("sig").alias("sig_a")), "a")
        .join(sigs.select(F.col("id").alias("b"), F.col("sig").alias("sig_b")), "b")
        .withColumn(
            "__est__",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda p, q: p == q), lambda v: v))
            / F.lit(float(n_hashes)),
        )
        .filter(F.col("__est__") >= F.lit(max(0.0, threshold - margin)))
        .select("a", "b")
    )
    return _verify_jaccard(est, sets, threshold)


def simhash_bits() -> int:
    # 60 bits = 15 hex digits of md5: the widest md5 prefix that fits a
    # SIGNED bigint in every engine, so the token hash is ENGINE-PORTABLE
    # (Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT == int(hex,16))
    # and the DuckDB oracle replicates signatures bit-for-bit.
    return 60


def token_hash(w: Column) -> Column:
    """Portable 60-bit token hash: int(md5(w)[:15], 16). md5 exists in
    both Spark and DuckDB; see simhash_bits() for the width rationale."""
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document: per bit, majority vote of the distinct
    token hashes. Explode + single hash-shuffle groupBy; the 60 bit-sums are
    partial-aggregatable (map-side combine)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("w"),
    ).select("id", token_hash(F.col("w")).alias("h"))
    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(simhash_bits())
        ]
    )
    sh = None
    for i in range(simhash_bits()):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        sh = term if sh is None else sh + term
    return bit_sums.select("id", sh.alias("simhash"))


def simhash_pairs(
    df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via the band
    pigeonhole: split the hash into (max_hamming+1) chunks — a pair
    within the radius must agree on >= 1 chunk — equi-join on (chunk index,
    chunk value), then verify with bit_count(xor). Chunk width is
    64 // n_chunks; bits past simhash_bits() are constant 0, which only
    relaxes the filter, so pigeonhole recall is unaffected."""
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    # both sides of the chunk self-join are one subtree, so the simhash
    # aggregate's exchange is reused, not recomputed
    sh = simhash(df, id_col, text_col)
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright("simhash", c * width).bitwiseAND(F.lit((1 << width) - 1)).alias("v"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cv"),
    ).select("id", "simhash", "cv.c", "cv.v")
    x = chunks.alias("x")
    y = chunks.alias("y")
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        x.join(
            y,
            (F.col("x.c") == F.col("y.c")) & (F.col("x.v") == F.col("y.v")) & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
        .select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine similarity of two float-array columns, accumulated in
    double precision (matches the DuckDB double-math oracle bit-for-bit at
    6 decimals). Zero-norm vectors score 0.0 against everything — the
    SAME contract the Arrow kernels (knn_join, ivf_search_index_batch)
    implement; the naive 0/0 would be NaN, which F.desc ranks ABOVE 1.0
    and would put a zero/padding vector first in every top-k."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v)
    nb = F.aggregate(F.transform(b, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v)
    denom = F.sqrt(na) * F.sqrt(nb)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot / denom)


def embedding_dup_pairs(
    df: DataFrame, threshold: float = 0.45, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold``.

    This demo form is all-pairs (exact, fine at verification scale); the
    100 TB path is similarity.embedding_dup_pairs_lsh: multi-table LSH
    bucketing, exact-cosine verification of candidates only."""
    a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Sub-document dedup: cross-doc span duplication + line-level boilerplate
# ---------------------------------------------------------------------------

SPAN_SEP = "\x1f"  # unit-separator joins span tokens; cannot occur in a token


def token_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The shared tokenization upstream of the span operators: one row
    per doc with its raw-case token stream ``rt`` — the stream span
    window positions index and ``strip_duplicated_spans`` rebuilds from.
    When one corpus feeds several span consumers, the caller may cache
    it (the ``pairs=`` hook convention of pipeline.split_leakage) — each
    operator's ``toks=`` parameter then reuses this single
    scan+tokenize instead of re-deriving it; semantics of every consumer
    are exactly the uncached path's."""
    return df.select(
        F.col(id_col).alias("id"),
        F.regexp_extract_all(F.col(text_col), F.lit(r"\w+|[^\w\s]"), 0).alias("rt"),
    )


def _require_toks(toks: DataFrame, op: str) -> None:
    missing = {"id", "rt"} - set(toks.columns)
    if missing:
        raise ValueError(
            f"{op}: toks= must be a token_frame(...) output with columns "
            f"(id, rt); missing {sorted(missing)}"
        )


def _windows(toks: DataFrame, k: int) -> DataFrame:
    """(id, start, key) k-token windows of an (id, rt) token frame: the
    ONE span-key derivation every span operator uses. The key is
    md5(lower(array_join(window, SPAN_SEP))) over the RAW tokens, so
    ``start`` indexes the raw stream the rewrite removes tokens from.
    Tokenizing lower(text) instead would misalign on case mappings that
    change token boundaries ('İ' U+0130 lowers to i + U+0307, the Kelvin
    sign U+212A to an ASCII k)."""
    n = F.size(F.col("rt")) - F.lit(k - 1)
    return toks.select(
        "id",
        F.explode(
            F.when(n >= 1, F.sequence(F.lit(1), F.greatest(n, F.lit(1)))).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("start"),
        F.col("rt"),
    ).select(
        "id",
        "start",
        F.md5(
            F.lower(F.array_join(F.slice(F.col("rt"), F.col("start"), k), SPAN_SEP))
        ).alias("key"),
    )


def span_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """The REDUCED (id, start, key) k-token window-key frame shared by
    the span-operator family (r11, the r10 verdict's item 3): one row
    per k-token window with its 1-based start position in the raw token
    stream and the md5-of-lowercased-joined-window key — exactly the
    windows both ``duplicated_span_fraction`` and
    ``strip_duplicated_spans`` derive when not given this frame. ONE
    tokenize pass; the token array is bound as a column so the window
    transform slices an attribute, never re-runs the regex. Docs with
    fewer than k tokens contribute no rows.

    The caller may cache it when several span operators consume one
    corpus and pass it via their ``wins=`` parameter — the r9 pooling
    reversal (SCALE.md) showed caching the raw array<string> token
    frame LOSES to recompute, but this frame is three fixed-width-ish
    columns (bigint, int, 32-char key), the reduced projection that
    the legs actually shuffle.

    The window width is stamped into the ``key`` column's metadata
    (``span_k``), so a consumer given a frame built with another ``k``
    refuses it instead of reading wrong spans."""
    return _windows(token_frame(df, id_col, text_col), k).withMetadata("key", {"span_k": k})


def _require_wins(wins: DataFrame, op: str, k: int) -> None:
    missing = {"id", "start", "key"} - set(wins.columns)
    if missing:
        raise ValueError(
            f"{op}: wins= must be a span_windows(...) output with columns "
            f"(id, start, key); missing {sorted(missing)}"
        )
    stamped = wins.schema["key"].metadata.get("span_k")
    if stamped != k:
        raise ValueError(
            f"{op}: wins= holds span_windows k={stamped} windows "
            f"(None = no span_windows stamp), but {op} runs with k={k}"
        )


def duplicated_span_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
    toks: DataFrame | None = None,
    wins: DataFrame | None = None,
) -> DataFrame:
    """Per-doc cross-corpus span-duplication signal — the Spark form of the
    exact-substring dedup measure of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): the
    fraction of a doc's k-token windows whose content also appears in at
    least ``min_docs - 1`` OTHER docs.

    Output: (id_col, n_spans, n_dup_spans, dup_frac) for every input doc;
    docs with fewer than k tokens have n_spans = 0 and dup_frac null.

    100 TB story — three shuffles, all on reduced frames:
      1. the exploded (span_key, doc) stream partial-aggregates to one row
         per (span_key, doc) with its in-doc window count (map-side
         combine eats in-doc repetition before the exchange);
      2. distinct-doc counts per span_key are a window count over that
         reduced frame (one exchange on the 32-byte key — never the span
         text itself);
      3. the per-doc roll-up is a count-sum re-agg on the doc id.
    No join carries document text; nothing is all-pairs.

    ``toks=`` (r9): pass a cached ``token_frame(...)`` to reuse one
    scan+tokenize across the span-operator family; the span keys are
    then derived from its ``rt`` stream, so output is identical.

    ``wins=`` (r11): pass a cached ``span_windows(...)`` frame to skip
    the tokenize+window+md5 derivation entirely — the span stream is
    then exactly its (id, key) projection (identical keys by
    construction), and one cached reduced frame feeds both this measure
    and ``strip_duplicated_spans``. Takes precedence over ``toks=``.
    """
    if toks is not None:
        _require_toks(toks, "duplicated_span_fraction")
    else:
        toks = token_frame(df, id_col, text_col)
    if wins is not None:
        _require_wins(wins, "duplicated_span_fraction", k)
    else:
        wins = _windows(toks, k)
    ids = toks.select("id")
    spans = wins.select("id", F.col("key").alias("s"))
    per_span_doc = spans.groupBy("s", "id").agg(F.count(F.lit(1)).alias("w"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("s"))
    flagged = per_span_doc.withColumn("__nd__", nd)
    rolled = flagged.groupBy("id").agg(
        F.sum("w").alias("n_spans"),
        F.sum(F.when(F.col("__nd__") >= min_docs, F.col("w")).otherwise(F.lit(0))).alias(
            "n_dup_spans"
        ),
    )
    return ids.join(rolled, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.when(
            F.col("n_spans") > 0,
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
        ).alias("dup_frac"),
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 1,
    out_col: str = "clean_text",
) -> DataFrame:
    """Line-level boilerplate removal — the CCNet / RefinedWeb paragraph
    dedup gate (Wenzek et al. 2020 arXiv:1911.00359 §3.2; Penedo et al.
    2023 arXiv:2306.01116): drop every line whose trimmed content appears
    in MORE than ``max_docs`` distinct docs (nav bars, cookie banners,
    license footers), keep the rest in original order.

    Output: (id_col, out_col, n_lines, n_dropped) for every input doc.
    Whitespace-only lines are structural, never boilerplate candidates:
    they are always kept and never counted toward a line's doc frequency.

    100 TB story: lines shuffle once on the md5 of their trimmed content
    to learn doc frequency (distinct agg, partial-combined), join back by
    that fixed-width key, and reassemble with one exchange on the doc id
    (sort_array over an in-doc collect_list — bounded by a single doc's
    line count, the same per-key bound the snowflake child collect uses).
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("__blank__", F.trim(F.col("line")) == "")
    keyed = lines.withColumn("key", F.md5(F.trim(F.col("line"))))
    freq = (
        keyed.filter(~F.col("__blank__"))
        .groupBy("key")
        .agg(F.count_distinct("id").alias("__nd__"))
    )
    judged = keyed.join(freq, "key", "left").withColumn(
        "__keep__", F.col("__blank__") | (F.coalesce(F.col("__nd__"), F.lit(1)) <= max_docs)
    )
    rebuilt = judged.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("__keep__"), F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(~F.col("__keep__"), 1).otherwise(0)).alias("n_dropped"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col(out_col),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
        )
    )


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
    out_col: str = "clean_text",
    toks: DataFrame | None = None,
    wins: DataFrame | None = None,
) -> DataFrame:
    """The REWRITE half of Lee et al. 2022 exact-substring dedup (the
    published deduplicate-text-datasets tool removes every duplicated
    >=50-token span, keeping one occurrence): rewrite each doc with the
    tokens covered by cross-doc duplicated k-token windows REMOVED,
    except in the span's canonical KEEPER doc (min doc id among the
    holders), which keeps its occurrence — so exactly one copy of every
    duplicated span survives the corpus. ``duplicated_span_fraction``
    is the measure; this is the scalpel.

    Output: (id_col, out_col, n_tokens, n_removed) for every input doc.
    Spans are keyed on the LOWERCASED token window (the measure's key);
    reconstruction uses the original-case tokens, whitespace
    canonicalized to single spaces (the same documented tradeoff
    ``strip_boilerplate_lines`` makes with line joins). Within-doc
    repetition with no second document never triggers removal here
    (that is ``repetition_stats``' domain); a keeper doc keeps ALL its
    occurrences of its spans.

    100 TB story — every shuffle is on reduced/fixed-width frames:
      1. the (doc, start, key) window stream aggregates per 32-byte key
         to (n_distinct_docs, keeper) — one exchange, map-side combined;
      2. the join back to windows is key-to-key (no text rides it), and
         only windows with nd >= min_docs AND doc != keeper survive to
         the coverage explode (at most k positions per such window);
      3. removal is a LEFT ANTI join on (doc, pos) and one per-doc
         re-assembly exchange (collect bounded by a single doc's token
         count — the snowflake child-collect bound) — but ONLY for docs
         with at least one covered position: unaffected docs never
         explode their token stream (with ``wins=``+no ``toks=`` they
         are never even re-tokenized for the rebuild — the position
         stream semi-joins the RAW doc ids first, so the posexplode
         tokenize touches the affected fraction only); every doc's
         canonicalized text and token count come from ONE tokenize pass
         (r11 — the r9 shape evaluated the token projection four
         times), left-joined with the rebuilt texts.
    Nothing is all-pairs; duplicated-span text never shuffles at all.

    ``toks=`` (r9): pass a cached ``token_frame(...)`` to reuse one
    scan+tokenize across the span-operator family (its ``rt`` stream is
    exactly the frame built here).

    ``wins=`` (r11): pass a cached ``span_windows(...)`` frame to skip
    the window-key derivation — its windows are the ones built here
    (same raw token positions, same keys), and one cached reduced frame
    feeds both this rewrite and ``duplicated_span_fraction``.
    """
    if toks is not None:
        _require_toks(toks, "strip_duplicated_spans")
        rt_src = toks.select("id", "rt")
    else:
        rt_src = token_frame(df, id_col, text_col)
    if wins is not None:
        _require_wins(wins, "strip_duplicated_spans", k)
    else:
        wins = _windows(rt_src, k)
    # per-key stats as WINDOW functions over ONE key exchange instead of
    # a groupBy + join back: the join form evaluates the whole `wins`
    # subtree (tokenize + window explode + md5) twice per action, and
    # max(dense_rank) over the key partition IS count_distinct(id) when
    # ordered by id — same rows, one shuffle, no Expand.
    wk = Window.partitionBy("key")
    wko = wk.orderBy("id")
    covered = (
        wins.withColumn("__dr__", F.dense_rank().over(wko))
        .withColumn("__nd__", F.max("__dr__").over(wk))
        .withColumn("__keeper__", F.min("id").over(wk))
        .filter((F.col("__nd__") >= min_docs) & (F.col("id") != F.col("__keeper__")))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))
            ).alias("pos"),
        )
    )
    # consumed by BOTH the (id,pos) anti-join and the affected-id distinct
    # below — two narrow int columns, tiny relative to the token stream
    # each branch would otherwise re-derive. A local checkpoint, freed
    # with the frame, so nothing outlives the caller's action
    covered = covered.localCheckpoint(eager=False)
    affected = covered.select("id").distinct()
    # rebuild stream: tokenize AFFECTED docs only. With raw input the
    # semi-join runs on (id, text) BEFORE the tokenize projection, so
    # unaffected docs never pay the rebuild tokenize; with toks= the
    # arrays are already materialized and the semi-join just prunes.
    if toks is not None:
        hit = rt_src.join(affected, "id", "left_semi")
    else:
        hit = df.select(F.col(id_col).alias("id"), F.col(text_col)).join(
            affected, "id", "left_semi"
        ).select(
            "id",
            F.regexp_extract_all(F.col(text_col), F.lit(r"\w+|[^\w\s]"), 0).alias("rt"),
        )
    stream = hit.select(
        "id", F.posexplode(F.col("rt")).alias("pos0", "tok")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = stream.join(covered, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.getField("tok"),
            ),
            " ",
        ).alias(out_col),
        F.count(F.lit(1)).alias("__nk__"),
    )
    # ONE tokenize pass yields every doc's token count AND its
    # canonicalized join (the unaffected docs' output text); affected
    # docs take the rebuilt text instead (empty when every token was
    # removed — rebuilt has no row for a fully-covered non-keeper).
    base = rt_src.select(
        "id",
        F.size("rt").alias("n_tokens"),
        F.array_join(F.col("rt"), " ").alias("__joined__"),
    )
    return (
        base.join(affected.withColumn("__aff__", F.lit(True)), "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(
                F.when(
                    F.col("__aff__"), F.coalesce(F.col(out_col), F.lit(""))
                ).otherwise(F.col("__joined__")),
                F.lit(""),
            ).alias(out_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (
                F.col("n_tokens")
                - F.when(
                    F.col("__aff__"), F.coalesce(F.col("__nk__"), F.lit(0))
                ).otherwise(F.col("n_tokens"))
            )
            .cast("long")
            .alias("n_removed"),
        )
    )
