"""Deterministic corpus splitting and sampling by content-stable hash.

Training pipelines need train/val/test assignment that is a pure
function of the document id: stable when the corpus grows, is
re-partitioned, or is re-ingested in a different order (a doc must never
migrate from test into train), and reproducible across engines. Random
`df.sample`/`sampleBy` gives none of that.

The bucket is the first 8 hex chars of md5(id) as a uint32, reduced mod
1e6 — portable bit-for-bit between Spark (`conv(substring(md5(x),1,8),
16, 10)`) and DuckDB (`('0x' || substr(md5(x),1,8))::BIGINT`), so split
assignments are oracle-checkable. The 2^32-vs-1e6 modulo bias is ~0.002%
and identical in every engine.

100 TB story: a per-row codegen'd expression — no shuffle, no second
pass, no driver state; filters on the split column combine with
partition pruning and pushdown like any other predicate.

Reference parity: no analog (beyond-reference pipeline operator,
SURVEY §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SPLIT_BUCKETS = 1_000_000


def hash_bucket(col: Column) -> Column:
    """Uniform bucket in [0, SPLIT_BUCKETS) from a content-stable md5."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
    return h % SPLIT_BUCKETS


def hash_split(col: Column, fractions: dict[str, float]) -> Column:
    """Split label for each row: ``fractions`` maps label -> fraction, in
    declaration order; fractions must sum to ~1 (the last label absorbs
    rounding remainder)."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions sum to {total}, expected 1")
    b = hash_bucket(col)
    labels = list(fractions)
    expr = F.lit(labels[-1])
    cum = 0.0
    conds = []
    for name, frac in list(fractions.items())[:-1]:
        cum += frac
        conds.append((int(round(cum * SPLIT_BUCKETS)), name))
    for threshold, name in reversed(conds):
        expr = F.when(b < threshold, F.lit(name)).otherwise(expr)
    return expr


def hash_split_sql(col_sql: str, fractions: dict[str, float]) -> str:
    """DuckDB expression producing the identical split labels."""
    b = f"(('0x' || substr(md5({col_sql}::VARCHAR), 1, 8))::BIGINT % {SPLIT_BUCKETS})"
    labels = list(fractions)
    cases = []
    cum = 0.0
    for name, frac in list(fractions.items())[:-1]:
        cum += frac
        cases.append(f"WHEN {b} < {int(round(cum * SPLIT_BUCKETS))} THEN '{name}'")
    return f"CASE {' '.join(cases)} ELSE '{labels[-1]}' END"


def hash_sample(df: DataFrame, fraction: float, id_col: str = "doc_id") -> DataFrame:
    """Deterministic ``fraction`` sample: keeps exactly the rows whose
    bucket falls below the cut, so repeated runs (and different engines)
    select the SAME rows — unlike df.sample, and without a shuffle."""
    return df.filter(hash_bucket(F.col(id_col)) < int(round(fraction * SPLIT_BUCKETS)))


def _salted_bucket(col: Column, salt: str) -> Column:
    """Independent draw per salt: the same id gets UNCORRELATED buckets
    under different salts (md5 of ``id|salt``), so a stratified sample
    does not systematically align with the train/val/test split (which
    draws from the unsalted bucket) or with another sampling pass."""
    return hash_bucket(F.concat(col.cast("string"), F.lit("|" + salt)))


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "strata",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the mixture-weighting
    step of a training-data pipeline (keep 100% of books, 10% of web,
    1% of logs): each row survives iff its salted bucket falls under its
    stratum's rate. Strata absent from ``rates`` get ``default_rate``.

    Pure per-row Column algebra: no shuffle, no count pass, stable under
    growth/reordering/re-ingest (same guarantees as hash_split, and
    nested: raising a stratum's rate only ADDS rows). Unlike
    ``df.sampleBy`` the result is reproducible across runs and engines.

    100 TB story: the filter folds into the scan like any predicate;
    combined with a partition layout on ``strata_col`` the dropped
    strata prune whole partitions.
    """
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for stratum {k!r} is {v}, expected [0, 1]")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate {default_rate} outside [0, 1]")
    cut = F.lit(int(round(default_rate * SPLIT_BUCKETS)))
    for name, rate in rates.items():
        cut = F.when(
            F.col(strata_col) == F.lit(name), F.lit(int(round(rate * SPLIT_BUCKETS)))
        ).otherwise(cut)
    return df.filter(_salted_bucket(F.col(id_col), salt) < cut)


def sample_per_key(
    df: DataFrame,
    by: list[str],
    n: int,
    id_col: str = "doc_id",
    salt: str = "perkey",
) -> DataFrame:
    """Deterministic cap of ``n`` rows per key: keeps the rows whose
    salted content hash ranks lowest within the key — the "at most N
    examples per domain/dedup-cluster/template" op. Unlike
    ``df.sample``/``rand()`` ordering, the kept set is a pure function
    of the ids: stable across runs, engines, partitionings, and corpus
    growth (a kept row is only ever displaced by a new lower-hash row,
    never by reordering).

    One window shuffle on ``by``; rank ties are impossible for distinct
    ids (the hash ties break on the id itself). At 100 TB prefer this
    over collect_list-based capping: the window buffer spills, an array
    does not."""
    if not by:
        raise ValueError("sample_per_key requires at least one `by` key")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if "__rn__" in df.columns:
        raise ValueError("input already has a __rn__ column (reserved)")
    from pyspark.sql import Window

    w = Window.partitionBy(*by).orderBy(
        _salted_bucket(F.col(id_col), salt).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n)
        .drop("__rn__")
    )


def sample_per_key_sql(
    table: str,
    by: list[str],
    n: int,
    id_col: str = "doc_id",
    salt: str = "perkey",
) -> str:
    """DuckDB replica of ``sample_per_key`` — selects the identical
    rows (same md5 salted-bucket ranking, same id tie-break). The salt
    is SQL-escaped (quotes in a salt otherwise break the emitted SQL)."""
    keys = ", ".join(by)
    q_salt = ("|" + salt).replace("'", "''")
    b = (
        f"(('0x' || substr(md5({id_col}::VARCHAR || '{q_salt}'), 1, 8))::BIGINT"
        f" % {SPLIT_BUCKETS})"
    )
    return (
        f"SELECT * EXCLUDE (__rn__) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {keys} "
        f"ORDER BY {b}, {id_col}) AS __rn__ FROM {table}"
        f") WHERE __rn__ <= {int(n)}"
    )


def stratified_hash_sample_sql(
    table: str,
    rates: dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "strata",
) -> str:
    """DuckDB replica selecting the identical rows (empty ``rates`` and
    quoted stratum names produce valid SQL, matching the Spark side)."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    b = (
        f"(('0x' || substr(md5({id_col}::VARCHAR || {q('|' + salt)}), 1, 8))::BIGINT"
        f" % {SPLIT_BUCKETS})"
    )
    default_cut = str(int(round(default_rate * SPLIT_BUCKETS)))
    if rates:
        cases = " ".join(
            f"WHEN {q(name)} THEN {int(round(rate * SPLIT_BUCKETS))}"
            for name, rate in rates.items()
        )
        cut = f"CASE {strata_col} {cases} ELSE {default_cut} END"
    else:
        cut = default_cut
    return f"SELECT * FROM {table} WHERE {b} < {cut}"


MAX_EPOCH_RATE = 100.0  # a rate above this is almost certainly a unit slip


def repeat_epochs(
    df: DataFrame,
    rates,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    copy_col: str = "epoch_copy",
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic per-stratum UP-sampling mixture — the "N epochs of
    source X" half of a published data recipe (Llama 1 runs ~2.45
    epochs of Wikipedia while CommonCrawl stays under one pass; GPT-3's
    mix up-weights books/wiki the same way). ``stratified_hash_sample``
    can only keep <= 100% of a stratum; this operator materializes
    rate > 1 by REPEATING docs: rate r emits floor(r) full copies of
    every doc plus one fractional top copy kept iff the (id, copy)-
    salted hash draw falls under r - floor(r). ``rates`` is a stratum
    dict (absent strata get ``default_rate``; 0.0 drops a stratum) or a
    plain number applied uniformly.

    ``copy_col`` carries the 0-based copy index so downstream stages
    can salt per copy — feed ``concat(id, '#', epoch_copy)`` as the
    epoch_shuffle / pack key and copies scatter across shards instead
    of riding adjacent (training on back-to-back duplicates is the
    failure mode repetition recipes warn about).

    rate <= 1 reduces EXACTLY to ``stratified_hash_sample`` with salt
    ``f'{salt}0'`` (one copy, kept iff the draw falls under r — same
    md5, same cut arithmetic). Pure Column algebra: explode(sequence)
    + a per-row filter, no shuffle, no count pass; stable under growth
    and reordering, and raising a rate only ADDS copies (the kept set
    for existing copies never changes)."""
    from collections.abc import Mapping as _Mapping

    if not isinstance(rates, _Mapping):
        default_rate, rates = float(rates), {}
    for k, v in {**rates, "<default>": default_rate}.items():
        if not 0.0 <= float(v) <= MAX_EPOCH_RATE:
            raise ValueError(
                f"epoch rate for {k!r} is {v}, expected [0, {MAX_EPOCH_RATE}]"
            )
    reserved = {copy_col, "__rate__"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"columns {sorted(reserved)} collide with repeat_epochs output; "
            "rename them (or pass another copy_col) first"
        )
    rate = F.lit(float(default_rate))
    for name, r in rates.items():
        rate = F.when(F.col(strata_col) == F.lit(name), F.lit(float(r))).otherwise(rate)
    n_copies = F.ceil(rate).cast("int")
    copies = F.when(n_copies > 0, F.sequence(F.lit(0), n_copies - 1)).otherwise(
        F.array().cast("array<int>")
    )
    out = df.withColumn("__rate__", rate).withColumn(copy_col, F.explode(copies))
    frac_cut = F.round(
        (F.col("__rate__") - F.floor(F.col("__rate__"))) * SPLIT_BUCKETS
    ).cast("bigint")
    draw = hash_bucket(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit("|" + salt),
            F.col(copy_col).cast("string"),
        )
    )
    keep = (F.col(copy_col) < F.floor(F.col("__rate__"))) | (draw < frac_cut)
    return out.filter(keep).drop("__rate__")


def repeat_epochs_sql(
    table: str,
    rates,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    copy_col: str = "epoch_copy",
    salt: str = "epoch",
) -> str:
    """DuckDB replica emitting the identical (row, copy) multiset."""
    from collections.abc import Mapping as _Mapping

    if not isinstance(rates, _Mapping):
        default_rate, rates = float(rates), {}

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    r = str(float(default_rate))
    if rates:
        cases = " ".join(
            f"WHEN {q(name)} THEN {float(v)}" for name, v in rates.items()
        )
        r = f"CASE {strata_col} {cases} ELSE {r} END"
    draw = (
        f"(('0x' || substr(md5({id_col}::VARCHAR || {q('|' + salt)} || "
        f"{copy_col}::VARCHAR), 1, 8))::BIGINT % {SPLIT_BUCKETS})"
    )
    return f"""
      SELECT * EXCLUDE (__rate__) FROM (
        SELECT *, {r} AS __rate__,
               unnest(range(0, CAST(ceil({r}) AS BIGINT))) AS {copy_col}
        FROM {table})
      WHERE {copy_col} < floor(__rate__)
         OR {draw} < CAST(round((__rate__ - floor(__rate__)) * {SPLIT_BUCKETS}) AS BIGINT)"""


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int,
    id_col: str = "doc_id",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle for one training epoch: every row
    gains (``shard``, ``pos``) — a content-stable permutation that a
    trainer consumes shard-by-shard in pos order. The sort key is
    md5(id:epoch), so different epochs give independent permutations
    while the SAME epoch is reproducible bit-for-bit across runs,
    repartitionings, and engines (SQL-replicable; epoch_shuffle_sql is
    the oracle). Random ``df.orderBy(rand())`` gives none of that.

    100 TB story: ONE hash exchange on the shard key plus an
    executor-local sort per shard — no global sort, no driver state;
    shard count scales with the corpus and skew is impossible by
    construction (uniform md5 slots). This is the trainer-facing
    companion of ``pack_assignments``: shuffle first, pack per shard.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    clash = {shard_col, pos_col, "__eh__"} & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns collide with shuffle output {sorted(clash)}; "
            "rename them or pass shard_col/pos_col"
        )
    from pyspark.sql import Window

    # 12 hex chars = 48 bits: fits a BIGINT exactly in both engines and
    # makes sort-key collisions (broken only by id) ~n²/2^48 rare
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{int(epoch)}"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy(shard_col).orderBy(F.col("__eh__").asc(), F.col(id_col).asc())
    return (
        df.withColumn("__eh__", h)
        .withColumn(shard_col, F.pmod(F.col("__eh__"), F.lit(int(n_shards))).cast("int"))
        .withColumn(pos_col, F.row_number().over(w) - 1)
        .drop("__eh__")
    )


def epoch_shuffle_sql(
    table: str,
    epoch: int,
    n_shards: int,
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL producing the identical (id, shard, pos) assignment."""
    h = f"('0x' || substr(md5({id_col}::VARCHAR || ':{int(epoch)}'), 1, 12))::BIGINT"
    return f"""
      SELECT {id_col}, CAST(h % {int(n_shards)} AS INT) AS shard,
             CAST(row_number() OVER (PARTITION BY h % {int(n_shards)}
                    ORDER BY h, {id_col}) - 1 AS INT) AS pos
      FROM (SELECT {id_col}, {h} AS h FROM {table})"""
