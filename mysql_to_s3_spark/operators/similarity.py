"""Similarity search over an embedding column (``array<float>``):
brute-force cosine top-k as the exactness baseline, and random-hyperplane
LSH bucketing as the approximate 100 TB path.

Scale story: ``topk_cosine`` is one scan + a k-row TakeOrdered — no
shuffle, O(n·d) work, the right baseline for verification and small
corpora. ``ann_topk`` hashes every vector into a sign-pattern bucket
(one projection), then scores only the query's bucket — with B hyperplanes
the candidate set shrinks ~2^B-fold; recall is tuned by B and by probing
neighboring buckets (multi-probe is a union of bucket keys, still an
equi-join). Bucketing is a plain groupBy/equi-join key, so Catalyst/AQE
handle the physical plan; no UDFs anywhere.

The hyperplanes are deterministic module constants (seeded), so the DuckDB
oracle replicates the exact bucket assignment and ranking.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.dedup import cosine

# default query_cap of knn_join / ivf_search_index_batch: the query side
# collects to one driver/executor-resident float64 matrix, so it must be
# bounded. 100k x 128-dim float64 = ~100 MB — the broadcast-budget ceiling.
DEFAULT_KNN_QUERY_CAP = 100_000
EMBED_DIM = 64
N_HYPERPLANES = 8
_SEED = 7


class IvfIndexError(ValueError):
    """Raised when an index write would silently corrupt a persisted
    ANN index (e.g. appending under different centroids)."""


def hyperplanes(dim: int = EMBED_DIM, n: int = N_HYPERPLANES, seed: int = _SEED) -> list[list[float]]:
    """Deterministic random hyperplanes (shared with the SQL oracle)."""
    rng = random.Random(seed)
    return [[round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n)]


def _dot_lit(vec: Column, plane: list[float]) -> Column:
    # the literal array is ONE parsed SQL expression — building it as
    # len(plane) F.lit calls costs a py4j round trip per element, which
    # dominates query BUILD time when planes are stacked (see _dlit note)
    lit_arr = F.expr("array(" + ",".join(_dlit(x) for x in plane) + ")")
    return F.aggregate(
        F.zip_with(vec, lit_arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dlit(x: float) -> str:
    """A float as a Spark SQL DOUBLE literal (CAST keeps scientific and
    plain decimals alike exactly round-tripping through repr)."""
    return f"CAST({float(x)!r} AS DOUBLE)"


def lsh_bucket(vec: Column, planes: list[list[float]] | None = None) -> Column:
    """Sign-pattern bucket key, e.g. '01101001' for 8 hyperplanes."""
    planes = planes if planes is not None else hyperplanes()
    bits = [F.when(_dot_lit(vec, p) > 0, F.lit("1")).otherwise(F.lit("0")) for p in planes]
    return F.concat(*bits)


# width of the packed sign signature used by embedding_dup_pairs_lsh's
# pre-verify: wide enough that the hamming angle estimate separates
# at-threshold pairs from random collisions even in the low-threshold
# (near-orthogonal) regime — sigma(θ/π) = sqrt(f(1-f)/512) ≈ 0.021
SIG_BITS = 512


def _sign_signature_udf(dim: int):
    """Vectorized signature: one (batch x dim) @ (dim x SIG_BITS) numpy
    GEMM per Arrow batch, signs packed into SIG_BITS/64 longs. Per-VECTOR
    cost (not per-candidate); planes are seeded and deterministic. The
    signature only feeds the conservative pre-verify margin, so it needs
    no oracle replica — the exact cosine verify decides."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(_SEED + 99)
    planes = rng.standard_normal((dim, SIG_BITS))

    @pandas_udf("array<long>")
    def sig(vs):  # pd.Series of float arrays -> pd.Series of long arrays
        import pandas as pd

        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(vs.to_numpy()).astype(np.float64)
        bits = np.packbits((m @ planes) > 0, axis=1)  # n x SIG_BITS/8 bytes
        longs = bits.view(np.int64)  # n x SIG_BITS/64 (endianness is
        # irrelevant: both sides of the hamming compare pack identically)
        return pd.Series(list(longs))

    return sig


def topk_cosine(
    df: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Brute-force exact top-k by cosine: one scan, TakeOrdered(k) — the
    correctness baseline. Ties broken by id for determinism."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    multiprobe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only the query's LSH bucket, exact cosine
    re-rank inside it. ``multiprobe`` is the recall knob: also probe every
    bucket within that hamming distance of the query's sign pattern (a
    vector near a hyperplane flips that bit, landing one bucket away) —
    still a bucket-key IN-filter, so at corpus scale, with the bucket
    column precomputed and partitioned-by, it stays a partition-pruned
    scan of 1 + B + B(B-1)/2 + ... buckets, never a full scan."""
    planes = hyperplanes()
    q_bits = "".join(
        "1" if sum(float(a) * b for a, b in zip(query_vec, p)) > 0 else "0" for p in planes
    )
    import itertools

    probe = {q_bits}
    for d in range(1, multiprobe + 1):
        for flips in itertools.combinations(range(len(q_bits)), d):
            bits = list(q_bits)
            for i in flips:
                bits[i] = "0" if bits[i] == "1" else "1"
            probe.add("".join(bits))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), planes).alias("bucket"))
        .filter(F.col("bucket").isin(sorted(probe)))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index: k-means coarse quantizer -> probe the nprobe
# nearest cells only. The standard ANN scale path when recall targets make
# pure sign-LSH buckets too coarse.


def ivf_fit(
    df: DataFrame, n_cells: int = 16, vec_col: str = "embedding", seed: int = _SEED
) -> list[list[float]]:
    """Train the coarse quantizer (pyspark.ml KMeans — distributed Lloyd's).
    Returns plain centroid lists so assignment/probing are Column algebra,
    not a model dependency."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=20).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _nearest_cell_udf(centroids: list[list[float]]):
    """argmin_c ||v - c||^2 = argmin_c (|c|^2 - 2<v,c>) (|v|^2 is common
    to all cells), as ONE (batch × d) @ (d × cells) numpy GEMM per Arrow
    batch. Dense quantizer scoring is where the Column layer loses three
    ways, all measured (SCALE.md): Column-object construction pays a
    py4j round trip per node (~seconds at 16 cells × 64 dims), zip_with/
    aggregate HOFs are interpreted per row, and a flat scalar
    multiply-add chain blows the JVM 64 KB method limit so Janino FAILS
    and the stage falls back to interpreted anyway. The vectorized Arrow
    path is the honest scale design — the _sign_signature_udf
    precedent. np.argmin returns the FIRST minimum, the
    array_position(array_min) tie semantics the previous Column form
    had."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)  # (cells, d)
    half = (C * C).sum(axis=1)

    @pandas_udf("int")
    def cell(vs):
        import pandas as pd

        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        M = np.stack(vs.to_numpy()).astype(np.float64)
        scores = half[None, :] - 2.0 * (M @ C.T)
        return pd.Series(np.argmin(scores, axis=1).astype("int32"))

    return cell


def ivf_assign(df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding") -> DataFrame:
    """Add the inverted-file cell id. At corpus scale, write partitionBy
    ('__cell__') so probes become partition-pruned scans."""
    return df.withColumn("__cell__", _nearest_cell_udf(centroids)(F.col(vec_col)))


def _nearest_cells(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Driver-side probe selection: the nprobe cells nearest the query
    (shared by the in-memory and persisted IVF paths so they cannot
    diverge)."""

    def d2(a: list[float], c: list[float]) -> float:
        return sum((x - y) ** 2 for x, y in zip(a, c))

    return sorted(range(len(centroids)), key=lambda i: d2(query_vec, centroids[i]))[:nprobe]


def _cosine_rerank(
    df: DataFrame, query_vec: list[float], k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact cosine top-k tail shared by the IVF paths."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ``nprobe`` cells nearest the query; exact cosine re-rank
    inside them. Driver-side math touches only the centroid table (tiny);
    the scan reads only probed cells."""
    probe = _nearest_cells(query_vec, centroids, nprobe)
    return _cosine_rerank(
        ivf_assign(df, centroids, vec_col).filter(F.col("__cell__").isin(probe)),
        query_vec,
        k,
        id_col,
        vec_col,
    )


def ivf_write_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the inverted file: vectors as parquet PARTITIONED BY the
    cell id (one directory per cell), centroids as a tiny sidecar
    parquet. This is what turns ``nprobe`` from a filter into I/O
    savings — a probe becomes a partition-pruned scan that never opens
    the other cells' files (asserted against the physical plan in
    tests/test_llm_ops.py). At 100 TB the vector table is the only big
    artifact; the sidecar is centroids × dim doubles.

    ``mode='append'`` is valid ONLY with the index's existing centroids:
    cell ids must mean the same thing across increments, or every prior
    vector's partition silently misaligns and partition-pruned searches
    return wrong results with no error. The existing sidecar is read and
    compared (the dedup-index meta-gate contract); a mismatch raises
    IvfIndexError — refitting centroids means a NEW index (overwrite)."""
    spark = df.sparkSession
    want = [[float(x) for x in c] for c in centroids]
    if mode == "append":
        existing = _sidecar_or_none(lambda: ivf_read_centroids(spark, path))
        if existing is None:
            _guard_half_written(spark, path, "ivf_write_index")
        if existing is not None and existing != want:
            raise IvfIndexError(
                f"ivf_write_index(mode='append') at {path}: passed centroids "
                "differ from the index's centroid sidecar; appending would "
                "misalign every prior vector's __cell__ partition. Use the "
                "stored centroids (ivf_read_centroids) for increments, or "
                "overwrite to rebuild under new centroids."
            )
    ivf_assign(df, centroids, vec_col).write.mode(mode).partitionBy("__cell__").parquet(
        path + "/vectors"
    )
    # sidecar is ALWAYS overwritten: appending vectors (mode='append',
    # valid only with the SAME centroids — cell ids must mean the same
    # thing across increments) must not duplicate centroid rows, which
    # would misalign every later probe
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    cent.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")


def _sidecar_or_none(read):
    """Run a sidecar read; None ONLY when the path does not exist (the
    genuine first-write case). Any other failure — permission, corrupt
    footer, truncated file — re-raises, so the exact append guard built
    on the sidecar can't be bypassed by a transient read error letting
    mismatched centroids/codebooks through. Callers must ALSO check that
    the index is not half-written (vectors present, sidecar absent) —
    see ``_guard_half_written``."""
    from pyspark.errors import AnalysisException

    try:
        return read()
    except AnalysisException as exc:
        err = exc.getErrorClass() if hasattr(exc, "getErrorClass") else None
        if err == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(exc):
            return None
        raise


def _guard_half_written(spark, path: str, what: str) -> None:
    """An append whose sidecar probe came back path-not-found is a first
    write ONLY if the vectors payload is absent too. The common
    half-finished write (job died between the vectors write and the
    sidecar write) leaves vectors WITHOUT a sidecar — indistinguishable
    from first-write by the sidecar probe alone, and appending refit
    (different) centroids/codebooks next to those orphaned vectors is
    exactly the silent misalignment the guard exists to prevent."""

    def _probe():
        spark.read.parquet(path + "/vectors")
        return True

    if _sidecar_or_none(_probe):
        raise IvfIndexError(
            f"{what}(mode='append') at {path}: vectors exist but the "
            "sidecar is missing — a previous write died half-way. The "
            "existing vectors' cell/code assignment is unverifiable; "
            "rebuild with mode='overwrite'."
        )


def ivf_read_centroids(spark, path: str) -> list[list[float]]:
    rows = spark.read.parquet(path + "/centroids").orderBy("cell").collect()
    return [[float(x) for x in r.centroid] for r in rows]


def ivf_search_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted IVF index: pick the ``nprobe`` nearest
    cells driver-side (centroid sidecar only), then scan JUST those
    partitions of the vector parquet — exact cosine re-rank inside."""
    centroids = ivf_read_centroids(spark, path)
    probe = _nearest_cells(query_vec, centroids, nprobe)
    return _cosine_rerank(
        spark.read.parquet(path + "/vectors").filter(F.col("__cell__").isin(probe)),
        query_vec,
        k,
        id_col,
        vec_col,
    )


def ivf_search_index_batch(
    spark,
    path: str,
    queries: "DataFrame",
    k: int = 10,
    nprobe: int = 4,
    *,
    q_id_col: str = "vec_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    query_cap: int = DEFAULT_KNN_QUERY_CAP,
) -> "DataFrame":
    """Batched multi-query search against a persisted IVF index: for
    every query vector, the top-``k`` (by cosine) among the vectors in
    that query's ``nprobe`` nearest cells — (q_id, <id_col>, cos),
    ranked (cos desc, id asc). The ANN scale path `knn_join`'s
    docstring points corpus-vs-corpus work at: where knn_join scans the
    WHOLE corpus once per query block, this scans only the UNION of all
    probed cells, and each batch row is scored only against the queries
    that probed its cell.

    Shape at scale: probe selection is ONE driver-side numpy GEMM over
    the centroid sidecar (|Q| x n_cells); the union of probed cells
    becomes a STATIC partition filter on the vectors parquet
    (PartitionFilters carries the IN-list — same plan contract as the
    single-query form); the Arrow kernel GEMMs each batch's rows
    against its cell's query sub-matrix and emits <= k rows per
    (query, batch) under the final total order; ONE exchange on q_id
    ranks |Q| x k x n_batches rows, never the corpus. The query side
    collects under the same ``query_cap`` as `knn_join` and raises
    ``KnnError`` past it — one bounded matrix, never an executor OOM.

    ``round_to`` rounds cosines BEFORE ranking (engine-portable
    selection, the shared contract). Containment caveat: like every
    IVF search, recall is governed by nprobe — a true neighbor outside
    the probed cells is unreachable by construction."""
    import numpy as np

    if k < 1:
        raise KnnError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise KnnError(f"nprobe must be >= 1, got {nprobe}")
    _require_integral_id(queries, q_id_col, "query")
    qrows = queries.select(
        F.col(q_id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("v")
    ).limit(query_cap + 1).collect()
    if len(qrows) > query_cap:
        raise KnnError(
            f"ivf_search_index_batch query side exceeds query_cap={query_cap} "
            "— the query matrix rides the Arrow kernel closure; raise the "
            "cap deliberately or run in blocks"
        )
    if not qrows:
        raise KnnError("ivf_search_index_batch query side is empty")

    centroids = np.asarray(ivf_read_centroids(spark, path), dtype=np.float64)
    q_ids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qm = np.stack([np.asarray(r["v"], dtype=np.float64) for r in qrows])
    qn = np.sqrt((qm * qm).sum(axis=1))
    qn[qn == 0] = 1.0
    # probe selection = squared L2 to each centroid, the single-query
    # `_nearest_cells` metric (||q||^2 is constant per row, so
    # -2 q.c + ||c||^2 orders identically IN EXACT ARITHMETIC) — one
    # |Q| x n_cells GEMM; ties -> lower cell id, matching python
    # sorted()'s stability. Caveat: the expanded form rounds differently
    # from the python sum((x-y)^2), so centroids whose distances differ
    # by less than the FP error of the expansion can swap at the
    # nprobe boundary — probe-set parity with the single-query form is
    # exact except at those FP-tie boundaries (where either probe set
    # is an equally valid ANN choice)
    d2 = -2.0 * (qm @ centroids.T) + (centroids * centroids).sum(axis=1)[None, :]
    npb = min(int(nprobe), centroids.shape[0])
    order = np.lexsort(
        (np.arange(centroids.shape[0])[None, :].repeat(len(qm), 0), d2), axis=1
    )
    probes = order[:, :npb]
    cell_to_q: dict[int, list[int]] = {}
    for qi in range(len(qm)):
        for c in probes[qi]:
            cell_to_q.setdefault(int(c), []).append(qi)
    union_cells = sorted(cell_to_q)
    cell_q_ids = {c: q_ids[idx] for c, idx in cell_to_q.items()}
    cell_qm = {c: qm[idx] for c, idx in cell_to_q.items()}
    cell_qn = {c: qn[idx] for c, idx in cell_to_q.items()}

    out_schema = f"q_id bigint, {id_col} bigint, cos double"
    kk, rt = int(k), round_to
    pruned = (
        spark.read.parquet(path + "/vectors")
        .filter(F.col("__cell__").isin(union_cells))
        .select("__cell__", id_col, vec_col)
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            for cell, grp in pdf.groupby("__cell__"):
                cq_ids = cell_q_ids.get(int(cell))
                if cq_ids is None:
                    continue
                bm = np.stack(grp[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
                ids_b = grp[id_col].to_numpy().astype(np.int64)
                bn = np.sqrt((bm * bm).sum(axis=1))
                bn[bn == 0] = 1.0
                cos = (cell_qm[int(cell)] @ bm.T) / np.outer(cell_qn[int(cell)], bn)
                if rt is not None:
                    cos = np.round(cos, rt)
                top = min(kk, cos.shape[1])
                for i in range(cos.shape[0]):
                    idx = np.lexsort((ids_b, -cos[i]))[:top]
                    outs.append(
                        pd.DataFrame(
                            {
                                "q_id": np.full(top, cq_ids[i]),
                                id_col: ids_b[idx],
                                "cos": cos[i, idx],
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs)

    scored = pruned.mapInPandas(score, out_schema)
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("q_id").orderBy(F.desc("cos"), F.col(id_col).asc())
    return (
        scored.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= kk)
        .drop("__rk__")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress vectors to m one-byte codes for
# memory-bound ANN (Jégou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — the standard IVF companion).
# Vectors are L2-NORMALIZED before codebook fit/encode so asymmetric
# L2 ranking agrees with cosine ranking (||a-b||² = 2 - 2·cos on the
# unit sphere); exact cosine re-ranks the ADC shortlist.


def _normalize(vec: Column) -> Column:
    n = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x.cast("double") * x))
    return F.transform(vec, lambda x: x.cast("double") / n)


def pq_fit(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = _SEED,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Per-subspace codebooks: split each (normalized) vector into ``m``
    contiguous subvectors and run KMeans(k) independently in each
    subspace (distributed Lloyd's, one fit per subspace over the same
    cached projection). Returns codebooks[s][c] = centroid c of
    subspace s. Storage after encoding: m bytes/vector at k<=256 —
    a 32x compression of a 64-dim float vector."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d = dim // m
    norm = df.select(_normalize(F.col(vec_col)).alias("v")).cache()
    books = []
    for s in range(m):
        feats = norm.select(
            array_to_vector(F.slice(F.col("v"), s * d + 1, d)).alias("features")
        )
        model = KMeans(k=k, seed=seed + s, maxIter=max_iter).fit(feats)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    norm.unpersist()
    return books


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]], vec_col: str = "embedding") -> DataFrame:
    """Add ``__pq__`` (array<int>, one code per subspace): nearest
    centroid per subspace over the L2-normalized vector, as ``m`` small
    numpy GEMMs per Arrow batch (one per subspace) — the same
    vectorized-quantizer rationale as ``_nearest_cell_udf``; the
    Column-algebra forms of this scoring were measured to lose on py4j
    construction, HOF interpretation, AND codegen method-size fallback
    (SCALE.md). Zero-norm vectors encode against the unnormalized zero
    vector instead of dividing by zero."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m, d = len(codebooks), len(codebooks[0][0])
    books = np.array(codebooks, dtype=np.float64)  # (m, k, d)
    halves = (books * books).sum(axis=2)  # (m, k)

    @pandas_udf("array<int>")
    def codes(vs):
        import pandas as pd

        if len(vs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(vs.to_numpy()).astype(np.float64)
        n = np.sqrt((M * M).sum(axis=1, keepdims=True))
        n[n == 0.0] = 1.0
        M = M / n
        out = np.empty((M.shape[0], m), dtype=np.int32)
        for s in range(m):
            sub = M[:, s * d : (s + 1) * d]
            scores = halves[s][None, :] - 2.0 * (sub @ books[s].T)
            out[:, s] = np.argmin(scores, axis=1)
        return pd.Series(list(out))

    return df.withColumn("__pq__", codes(F.col(vec_col)))


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoded: bool = False,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query's per-subspace
    distances to every centroid form an m x k lookup table (driver-side,
    tiny); each row's approximate distance is m table lookups summed —
    no per-row float math against the full vector. The ``shortlist``
    best ADC rows are re-ranked with exact cosine.

    The shortlist pass projects ONLY (id, ``__pq__``) — the TakeOrdered
    scan carries m-byte codes, never full vectors (that is the whole
    memory/IO point of PQ; plan-asserted in tests/test_llm_ops.py) —
    then the ``shortlist`` winning ids broadcast-join back to the
    full-vector side for the exact re-rank. Pass ``encoded=True`` over a
    pq_encode'd table to skip re-encoding; ``vectors`` supplies the
    full-vector table for the re-rank when ``df`` is a codes-only frame
    (defaults to ``df`` itself)."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / qn for x in query_vec]
    m, d = len(codebooks), len(codebooks[0][0])
    lut = [
        [
            sum((q[s * d + j] - c[j]) ** 2 for j in range(d))
            for c in codebooks[s]
        ]
        for s in range(m)
    ]
    base = df if encoded else pq_encode(df, codebooks, vec_col)
    # one SQL-text expr (py4j chatter) of scalar lookups (codegen, not an
    # interpreted HOF fold) — the pq_encode lessons applied to the scan
    lut_sql = (
        "array("
        + ",".join("array(" + ",".join(_dlit(x) for x in row) + ")" for row in lut)
        + ")"
    )
    adc = F.expr(
        "+".join(
            f"element_at(element_at({lut_sql},{s + 1}),element_at(__pq__,{s + 1})+1)"
            for s in range(m)
        )
    )
    short_ids = (
        base.select(F.col(id_col), adc.alias("__adc__"))
        .orderBy(F.col("__adc__").asc(), F.col(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    full = (vectors if vectors is not None else df).select(
        F.col(id_col), F.col(vec_col)
    )
    return _cosine_rerank(
        full.join(F.broadcast(short_ids), id_col), query_vec, k, id_col, vec_col
    )


def ivfpq_write_index(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """IVF-PQ persisted index (the standard large-scale ANN layout —
    Jégou et al. 2011's IVFADC): vectors parquet PARTITIONED BY the
    coarse cell id, each row additionally carrying its ``__pq__`` codes;
    centroids AND codebooks as tiny sidecars. A search then composes the
    two prunings Spark gives for free when the layout is declared
    declaratively: partition pruning (only the probed cells' directories
    open) and column pruning (the ADC shortlist scan reads ONLY
    (id, codes) — the full vector column's pages are never fetched
    until the shortlist re-rank). Append is gated on BOTH sidecars
    matching, the ivf_write_index contract."""
    spark = df.sparkSession
    want_cent = [[float(x) for x in c] for c in centroids]
    want_books = [[[float(x) for x in c] for c in book] for book in codebooks]
    if mode == "append":
        have_cent = _sidecar_or_none(lambda: ivf_read_centroids(spark, path))
        have_books = (
            _sidecar_or_none(lambda: ivfpq_read_codebooks(spark, path))
            if have_cent is not None
            else None
        )
        if have_cent is None or (have_cent is not None and have_books is None):
            _guard_half_written(spark, path, "ivfpq_write_index")
        if have_cent is not None and have_books is None:
            raise IvfIndexError(
                f"ivfpq_write_index(mode='append') at {path}: the centroid "
                "sidecar exists but the codebook sidecar is missing — a "
                "previous write died half-way; rebuild with mode='overwrite'."
            )
        if have_cent is not None and (have_cent != want_cent or have_books != want_books):
            raise IvfIndexError(
                f"ivfpq_write_index(mode='append') at {path}: centroids or "
                "codebooks differ from the index sidecars; appending would "
                "misalign prior vectors' cells or codes. Use the stored "
                "sidecars for increments, or overwrite to rebuild."
            )
    pq_encode(ivf_assign(df, want_cent, vec_col), want_books, vec_col).write.mode(
        mode
    ).partitionBy("__cell__").parquet(path + "/vectors")
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(want_cent)],
        "cell int, centroid array<double>",
    )
    cent.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    books = spark.createDataFrame(
        [(s, c, cw) for s, book in enumerate(want_books) for c, cw in enumerate(book)],
        "subspace int, code int, centroid array<double>",
    )
    books.coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")


def ivfpq_read_codebooks(spark, path: str) -> list[list[list[float]]]:
    rows = spark.read.parquet(path + "/codebooks").orderBy("subspace", "code").collect()
    m = max(r.subspace for r in rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r.subspace].append([float(x) for x in r.centroid])
    return books


def ivfpq_search_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted IVF-PQ index: probe cell selection is
    driver-side over the centroid sidecar; the ADC shortlist pass scans
    ONLY (id, __pq__) of the probed partitions (partition + column
    pruning, both plan-asserted in tests/test_llm_ops.py); the exact
    cosine re-rank touches ``shortlist`` full vectors of those same
    partitions via a broadcast id join."""
    centroids = ivf_read_centroids(spark, path)
    books = ivfpq_read_codebooks(spark, path)
    probe = _nearest_cells(query_vec, centroids, nprobe)
    probed = spark.read.parquet(path + "/vectors").filter(F.col("__cell__").isin(probe))
    return pq_topk(
        probed.select(F.col(id_col), F.col("__pq__")),
        query_vec,
        books,
        k=k,
        shortlist=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        encoded=True,
        vectors=probed.select(F.col(id_col), F.col(vec_col)),
    )


def embedding_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.45,
    n_tables: int = 28,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via banded multi-table LSH — the
    corpus-scale form of ``dedup.embedding_dup_pairs`` (which is
    all-pairs). ``n_tables`` independent hyperplane sets each bucket every
    vector; a candidate pair shares a ``(table, bucket)`` key in ANY table;
    exact cosine verifies candidates only.

    Plan shape (mirrors ``dedup.minhash_lsh_pairs``): ONE explode of the
    per-row ``(table, bucket)`` keys, ONE self-equi-join on that composite
    key, distinct, then a verify join — not ``n_tables`` separate
    self-joins. At corpus scale that is a single shuffle on the band key,
    and every dot product is computed once per row.

    Recall/cost: miss probability per pair at angle θ is
    (1 - (1 - θ/π)^n_planes)^n_tables. The defaults are sized for the
    LOW-threshold regime this catalog entry runs in (cos ≈ 0.45, i.e.
    θ/π ≈ 0.35 — nearly orthogonal): measured on the sf0.1 testdata,
    (p=4, T=24) is the first config covering all 144 true pairs, so T=28
    adds margin; the driver row matches the exact all-pairs oracle
    deterministically (seeded planes). Honest scale note: at this low a
    threshold sign-LSH is a RECALL device, not a shrinkage device — the
    cumulative candidate volume at sf0.1 (3.1M) exceeds all-pairs (2.0M).
    Real corpus dedup runs at cos >= 0.8 (θ/π <= 0.2), where p=12-16,
    T~8 gives ~2^12-fold candidate shrinkage with the same code; the
    (n_planes, n_tables) knobs are the tuning surface.

    Signature pre-verify (sf1 stress fix): with fixed p, per-bucket
    occupancy grows linearly with the corpus, so raw band collisions grow
    QUADRATICALLY — at 10x sf0.1 the distinct+verify consumed ~350M junk
    rows and fell over. Each vector now carries a packed SIG_BITS-bit
    sign signature (one numpy GEMM per Arrow batch — a per-VECTOR cost);
    the hamming distance between two signatures estimates the pair angle
    (f = ham/SIG_BITS estimates θ/π, σ = sqrt(f0(1-f0)/SIG_BITS)), and
    candidates are pruned at 4σ past the threshold angle BEFORE the
    distinct shuffle. The filter runs inside the band-join task — the
    junk rows are generated and dropped in place, never shuffled. At
    t=0.45 the prune keeps ~0.2% of random collisions; miss probability
    for an exactly-at-threshold pair is ~3e-5 (4σ), and the exact cosine
    verify remains the sole decider above the margin."""
    import math

    dim = len(df.select(vec_col).first()[0])
    sig_longs = SIG_BITS // 64
    f0 = math.acos(threshold) / math.pi
    sigma = math.sqrt(f0 * (1.0 - f0) / SIG_BITS)
    d_max = int(math.floor(SIG_BITS * min(1.0, f0 + 4.0 * sigma)))
    keys = []
    for t in range(n_tables):
        planes = hyperplanes(dim=dim, n=n_planes, seed=_SEED + 1000 + t)
        keys.append(F.struct(F.lit(t).alias("t"), lsh_bucket(F.col(vec_col), planes).alias("bk")))
    sig = _sign_signature_udf(dim)
    # the signature rides the join as FLAT long columns, so the hamming
    # filter is whole-stage-codegen scalar ops (bit_count(xor)) — a
    # zip_with/aggregate HOF here is interpreted per row with array
    # allocations, which at ~350M join rows was itself the bottleneck
    sig_cols = [F.col("sig")[k].alias(f"s{k}") for k in range(sig_longs)]
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col), sig(F.col(vec_col)).alias("sig"))
    banded = vecs.select(
        "id", F.explode(F.array(*keys)).alias("key"), *sig_cols
    ).select("id", F.col("key.t").alias("t"), F.col("key.bk").alias("bk"), *[f"s{k}" for k in range(sig_longs)])
    ham = None
    for k in range(sig_longs):
        term = F.bit_count(F.col(f"x.s{k}").bitwiseXOR(F.col(f"y.s{k}")))
        ham = term if ham is None else ham + term
    cands = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.id") < F.col("y.id"))
            & (ham <= F.lit(d_max)),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "a")
        .join(vb, "b")
        .select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


# -- semantic dedup (SemDeDup) -------------------------------------------


class SemDedupError(ValueError):
    """Raised when a semantic-dedup cell exceeds the pairwise-work cap."""


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.45,
    centroids: list[list[float]] | None = None,
    n_cells: int = 8,
    cell_expr: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_size: int = 200_000,
) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus in embedding space, compare
    pairs ONLY within a cluster (dense pairwise cosine — one numpy GEMM
    per cell group), and for every duplicate pair keep the
    LEAST-centroid-similar member (the paper's keep rule: prefer the
    example farthest from its cluster's center of mass; exact ties break
    to the lower id). Complements ``embedding_dup_pairs_lsh``: LSH bands
    answer "which pairs are near-identical", SemDeDup answers "which docs
    do I drop", with candidate generation bounded by cluster size instead
    of band-collision luck.

    Assignment is pluggable: ``cell_expr`` (any deterministic integer
    Column, e.g. a sign-pattern bucket — the oracle-replicable form) or
    nearest-``centroids`` L2 (default: ``ivf_fit``-trained distributed
    KMeans — the production path). The centroid used by the keep rule is
    always the cell's member MEAN, recomputed inside the kernel, so both
    assignment modes share identical dedup semantics.

    Returns one row per DROPPED doc ``(id, cell, centroid_sim)``;
    survivors are ``df`` anti-joined on ``id``. Cosines and centroid
    similarities are rounded to 6 decimals BEFORE every comparison (the
    cross-engine double-math discipline, see ``dedup.cosine``).

    100 TB story: one hash exchange on the cell id; pairwise work is
    sum(cell^2), bounded by ``max_cell_size`` (raises ``SemDedupError`` —
    the skew-valve contract: truncation is never silent) and tuned by
    ``n_cells``; the dense kernel is Arrow-batched numpy per the measured
    dense-kernel findings in SCALE.md, never per-row Python.
    """
    import numpy as np
    import pandas as pd

    if cell_expr is not None:
        assigned = df.select(
            F.col(id_col).alias("id"),
            cell_expr.cast("int").alias("cell"),
            F.col(vec_col).alias("v"),
        )
    else:
        if centroids is None:
            centroids = ivf_fit(df, n_cells=n_cells, vec_col=vec_col)
        assigned = ivf_assign(df, centroids, vec_col=vec_col).select(
            F.col(id_col).alias("id"),
            F.col("__cell__").cast("int").alias("cell"),
            F.col(vec_col).alias("v"),
        )

    thr = float(threshold)
    cap = int(max_cell_size)
    empty = pd.DataFrame(
        {
            "id": pd.Series(dtype="int64"),
            "cell": pd.Series(dtype="int32"),
            "centroid_sim": pd.Series(dtype="float64"),
        }
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > cap:
            raise SemDedupError(
                f"semantic_dedup cell {int(pdf['cell'].iloc[0])} holds {n} "
                f"vectors (> max_cell_size={cap}); pairwise work is n^2 — "
                "raise n_cells (finer clustering) or max_cell_size explicitly"
            )
        if n < 2:
            return empty
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        U = V / norms[:, None]
        c = V.mean(axis=0)
        cn = np.linalg.norm(c)
        csim = np.round(U @ (c / (cn if cn > 0.0 else 1.0)), 6)
        S = np.round(U @ U.T, 6)
        np.fill_diagonal(S, -2.0)  # a doc never duplicates itself
        ids = pdf["id"].to_numpy().astype(np.int64)
        order = np.lexsort((ids, csim))  # keep-rank: (centroid_sim, id) asc
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.arange(n)
        drop = ((S >= thr) & (rank[None, :] < rank[:, None])).any(axis=1)
        if not drop.any():
            return empty
        return pd.DataFrame(
            {
                "id": ids[drop],
                "cell": np.full(int(drop.sum()), pdf["cell"].iloc[0], dtype="int32"),
                "centroid_sim": csim[drop],
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        lambda pdf: dedup_cell(pdf), "id long, cell int, centroid_sim double"
    )


# -- multi-query k-NN join --------------------------------------------------

class KnnError(ValueError):
    pass


def _require_integral_id(df: DataFrame, col: str, side: str) -> None:
    """The k-NN kernel carries ids as int64 through numpy/Arrow; a
    non-integral id would fail deep inside the UDF with an opaque cast
    error — refuse up front with a typed error instead."""
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise KnnError(
            f"knn_join {side} id column {col!r} must be an integral type "
            f"(ids ride the Arrow kernel as int64); got {dt.simpleString()} "
            "— map string/other ids to a surrogate bigint upstream "
            "(e.g. xxhash64 or a dimension join) and join back after"
        )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    q_id_col: str = "vec_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    query_cap: int = DEFAULT_KNN_QUERY_CAP,
    max_query_blocks: int = 8,
) -> DataFrame:
    """EXACT multi-query top-k cosine join: for every query vector, the
    ``k`` nearest corpus vectors — (q_id, <id_col>, cos), ranked by
    (cos desc, id asc). The retrieval-eval / dedup-vs-reference-set
    primitive ``topk_cosine`` (one query) does not cover. Both id
    columns must be integral (ids ride the Arrow kernel as int64;
    anything else raises ``KnnError`` up front).

    Shape: the QUERY side collects to contiguous float64 matrices riding
    the UDF closure, in BLOCKS of at most ``query_cap`` vectors (default
    100k — the broadcast-budget ceiling per task). A query side larger
    than one block runs one corpus pass per block and unions the
    per-block candidates under ONE final window (blocks partition q_id,
    so the union costs nothing extra there); above ``max_query_blocks``
    blocks it raises instead of scanning the corpus that many times —
    flip the sides or use the LSH/IVF operators for corpus-vs-corpus
    work. The CORPUS side never shuffles its vectors: each Arrow batch
    is ONE numpy GEMM (Q x batch) per the dense-kernel discipline, and
    each batch emits at most k rows per query, pruned under the SAME
    total order the final ranking uses — so the per-query window ranks
    |Q| x k x n_batches candidate rows, never the corpus. One exchange
    on q_id total.

    ``round_to`` rounds the cosine BEFORE ranking (default 6): the
    selection is then reproducible across engines and partitionings —
    the same contract the single-query operators use. Zero-norm vectors
    score 0 against everything.
    """
    import numpy as np

    if k < 1:
        raise KnnError(f"k must be >= 1, got {k}")
    if max_query_blocks < 1:
        raise KnnError(f"max_query_blocks must be >= 1, got {max_query_blocks}")
    _require_integral_id(queries, q_id_col, "query")
    _require_integral_id(corpus, id_col, "corpus")
    hard_cap = query_cap * max_query_blocks
    qrows = queries.select(
        F.col(q_id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("v")
    ).limit(hard_cap + 1).collect()
    if len(qrows) > hard_cap:
        raise KnnError(
            f"knn_join query side exceeds {query_cap} x {max_query_blocks} "
            "blocks; each block is one full corpus pass, so this would "
            f"scan the corpus > {max_query_blocks} times — raise "
            "query_cap/max_query_blocks deliberately, swap "
            "the sides, or use the LSH/IVF search operators for "
            "corpus-vs-corpus work"
        )
    if not qrows:
        raise KnnError("knn_join query side is empty")

    out_schema = f"q_id bigint, {id_col} bigint, cos double"
    kk = int(k)
    rt = round_to
    src = corpus.select(id_col, vec_col)

    def block_scored(block) -> DataFrame:
        q_ids = np.array([r["qid"] for r in block], dtype=np.int64)
        qm = np.stack([np.asarray(r["v"], dtype=np.float64) for r in block])
        qn = np.sqrt((qm * qm).sum(axis=1))
        qn[qn == 0] = 1.0

        def score(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                bm = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
                ids_b = pdf[id_col].to_numpy().astype(np.int64)
                bn = np.sqrt((bm * bm).sum(axis=1))
                bn[bn == 0] = 1.0
                cos = (qm @ bm.T) / np.outer(qn, bn)
                if rt is not None:
                    cos = np.round(cos, rt)
                top = min(kk, cos.shape[1])
                outs = []
                for i in range(cos.shape[0]):
                    # total order (cos desc, id asc) — identical to the final
                    # window, so the batch prune is a prefix-safe superset
                    idx = np.lexsort((ids_b, -cos[i]))[:top]
                    outs.append(
                        pd.DataFrame(
                            {
                                "q_id": np.full(top, q_ids[i]),
                                id_col: ids_b[idx],
                                "cos": cos[i, idx],
                            }
                        )
                    )
                yield pd.concat(outs)

        return src.mapInPandas(score, out_schema)

    scored = block_scored(qrows[:query_cap])
    for off in range(query_cap, len(qrows), query_cap):
        scored = scored.unionByName(block_scored(qrows[off : off + query_cap]))
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("q_id").orderBy(F.desc("cos"), F.col(id_col).asc())
    return (
        scored.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= kk)
        .drop("__rk__")
    )
