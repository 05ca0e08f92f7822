"""Similarity search over embedding columns (``array<float>``).

Two paths, same results contract (query_id, neighbor_id, cos_sim_micro, rank):

* ``brute_force_topk`` — broadcast the (small) query set against the corpus,
  exact cosine via ``zip_with`` + ``aggregate`` (pure JVM column math — no
  Python in the hot path), window top-k. Exact baseline + correctness oracle.
* ``lsh_topk`` — random-hyperplane LSH: sign-bit bucket from ``n_planes``
  deterministic projections (seeded, generated driver-side, shipped as
  literal arrays → still pure column math), candidate set = same bucket or
  hamming-1 neighbor buckets (multi-probe), exact cosine re-rank inside
  buckets. The 100 TB path: the corpus is scanned once, shuffled once by
  bucket; no cross join ever materializes.

Recall knob: more planes → smaller buckets (faster, lower recall); the test
suite measures recall@k of lsh vs brute force and asserts a floor.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve against module globals

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    # cast per-element to double BEFORE multiplying: float32 products would
    # diverge from the DuckDB oracle's double math in the last ulp
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_micro(a, b):
    """Cosine similarity as an exact BIGINT in micro units
    (``round(cos·1e6)``) — the cross-engine value contract. A rounded
    DOUBLE is one last-ulp of engine drift away from hashing differently
    on the driver's exact-value gate (r4's corpus_stats/image_quality
    lesson); an integer micro value hashes identically everywhere, and
    rank windows ordering by it are deterministic by construction."""
    return F.round(cosine(a, b) * F.lit(1_000_000.0)).cast("long")


def cosine_micro_prenorm(a, b, na, nb):
    """``cosine_micro`` with the two vector norms precomputed as columns.

    Scoring paths pair each corpus row against many queries (and vice
    versa): inlining ``cosine_micro`` re-folds BOTH norms per PAIR, so a
    64-dim corpus row scored against q queries pays 3q folds where q+1
    suffice. Computing ``_norm`` once per row before the pair join and
    passing it here drops two thirds of the per-pair array math (guide
    §1.2: don't recompute per pair what is constant per row).

    Bit-identical by construction: ``na``/``nb`` are the SAME
    ``sqrt(fold(v,v))`` doubles the inline form produces (same IEEE ops on
    the same values, just evaluated once), and the ``na*nb`` product keeps
    the inline form's operand order — so denom, cosine, and the rounded
    micro value cannot drift. ``na`` MUST be the norm of ``a`` (the inline
    form multiplies norm(a)·norm(b) in that order)."""
    denom = na * nb
    cos = F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))
    return F.round(cos * F.lit(1_000_000.0)).cast("long")


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each query (excluding self).

    ``queries`` is broadcast — the intended shape is few queries × huge
    corpus; Catalyst turns this into BroadcastNestedLoopJoin with the scan
    of ``corpus`` staying partition-parallel.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_cn", _norm(F.col("_cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_micro_prenorm(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
            ).alias("cos_sim_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def bucket_expr(vec, planes: list[list[float]]):
    """Sign-bit LSH bucket id from literal hyperplanes — pure column math."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(float(x)) for x in p])) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    dim: int | None = None,
    n_planes: int = 6,
    n_tables: int = 3,
    multiprobe: bool = True,
    seed: int = 42,
    encode: str = "auto",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    ``n_tables`` independent hash tables (standard L-tables construction) —
    a candidate qualifies if it shares the query's bucket in ANY table;
    ``multiprobe`` additionally probes every hamming-1 neighbor bucket.
    Candidates are re-ranked by exact cosine. Recall/cost knob:
    candidate fraction ≈ n_tables * (n_planes+1) / 2**n_planes.

    Bucket encoding has two forms with bit-identical results (the
    pq_topk/ivf_topk dual-path precedent): ``'literal'`` embeds the
    hyperplanes as literal column dots (n_tables·n_planes dim-wide
    expressions per row — defeats codegen as tables grow), ``'pandas'``
    runs one Arrow kernel per side against the broadcast plane matrices
    (:func:`_lsh_bucket_udf` — ``_fold_dots`` replays the literal path's
    IEEE op order, so every sign bit and bucket id is identical);
    ``'auto'`` picks pandas when ``n_tables · n_planes > 16``.
    """
    if n_planes > 31:  # bucket ids are int32: the pandas encode would wrap
        raise ValueError(f"lsh_topk: n_planes must be <= 31 (int32 bucket ids), got {n_planes}")
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if encode not in ("auto", "literal", "pandas"):
        raise ValueError(f"lsh_topk: unknown encode mode {encode!r}")
    use_pandas = encode == "pandas" or (encode == "auto" and n_tables * n_planes > 16)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_cn", _norm(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    # materialize each table's base bucket as a NAMED column first (r6):
    # a probe list built directly off ``bucket_expr`` repeats the whole
    # n_planes-dot expression TREE per probe — n_tables × (n_planes+1)
    # copies × n_planes dim-wide literal dots blew the plan to ~150 KB and
    # defeated codegen (the ann_pq literal-plan lesson, same disease,
    # smaller dose). Hoisted behind a projection boundary the dots are
    # computed once per row per table and every probe is one cheap XOR of
    # the column; values are identical by construction.
    all_planes = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    if use_pandas:
        bk_udf = _lsh_bucket_udf(all_planes)
        c = c.withColumn("_bks", bk_udf(F.col("_cv"))).select(
            "neighbor_id", "_cv", "_cn",
            *[F.element_at("_bks", t + 1).alias(f"_b{t}") for t in range(n_tables)],
        )
        q = q.withColumn("_bks", bk_udf(F.col("_qv"))).select(
            "query_id", "_qv", "_qn",
            *[F.element_at("_bks", t + 1).alias(f"_b{t}") for t in range(n_tables)],
        )
    else:
        c = c.select(
            "neighbor_id", "_cv", "_cn",
            *[bucket_expr(F.col("_cv"), p).alias(f"_b{t}") for t, p in enumerate(all_planes)],
        )
        q = q.select(
            "query_id", "_qv", "_qn",
            *[bucket_expr(F.col("_qv"), p).alias(f"_b{t}") for t, p in enumerate(all_planes)],
        )
    c_buckets = [
        F.struct(F.lit(t).alias("t"), F.col(f"_b{t}").alias("b")) for t in range(n_tables)
    ]
    q_probes = []
    for t in range(n_tables):
        b0 = F.col(f"_b{t}")
        probe_list = [b0] + (
            [b0.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)] if multiprobe else []
        )
        q_probes.extend(F.struct(F.lit(t).alias("t"), p.alias("b")) for p in probe_list)

    c = c.select("neighbor_id", "_cv", "_cn", F.explode(F.array(*c_buckets)).alias("bk"))
    q = q.select("query_id", "_qv", "_qn", F.explode(F.array(*q_probes)).alias("bk"))

    scored = (
        c.join(F.broadcast(q), "bk")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # norms ride the dedup as payload — duplicate candidate rows carry
        # identical (_qv,_cv,_qn,_cn), so which one dropDuplicates keeps
        # cannot matter
        .select("query_id", "neighbor_id", "_qv", "_cv", "_qn", "_cn")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            cosine_micro_prenorm(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
            ).alias("cos_sim_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim_micro").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _kmeans(sample: np.ndarray, n_centroids: int, seed: int, iters: int = 10) -> np.ndarray:
    """Deterministic k-means (numpy, driver-side) for IVF coarse
    quantization. Sample is bounded (``sample_size`` rows) — the clustering
    cost is O(sample), never O(corpus).

    Distances via the matmul identity ``||x-c||² = ||x||² - 2x·c + ||c||²``
    (the ||x||² term is constant per row and dropped for argmin): memory is
    O(sample × centroids), so 8192×4096 fits in ~256 MB where the naive
    broadcast-subtract form would need sample × centroids × dim ≈ 17 GB."""
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=n_centroids, replace=False)].copy()
    for _ in range(iters):
        d = (centroids**2).sum(1)[None, :] - 2.0 * (sample @ centroids.T)
        assign = d.argmin(1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(0)
    return centroids.round(6)


def _nearest_centroid_scores(vec, centroids: np.ndarray):
    """array<double> of dot(vec, centroid_c) for every centroid — literal
    column math, no UDF."""
    return F.array(
        *[_dot(vec, F.array(*[F.lit(float(x)) for x in c])) for c in centroids]
    )


def _lsh_bucket_udf(planes_all: list):
    """Arrow-batched sign-bucket encoder against broadcast hyperplane
    matrices — the scale path where embedding every table's planes as
    literal column dots blows up the plan (the ``_pq_encode_udfs``
    rationale applied to LSH). Returns ``array<int>`` of one bucket per
    table. Bit-identical to :func:`bucket_expr`: ``_fold_dots`` replays
    ``_dot``'s left-to-right IEEE accumulation, so every ``dot > 0`` sign
    decision — and therefore every bucket id — matches the literal path
    exactly (tested)."""
    from pyspark.sql.functions import pandas_udf

    P = [np.ascontiguousarray(p, dtype=np.float64) for p in planes_all]

    @pandas_udf("array<int>")
    def lsh_buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(v.to_numpy()).astype(np.float64)
        out = np.empty((X.shape[0], len(P)), dtype=np.int32)
        for t, M in enumerate(P):
            S = _fold_dots(X, M)  # (n, n_planes)
            vals = np.zeros(X.shape[0], dtype=np.int64)
            for i in range(M.shape[0]):
                # bit i set iff dot > 0 — the bucket_expr sum of 1<<i over
                # distinct bits equals this OR
                vals |= (S[:, i] > 0).astype(np.int64) << i
            out[:, t] = vals.astype(np.int32)
        return pd.Series(list(out))

    return lsh_buckets


def _cell_assign_udfs(centroids: np.ndarray, n_probe: int):
    """Arrow-batched cell assignment against a BROADCAST centroid matrix —
    the scale path when n_centroids ≫ 10³, where embedding the centroids as
    literal column arrays would blow up the plan. One numpy matmul per
    Arrow batch; no row expansion, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    M = centroids.astype(np.float64)  # (C, dim) — captured, auto-broadcast

    @pandas_udf("int")
    def best_cell(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series((X @ M.T).argmax(1).astype("int32"))

    @pandas_udf("array<int>")
    def probe_cells(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        S = X @ M.T  # (n, C)
        # top n_probe by (score desc, cell asc) — lexsort on (-S, cell)
        order = np.lexsort((np.arange(S.shape[1])[None, :].repeat(len(S), 0), -S), axis=1)
        top = order[:, :n_probe].astype("int32")
        return pd.Series(list(top))

    return best_cell, probe_cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    sample_size: int = 1024,
    assign: str = "literal",
) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer → inverted lists by
    nearest centroid → probe the query's ``n_probe`` nearest lists → exact
    cosine re-rank inside them.

    The scale story: centroids come from a driver-side sample (bounded);
    the corpus is scanned once to assign cells and shuffled once by cell; a
    query touches ``n_probe / n_centroids`` of the corpus. Cell assignment
    has two forms with identical results (tested):

    * ``assign='literal'`` — centroid dot products as literal column math
      (whole-stage codegen; right up to ~10³ centroids);
    * ``assign='pandas'`` — Arrow-batched numpy matmul against a broadcast
      centroid matrix (the n_centroids ≫ 10³ path: plan size stays O(1)).
    """
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).orderBy(F.col(id_col)).limit(sample_size).collect()],
        dtype=np.float64,
    )
    if len(sample) < n_centroids:
        raise ValueError(
            f"ivf_topk: k-means needs sample ≥ n_centroids "
            f"(sample={len(sample)}, n_centroids={n_centroids}) — "
            "raise sample_size or lower n_centroids"
        )
    centroids = _kmeans(sample, n_centroids, seed)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_cn", _norm(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    if assign == "pandas":
        best_cell, probe_cells = _cell_assign_udfs(centroids, n_probe)
        c = c.withColumn("cell", best_cell(F.col("_cv")))
        q = q.select(
            "query_id", "_qv", "_qn", F.explode(probe_cells(F.col("_qv"))).alias("cell")
        )
    else:
        c = (
            c.withColumn("_s", _nearest_centroid_scores(F.col("_cv"), centroids))
            .withColumn(
                "cell", (F.array_position(F.col("_s"), F.array_max(F.col("_s"))) - 1).cast("int")
            )
            .drop("_s")
        )
        q = q.withColumn("_s", _nearest_centroid_scores(F.col("_qv"), centroids))
        # top n_probe cells per query: explode scores with index, rank
        q = (
            q.select(
                "query_id", "_qv", "_qn",
                F.posexplode(F.col("_s")).alias("cell", "score"),
            )
            .withColumn(
                "_r",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cell"))
                ),
            )
            .filter(F.col("_r") <= n_probe)
            .select("query_id", "_qv", "_qn", "cell")
        )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_micro_prenorm(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
            ).alias("cos_sim_micro"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim_micro").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _subspace_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """(offset, width) per PQ subspace — ``m`` near-equal contiguous slices
    of the vector (first ``dim % m`` get the extra component), the
    hamming_chunks arithmetic applied to float dimensions."""
    base, extra = divmod(dim, m)
    widths = [base + (1 if j < extra else 0) for j in range(m)]
    offsets = [sum(widths[:j]) for j in range(m)]
    return list(zip(offsets, widths))


def _fold_dots(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, w) × (n_codes, w) → (n, n_codes) dot products accumulated one
    component at a time in ascending index order — the EXACT IEEE op
    sequence ``_dot`` compiles to (``acc = acc + x_i·c_i`` left to right),
    so the Arrow encode path is bit-identical to the literal column math.
    A plain ``X @ C.T`` would use pairwise/SIMD summation and drift in the
    last ulp, which can flip an argmax tie and change emitted rows."""
    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(C.shape[1]):
        acc += X[:, i : i + 1] * C[None, :, i]
    return acc


def _pq_encode_udfs(books: list, bounds: list):
    """Arrow-batched PQ encode/LUT kernels against broadcast codebooks —
    the scale path where embedding every centroid as literal column math
    blows up the plan (m·n_codes literal dot expressions defeat codegen:
    measured 14.9 s vs ~1 s at m=8, n_codes=32 over 2k vectors). One
    numpy pass per batch; every arithmetic step replays the literal
    path's op order exactly (``_fold_dots``), so codes and LUTs — and
    therefore every emitted row — are bit-identical (tested)."""
    from pyspark.sql.functions import pandas_udf

    B = [np.ascontiguousarray(b, dtype=np.float64) for b in books]
    # the SAME driver-side constant the literal path embeds as F.lit
    halves = [
        np.array([float((c**2).sum() / 2.0) for c in b], dtype=np.float64) for b in B
    ]
    m = len(B)
    bounds_l = list(bounds)

    @pandas_udf("array<int>")
    def pq_codes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(v.to_numpy()).astype(np.float64)
        out = np.empty((X.shape[0], m), dtype=np.int32)
        for j, (lo, w) in enumerate(bounds_l):
            S = _fold_dots(X[:, lo : lo + w], B[j]) - halves[j][None, :]
            # first-max index == array_position(scores, array_max(scores))-1
            out[:, j] = S.argmax(1).astype(np.int32)
        return pd.Series(list(out))

    @pandas_udf("array<array<double>>")
    def pq_luts(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(v.to_numpy()).astype(np.float64)
        per = [_fold_dots(X[:, lo : lo + w], B[j]) for j, (lo, w) in enumerate(bounds_l)]
        return pd.Series(
            [[per[j][i].tolist() for j in range(m)] for i in range(X.shape[0])]
        )

    return pq_codes, pq_luts


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 8,
    n_codes: int = 32,
    rerank: int = 8,
    seed: int = 42,
    sample_size: int = 1024,
    encode: str = "auto",
) -> DataFrame:
    """Product-quantization approximate top-k (Jégou, Douze & Schmid,
    TPAMI 2011): split the vector into ``m`` contiguous subspaces, k-means
    each on a bounded driver-side sample (``n_codes`` centroids per
    subspace — the codebooks), encode every corpus vector as ``m`` small
    integer codes, and score query-to-corpus with ASYMMETRIC DISTANCE
    COMPUTATION: the query precomputes one lookup table per subspace
    (dot of its sub-vector with every centroid — m·n_codes dots ONCE per
    query), after which scoring a corpus row is ``m`` table lookups + adds
    instead of a ``dim``-wide dot product. That is the PQ economics at
    10^10 vectors: the corpus stores m·log2(n_codes) bits per vector
    (the m=8, n_codes=32 default → 40 bits vs 4 096 for raw float64[64]
    — a 100× cut) and the scan does m adds per pair.

    The ADC score approximates ``dot(q, x)`` (with L2-normalized inputs,
    cosine); the top ``rerank·k`` ADC candidates per query re-rank by
    EXACT cosine, so emitted values are exact micro-integers and only
    candidate selection is approximate — the same contract as lsh_topk /
    ivf_topk. Encoding has two forms with bit-identical results (tested —
    the ivf_topk dual-path precedent):

    * ``encode='literal'`` — codebooks ride the plan as literal column
      math (m·n_codes literal dot expressions; fine for tiny codebooks
      but the expression tree defeats whole-stage codegen fast);
    * ``encode='pandas'`` — one Arrow kernel per side against broadcast
      codebook matrices (``_pq_encode_udfs``): plan size O(1), the
      ``_cell_assign_udfs`` precedent, replaying the literal path's IEEE
      op order exactly so emitted rows cannot drift;
    * ``encode='auto'`` (default) — pandas when ``m·n_codes > 64``
      (measured: the literal plan is 10× slower already at 8×32).

    Returns ``(query_id, neighbor_id, cos_sim_micro, rank)``, rank ≤ k.
    """
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).orderBy(F.col(id_col)).limit(sample_size).collect()],
        dtype=np.float64,
    )
    if len(sample) < n_codes:
        raise ValueError(
            f"pq_topk: k-means needs sample ≥ n_codes "
            f"(sample={len(sample)}, n_codes={n_codes})"
        )
    dim = sample.shape[1]
    if not 1 <= m <= dim:
        raise ValueError(f"pq_topk: need 1 <= m <= dim, got m={m}, dim={dim}")
    bounds = _subspace_bounds(dim, m)
    books = [
        _kmeans(np.ascontiguousarray(sample[:, lo : lo + w]), n_codes, seed + 101 * j)
        for j, (lo, w) in enumerate(bounds)
    ]

    if encode not in ("auto", "literal", "pandas"):
        raise ValueError(f"pq_topk: unknown encode mode {encode!r}")
    use_pandas = encode == "pandas" or (encode == "auto" and m * n_codes > 64)

    def sub(vec, lo: int, w: int):
        return F.slice(vec, lo + 1, w)

    def code_expr(vec, j: int):
        # argmin ||x_sub - c||² = argmax (dot(x_sub, c) - ||c||²/2);
        # ties break to the LOWEST code via array_position-of-max
        lo, w = bounds[j]
        scores = F.array(
            *[
                _dot(sub(vec, lo, w), F.array(*[F.lit(float(x)) for x in c]))
                - F.lit(float((c**2).sum() / 2.0))
                for c in books[j]
            ]
        )
        return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")

    def lut_expr(vec, j: int):
        lo, w = bounds[j]
        return F.array(
            *[_dot(sub(vec, lo, w), F.array(*[F.lit(float(x)) for x in c])) for c in books[j]]
        )

    if use_pandas:
        pq_codes, pq_luts = _pq_encode_udfs(books, bounds)
        c = (
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
            .withColumn("_codes", pq_codes(F.col("_cv")))
            .select(
                "neighbor_id", "_cv",
                *[F.element_at("_codes", j + 1).alias(f"_code{j}") for j in range(m)],
            )
        )
        q = (
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
            .withColumn("_luts", pq_luts(F.col("_qv")))
            .select(
                "query_id", "_qv",
                *[F.element_at("_luts", j + 1).alias(f"_lut{j}") for j in range(m)],
            )
        )
    else:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            *[code_expr(F.col(vec_col), j).alias(f"_code{j}") for j in range(m)],
        )
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            *[lut_expr(F.col(vec_col), j).alias(f"_lut{j}") for j in range(m)],
        )
    adc = sum(
        (F.element_at(F.col(f"_lut{j}"), F.col(f"_code{j}") + 1) for j in range(1, m)),
        F.element_at(F.col("_lut0"), F.col("_code0") + 1),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv", adc.alias("_adc"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("_adc").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("_ar", F.row_number().over(w_adc))
        .filter(F.col("_ar") <= rerank * k)
        .select(
            "query_id", "neighbor_id",
            cosine_micro(F.col("_qv"), F.col("_cv")).alias("cos_sim_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim_micro").desc(), F.col("neighbor_id").asc()
    )
    return shortlist.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neardup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95,
    dim: int | None = None, n_planes: int = 6, seed: int = 7
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, LSH-blocked.

    Near-identical vectors land in the same sign-bucket with high
    probability; the exact cosine filter inside buckets keeps precision 1.0
    (recall measured vs the brute-force oracle in tests).
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    keyed = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("bucket", bucket_expr(F.col("_v"), planes))
        # norm once per ROW before the self-join — each row scores against
        # every bucket partner, so the inline re-fold is per PAIR (see
        # cosine_micro_prenorm)
        .withColumn("_n", _norm(F.col("_v")))
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cosine_micro_prenorm(
                F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
            ).alias("cos_sim_micro"),
        )
        .filter(F.col("cos_sim_micro") >= int(round(threshold * 1_000_000)))
    )


# ------------------------------------------------------------ image embeddings
IMAGE_EMBED_SCHEMA = "image_id string, embedding array<float>"


def image_embedding_table(
    images: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    grid: int = 4,
) -> DataFrame:
    """Opaque image ``bytes`` → ``(image_id, embedding array<float>)`` — the
    bridge from the multimodal table to this module's ANN/near-dup family.

    Decode + :func:`~amazonwebcrawler_spark.functions.images.embed_image`
    run Arrow-batched in ``mapInPandas`` (the per-image loop is inside one
    batch, like any codec); undecodable images drop out with no embedding
    rather than poisoning downstream joins — the same contract as
    ``phash_neardup_pairs``. The output feeds ``brute_force_topk`` /
    ``lsh_topk`` / ``ivf_topk`` / ``embedding_neardup_pairs`` unchanged,
    so image retrieval scales exactly like text-embedding retrieval:
    corpus scanned once, shuffled once by LSH bucket or IVF cell.
    """

    def _batches(batches):
        from amazonwebcrawler_spark.functions.images import decode_image, embed_image

        for pdf in batches:
            out = []
            for image_id, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    emb = embed_image(decode_image(bytes(data)), grid=grid)
                except Exception:  # noqa: BLE001  # corrupt/unknown container
                    emb = None
                out.append({"image_id": image_id, "embedding": emb})
            yield pd.DataFrame(out, columns=["image_id", "embedding"])

    return (
        images.select(F.col(id_col).alias("image_id"), F.col(bytes_col).alias("bytes"))
        .mapInPandas(_batches, IMAGE_EMBED_SCHEMA)
        .filter(F.col("embedding").isNotNull())
    )


def alignment_filter(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    threshold: float,
    score_col: str = "alignment",
) -> DataFrame:
    """CLIP-score-style multimodal alignment filter (the LAION curation
    move): row-wise cosine between two embedding columns of the SAME row —
    e.g. the image-encoder and text-encoder outputs for an image+caption
    pair — plus the keep decision at ``threshold``.

    Pure column math (``zip_with`` + ``aggregate``, double-cast per element
    like every cosine here), emitted as a micro-unit BIGINT (integer value
    contract — see :func:`cosine_micro`); the keep decision compares in
    micro space so it is a pure integer predicate. The
    scale shape is the whole point: alignment filtering is a MAP-ONLY pass
    over the pair table — no join, no shuffle, no Python — because the two
    vectors already live on the same row; at 100 TB it pipelines behind
    whatever produced the embeddings. Swap the upstream encoders for real
    CLIP towers and this operator is unchanged.
    """
    s = cosine_micro(F.col(a_col), F.col(b_col))
    return pairs.withColumn(score_col, s).withColumn(
        "keep", F.col(score_col) >= F.lit(int(round(threshold * 1_000_000)))
    )


def negative_pairs(
    df: DataFrame,
    id_col: str,
    k: int = 2,
    n_buckets: int = 64,
    salt: str = "",
) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive training
    (CLIP/InfoNCE): every anchor row gets ``k`` mismatched partners. Rows
    are hashed into ``n_buckets`` pseudo-batches (md5 — engine-portable,
    resumable), ordered within the bucket by hash, and partner ``j`` of an
    anchor is the row ``j`` positions ahead, cyclically. The choice is a
    pure function of the data: re-runs, repartitions and other engines
    emit the SAME pairs — the property a resumable training-prep pipeline
    needs (a ``rand()`` sampler re-draws on every stage retry).

    Output: ``(anchor_id, j, negative_id)``. Anchors alone in their bucket
    produce no pairs (the cyclic partner would be themselves); buckets
    with ``1 < cnt <= k`` yield fewer than ``k`` distinct partners —
    callers that need exactly-k size ``n_buckets`` so buckets hold ≫ k
    rows.

    Plan: one shuffle to the bucket windows + one equi self-join on
    ``(bucket, partner_rank)`` — never a cross join; bucket occupancy is
    ~n/n_buckets by the hash, so there is no skew to salt.
    """
    from amazonwebcrawler_spark.operators.corpus import hash_bucket

    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    b = df.select(
        F.col(id_col),
        hash_bucket(F.col(id_col), n_buckets, salt).alias("_bkt"),
        h.alias("_h"),
    )
    ranked = b.select(
        id_col,
        "_bkt",
        F.row_number().over(Window.partitionBy("_bkt").orderBy("_h", id_col)).alias("_rn"),
        F.count("*").over(Window.partitionBy("_bkt")).alias("_cnt"),
    )
    anchors = ranked.withColumn("j", F.explode(F.sequence(F.lit(1), F.lit(k)))).withColumn(
        "_prn", (F.col("_rn") - 1 + F.col("j")) % F.col("_cnt") + 1
    )
    partners = ranked.select(
        F.col(id_col).alias("negative_id"), "_bkt", F.col("_rn").alias("_prn")
    )
    return (
        anchors.join(partners, ["_bkt", "_prn"])
        .filter(F.col("negative_id") != F.col(id_col))
        .select(F.col(id_col).alias("anchor_id"), "j", "negative_id")
    )


def quantize_embeddings(
    df: DataFrame, id_col: str, emb_col: str, out_col: str = "q"
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the 4× storage
    cut that makes a 10^10-vector corpus hold resident: per-vector scale
    ``s = 127 / max(|x|)``, ``q_i = round(x_i · s)`` stored as
    ``array<tinyint>``, dequantize with ``q_i / s``. Dot products on int8
    preserve ranking to ~1% at 128 dims — retrieval shortlists on the
    quantized corpus, then re-scores survivors at full precision.

    Pure column math (``transform``/``aggregate`` — CodegenFallback, fine
    for a once-per-corpus storage pass; swap in an Arrow kernel via
    ``mapInPandas`` if quantization lands in a per-wave hot path). The
    all-zero vector keeps scale 0 and quantizes to zeros (guarded
    division). Columns out: ``(id, q, scale)``; ``scale`` is the
    DIVISOR applied at dequantize time (x ≈ q / scale).
    """
    x = F.transform(F.col(emb_col), lambda v: v.cast("double"))
    amax = F.array_max(F.transform(x, lambda v: F.abs(v)))
    scale = F.when(amax > 0.0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    q = F.transform(x, lambda v: F.round(v * F.col("_s")).cast("tinyint"))
    return (
        df.select(F.col(id_col), F.col(emb_col), scale.alias("_s"))
        .select(F.col(id_col), q.alias(out_col), F.col("_s").alias("scale"))
    )


def semantic_dedup_keep(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 32,
    seed: int = 42,
    sample_size: int = 1024,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup of an
    embedding corpus — coarse k-means clusters, near-duplicate PAIRS
    searched only WITHIN a cluster (exact cosine ≥ ``threshold`` verified
    in micro-int space), one kept representative per connected component.

    Keep policy follows the paper: within a duplicate group, keep the
    member with the LOWEST cosine similarity to its cluster centroid (the
    least prototypical sample carries the most marginal information);
    ties break to the smallest id via :func:`~amazonwebcrawler_spark.
    operators.dedup.keep_canonical`'s total election order.

    Scale shape: centroids fit from a DRIVER-BOUNDED ordered sample (same
    contract as :func:`ivf_topk`); the corpus is scanned once for cell
    assignment (literal column math — 32 centroids is far under the
    ~10³ literal ceiling; swap in `_cell_assign_udfs` beyond it) and
    shuffled once by cell; the candidate self-join is per-cell, so pair
    work is Σ|cell|²/2 instead of n²/2 — the cluster IS the blocking
    structure, exactly the paper's reason for clustering first.
    ``max_cluster`` optionally drops degenerate cells from pairing (the
    hamming/LSH skew-guard pattern); default None keeps recall complete
    within cells. Cross-cluster near-dups are missed BY DESIGN
    (SemDeDup's documented approximation); planted-pair tests pin that
    near-identical vectors land in the same argmax cell.

    Returns (doc_id, group_id, keep) over the full corpus.
    """
    from amazonwebcrawler_spark.operators.dedup import keep_canonical

    sample = np.array(
        [
            r[0]
            for r in corpus.select(vec_col)
            .orderBy(F.col(id_col))
            .limit(sample_size)
            .collect()
        ],
        dtype=np.float64,
    )
    if len(sample) < n_centroids:
        raise ValueError(
            f"semantic_dedup_keep: sample ({len(sample)}) < n_centroids ({n_centroids})"
        )
    centroids = _kmeans(sample, n_centroids, seed)
    keyed = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_s", _nearest_centroid_scores(F.col("_v"), centroids))
        .withColumn(
            "cell", (F.array_position(F.col("_s"), F.array_max(F.col("_s"))) - 1).cast("int")
        )
        .withColumn("_cent_sim", F.array_max(F.col("_s")))
        .drop("_s")
    )
    # norm once per ROW before the in-cell self-join (cosine_micro_prenorm)
    cl = keyed.select("_id", "_v", "cell", _norm(F.col("_v")).alias("_n"))
    if max_cluster is not None:
        ok = cl.groupBy("cell").count().filter(F.col("count") <= max_cluster).drop("count")
        cl = cl.join(ok, "cell")
    a, b = cl.alias("a"), cl.alias("b")
    thr_micro = int(round(threshold * 1_000_000))
    pairs = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cosine_micro_prenorm(
                F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
            ).alias("cos_sim_micro"),
        )
        .filter(F.col("cos_sim_micro") >= thr_micro)
    )
    # quality = NEGATIVE centroid similarity → keep_canonical's max-quality
    # election keeps the farthest-from-centroid member (the paper's rule)
    docs = keyed.select(F.col("_id").alias(id_col), (-F.col("_cent_sim")).alias("_anti_proto"))
    return keep_canonical(docs, pairs, id_col=id_col, quality_col="_anti_proto")


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> DataFrame:
    """Distributed recall@k of an approximate neighbor result against the
    exact ground truth — the measurement half of the ANN family: an
    approximate index (:func:`lsh_topk`, :func:`ivf_topk`) is only worth
    deploying at corpus scale with a recall number beside it, and at 10^8
    queries the evaluation itself must be a distributed join, not a
    driver-side set comparison.

    Both inputs carry ``(query_id, neighbor_id, rank)`` — the shared
    results contract of every top-k operator here. A neighbor counts as a
    hit iff it appears in BOTH results at ``rank ≤ k``. Per query:

    - ``n_exact``      ground-truth neighbors at rank ≤ k (< k only when
      the corpus itself has fewer than k candidates)
    - ``n_hits``       approximate neighbors that are true neighbors
    - ``recall_micro`` exact-integer ``(n_hits·10^6) DIV n_exact`` —
      rational arithmetic, never a DOUBLE (the cross-engine hash contract)

    Queries the approximate index dropped entirely still get a row
    (n_hits = 0): the exact side is the spine, joined left. Scale shape:
    both sides are already reduced to ≤ queries×k rows by their top-k
    windows, so the hit join and the per-query aggregate shuffle on
    (query_id, neighbor_id) / query_id — natural keys, no skew pile-up
    (every group is ≤ k rows by construction).
    """
    # The exact sliver feeds BOTH the hit join and the spine aggregate —
    # without a checkpoint the (expensive) exact top-k subtree executes
    # twice per action (measured: ann_recall ≈ lsh + 2× brute). The sliver
    # is ≤ queries×k rows by the callers' top-k windows, so the eager
    # materialization is O(queries), never O(corpus) — the lsh_eval
    # sliver-checkpoint idiom (guide §1.2: don't recompute what you
    # already paid for).
    e = (
        exact.filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = (
        a.join(e, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    spine = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return spine.join(hits, "query_id", "left").select(
        "query_id",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.expr("(coalesce(n_hits, 0) * 1000000L) DIV n_exact").alias("recall_micro"),
    )


#: micro-unit DCG discounts round(1e6 / log2(rank+1)) for rank 1..20 —
#: HARDCODED literals (not computed at runtime) so both engines consume
#: the identical integers; ranks 1/3/15 are exact (log2 powers), every
#: other value sits ≥0.03 from a rounding boundary (generated once with
#: python -c "round(1e6/math.log2(i+1))").
NDCG_DISC_MICRO: tuple[int, ...] = (
    1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465,
    301030, 289065, 278943, 270238, 262650, 255958, 250000, 244651,
    239812, 235409, 231378, 227670,
)


def ndcg_eval(
    ranked: DataFrame,
    query_col: str = "query_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    item_col: str = "item_id",
    k: int = 10,
) -> DataFrame:
    """nDCG@k of a ranked retrieval run with graded relevance — the eval
    that completes ``ann_recall`` (recall@k is binary; ranking quality
    needs position-discounted grades). One row per query:
    (query, dcg_micro, idcg_micro, ndcg_micro) in exact micro-unit
    integers: DCG = Σ_{r≤k} rel_r · disc_micro[r] with the discount table
    above, IDCG the same sum over the query's relevances re-ranked ideally
    (rel DESC — the ideal order depends only on the grade multiset, the
    item tiebreak just keeps the window total), and
    ``ndcg_micro = dcg·1e6 DIV idcg``. Queries whose top-k ideal grades
    are all zero are dropped (nDCG undefined).

    Scale shapes: the ideal re-rank is a query-partitioned window (never
    global — bounded by the per-query candidate list the retriever
    already materialized); both DCG sums are map-side-combinable
    aggregates; the discount table rides the plan as a literal array
    (``element_at``), so there is no join anywhere.
    """
    if not 1 <= k <= len(NDCG_DISC_MICRO):
        raise ValueError(f"k must be in [1, {len(NDCG_DISC_MICRO)}], got {k}")
    disc = F.array(*[F.lit(d).cast("long") for d in NDCG_DISC_MICRO[:k]])
    q = F.col(query_col)
    rel = F.col(rel_col).cast("long")

    sys_dcg = (
        ranked.filter(F.col(rank_col) <= k)
        .groupBy(q.alias("query_id"))
        .agg(F.sum(rel * F.element_at(disc, F.col(rank_col).cast("int"))).alias("dcg_micro"))
    )
    w = Window.partitionBy(query_col).orderBy(rel.desc(), F.col(item_col).asc())
    ideal = (
        ranked.withColumn("_irank", F.row_number().over(w))
        .filter(F.col("_irank") <= k)
        .groupBy(q.alias("query_id"))
        .agg(F.sum(rel * F.element_at(disc, F.col("_irank"))).alias("idcg_micro"))
    )
    return (
        sys_dcg.join(ideal, "query_id")
        .filter(F.col("idcg_micro") > 0)
        .select(
            "query_id",
            "dcg_micro",
            "idcg_micro",
            F.expr("(dcg_micro * 1000000L) DIV idcg_micro").alias("ndcg_micro"),
        )
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    shortlist: int = 8,
    lambda_milli: int = 700,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98):
    diversified top-k — each pick maximizes ``λ·rel − (1−λ)·max-sim-to-
    already-picked``, so a query whose nearest neighbors are n near-
    duplicates returns k DISTINCT results instead of the same document k
    times. For a retrieval-augmented training pipeline this is the
    difference between k context documents and one document repeated.

    Exactness: relevance and pairwise sims are micro-unit integers
    (``cosine_micro``), λ is milli-unit — the selection score
    ``λ·rel − (1000−λ)·maxsim`` is EXACT BIGINT arithmetic (≤ 1e9), so
    every argmax (ties → smaller id) is bit-deterministic on any engine;
    the unrolled-CTE DuckDB twin replays the identical selection.

    Scale shape: stage 1 is :func:`brute_force_topk` (swap in
    ``lsh_topk``/``ivf_topk`` at scale — the MMR stage is agnostic);
    stage 2 computes pairwise sims only WITHIN each query's shortlist
    (``shortlist²`` rows per query, a constant); stage 3 is a bounded
    ``k−1``-step loop of anti-join + max-aggregate + window-argmax —
    all key-partitioned on query_id, no Python, no collect. First pick
    is pure relevance (``maxsim_micro = 0`` by convention — the
    selected set is empty).

    Returns (query_id, rank, neighbor_id, rel_micro, maxsim_micro,
    mmr_score) with rank = pick order 1..k.
    """
    short = brute_force_topk(corpus, queries, id_col, vec_col, k=shortlist)
    vecs = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v"))
    cand = (
        short.join(vecs, "neighbor_id")
        .select("query_id", "neighbor_id", F.col("cos_sim_micro").alias("rel"), "_v")
        .localCheckpoint()
    )
    a = cand.select("query_id", F.col("neighbor_id").alias("_a"), F.col("_v").alias("_va"))
    b = cand.select("query_id", F.col("neighbor_id").alias("_b"), F.col("_v").alias("_vb"))
    pair = (
        a.join(b, "query_id")
        .filter(F.col("_a") != F.col("_b"))
        .select(
            "query_id", "_a", "_b",
            cosine_micro(F.col("_va"), F.col("_vb")).alias("_sim"),
        )
        .localCheckpoint()
    )
    lam = int(lambda_milli)
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("neighbor_id").asc()
    )
    first = (
        cand.withColumn("_score", F.col("rel") * lam)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            F.lit(1).alias("rank"),
            "neighbor_id",
            F.col("rel").alias("rel_micro"),
            F.lit(0).cast("long").alias("maxsim_micro"),
            F.col("_score").cast("long").alias("mmr_score"),
        )
    )
    picks = first
    for step in range(2, k + 1):
        sel = picks.select("query_id", F.col("neighbor_id").alias("_sel"))
        maxsim = (
            pair.join(sel, (pair["query_id"] == sel["query_id"]) & (pair["_b"] == sel["_sel"]))
            .select(pair["query_id"], "_a", "_sim")
            .groupBy("query_id", "_a")
            .agg(F.max("_sim").alias("_ms"))
        )
        remaining = cand.join(
            sel, (cand["query_id"] == sel["query_id"]) & (cand["neighbor_id"] == sel["_sel"]),
            "left_anti",
        )
        scored = remaining.join(
            maxsim,
            (remaining["query_id"] == maxsim["query_id"]) & (remaining["neighbor_id"] == maxsim["_a"]),
        ).select(
            remaining["query_id"], "neighbor_id", "rel", "_ms",
            (F.col("rel") * lam - F.col("_ms") * (1000 - lam)).alias("_score"),
        )
        nxt = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id",
                F.lit(step).alias("rank"),
                "neighbor_id",
                F.col("rel").alias("rel_micro"),
                F.col("_ms").cast("long").alias("maxsim_micro"),
                F.col("_score").cast("long").alias("mmr_score"),
            )
        )
        picks = picks.unionByName(nxt).localCheckpoint()
    return picks


def mmr_oracle_sql(
    queries_pred: str = "vec_id < 4",
    k: int = 4,
    shortlist: int = 8,
    lambda_milli: int = 700,
) -> str:
    """DuckDB twin of :func:`mmr_topk` over the ``embeddings`` view: the
    bounded selection loop unrolls into ``k`` explicit CTE steps (no
    recursion, no lateral — every engine feature is vanilla), replaying
    the identical integer argmax."""
    lam, mu = int(lambda_milli), 1000 - int(lambda_milli)
    cos = (
        "CAST(round("
        "list_sum(list_transform(list_zip({A}.embedding, {B}.embedding),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform({A}.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
        " * sqrt(list_sum(list_transform({B}.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
        " * 1000000) AS BIGINT)"
    )
    parts = [
        f"""cand AS (
  SELECT query_id, neighbor_id, rel FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      {cos.format(A='q', B='c')} AS rel,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos.format(A='q', B='c')} DESC, c.vec_id) AS rn
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.{queries_pred}
  ) WHERE rn <= {shortlist}
),
pv AS (
  SELECT c.query_id, c.neighbor_id AS id, e.embedding
  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
),
pairsim AS (
  SELECT x.query_id, x.id AS a, y.id AS b, {cos.format(A='x', B='y')} AS sim
  FROM pv x JOIN pv y ON x.query_id = y.query_id AND x.id <> y.id
),
s1 AS (
  SELECT query_id, neighbor_id, rel, CAST(0 AS BIGINT) AS ms
  FROM (SELECT query_id, neighbor_id, rel,
          row_number() OVER (PARTITION BY query_id ORDER BY rel * {lam} DESC, neighbor_id) AS rn
        FROM cand) WHERE rn = 1
)"""
    ]
    for i in range(2, k + 1):
        sel_union = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM s{j}" for j in range(1, i)
        )
        parts.append(
            f"""sel{i} AS ({sel_union}),
m{i} AS (
  SELECT c.query_id, c.neighbor_id, c.rel, MAX(p.sim) AS ms
  FROM cand c
  JOIN pairsim p ON p.query_id = c.query_id AND p.a = c.neighbor_id
  JOIN sel{i} s ON s.query_id = p.query_id AND s.neighbor_id = p.b
  LEFT JOIN sel{i} d ON d.query_id = c.query_id AND d.neighbor_id = c.neighbor_id
  WHERE d.neighbor_id IS NULL
  GROUP BY 1, 2, 3
),
s{i} AS (
  SELECT query_id, neighbor_id, rel, ms
  FROM (SELECT query_id, neighbor_id, rel, ms,
          row_number() OVER (PARTITION BY query_id ORDER BY rel * {lam} - ms * {mu} DESC, neighbor_id) AS rn
        FROM m{i}) WHERE rn = 1
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT query_id, {i} AS rank, neighbor_id, rel AS rel_micro, "
        f"CAST(ms AS BIGINT) AS maxsim_micro, "
        f"CAST(rel * {lam} - ms * {mu} AS BIGINT) AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + finals


def rrf_fusion(
    rankings: DataFrame,
    query_col: str = "query_id",
    ranker_col: str = "ranker",
    doc_col: str = "doc_id",
    score_col: str = "score",
    k0: int = 60,
    per_ranker: int = 40,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR'09):
    combine per-query result lists from heterogeneous rankers —
    ``rrf(d) = Σ_r 1/(k0 + rank_r(d))`` — without ever comparing their
    raw scores. BM25 micro-units, cosine micro-units and an LM
    negative-log-likelihood live on incompatible scales; RRF uses only
    each ranker's ORDERING, which is why it is the standard first fusion
    baseline for hybrid (lexical + dense) retrieval — the seed-expansion
    stage here fuses "relevant to the query" with "fluent under the
    corpus LM" so gibberish keyword-stuffed pages can't win on BM25
    alone.

    Exactness: each contribution is ``1_000_000 DIV (k0 + rank)`` —
    positive integer division, identical in Spark (`DIV`) and DuckDB
    (`//`) — so ``rrf_micro`` is an EXACT BIGINT sum and the fused
    ordering (ties → smaller doc id) is bit-deterministic. Ranks within
    a ranker order by (score DESC, doc ASC); equal integer scores are
    therefore also deterministic.

    Scale shape: one window per (query, ranker) partition — bounded by
    ``per_ranker`` rows after the QUALIFY-style filter, so the fusion
    aggregate and the final per-query window never see more than
    ``n_rankers × per_ranker`` rows per query. No Python, no collect,
    no global sort; everything partitions on the query key.

    Returns (query_id, doc_id, n_rankers, rrf_micro, fused_rank) for the
    per-query top ``topk`` by fused score.
    """
    w_in = Window.partitionBy(query_col, ranker_col).orderBy(
        F.col(score_col).desc(), F.col(doc_col).asc()
    )
    ranked = (
        rankings.select(
            F.col(query_col).alias("query_id"),
            F.col(ranker_col).alias("ranker"),
            F.col(doc_col).alias("doc_id"),
            F.col(score_col).alias("score"),
        )
        .withColumn("_rnk", F.row_number().over(w_in))
        .filter(F.col("_rnk") <= per_ranker)
    )
    fused = ranked.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_rankers"),
        F.sum(F.expr(f"1000000 DIV ({k0} + _rnk)")).cast("long").alias("rrf_micro"),
    )
    w_out = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    return fused.withColumn("fused_rank", F.row_number().over(w_out)).filter(
        F.col("fused_rank") <= topk
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_neg: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """ANN-based hard-negative mining — the contrastive-training data
    op random sampling can't replace: for each anchor, the NEAREST
    vectors that are NOT its positives make the negatives that carry
    gradient (Karpukhin et al., DPR 2020 — in-batch randoms quickly
    become trivial; BM25/ANN hard negatives drive retriever quality).
    ``labels`` is any (id, group_id) dedup/cluster output: same-group
    neighbors are positives/duplicates and must be EXCLUDED, or the
    "hard negatives" are secretly positives and the loss teaches the
    encoder to push duplicates apart.

    Shape: shortlist via :func:`brute_force_topk` (broadcast queries —
    swap in lsh/ivf/pq_topk at scale, the mining stage is index-
    agnostic), then two broadcast-able label joins (anchor + neighbor;
    unlabeled ids are their own singleton group), a group-inequality
    filter, and a per-anchor re-rank cut to ``k_neg``. The ``shortlist``
    must exceed ``k_neg`` by the expected positive count — shortlist
    entries consumed by positives surface in ``n_excluded``.

    Returns (query_id, neighbor_id, neg_rank, cos_sim_micro) plus the
    per-anchor ``n_excluded`` repeated on each row."""
    short = brute_force_topk(corpus, queries, id_col, vec_col, k=shortlist)

    def grp(side_id, alias):
        lab = labels.select(
            F.col(labels.columns[0]).alias(side_id),
            F.col("group_id").alias(alias),
        )
        return lab

    j = (
        short.join(F.broadcast(grp("query_id", "_gq")), "query_id", "left")
        .join(F.broadcast(grp("neighbor_id", "_gn")), "neighbor_id", "left")
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim_micro",
            F.coalesce(F.col("_gq"), F.col("query_id")).alias("_gq"),
            F.coalesce(F.col("_gn"), F.col("neighbor_id")).alias("_gn"),
        )
    )
    excl = j.groupBy("query_id").agg(
        F.sum((F.col("_gq") == F.col("_gn")).cast("long")).alias("n_excluded")
    )
    negs = j.filter(F.col("_gq") != F.col("_gn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        negs.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k_neg)
        .join(F.broadcast(excl), "query_id")
        .select("query_id", "neighbor_id", "neg_rank", "cos_sim_micro", "n_excluded")
    )
