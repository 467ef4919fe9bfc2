"""Similarity search over embedding columns (scale extension):
brute-force cosine top-k baseline + random-hyperplane LSH bucketing as
the scale path.

Scale design: brute force is a broadcast of the (small) query set
against a full scan of the corpus — correct at any corpus size but
O(corpus × queries). The LSH variant buckets the corpus once (narrow
pass), then joins queries only against same-bucket candidates; recall
is tunable via number of tables/bits. Dot products run JVM-side via
zip_with/aggregate — no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.io import fan_out


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dot_cols_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(`{a}`, `{b}`, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _norm_col_sql(a: str) -> str:
    return (
        f"SQRT(aggregate(`{a}`, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def dot_expr(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product (deterministic order, matches any
    engine that folds left-to-right in double). The float→double casts
    are FUSED into the zip_with lambda — one array pass instead of two
    cast passes + a product pass; per-element value and fold order are
    identical (cast-then-multiply), so results stay bit-equal to the
    staged form and to the SQL oracles. Interpreted higher-order
    functions pay per PASS, and these folds are the hot path of every
    cosine-family query.

    When both sides are column NAMES the fold is built as ONE parsed
    (and session-cached) SQL string — the Column-lambda form pays ~30
    Py4J round-trips per higher-order function, which made these folds
    a measurable slice of every cosine-family query's construction.
    The SQL text parses to the identical operator tree, so values are
    unchanged."""
    if isinstance(a, str) and isinstance(b, str):
        return _expr(_dot_cols_sql(a, b))
    return F.aggregate(
        F.zip_with(_as_col(a), _as_col(b),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column | str) -> Column:
    """Euclidean norm as ONE fused fold over the raw array (cast and
    square inside the aggregate lambda) — same left-to-right double
    arithmetic as the staged cast→square→fold form, bit-equal. Column
    NAMES take the parsed-SQL path (see ``dot_expr``)."""
    if isinstance(a, str):
        return _expr(_norm_col_sql(a))
    return F.sqrt(
        F.aggregate(
            _as_col(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return _expr(
            f"CAST(({_dot_cols_sql(a, b)}) / "
            f"(({_norm_col_sql(a)}) * ({_norm_col_sql(b)})) AS DOUBLE)"
        )
    return (dot_expr(a, b) / (norm_expr(a) * norm_expr(b))).cast("double")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the query set, scan the
    corpus once, windowed top-k. Ties broken on corpus id
    (deterministic)."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = fan_out(
        corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("c_vec"))
    )
    scored = (
        # bounded: query batch (ANN workload), orders smaller than the corpus
        c.join(F.broadcast(q))
        .withColumn("cosine", cosine_expr("c_vec", "q_vec"))
        .filter(F.col("corpus_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


# SQL text -> parsed Column. The thousand-literal expressions below
# (LSH planes, JL matrices, IVF centroids, PQ codebooks) are identical
# strings on every construction of the same query — parsing them once
# per session removes the Catalyst parse from every warm rebuild
# (driver-side plan-construction cache ONLY: a Column is an immutable
# unresolved expression tree, bound per-plan at analysis, so reuse is
# semantics-free; no data, no results, nothing keyed on inputs).
_EXPR_CACHE: dict[str, Column] = {}


def _expr(sql: str) -> Column:
    col = _EXPR_CACHE.get(sql)
    if col is None:
        col = _EXPR_CACHE[sql] = F.expr(sql)
    return col


def dlit(values: list[float]) -> Column:
    """array<double> literal built in ONE Py4J call.

    Both ``F.array(*[F.lit(x) ...])`` and ``F.lit(list)`` issue a JVM
    round-trip per ELEMENT; with thousands of embedded constants
    (LSH planes, JL matrices, IVF centroids) that made DataFrame
    construction — not execution — the dominant cost of every
    similarity query (measured 7-9 s per build at sf0.1, ~6x the
    execution). Parsing one SQL string is one round-trip; the
    CAST('repr' AS DOUBLE) round-trips every float exactly."""
    return _expr(_arr_sql(values))


def _arr_sql(values: list[float]) -> str:
    return "array(" + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in values) + ")"


def _dot_sql(col: str, values: list[float]) -> str:
    """SQL text of ``dot_expr(col, literal)`` — the identical
    expression tree (transform-cast the data side, zip_with multiply,
    left fold), produced without any per-lambda Py4J traffic. The
    remaining build cost after dlit was ~10 ms per HIGHER-ORDER
    function for the Python→JVM lambda plumbing (~400 of them in one
    LSH query); parsing the whole dot as one string removes it."""
    return (
        "aggregate(zip_with(transform(`{c}`, x -> CAST(x AS DOUBLE)), {arr}, "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    ).format(c=col, arr=_arr_sql(values))


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded random hyperplanes (unit-free; only the sign matters).
    Deterministic so oracles can embed the same constants."""
    rng = np.random.RandomState(seed)
    return [[float(v) for v in row] for row in rng.randn(n_planes, dim)]


def lsh_bucket_expr(vec: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(v · r_i); packed into a
    bigint bucket id. ``vec`` is a column NAME; the whole signature is
    one parsed SQL expression (per-lambda Py4J round-trips made plan
    construction the dominant LSH cost, hence SQL text). Like
    ``_nearest_cells_expr``, the planes ride in ONE constant-folded
    array-of-arrays literal driving a single ``transform`` loop rather
    than ``n_planes`` unrolled dot folds — analysis/codegen O(1) in
    the plane count, per-plane arithmetic (zip_with multiply + left
    fold, then Σ 2^i over set bits, left-to-right) unchanged, so
    signatures are bit-identical to the unrolled form and the SQL
    oracles."""
    arr = "array(" + ", ".join(_arr_sql(p) for p in planes) + ")"
    return _expr(
        f"aggregate(transform({arr}, (p, i) -> IF("
        f"aggregate(zip_with(transform(`{vec}`, x -> CAST(x AS DOUBLE)), "
        "p, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) "
        "> CAST(0.0 AS DOUBLE), shiftleft(CAST(1 AS BIGINT), i), "
        "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, b) -> a + b)"
    )


def projection_matrix(
    in_dim: int, out_dim: int, seed: int = 7
) -> list[list[float]]:
    """Seeded Gaussian Johnson–Lindenstrauss projection matrix, scaled
    by 1/√out_dim so expected norms are preserved. Deterministic so
    oracles can embed the same constants (like ``hyperplanes``)."""
    rng = np.random.RandomState(seed)
    scale = 1.0 / float(np.sqrt(out_dim))
    return [
        [float(v) * scale for v in row] for row in rng.randn(out_dim, in_dim)
    ]


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    in_dim: int = 64,
    out_dim: int = 8,
    seed: int = 7,
) -> DataFrame:
    """JL random projection: reduce each embedding to ``out_dim``
    components, emitted as scalar columns ``rp0..rpN`` (rounded to 6
    for cross-engine parity).

    This is the scale path in front of ANN: projecting 64-d float
    vectors to 8 doubles shrinks every downstream shuffle/index build
    ~8× while approximately preserving pairwise distances (JL lemma).
    The plan is fully narrow — one projection per row, no shuffle, no
    Python; each component is a JVM-side fold against a literal row of
    the seeded matrix.
    """
    mat = projection_matrix(in_dim, out_dim, seed)
    comps = [
        _expr(f"round({_dot_sql(vec_col, row)}, 6)").alias(f"rp{j}")
        for j, row in enumerate(mat)
    ]
    return df.select(F.col(id_col), *comps)


def pq_codebook(
    dim: int = 64, m: int = 4, k: int = 4, seed: int = 11
) -> list[list[list[float]]]:
    """Deterministic PQ codebook: ``m`` subspaces × ``k`` codewords of
    ``dim/m`` dims (seeded Gaussian, like ``hyperplanes`` /
    ``projection_matrix``, so oracles embed the same constants). A
    production codebook comes from k-means over a corpus sample (the
    ``ivf_*`` bounded-sample path); the assignment plan below is
    identical either way."""
    rng = np.random.RandomState(seed)
    sub = dim // m
    return [
        [[float(v) for v in row] for row in rng.randn(k, sub)]
        for _ in range(m)
    ]


def pq_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    m: int = 4,
    k: int = 4,
    seed: int = 11,
) -> DataFrame:
    """Product-quantization code assignment — the compression half of
    an IVF-PQ index: each vector's ``m`` subspaces snap to their
    nearest codeword (exact L2², sequential fold), emitting compact
    ``code0..codeM`` plus the unrounded reconstruction error.
    At 100 TB this turns a 64-float embedding into ``m`` small ints:
    the ANN index shrinks ~64×, and distance evaluation against a
    query becomes ``m`` table lookups instead of a 64-d dot.

    Fully narrow (no shuffle, no Python). Cross-engine determinism:
    each subspace distance is ONE left-fold of exact double ops
    against literal codewords; argmin ties break to the LOWEST
    codeword index via first-occurrence ``array_position`` on the
    distance array (``list_position`` replays it in SQL engines); the
    reconstruction error sums the ``m`` minima in fixed left order and
    ships UNROUNDED."""
    cb = pq_codebook(dim, m, k, seed)
    sub = dim // m
    cols: list[Column] = [F.col(id_col)]
    mins: list[Column] = []
    for j, darr in enumerate(_pq_dist_arrays(vec_col, cb, sub)):
        dmin = F.array_min(darr)
        cols.append(
            (F.array_position(darr, dmin) - 1).cast("int").alias(f"code{j}")
        )
        mins.append(dmin)
    err = mins[0]
    for t in mins[1:]:
        err = err + t
    cols.append(err.alias("recon_err"))
    return df.select(*cols)


def _pq_dist_arrays(vec: str, cb, sub: int) -> list[Column]:
    """Per-subspace arrays of exact-L2² fold expressions against the
    literal codebook — shared by code assignment (argmin over the
    array) and the query-side ADC distance tables (``element_at`` by
    code). One left-fold per codeword, the order ``list_sum`` replays
    in SQL engines.

    ``vec`` is a raw float-array column NAME; each subspace is ONE
    parsed (and session-cached) SQL expression. The previous
    Column-lambda form paid ~30 Py4J round-trips per higher-order
    function — m·kc·3 of them made the PQ codebook the dominant
    construction cost of every ivfpq query (measured 2.8 s of a 3.6 s
    build at m=4, kc=4, two call sites). The SQL text parses to the
    identical operator tree (slice of the cast transform, zip_with
    squared-difference, left fold from double 0.0), so every distance
    is bit-equal to the lambda form and to the SQL oracles."""
    cast_arr = f"transform(`{vec}`, x -> CAST(x AS DOUBLE))"
    out = []
    for j, words in enumerate(cb):
        sl = f"slice({cast_arr}, {j * sub + 1}, {sub})"
        ds = ", ".join(
            f"aggregate(zip_with({sl}, {_arr_sql(cw)}, "
            "(x, c) -> (x - c) * (x - c)), CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
            for cw in words
        )
        out.append(_expr(f"array({ds})"))
    return out


def projected_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    in_dim: int = 64,
    out_dim: int = 8,
    seed: int = 7,
    lsh_planes: int | None = None,
    lsh_tables: int = 8,
    lsh_seed: int = 42,
) -> DataFrame:
    """Two-stage retrieval: shortlist candidates by cosine in the
    seeded JL-projected space (``out_dim`` components — ~in/out× less
    arithmetic and shuffle payload than full-dim), then re-rank the
    shortlist with exact full-dimension cosine.

    Candidate generation: with ``lsh_planes`` set, stage 1 ranks only
    candidates sharing a random-hyperplane bucket with the query in ANY
    of ``lsh_tables`` tables (the same multi-table scheme as
    ``lsh_topk``) — bucket-co-partitioned join, no cross product, so
    the plan survives a 100× corpus. With ``lsh_planes=None`` stage 1
    scores every (query, corpus) pair — the exact-shortlist baseline
    for small corpora and recall tests (BroadcastNestedLoopJoin;
    deliberately NOT the catalog/production form).

    Determinism for cross-engine checks: both ranking passes order on
    the cosine ROUNDED to 6 decimals (so float summation-order noise
    cannot flip ranks between engines — the TF-IDF convention), ties
    broken on corpus id. Recall vs exact top-k is governed by
    shortlist/k, LSH recall, and the JL distortion; tests assert it.
    """
    from pyspark.sql.window import Window

    mat = projection_matrix(in_dim, out_dim, seed)

    def proj(col: str) -> Column:
        return _expr(
            "array(" + ", ".join(_dot_sql(col, row) for row in mat) + ")"
        )

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        proj(vec_col).alias("q_proj"),
    )
    # fan_out: a single-file local scan is ONE partition — the
    # interpreted projection/bucket folds must spread across cores
    # (no-op on a multi-split source at scale)
    c = fan_out(
        corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).alias("c_vec"))
    ).withColumn("c_proj", proj("c_vec"))
    if lsh_planes is not None:
        tables = [
            hyperplanes(in_dim, lsh_planes, lsh_seed + 1000 * t)
            for t in range(lsh_tables)
        ]
        bucket_arr = lambda vec: F.array(  # noqa: E731
            *[
                F.struct(
                    F.lit(t).alias("table"),
                    lsh_bucket_expr(vec, planes).alias("bucket"),
                )
                for t, planes in enumerate(tables)
            ]
        )
        # candidate join + distinct on IDS ONLY (the projected/full
        # vectors re-attach by id afterwards): deduplicating int pairs
        # is far cheaper than hashing 64+16-float payloads per
        # pre-distinct row, and the id joins broadcast here / stay
        # plain equi-joins at scale
        ch = (
            c.withColumn("tb", F.explode(bucket_arr("c_vec")))
            .select("corpus_id", "tb.table", "tb.bucket")
        )
        qh = (
            q.withColumn("tb", F.explode(bucket_arr("q_vec")))
            .select("query_id", "tb.table", "tb.bucket")
        )
        cand_ids = (
            # bounded: query batch (ANN workload), orders smaller than the corpus
            ch.join(F.broadcast(qh), ["table", "bucket"])
            .filter(F.col("corpus_id") != F.col("query_id"))
            .select("query_id", "corpus_id")
            .distinct()
        )
        cand = cand_ids.join(c, "corpus_id").join(F.broadcast(q), "query_id")
    else:
        # bounded: query batch (ANN workload), orders smaller than the corpus
        cand = c.join(F.broadcast(q)).filter(
            F.col("corpus_id") != F.col("query_id")
        )
    stage1 = cand.withColumn(
        "proj_cosine", F.round(cosine_expr("c_proj", "q_proj"), 6)
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("proj_cosine").desc(), F.col("corpus_id").asc()
    )
    shortlisted = stage1.withColumn("srank", F.row_number().over(w1)).filter(
        F.col("srank") <= shortlist
    )
    reranked = shortlisted.withColumn(
        "cosine", F.round(cosine_expr("c_vec", "q_vec"), 6)
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 16,
    sample_rows: int = 10_000,
    iterations: int = 5,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Coarse quantizer for IVF: k-means centroids from a bounded
    sample. The sample (≤ sample_rows regardless of corpus size) and
    Lloyd iterations run driver-side in numpy — the one deliberate
    driver-side computation in this module, justified because its input
    is O(sample), never O(corpus).

    The sample is the ``sample_rows`` vectors with the smallest seeded
    hash, collected in (hash, vector) order, so the centroids depend on
    the corpus and ``seed`` only — never on partition layout or core
    count — and a corpus of at most ``sample_rows`` vectors is used
    whole."""
    # bottom-k by hash, not sample().limit(): Bernoulli sampling draws
    # per partition and a plain limit keeps the leading partitions'
    # rows. The ordered limit is one narrow scan keeping ≤ sample_rows
    # rows per partition plus a driver-side merge — no shuffle, and no
    # count() sizing pass
    h = F.xxhash64(F.col(vec_col), F.lit(seed))
    sample = (
        corpus.select(vec_col)
        .orderBy(h, F.col(vec_col))
        .limit(sample_rows)
        .collect()
    )
    if not sample:
        raise ValueError(
            "train_ivf_centroids: empty corpus sample — nothing to "
            "train a quantizer on (np.linalg.norm over a 0-row matrix "
            "would raise an opaque AxisError here)"
        )
    x = np.array([list(r[0]) for r in sample], dtype=np.float64)
    if x.shape[1] != dim:
        raise ValueError(
            f"train_ivf_centroids: vectors are {x.shape[1]}-d, "
            f"caller declared dim={dim}"
        )
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iterations):
        assign = np.argmax(x @ cents.T, axis=1)  # cosine on unit vectors
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return [[float(v) for v in row] for row in cents]


def _nearest_cells_expr(vec: str, cents: list[list[float]],
                        nprobe: int) -> Column:
    """Indices of the nprobe nearest centroids (by dot product; cosine
    assuming unit centroids) as an array<int> — JVM-side sort of a
    small struct array, no UDF. ``vec`` is a column NAME; one parsed
    SQL expression.

    Shape matters here: ONE ``transform`` loop over a single
    array-of-arrays literal, not ``n_cells`` unrolled dot folds. The
    nested array literal is constant-folded to one ``Literal`` before
    physical planning, so analysis/codegen cost is O(1) in the pool
    size (the unrolled form measured +0.6 s per query build at a
    64×64 pool) — and, unlike shipping the pool as a one-row
    crossJoin DataFrame, it keeps the plan free of RDD scans, whose
    non-canonicalizable identity defeats exchange reuse in self-joins
    (the corpus would shuffle twice). The per-centroid arithmetic is
    the identical zip_with multiply + left fold, so values are
    bit-equal to the unrolled form and to the SQL oracles. Beyond
    ~10⁴ trained cells the pool belongs in real data (the task-
    serialized literal stops being cheap); at catalog scale the
    literal is the optimum."""
    arr = "array(" + ", ".join(_arr_sql(c) for c in cents) + ")"
    return _expr(
        f"slice(transform(array_sort(transform({arr}, (c, i) -> "
        f"named_struct('neg', -aggregate(zip_with(transform(`{vec}`, "
        "x -> CAST(x AS DOUBLE)), c, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), 'cell', i))), "
        f"s -> s.cell), 1, {nprobe})"
    )


def _nearest_cell_argmin_expr(vec: str,
                              cents: list[list[float]]) -> Column:
    """nprobe=1 fast path of ``_nearest_cells_expr``: a single argmin
    FOLD over the centroid literal (strict ``<`` keeps the FIRST
    occurrence on dot-product ties — identical to the sort form's
    (neg, cell)-ascending tiebreak) instead of building and sorting a
    |pool|-struct array per row, with the float→double cast FUSED into
    the per-centroid zip_with (``c * CAST(x AS DOUBLE)`` — IEEE
    multiplication commutes, so values stay bit-equal to the sort
    form's cast-then-multiply and to the SQL oracles; asserted in
    test_round5_ops). One array pass per centroid instead of three
    (cast pass + product pass + fold pass), and — deliberately — NO
    lambda-produced intermediate column: a pre-cast array column
    consumed by another higher-order function breaks Spark 4's
    attribute binding when the plan is self-joined or the predicate
    lands in a SortMergeJoin condition (INTERNAL_ERROR_ATTRIBUTE_NOT_
    FOUND under autoBroadcastJoinThreshold=-1). ``vec`` is the raw
    float-array column name."""
    arr = "array(" + ", ".join(_arr_sql(c) for c in cents) + ")"
    return _expr(
        f"aggregate(transform({arr}, (c, i) -> named_struct("
        f"'neg', -aggregate(zip_with(c, `{vec}`, "
        "(y, x) -> y * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), 'cell', i)), "
        "CAST(NULL AS STRUCT<neg: DOUBLE, cell: INT>), "
        "(best, s) -> CASE WHEN best IS NULL OR s.neg < best.neg "
        "THEN s ELSE best END).cell"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: assign each corpus vector
    to its nearest coarse centroid (one narrow pass), probe each query
    against only the ``nprobe`` nearest cells' vectors. The candidate
    join is cell-co-partitioned — corpus never cross-joins queries, so
    recall/cost trades with nprobe/n_cells, and the corpus pass scales
    to billions of rows. Classic IVF-Flat (Sivic & Zisserman '03 /
    FAISS) re-expressed as two DataFrame joins."""
    from pyspark.sql.window import Window

    cents = centroids if centroids is not None else train_ivf_centroids(
        corpus, dim, n_cells, seed=seed, vec_col=vec_col
    )
    c = fan_out(
        corpus.select(
            F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("c_vec")
        )
    ).withColumn(
        "cell", _nearest_cell_argmin_expr("c_vec", cents)
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn(
        "cell", F.explode(_nearest_cells_expr("q_vec", cents, nprobe))
    )
    scored = (
        # bounded: query batch (ANN workload), orders smaller than the corpus
        c.join(F.broadcast(q), "cell")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr("c_vec", "q_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: L
    independent tables of b planes each; a corpus row is a candidate if
    it shares a bucket with the query in ANY table (recall =
    1-(1-p^b)^L where p = 1-θ/π). Each corpus row hashes L times
    (narrow), the candidate join is bucket-co-partitioned — no cross
    product, so corpus size scales to billions of rows.

    Tune: raise n_planes for precision (smaller buckets → fewer
    candidates to score), raise n_tables for recall.
    """
    from pyspark.sql.window import Window

    tables = [
        hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    bucket_arr = lambda vec: F.array(  # noqa: E731
        *[
            F.struct(
                F.lit(t).alias("table"),
                lsh_bucket_expr(vec, planes).alias("bucket"),
            )
            for t, planes in enumerate(tables)
        ]
    )
    c_vecs = fan_out(
        corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).alias("c_vec"))
    )
    q_vecs = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    ch = (
        c_vecs.withColumn("tb", F.explode(bucket_arr("c_vec")))
        .select("corpus_id", "tb.table", "tb.bucket")
    )
    qh = (
        q_vecs.withColumn("tb", F.explode(bucket_arr("q_vec")))
        .select("query_id", "tb.table", "tb.bucket")
    )
    # candidate join + distinct on IDS ONLY, vectors re-attached by id
    # afterwards — the projected_rerank_topk pattern: deduplicating int
    # pairs is far cheaper than hashing two 64-float payloads per
    # pre-distinct candidate row
    cand_ids = (
        # bounded: query batch (ANN workload), orders smaller than the corpus
        ch.join(F.broadcast(qh), ["table", "bucket"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id")
        .distinct()
    )
    cand = cand_ids.join(c_vecs, "corpus_id").join(
        # bounded: q_vecs is the query batch (ANN workload), orders of
        # magnitude smaller than the corpus side it re-attaches to
        F.broadcast(q_vecs), "query_id"
    )
    scored = cand.withColumn("cosine", cosine_expr("c_vec", "q_vec"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    shortlist: int = 40,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 4,
    kc: int = 4,
    centroids: list[list[float]] | None = None,
    seed: int = 42,
    pq_seed: int = 11,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ ANN — the two-level large-scale index (Jégou et al.
    TPAMI 2011; the FAISS default at billion scale), composed from
    this module's IVF coarse quantizer and PQ code assignment:

      1. coarse: corpus rows hash to their nearest cell, queries
         probe their ``nprobe`` nearest cells (same quantizer as
         ``ivf_topk``).
      2. ADC shortlist: within probed cells, candidates are ranked by
         ASYMMETRIC DISTANCE — the query's exact per-subspace
         distance table, indexed by each candidate's PQ codes: ``m``
         array lookups per candidate instead of a ``dim``-d dot.
      3. exact re-rank: only the ``shortlist`` best ADC candidates
         per query get the true cosine, which orders the final top-k.

    At 100 TB the index stores (cell, m small ints) per vector —
    ~64× smaller than the float vectors — and the full vectors are
    fetched only for shortlist re-ranking. Here the distance table is
    inlined per candidate row (keeps every value a deterministic
    JVM-side fold the oracle replays); a deployment materializes it
    once per query (m·kc doubles) before the probe join.

    All arithmetic is exact double folds against literal
    centroids/codewords; every ordering ties to ``corpus_id`` — the
    whole pipeline is engine-reproducible, so the oracle replays ADC
    ranking AND the re-rank bit-for-bit.
    """
    from pyspark.sql.window import Window

    cents = centroids if centroids is not None else train_ivf_centroids(
        corpus, dim, n_cells, seed=seed, vec_col=vec_col
    )
    cb = pq_codebook(dim, m, kc, pq_seed)
    sub = dim // m
    code_cols = [
        (F.array_position(d, F.array_min(d)) - 1).cast("int").alias(f"code{j}")
        for j, d in enumerate(_pq_dist_arrays("c_vec", cb, sub))
    ]
    c = (
        fan_out(
            corpus.select(
                F.col(id_col).alias("corpus_id"),
                F.col(vec_col).alias("c_vec"),
            )
        )
        .withColumn(
            "cell", _nearest_cell_argmin_expr("c_vec", cents)
        )
        .select("corpus_id", "c_vec", "cell", *code_cols)
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("cell", F.explode(_nearest_cells_expr("q_vec", cents, nprobe)))
    adc = None
    for j, dt in enumerate(_pq_dist_arrays("q_vec", cb, sub)):
        term = F.element_at(dt, F.col(f"code{j}") + 1)
        adc = term if adc is None else adc + term
    cand = (
        # bounded: query batch (ANN workload), orders smaller than the corpus
        c.join(F.broadcast(q), "cell")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("adc", adc)
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("corpus_id").asc()
    )
    sl = (
        cand.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= shortlist)
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        sl.withColumn("cosine", cosine_expr("c_vec", "q_vec"))
        .withColumn("rank", F.row_number().over(w_cos))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def truncated_dim_recall(
    corpus: DataFrame,
    queries: DataFrame,
    keep_dims: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: recall@k of
    cosine top-k computed on the first ``keep_dims`` coordinates
    against the full-dimension exact top-k — the measurement behind
    shipping truncated (MRL) embeddings to cut index cost 4–8×.

    Both rankings come from ``brute_force_topk`` (bit-equal fold
    scoring, corpus-id tie-break), so the overlap count — and
    therefore recall — is deterministic. ``recall_ppm`` is the exact
    integer ``overlap·10⁶ DIV k``; queries with zero overlap still
    emit a row (left join), so the mean over queries is computable
    downstream.

    Scale shape: two broadcast-query corpus scans (the slice is a
    narrow projection) + the two top-k windows; the recall join is
    over k·|queries| rows. At index scale the truncated branch is the
    one you'd serve — this operator is the offline eval that licenses
    it.
    """
    full = brute_force_topk(
        corpus, queries, k=k, vec_col=vec_col, id_col=id_col,
        query_id_col=query_id_col,
    ).select("query_id", "corpus_id")
    c16 = corpus.select(
        F.col(id_col), F.slice(vec_col, 1, keep_dims).alias(vec_col)
    )
    q16 = queries.select(
        F.col(query_id_col), F.slice(vec_col, 1, keep_dims).alias(vec_col)
    )
    trunc = brute_force_topk(
        c16, q16, k=k, vec_col=vec_col, id_col=id_col,
        query_id_col=query_id_col,
    ).select("query_id", "corpus_id")
    overlap = (
        full.join(trunc, ["query_id", "corpus_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    return (
        queries.select(F.col(query_id_col).alias("query_id"))
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            F.expr(f"coalesce(n_overlap, 0L) * 1000000 DIV {k}").alias(
                "recall_ppm"
            ),
        )
    )


def hybrid_rrf_fusion(
    documents: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 3,
    k_each: int = 50,
    k_final: int = 20,
    rrf_k: int = 60,
    shingle_k: int = 3,
) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack, Clarke
    & Büttcher, SIGIR 2009): a lexical run (query-by-example 3-shingle
    Jaccard) and a dense run (exact cosine) each produce a top-k_each
    list per query, fused by RRF(d) = Σ_runs 1/(rrf_k + rank_run(d))
    with absent-from-run contributing 0 — the standard production
    shape for BM25 + vector hybrid search (fuse bounded top-k LISTS,
    never whole score distributions, so the fusion stage is
    O(queries × k) regardless of corpus size).

    Retrievable corpus = documents ⋈ embeddings on doc_id = vec_id
    (only embeddable docs serve both runs); queries = the first
    ``n_queries`` such docs, self-matches excluded from both runs.

    Determinism/exactness: Jaccard is a division of exact ints; each
    RRF term 1/(rrf_k + rank) is one exact-int division and the fused
    score is ONE IEEE add of two such terms — bit-identical
    cross-engine, no rounding anywhere; every rank window pins ties
    (score desc, corpus_id asc).

    Scale shape: the lexical candidates come from one shingle
    broadcast-join (query shingles are a bounded batch) + one
    (query, doc) count exchange of matched pairs only (docs sharing
    zero shingles with a query never appear anywhere); the dense run
    is brute_force_topk's one corpus scan. Both runs collapse to ≤
    k_each rows per query BEFORE the fusion join, which is therefore
    bounded-size; at 100 TB you swap the dense run for the IVF/LSH
    index path and the fusion stage is unchanged.
    """
    from pyspark.sql.window import Window

    from .text import shingles

    corpus = documents.select("doc_id", "text").join(
        embeddings.select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ),
        "doc_id",
    )
    sh = corpus.select(
        "doc_id", shingles("text", shingle_k).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    q_sh = sh.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"),
        F.col("n_sh").alias("qn"),
        F.explode("sh").alias("shingle"),
    )
    c_sh = sh.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("n_sh").alias("cn"),
        F.explode("sh").alias("shingle"),
    )
    # bounded: query shingles are an n_queries-sized batch
    lex_common = (
        c_sh.join(F.broadcast(q_sh), "shingle")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .groupBy("query_id", "corpus_id", "qn", "cn")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("cn") + F.col("qn") - F.col("common")
    ).cast("double")
    w_lex = Window.partitionBy("query_id").orderBy(
        jac.desc(), F.col("corpus_id").asc()
    )
    lex = (
        lex_common.withColumn("rank_lex", F.row_number().over(w_lex))
        .filter(F.col("rank_lex") <= k_each)
        .select("query_id", "corpus_id", "rank_lex")
    )
    dense = brute_force_topk(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        corpus.filter(F.col("doc_id") < n_queries).select(
            F.col("doc_id").alias("query_id"), "embedding"
        ),
        k=k_each,
    ).select("query_id", "corpus_id", F.col("rank").alias("rank_dense"))
    fused = lex.join(dense, ["query_id", "corpus_id"], "full_outer")
    rrf = (
        F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_lex")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_dense")), F.lit(0.0)
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("corpus_id").asc()
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("final_rank", F.row_number().over(w_final))
        .filter(F.col("final_rank") <= k_final)
        .select(
            "query_id", "corpus_id",
            F.col("rank_lex").cast("int").alias("rank_lex"),
            F.col("rank_dense").cast("int").alias("rank_dense"),
            "rrf_score",
            F.col("final_rank").cast("int").alias("final_rank"),
        )
    )


# --------------------------------------------------------------------------
# Distributed Lloyd k-means over the FULL embedding table (scale
# extension; complements train_ivf_centroids, whose k-means runs on a
# bounded driver-side sample). Exact integer arithmetic end-to-end so
# every run — and the DuckDB oracle — is bit-identical.
# --------------------------------------------------------------------------


def _int_arr_sql(values: list[int]) -> str:
    return "array(" + ", ".join(f"{int(v)}L" for v in values) + ")"


def _kmeans_assign_expr(
    vec: str, cents: list[tuple[int, list[int]]]
) -> Column:
    """struct<dist: BIGINT, cluster: INT> of the nearest centroid by
    exact squared L2 over quantized int64 vectors. One argmin fold over
    a single array-of-(cid, centroid)-structs literal (constant-folded
    to one ``Literal`` — same O(1)-in-k analysis cost and
    exchange-reuse rationale as ``_nearest_cells_expr``). Cluster ids
    ride IN the literal (not the transform index) so they stay stable
    even after a cluster empties out mid-run; ``cents`` must be sorted
    by cid ascending — strict ``<`` then keeps the FIRST minimum, i.e.
    ties break to the lowest cluster id, matching the oracle's
    ``ORDER BY dist, cid`` tie-break. All arithmetic is BIGINT:
    |q| ≤ scale·max|x| keeps the 64-term squared sum far below 2^63,
    and integer ops are associative — no float summation-order hazard
    anywhere."""
    arr = "array(" + ", ".join(
        f"named_struct('cid', {int(cid)}, 'cv', {_int_arr_sql(cv)})"
        for cid, cv in cents
    ) + ")"
    return _expr(
        f"aggregate(transform({arr}, e -> named_struct("
        f"'dist', aggregate(zip_with(e.cv, `{vec}`, "
        "(y, x) -> (y - x) * (y - x)), "
        "CAST(0 AS BIGINT), (acc, t) -> acc + t), 'cluster', e.cid)), "
        "CAST(NULL AS STRUCT<dist: BIGINT, cluster: INT>), "
        "(best, s) -> CASE WHEN best IS NULL OR s.dist < best.dist "
        "THEN s ELSE best END)"
    )


def quantize_embeddings(
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> Column:
    """float array → exact micro-int BIGINT array via
    ``FLOOR(x·scale + 0.5)`` — floor (not half-up ROUND) so the
    rounding rule is unambiguous and identical across engines for
    negative values; float→double widening and the multiply/add are
    IEEE-deterministic."""
    return F.expr(
        f"transform(`{vec_col}`, x -> "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * {int(scale)} + 0.5d) AS BIGINT))"
    )


def _kmeans_assign_pandas(cents: list[tuple[int, list[int]]]):
    """Arrow-batched exact-int argmin — the LARGE-k assignment path.
    The literal HOF fold is interpreted (not codegen'd), so its cost
    is k×dim scalar ops per row in the expression interpreter;
    vectorized int64 numpy computes the same distances as
    |q|² + |c|² − 2·q·Cᵀ (every term exact int64 — |q·c| ≤
    (scale·max|x|)²·dim ≪ 2⁶³, and integer matmul is exact, so
    results are BIT-IDENTICAL to the fold). ``np.argmin`` keeps the
    FIRST minimum, which with cid-sorted ``cents`` is the lowest
    cluster id — the identical tie-break. Measured at 20 k × 64-d,
    k=64: ~10 s/pass (fold) → well under 1 s/pass (Arrow). This is
    the documented pandas-UDF exception: Python in the hot path only
    where it is Arrow-batched AND beats the JVM expression by an
    order of magnitude."""
    from pyspark.sql.functions import pandas_udf

    C = np.array([cv for _, cv in cents], dtype=np.int64)
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cc = (C * C).sum(axis=1)[None, :]

    @pandas_udf("struct<dist: bigint, cluster: int>")
    def assign(qv: pd.Series) -> pd.DataFrame:
        if len(qv) == 0:
            return pd.DataFrame({"dist": [], "cluster": []})
        Q = np.stack(qv.to_numpy()).astype(np.int64, copy=False)
        d = (Q * Q).sum(axis=1)[:, None] + cc - 2 * (Q @ C.T)
        j = d.argmin(axis=1)
        return pd.DataFrame(
            {
                "dist": d[np.arange(len(j)), j],
                "cluster": cids[j].astype(np.int32),
            }
        )

    return assign


def kmeans_lloyd(
    embeddings: DataFrame,
    dim: int = 64,
    k: int = 8,
    iters: int = 3,
    scale: int = 1_000_000,
    salt: str = ":km7",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_via: str = "auto",
) -> DataFrame:
    """Distributed Lloyd k-means over the full corpus, exact-arithmetic
    variant: vectors quantized to micro-ints, distances and centroid
    sums in BIGINT, centroid update by integer FLOOR division — the
    entire trajectory (init → ``iters`` updates → final assignment) is
    a pure function of the data, reproducible bit-for-bit and provable
    against an unrolled SQL oracle (no seeded RNG, no float summation
    order).

    Init: the k rows with the smallest md5(id ‖ salt) — a seed-free
    deterministic pick (same primitive as ``sampling.hash_bucket``),
    cluster id = rank in that order. Per iteration: (1) assignment is
    a NARROW map against a k×dim centroid literal — no join, no
    shuffle, whole-stage codegen; (2) the update is ONE partial
    aggregate (map-side combine) whose result is k×dim cells — the
    only driver-side data per round is those k·dim (sum, count) ints,
    exactly Spark MLlib KMeans' communication pattern (bounded:
    O(k·dim), never O(corpus)). Python's ``//`` is floor division on
    exact ints, matching the oracle's pmod-subtract form. A cluster
    that loses all members simply drops out (deterministic in both
    engines). Returns the final assignment
    (id, cluster INT, dist BIGINT).

    100 TB shape: iters+1 linear scans, one k×dim-cell shuffle per
    iteration, O(k·dim) driver state — no per-row Python, no
    quadratic stage anywhere.

    Preconditions: every vector must have exactly ``dim`` non-null
    entries (a short vector NULLs its zip_with distance; a long one
    overruns the update's dim-sized centroid) and ids must be
    non-null — the same well-formedness contract as the ANN family.
    Fewer than k rows simply yields that many clusters.

    Assignment (``assign_via``): ``'literal'`` is the JVM HOF fold —
    zero Python, but interpreted, so linear-in-k per-row cost
    (measured 20 k × 64-d: k=8 ≈ 1.5 s/pass, k=64 ≈ 10 s/pass);
    ``'pandas'`` is the Arrow-batched exact-int numpy argmin
    (bit-identical — see ``_kmeans_assign_pandas``), an order of
    magnitude faster at large k; ``'auto'`` (default) switches to
    Arrow once k·dim ≥ 2048, the measured crossover region. Both are
    NARROW (no join, no shuffle). Beyond ~10⁴ centroids the pool
    belongs in real data (a co-partitioned cell join), not a
    task-serialized literal/closure — same boundary as
    ``_nearest_cells_expr``."""
    if assign_via not in ("auto", "literal", "pandas"):
        raise ValueError(f"assign_via={assign_via!r}")
    q = embeddings.select(
        F.col(id_col),
        quantize_embeddings(vec_col, scale).alias("qv"),
        F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit(salt))
        ).alias("_h"),
    )
    # bounded: k rows of dim ints (the centroid seed pick)
    init_rows = (
        q.orderBy("_h", id_col).limit(k).select("qv").collect()
    )
    cents = [(i, [int(v) for v in r.qv]) for i, r in enumerate(init_rows)]

    def assign(c: list[tuple[int, list[int]]]) -> DataFrame:
        use_pandas = assign_via == "pandas" or (
            assign_via == "auto" and k * dim >= 2048
        )
        if use_pandas:
            s = _kmeans_assign_pandas(c)(F.col("qv"))
        else:
            s = _kmeans_assign_expr("qv", c)
        return q.select(
            F.col(id_col), "qv",
            s["cluster"].alias("cluster"), s["dist"].alias("dist"),
        )

    for _ in range(iters):
        # bounded: k×dim (cluster, pos, sum, count) cells — the MLlib
        # KMeans driver round trip, O(k·dim) regardless of corpus size
        cells = (
            assign(cents)
            .select("cluster", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster: dict[int, list[int]] = {}
        for r in cells:
            by_cluster.setdefault(r.cluster, [0] * dim)[r.pos] = (
                int(r.s) // int(r.n)
            )
        # sorted by cid: the assign literal's tie-break contract
        cents = [(c, by_cluster[c]) for c in sorted(by_cluster)]

    return assign(cents).select(id_col, "cluster", "dist")
