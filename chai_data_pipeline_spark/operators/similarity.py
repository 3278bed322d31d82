"""Embedding similarity-search operators.

- :func:`with_cosine` — exact cosine between two array<float> columns as
  a pure SQL expression (sequential left fold → bit-identical to the
  DuckDB oracle's list_sum over the same index order).
- :func:`brute_force_topk` — exact top-k neighbors of one query vector:
  the O(n) baseline, one broadcast + one narrow projection + one top-k.
- :func:`lsh_sign_buckets` — random-hyperplane (sign) LSH bucketing for
  the approximate scale path: at 100 TB you bucket-join instead of
  cross-joining; candidates share ≥1 of ``n_tables`` 8-bit signatures.
  Hyperplanes are derived from xxhash64 (deterministic, no stored model).

Scale posture: brute-force against ONE query is linear and fine at any
scale (broadcast the query). All-pairs exact KNN is quadratic — the
``knn`` plan caps the query side; the LSH path is the honest answer at
scale, trading recall for a bucket-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(arr: str) -> str:
    return f"transform({arr}, x -> cast(x AS double))"


def dot_sql_spark(a: str, b: str) -> str:
    """Spark SQL fragment: exact sequential-fold dot product."""
    return (
        f"aggregate(zip_with({_as_double(a)}, {_as_double(b)}, (x, y) -> x * y),"
        f" cast(0 AS double), (acc, v) -> acc + v)"
    )


def dot_sql_duckdb(a: str, b: str, dim: int) -> str:
    """DuckDB fragment with the same accumulation order (1-based index)."""
    return (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def cosine_sql_spark(a: str, b: str) -> str:
    return (
        f"({dot_sql_spark(a, b)}) / "
        f"(sqrt({dot_sql_spark(a, a)}) * sqrt({dot_sql_spark(b, b)}))"
    )


def cosine_sql_duckdb(a: str, b: str, dim: int) -> str:
    return (
        f"({dot_sql_duckdb(a, b, dim)}) / "
        f"(sqrt({dot_sql_duckdb(a, a, dim)}) * sqrt({dot_sql_duckdb(b, b, dim)}))"
    )


def with_cosine(
    df: DataFrame, a_col: str, b_col: str, out_col: str = "cosine"
) -> DataFrame:
    return df.withColumn(out_col, F.expr(cosine_sql_spark(a_col, b_col)))


def ranked_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Top-k by (cosine DESC, id ASC) with a ``rank`` column.

    Sort+limit compiles to TakeOrderedAndProject: every partition keeps
    its local top k and the driver merges k×P rows — the scalable shape.
    (A global row_number() window here would pull EVERY scored row into
    one partition.) The rank is then derived over the bounded (≤k-row)
    result; the constant partition key keeps the window spec non-empty —
    single-partition by construction, input already capped at k.
    """
    from pyspark.sql.window import Window

    topk = scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("cosine"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(w))


def brute_force_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Exact top-k rows of ``vectors`` by cosine to the single-row
    ``query`` (broadcast). Ranks on the ROUNDED cosine + id tiebreak so
    ordering is engine-independent. Norms are hoisted to per-row
    columns (one interpreted fold per vector instead of three per
    pair); values stay bit-identical (same ops, same order)."""
    from ..functions import dround

    base = vectors.withColumn(
        "__n", F.expr(f"sqrt({dot_sql_spark(vec_col, vec_col)})")
    )
    qn = query.withColumn(
        "__qn", F.expr(f"sqrt({dot_sql_spark(query_vec_col, query_vec_col)})")
    )
    joined = base.crossJoin(F.broadcast(qn))
    scored = joined.select(
        F.col(id_col),
        dround(
            F.expr(dot_sql_spark(vec_col, query_vec_col))
            / (F.col("__n") * F.col("__qn")),
            6,
        ).alias("cosine"),
    )
    return ranked_topk(scored, k, id_col)


def _hyperplane(t: int, b: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1)^dim, derived
    from sha256 at PLAN TIME — the values become literals in the plan,
    so executors never recompute them (recomputing per row was a 10x
    slowdown) and every run/cluster sees identical planes."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.sha256(f"{t}_{b}_{i}".encode()).digest()
        out.append(int.from_bytes(h[:4], "big") / 2**31 - 1.0)
    return out


def lsh_sign_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 4,
    bits_per_table: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH: per table, a ``bits_per_table``-bit
    signature; rows sharing a (table, signature) bucket are ANN
    candidates.

    All (n_tables × bits_per_table) projections compute as ONE numpy
    matmul per Arrow batch inside a pandas UDF — the expression form
    (one interpreted fold per bit) measured ~10x slower. The hyperplane
    matrix is a closure constant: deterministic, shipped by value, no
    broadcast state. No shuffle; one narrow projection per row.
    """
    import numpy as np
    import pandas as pd

    planes = np.array(
        [
            _hyperplane(t, b, dim)
            for t in range(n_tables)
            for b in range(bits_per_table)
        ],
        dtype=np.float64,
    ).T  # (dim, n_tables*bits_per_table)
    powers = (1 << np.arange(bits_per_table)).astype(np.int64)

    def _signatures_impl(vecs):
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes) > 0  # (rows, tables*bits)
        bits = bits.reshape(len(vecs), n_tables, bits_per_table)
        sigs = (bits * powers).sum(axis=2).astype(np.int64)  # (rows, tables)
        return pd.Series(list(sigs))

    _signatures_impl.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    signatures = F.pandas_udf(_signatures_impl, "array<long>")

    return (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode(signatures(F.col(vec_col))).alias(
                "table_id", "signature"
            ),
        )
    )


def _literal_array_spark(vec: list[float]) -> str:
    return "array(" + ", ".join(f"cast({x!r} as double)" for x in vec) + ")"


def _literal_list_duckdb(vec: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in vec) + "]"


def lsh_signature_exprs(
    vec_col: str,
    n_tables: int = 2,
    bits_per_table: int = 8,
    dim: int = 64,
) -> tuple[list[str], list[str]]:
    """(spark_exprs, duckdb_exprs): one integer signature expression per
    LSH table, with the hyperplanes embedded as LITERALS and every dot
    product a sequential left fold — so both engines compute
    bit-identical signs and the whole ANN pipeline becomes
    hash-checkable. The numpy-matmul path (lsh_sign_buckets) is ~10×
    faster per row but sums in SIMD order, which no SQL engine can
    reproduce; this expression form exists to put ANN under the
    DuckDB-differential oracle."""
    spark_exprs, duck_exprs = [], []
    for t in range(n_tables):
        s_terms, d_terms = [], []
        for b in range(bits_per_table):
            plane = _hyperplane(t, b, dim)
            s_dot = dot_sql_spark(vec_col, _literal_array_spark(plane))
            d_dot = dot_sql_duckdb(
                vec_col, f"({_literal_list_duckdb(plane)})", dim
            )
            s_terms.append(
                f"(CASE WHEN ({s_dot}) > 0 THEN {1 << b} ELSE 0 END)"
            )
            d_terms.append(
                f"(CASE WHEN ({d_dot}) > 0 THEN {1 << b} ELSE 0 END)"
            )
        spark_exprs.append("(" + " + ".join(s_terms) + ")")
        duck_exprs.append("(" + " + ".join(d_terms) + ")")
    return spark_exprs, duck_exprs


def ann_topk_lsh_checked(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 2,
    bits_per_table: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Oracle-checkable ANN: expression-fold signatures (see
    lsh_signature_exprs), bucket-join candidates, exact cosine top-k.
    Same plan shape as ann_topk_lsh — bucket equi-join, never O(n²)."""
    from ..functions import dround

    s_exprs, _ = lsh_signature_exprs(vec_col, n_tables, bits_per_table, dim)
    sig_array = "array(" + ", ".join(s_exprs) + ")"

    def buckets(d: DataFrame) -> DataFrame:
        return d.select(
            "*",
            F.posexplode(F.expr(sig_array)).alias("table_id", "signature"),
        )

    b = buckets(df).select(id_col, vec_col, "table_id", "signature")
    qb = buckets(query.select(F.col("qv").alias(vec_col))).select(
        "table_id", "signature", F.col(vec_col).alias("qv")
    )
    cands = (
        b.join(F.broadcast(qb), ["table_id", "signature"])
        .select(id_col, vec_col, "qv")
        .dropDuplicates([id_col])
    )
    scored = cands.select(
        F.col(id_col),
        dround(F.expr(cosine_sql_spark(vec_col, "qv")), 6).alias("cosine"),
    )
    return ranked_topk(scored, k, id_col)


def ann_topk_lsh(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    **lsh_kwargs,
) -> DataFrame:
    """Approximate top-k: candidates = rows sharing any LSH bucket with
    the query, then exact cosine on candidates only."""
    from ..functions import dround

    buckets = lsh_sign_buckets(df, vec_col, id_col, **lsh_kwargs)
    q_buckets = lsh_sign_buckets(
        query.select(F.col("qv").alias(vec_col), F.lit(-1).alias(id_col)),
        vec_col,
        id_col,
        **lsh_kwargs,
    ).select("table_id", "signature", F.col(vec_col).alias("qv"))
    cands = (
        buckets.join(F.broadcast(q_buckets), ["table_id", "signature"])
        .select(id_col, vec_col, "qv")
        .dropDuplicates([id_col])
    )
    scored = cands.select(
        F.col(id_col),
        dround(F.expr(cosine_sql_spark(vec_col, "qv")), 6).alias("cosine"),
    )
    return ranked_topk(scored, k, id_col)


def ivf_assign(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    "centroid". Centroids are the first ``n_centroids`` vectors by id —
    a deterministic stand-in for a k-means codebook (production would
    train one; the partitioning/probe mechanics are identical).

    MAP-ONLY: the codebook is folded into ONE array<struct> row (sorted
    by centroid_id), broadcast via a nested-loop join with the 1-row
    side, and each vector scores every centroid in-row, taking the
    argmax with array_max over (sim, -centroid_id) structs — highest
    similarity wins, ties break to the LOWEST centroid id. Zero shuffle
    of the vector table (the previous per-id window over the
    row×centroid crossJoin moved 16× the embedding volume through an
    exchange)."""
    cents = (
        df.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )
    # centroid norms ride inside the codebook struct (computed once in
    # the agg) and the row's own norm is hoisted to a column — the naive
    # in-row cosine would recompute BOTH per centroid (16× self-dots +
    # 16× centroid-norm folds per row). Same arithmetic shape as
    # cosine_sql_spark (dot / (sqrt(aa) * sqrt(bb))), so values are
    # bit-identical.
    codebook = cents.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("centroid_id"),
                    F.col("centroid_vec"),
                    F.expr(
                        f"sqrt({dot_sql_spark('centroid_vec', 'centroid_vec')})"
                    ).alias("cnorm"),
                )
            )
        ).alias("__codebook")
    )
    best = (
        "array_max(transform(__codebook, c -> struct("
        f"({dot_sql_spark(vec_col, 'c.centroid_vec')}) / (__vnorm * c.cnorm)"
        " AS sim, -c.centroid_id AS neg_cid)))"
    )
    return (
        df.withColumn(
            "__vnorm", F.expr(f"sqrt({dot_sql_spark(vec_col, vec_col)})")
        )
        .crossJoin(F.broadcast(codebook))
        .withColumn("__best", F.expr(best))
        .select(df["*"], (-F.col("__best.neg_cid")).alias("centroid_id"))
    )


def ivf_assign_arrow(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow-native IVF coarse quantization for ROWS-ONLY paths: the
    same first-k codebook as :func:`ivf_assign`, but every batch of
    vectors scores all centroids in ONE numpy matmul inside a pandas
    UDF instead of k interpreted zip_with/aggregate folds per row —
    the same production trade :func:`lsh_sign_buckets` already makes
    for bucketing (SIMD summation order is not reproducible in SQL, so
    the hash-checked twin keeps :func:`ivf_assign`'s fold form).

    Ties break to the LOWEST centroid id exactly like the fold form:
    the codebook rows are collected in ascending id order and
    ``argmax`` returns the FIRST maximum. The codebook collect is
    bounded model state (k×dim floats — the pq_codebooks precedent),
    not a data collect. The UDF is a closure: executors do not have
    the repo on sys.path (worker-shipping rule)."""
    import numpy as np
    import pandas as pd

    rows = (
        df.orderBy(id_col)
        .limit(n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    cents = np.array(
        [[float(x) for x in r[1]] for r in rows], dtype=np.float64
    )  # (k, dim)
    cnorms = np.sqrt((cents * cents).sum(axis=1))  # (k,)

    def _assign_impl(vecs):
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        vn = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ cents.T) / (vn[:, None] * cnorms[None, :])
        return pd.Series(cids[sims.argmax(axis=1)])

    _assign_impl.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    assign = F.pandas_udf(_assign_impl, "long")
    return df.withColumn("centroid_id", assign(F.col(vec_col)))


def ann_topk_ivf(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    arrow: bool = False,
) -> DataFrame:
    """IVF approximate top-k: score the query against the centroid
    codebook, probe the ``n_probe`` nearest inverted lists, exact cosine
    only within them. At scale the assignment is written once
    (partitioned by centroid_id) and each query touches n_probe/n_total
    of the data.

    ``arrow=True`` (rows-only callers): numpy-matmul assignment
    (:func:`ivf_assign_arrow`) and batched numpy candidate scoring —
    linear work moves from the interpreted higher-order-function
    evaluator to SIMD. The cosine is still rounded through
    :func:`dround`(6) before ranking, and the probe/tiebreak logic is
    identical, so the rounded output matches the fold form on real
    data (proven row-identical at sf0.001/0.01/0.1 and the 10x sf1
    point in plans/r14/ab_ivf_arrow.json); the hash-checked twin keeps
    ``arrow=False`` because SIMD summation order cannot be reproduced
    in the DuckDB oracle."""
    from ..functions import dround

    # an empty query side has no vector for numpy to score against; the
    # fold form below returns the empty top-k for it
    if arrow and (qrow := query.first()) is not None:
        import numpy as np
        import pandas as pd

        assigned = ivf_assign_arrow(df, n_centroids, vec_col, id_col)
        qvec = np.array([float(x) for x in qrow[0]], dtype=np.float64)
        qnorm = float(np.sqrt((qvec * qvec).sum()))

        def _cos_impl(vecs):
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in vecs]
            )
            vn = np.sqrt((mat * mat).sum(axis=1))
            return pd.Series((mat @ qvec) / (vn * qnorm))

        _cos_impl.__annotations__ = {
            "vecs": pd.Series,
            "return": pd.Series,
        }
        cos_q = F.pandas_udf(_cos_impl, "double")

        cents = (
            df.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("centroid_vec"),
            )
        )
        probe = (
            cents.crossJoin(F.broadcast(query))
            .withColumn(
                "__sim", F.expr(cosine_sql_spark("centroid_vec", "qv"))
            )
            .orderBy(F.desc("__sim"), F.asc("centroid_id"))
            .limit(n_probe)
            .select("centroid_id")
        )
        cands = assigned.join(F.broadcast(probe), "centroid_id")
        scored = cands.select(
            F.col(id_col),
            dround(cos_q(F.col(vec_col)), 6).alias("cosine"),
        )
        return ranked_topk(scored, k, id_col)

    assigned = ivf_assign(df, n_centroids, vec_col, id_col)
    cents = (
        df.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )
    probe = (
        cents.crossJoin(F.broadcast(query))
        .withColumn("__sim", F.expr(cosine_sql_spark("centroid_vec", "qv")))
        .orderBy(F.desc("__sim"), F.asc("centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )
    cands = assigned.join(F.broadcast(probe), "centroid_id").crossJoin(
        F.broadcast(query)
    )
    scored = cands.select(
        F.col(id_col),
        dround(F.expr(cosine_sql_spark(vec_col, "qv")), 6).alias("cosine"),
    )
    return ranked_topk(scored, k, id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compression side of large-scale ANN
# (IVF-PQ): split each vector into M subvectors, quantize each against a
# per-subspace codebook, score queries against an M×K lookup table of
# partial distances (asymmetric distance computation). At 100 TB the
# corpus stores M bytes per vector instead of 4·dim, the encode pass is
# MAP-ONLY against a broadcast/literal codebook, and query scoring is a
# map-only LUT sum + TakeOrdered — no shuffle anywhere in the hot path.
# ---------------------------------------------------------------------------


def _sq_l2_spark(vec_expr: str, lit_vec: list[float]) -> str:
    """Spark SQL fragment: squared-L2 distance between a slice
    expression and a literal vector, as a sequential left fold — the
    same accumulation order DuckDB's list_sum performs."""
    arr = _literal_array_spark(lit_vec)
    return (
        f"aggregate(zip_with(transform({vec_expr}, v -> cast(v AS double)),"
        f" {arr}, (x, y) -> (x - y) * (x - y)),"
        " cast(0 AS double), (acc, v) -> acc + v)"
    )


def pq_codebooks(
    df: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Deterministic per-subspace codebooks: the first ``n_centroids``
    vectors by id, sliced into ``n_subspaces`` equal subvectors —
    kmeans_fit(iters=0)'s init posture, per subspace. Production would
    run kmeans_fit per subspace; the encode/score mechanics below are
    identical either way. Returns [m][cid] -> subvector (Python floats:
    bounded model state, k×dim, not a data collect)."""
    rows = (
        df.orderBy(id_col)
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    full = [[float(x) for x in r[0]] for r in rows]
    dim = len(full[0])
    sub = dim // n_subspaces
    return [
        [vec[m * sub:(m + 1) * sub] for vec in full]
        for m in range(n_subspaces)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """MAP-ONLY PQ encode: adds ``code_0..code_{M-1}`` int columns —
    per subspace, the id of the nearest (squared-L2) sub-centroid,
    ties to the lowest id (struct-min is lexicographic: min distance,
    then min id)."""
    sub = len(codebooks[0][0])
    out = df
    for m, cb in enumerate(codebooks):
        slice_expr = f"slice({vec_col}, {m * sub + 1}, {sub})"
        elems = ", ".join(
            f"struct({_sq_l2_spark(slice_expr, c)} AS d, {cid} AS cid)"
            for cid, c in enumerate(cb)
        )
        out = out.withColumn(
            f"code_{m}", F.expr(f"array_min(array({elems})).cid")
        )
    return out


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: encode the corpus (map-only), score
    each row as the sum of LUT[m][code_m] where LUT holds the squared-L2
    distance from the query's m-th subvector to each sub-centroid
    (computed driver-side in the same left-fold order, so values are
    bit-identical to an in-engine fold), then TakeOrdered by (distance,
    id). The LUT is M×K literals — model state, not data."""
    from ..functions import dround
    from pyspark.sql.window import Window

    sub = len(codebooks[0][0])
    m_count = len(codebooks)
    lut: list[list[float]] = []
    for m in range(m_count):
        q_sub = query_vec[m * sub:(m + 1) * sub]
        row = []
        for c in codebooks[m]:
            acc = 0.0
            for x, y in zip(q_sub, c):
                acc += (x - y) * (x - y)
            row.append(acc)
        lut.append(row)

    encoded = pq_encode(df, codebooks, vec_col)
    terms = [
        f"element_at({_literal_array_spark(lut[m])}, code_{m} + 1)"
        for m in range(m_count)
    ]
    total = " + ".join(f"({t})" for t in terms)  # left-to-right fold
    scored = encoded.select(
        F.col(id_col),
        dround(F.expr(total), 6).alias("approx_dist"),
    )
    topk = scored.orderBy(F.asc("approx_dist"), F.asc(id_col)).limit(k)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.asc("approx_dist"), F.asc(id_col)
    )
    return topk.withColumn("rank", F.row_number().over(w))


def pq_codebooks_trained(
    df: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Production PQ codebooks: per subspace, a k-means codebook trained
    with the fixed-point-deterministic Lloyd trainer (operators/kmeans).
    Each subspace trains independently on its slice — M bounded-state
    trainings whose per-iteration driver state is k×(dim/M) floats.
    Same return shape as :func:`pq_codebooks`; encode/score paths are
    shared. Bit-reproducible across partitionings for the same reasons
    kmeans_fit is (exact integer partial sums)."""
    from .kmeans import kmeans_fit

    sub_dim = None
    books = []
    for m in range(n_subspaces):
        if sub_dim is None:
            dim = len(df.select(vec_col).first()[0])
            sub_dim = dim // n_subspaces
        sliced = df.select(
            F.col(id_col),
            F.expr(
                f"slice({vec_col}, {m * sub_dim + 1}, {sub_dim})"
            ).alias(vec_col),
        )
        books.append(
            kmeans_fit(sliced, k=n_centroids, iters=iters, vec_col=vec_col,
                       id_col=id_col)
        )
    return books
