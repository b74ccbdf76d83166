"""Similarity search over embedding columns (array<float>).

Determinism strategy: floats quantize to integers (floor(x·10⁶) after an
exact float→double widening), so dot products and norms are exact int64
sums — order-independent, identical in Spark and the DuckDB oracle. With
64-dim vectors the dot product is bounded by 64·(2·10⁵)² ≈ 2.6·10¹² ≪ 2⁶³.

Every search path is one composition of the same private stages — the
FAISS index-factory split (router × codec × re-rank):

    public function          router           codec        re-rank
    ann_topk_bruteforce      none             int64        —
    ann_filtered_prepost     none             int64        — (post: rank filter)
    mmr_diversified_topk     none             int64        MMR kernel
    ann_topk_lsh             LSH buckets      int64        —
    ann_topk_ivf             IVF              int64        —
    ann_topk_pq              none             PQ (ADC)     exact
    ann_topk_ivfpq           IVF              PQ (ADC)     exact
    ann_ivfpq_probe_curve    IVF, per probe   PQ (ADC)     exact, per probe
    ann_topk_sq8             none             SQ8          exact
    ann_topk_ivfsq8          IVF              SQ8          exact
    ann_topk_hamming         none             sign bits    exact

"int64" scores exact cosine on the quantized vectors; the other codecs
score a compressed proxy and the exact re-rank restores the exact order
on a bounded shortlist. Stages: ``_corpus_frame`` (repartition +
quantize), ``_query_frame`` (query_id, qv, qn), ``_seed_filter``,
``_ivf_train`` + ``ivf_assign``, ``_probe_routes``, ``_pq_codec`` +
``_adc_scan``, ``_sq8_codec``, ``_scan`` (corpus × broadcast query
batch), ``_topk_per_query`` (salted top-k over unbounded candidates) and
``_exact_rerank`` (exact cosine of a shortlist + the final rank window).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bicis_spark.caching import tracked_persist
from bicis_spark.sources.io import local_frame

QUANT_SCALE = 1_000_000

# Dot products/norms use higher-order array functions (zip_with +
# aggregate): an unrolled 64-term element_at tree measured ~7-18x SLOWER
# (wide trees blow past JIT method limits and run interpreted, and each
# element_at re-checks bounds).
DEFAULT_DIMS = 64

# SQL-fragment fast paths: building these expressions through the Python
# functions API costs 20-35ms PER CALL in py4j round-trips (int_dot 33ms
# vs 0.55ms for the same tree via one F.expr parse). The helpers accept
# either a Column (the lambda path, for callers holding computed Columns)
# or a STRING, treated as a raw SQL fragment and parsed once. Both paths
# produce the same Catalyst operations, so results are bit-identical.

#: Width cap for unrolling fixed-width array math into plain arithmetic.
#: Higher-order functions are CodegenFallback — interpreted, one tree walk
#: + ArrayData allocation per call — and were the dominant task cost of
#: the PQ family (pq_encode evaluates sub-vector L2 N·M·K ≈ 8.2M times per
#: build). For KNOWN small widths the same exact-int64 sum unrolls into
#: `a[0]*b[0] + ...`, which whole-stage codegen compiles (1.6-4× faster,
#: bit-identical). 64-dim unrolls measured SLOWER (see above), so only
#: genuinely small widths (the 4-dim PQ subspaces) take this path.
UNROLL_MAX_DIMS = 8


def _dot_sql(a: str, b: str, dims: int | None = None) -> str:
    if dims is not None and 1 <= dims <= UNROLL_MAX_DIMS:
        return (
            "CAST("
            + " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dims))
            + " AS BIGINT)"
        )
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _norm2_sql(a: str, dims: int | None = None) -> str:
    return _dot_sql(a, a, dims)


def _norm_sql(a: str) -> str:
    return f"sqrt(CAST({_norm2_sql(a)} AS DOUBLE))"


def _quant_sql(vec: str) -> str:
    return (
        f"transform({vec}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
    )


def _nonzero_sql(divisor: str) -> str:
    return f"(CASE WHEN ({divisor}) != 0.0D THEN ({divisor}) END)"


def _cfn_sql(a: str, b: str, na: str, nb: str) -> str:
    """cosine_from_norms as a SQL fragment (same tree as the Column path)."""
    return f"CAST({_dot_sql(a, b)} AS DOUBLE) / " + _nonzero_sql(f"({na}) * ({nb})")


#: Exact cosine of a query [qv, qn] against a corpus vector [cv, cn].
_COS = _cfn_sql("qv", "cv", "qn", "cn")


def quantize(vec: Column | str) -> Column:
    """array<float> → array<long>: floor(double(x)·10⁶). floor (not round)
    sidesteps cross-engine tie-rounding differences. A str argument is a
    SQL fragment (fast builder path — see the fragment-helper note)."""
    if isinstance(vec, str):
        return F.expr(_quant_sql(vec))
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(QUANT_SCALE)).cast("long")
    )


def int_dot(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int_norm2(a: Column | str) -> Column:
    return int_dot(a, a)


def norm_col(a: Column | str) -> Column:
    """√‖a‖ as double — precompute once per vector so pairwise cosine does
    one dot + one division instead of re-deriving both norms per pair."""
    if isinstance(a, str):
        return F.expr(_norm_sql(a))
    return F.sqrt(int_norm2(a).cast("double"))


def _nonzero(divisor: Column) -> Column:
    """NULL out a zero divisor (nullif twin): cosine is undefined for a
    zero-norm vector — after quantization an all-near-zero embedding IS
    all zeros — and under ANSI mode a plain /0 aborts the whole job
    (with ANSI off it yields NaN, which Spark ranks ABOVE every real
    cosine). A NULL cosine instead drops out of >= thresholds and sorts
    last in the DESC rank windows on both engines."""
    return F.when(divisor != F.lit(0.0), divisor)


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Exact-integer cosine: dot/(√‖a‖·√‖b‖) with all inputs exact int64 —
    the double math sees identical operands in any engine. NULL for
    zero-norm inputs (see _nonzero)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"CAST({_dot_sql(a, b)} AS DOUBLE) / "
            + _nonzero_sql(f"{_norm_sql(a)} * {_norm_sql(b)}")
        )
    return int_dot(a, b).cast("double") / _nonzero(norm_col(a) * norm_col(b))


def cosine_from_norms(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """Cosine with both norms precomputed (identical value to cosine_sim:
    same exact dot, same sqrt results, same multiply/divide order)."""
    if all(isinstance(c, str) for c in (a, b, na, nb)):
        return F.expr(_cfn_sql(a, b, na, nb))
    to_col = lambda c: F.expr(c) if isinstance(c, str) else c  # noqa: E731
    a, b, na, nb = to_col(a), to_col(b), to_col(na), to_col(nb)
    return int_dot(a, b).cast("double") / _nonzero(na * nb)


def _with_norm(df: DataFrame, vec: str, name: str) -> DataFrame:
    return df.selectExpr("*", f"{_norm_sql(vec)} AS {name}")


def _corpus_frame(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nid: str = "nid",
    qv: str = "qv",
) -> DataFrame:
    """Corpus stage [nid, qv]: the scan spread over every core, each vector
    quantized once. Callers that read it from several stages persist it
    (tracked: their lazy result plans reference it, and harness
    boundaries release it — caching.py)."""
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    return corpus.repartition(n_parts).selectExpr(
        f"{id_col} AS {nid}", f"{_quant_sql(vec_col)} AS {qv}"
    )


def _query_frame(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    qv: str = "qv",
    qn: str | None = "qn",
) -> DataFrame:
    """Query stage [query_id, qv, qn]: one frame whose norm is shared by
    probe routing, scoring and the exact re-rank. ``qn=None`` leaves the
    norm off (LSH derives it after its probe fan-out)."""
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS {qv}"
    )
    return q if qn is None else _with_norm(q, qv, qn)


def _seed_filter(nid: str, mod: int, cap: int | None) -> Column:
    """Deterministic seed rule ``nid % mod == 1``, capped to its first
    ``cap`` ids. The cap id mod*(cap-1)+1 is the cap-th seed itself (not
    the first excluded id): the boundary is live data, so a <= vs <
    mutation changes the seed set — same set as ``< mod*cap``."""
    rule = F.col(nid) % mod == 1
    if cap is not None:
        rule = rule & (F.col(nid) <= mod * (cap - 1) + 1)
    return rule


def _ivf_train(
    c: DataFrame,
    nid: str,
    n_centroids_mod: int,
    max_lists: int | None,
    train_iters: int,
    n_lists: int | None = None,
    train_sample: int | None = None,
) -> DataFrame:
    """IVF trainer over a quantized corpus [nid, qv] → persisted
    [centroid_id, qv]: corpus assignment and probe routing both broadcast
    it, and each would otherwise re-run the training shuffle.

    Seeds are the first ``n_lists`` ids when given (the n_lists = ⌊√N⌋
    FAISS sizing hook, ``vec_id < n`` in SQL), else the capped mod rule:
    a mod-only rule makes the list count N/mod, so the centroid broadcast
    and per-query centroid scoring grow linearly and training
    quadratically. ``train_sample`` bounds the Lloyd training set to the
    first ids (FAISS's max_points_per_centroid discipline): training
    drops from iters·N·n_lists to iters·sample·n_lists, and the full
    corpus is still assigned once. Seeds are filtered from the persisted
    ``c`` (the same rows as the raw corpus, without a second scan)."""
    seed = (
        F.col(nid) < F.lit(int(n_lists))
        if n_lists is not None
        else _seed_filter(nid, n_centroids_mod, max_lists)
    )
    seeds = c.where(seed).select(F.col(nid).alias("centroid_id"), "qv")
    train = (
        c if train_sample is None else c.where(F.col(nid) < F.lit(int(train_sample)))
    )
    return tracked_persist(
        kmeans_refine_exact(train, seeds, train_iters, nid, "qv")
    )


def _probe_routes(q: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """Probe routing: each query [query_id, qv, qn] paired with its
    ``n_probe`` nearest centroids by cosine (centroid-id tie-break) and
    the probe rank ``_rn`` — a bounded |Q| × n_lists window."""
    pairs = q.crossJoin(
        F.broadcast(
            cents.selectExpr("centroid_id", "qv AS _cv", f"{_norm_sql('qv')} AS _cn")
        )
    ).selectExpr("*", f"{_cfn_sql('qv', '_cv', 'qn', '_cn')} AS _sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("centroid_id")
    )
    return pairs.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= n_probe
    )


def _scan(
    c: DataFrame, q: DataFrame, score: str, nid: str = "neighbor_id"
) -> DataFrame:
    """Brute-force scoring: corpus × broadcast(query batch) minus
    self-matches → [query_id, neighbor_id, <score>]. Each executor scans
    its corpus slice once; the corpus never shuffles."""
    pairs = c.crossJoin(F.broadcast(q)).where(f"{nid} != query_id")
    neighbor = nid if nid == "neighbor_id" else f"{nid} AS neighbor_id"
    return pairs.selectExpr("query_id", neighbor, score)


def _exact_topk(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact top-k of a corpus [neighbor_id, cv, cn] for [query_id, qv, qn]."""
    return _topk_per_query(_scan(c, q, f"{_COS} AS cosine"), "cosine", k)


def _topk_per_query(
    scored: DataFrame,
    order_col: str,
    k: int,
    rank_col: str | None = "rank",
    descending: bool = True,
    keys: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """Per-query top-k over an UNBOUNDED candidate frame via the salted
    two-phase hash aggregation (``operators.topk.topk_by_group_agg``): a
    ``row_number`` window would put ALL of one query's candidates through
    a single task's sort, while the salted plan's map-side partial
    aggregation bounds every exchanged group at ``n_salts``·k structs.
    Exact: the sort key embeds the window's (order DESC NULLS LAST,
    neighbor_id ASC) ordering, so row_number-based oracles replay it.

    ``rank_col=None`` returns only (keys, neighbor_id) — the shortlist
    feeding an exact re-rank. ``descending=False`` ranks ascending (the
    Hamming path). ``keys``: the query, or (probe setting, query)."""
    from bicis_spark.operators.topk import topk_by_group_agg

    out = topk_by_group_agg(
        scored,
        list(keys),
        order_col,
        "neighbor_id",
        k,
        ["neighbor_id"],
        descending=descending,
    )
    if rank_col is None:
        return out.select(*keys, "neighbor_id")
    return out.select(
        *keys,
        "neighbor_id",
        order_col,
        F.col("rank_in_group").cast("long").alias(rank_col),
    )


def _exact_rerank(
    scored: DataFrame,
    order_col: str,
    rerank: int,
    q: DataFrame,
    c: DataFrame,
    k: int,
    keys: tuple[str, ...] = ("query_id",),
    bq=F.broadcast,
    descending: bool = True,
) -> DataFrame:
    """Exact re-rank: keep each group's top-``rerank`` candidates by the
    compressed score ``order_col``, re-score them with exact cosine
    against the raw quantized vectors (queries [query_id, qv, qn], corpus
    [nid, qv]) and rank the top ``k``. Full-width math and the final
    window only see ≤ |Q|·rerank rows — bounded, so a window is fine."""
    short = _topk_per_query(
        scored, order_col, rerank, rank_col=None, descending=descending, keys=keys
    )
    nv = c.selectExpr(
        "nid AS neighbor_id", "qv AS _nv", f"{_norm_sql('qv')} AS _nn"
    )
    exact = short.join(bq(q), "query_id").join(nv, "neighbor_id").selectExpr(
        *keys, "neighbor_id", f"{_cfn_sql('qv', '_nv', 'qn', '_nn')} AS cosine"
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            *keys, "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
        )
    )


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors: [query_id, neighbor_id, cosine, rank].
    Self-matches excluded; ties break on neighbor_id; norms computed once
    per vector. The O(Q·N) baseline and the right answer for small Q."""
    c = _with_norm(
        _corpus_frame(corpus, id_col, vec_col, "neighbor_id", "cv"), "cv", "cn"
    )
    return _exact_topk(c, _query_frame(queries, id_col, vec_col), k)


def _hyperplane_coeff(plane: int, dim: int) -> int:
    """Deterministic small-integer hyperplane component in [-3, 3] — a fixed
    pseudo-random pattern with no RNG (reproducible, oracle-expressible).
    Knuth-style multiplicative mixing: an affine-mod-7 family is period-7
    in BOTH plane and dim (plane 7 duplicates plane 0, plane 4 is
    constant — recall@5 of 0.02 at sf0.1); two odd 32-bit constants and a
    shift decorrelate planes and dims."""
    h = ((plane + 1) * 2654435761 + (dim + 1) * 2246822519) & 0xFFFFFFFF
    return ((h >> 13) % 7) - 3


def _lsh_bucket_sql(
    qvec: str, n_planes: int = 8, dims: int = 64, plane_offset: int = 0
) -> str:
    """``lsh_bucket``'s expression as a raw SQL fragment (fast builder
    path — composable into larger selectExpr strings)."""
    terms = []
    for j in range(n_planes):
        coeffs = ", ".join(
            f"{_hyperplane_coeff(plane_offset + j, i)}L" for i in range(dims)
        )
        terms.append(
            f"(CASE WHEN aggregate(zip_with({qvec}, array({coeffs}), "
            f"(x, c) -> x * c), 0L, (a, x) -> a + x) > 0 "
            f"THEN {1 << j}L ELSE 0L END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def lsh_bucket(
    qvec: Column | str, n_planes: int = 8, dims: int = 64, plane_offset: int = 0
) -> Column:
    """Sign-bit bucket id from integer hyperplane dot products over planes
    [plane_offset, plane_offset + n_planes) — the offset lets callers build
    INDEPENDENT banded tables from disjoint plane ranges. Pass a column
    NAME for the fast path (one SQL string, one py4j parse); the Column
    API costs thousands of py4j round-trips (~3s per query at 8×64) for
    an identical expression."""
    if isinstance(qvec, str):
        return F.expr(_lsh_bucket_sql(qvec, n_planes, dims, plane_offset))
    acc = F.lit(0).cast("long")
    for j in range(n_planes):
        coeffs = [_hyperplane_coeff(plane_offset + j, i) for i in range(dims)]
        dot = F.aggregate(
            F.zip_with(
                qvec,
                F.array(*[F.lit(c).cast("long") for c in coeffs]),
                lambda x, c: x * c,
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        acc = acc + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    qv_col: str = "qv",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, deterministic
    centroid-id tie-break). ``centroids``: [centroid_id, qv] — broadcast.
    Vector and centroid norms are computed once per row, not per pair."""
    v = vectors.selectExpr("*", f"{_norm_sql(qv_col)} AS _vn")
    cents = centroids.selectExpr(
        "centroid_id", f"{qv_col} AS _cv", f"{_norm_sql(qv_col)} AS _cn"
    )
    pairs = v.crossJoin(F.broadcast(cents))
    scored = pairs.selectExpr(
        "*", f"{_cfn_sql(qv_col, '_cv', '_vn', '_cn')} AS _sim"
    )
    # argmax via max_by hash-aggregate, NOT a row_number window: the agg
    # gets map-side partial combine so the (vector x centroid) pair rows
    # never shuffle — only one row per vector does. Tie-break identical to
    # ORDER BY _sim DESC, centroid_id: maximize (_sim, -centroid_id).
    return (
        scored.groupBy(id_col)
        .agg(
            F.expr(
                f"max_by(struct({qv_col} AS _qv, centroid_id), "
                f"struct(_sim, -centroid_id AS _nc))"
            ).alias("_best")
        )
        .selectExpr(
            id_col, f"_best._qv AS {qv_col}", "_best.centroid_id AS centroid_id"
        )
    )


def _floor_mean_update(
    prev: DataFrame, assigned: DataFrame, keys: list[str], vec: str
) -> DataFrame:
    """Lloyd update shared by the IVF and PQ trainers: each centroid in
    ``prev`` [keys, vec] becomes the element-wise integer mean
    ``floor(sum/count)`` of its ``assigned`` members; empty clusters keep
    their previous value. Exact int64 (no RNG, no float accumulation
    order), so a SQL oracle replays training bit-for-bit; the mean (not
    the sum) keeps components at vector magnitude, so later int64 dots
    cannot overflow. The posexplode to (key, dim) rows takes map-side
    partial aggregation — one shuffle per iteration."""
    means = (
        assigned.selectExpr(*keys, f"posexplode({vec})")
        .groupBy(*keys, "pos")
        .agg(
            F.expr(
                "CAST(floor(CAST(sum(col) AS DOUBLE) / "
                "CAST(count(1) AS DOUBLE)) AS BIGINT)"
            ).alias("m")
        )
        .groupBy(*keys)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), x -> x.m)"
            ).alias(f"_new_{vec}")
        )
    )
    return prev.join(means, keys, "left").selectExpr(
        *keys, f"coalesce(_new_{vec}, {vec}) AS {vec}"
    )


def kmeans_refine_exact(
    vectors: DataFrame,
    seeds: DataFrame,
    n_iter: int = 1,
    id_col: str = "vec_id",
    qv_col: str = "qv",
) -> DataFrame:
    """Deterministic Lloyd refinement for spherical (cosine) k-means on
    quantized integer vectors — [centroid_id, qv]: each iteration assigns
    every vector to its max-cosine centroid (``ivf_assign``, a broadcast
    map pass) and applies the exact floor-of-mean update."""
    cents = seeds
    for _ in range(n_iter):
        assigned = ivf_assign(vectors, cents, id_col, qv_col)
        cents = _floor_mean_update(cents, assigned, ["centroid_id"], qv_col)
    return cents


def ann_recall(
    base_queries: DataFrame, exact: DataFrame, approx: DataFrame, k: int
) -> DataFrame:
    """Per-query recall@k of an approximate ANN result against the exact
    top-k: [query_id, n_hits, recall]. ``base_queries`` is the full query-id
    frame so queries with zero approximate hits still appear (recall 0)."""
    inter = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    hits = inter.groupBy("query_id").agg(F.count(F.lit(1)).alias("_h"))
    return base_queries.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.col("_h"), F.lit(0)).cast("double") / F.lit(float(k))
        ).alias("recall"),
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids_mod: int = 50,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 1,
    max_lists: int | None = None,
) -> DataFrame:
    """IVF ANN: partition the corpus into inverted lists by nearest
    centroid; each query scans only its ``n_probe`` closest lists.
    Centroids are the capped mod-rule seeds (``_ivf_train``) refined by
    ``train_iters`` exact k-means steps. Scale: corpus assignment is one
    broadcast pass; the search join is (probe-list × queries),
    ~n_probe/n_lists of the corpus per query."""
    # persisted: every training iteration and the final assignment read it
    c = tracked_persist(_corpus_frame(corpus, id_col, vec_col, "neighbor_id"))
    cents = _ivf_train(c, "neighbor_id", n_centroids_mod, max_lists, train_iters)
    c_assigned = _with_norm(
        ivf_assign(c, cents, "neighbor_id", "qv").withColumnRenamed("qv", "cv"),
        "cv",
        "cn",
    )
    q = _query_frame(queries, id_col, vec_col)
    probes = _probe_routes(q, cents, n_probe).select(
        "query_id", "qv", "qn", "centroid_id"
    )
    cand = c_assigned.join(F.broadcast(probes), "centroid_id").where(
        "neighbor_id != query_id"
    )
    return _topk_per_query(
        cand.selectExpr("query_id", "neighbor_id", f"{_COS} AS cosine"), "cosine", k
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 2,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's probe buckets,
    exact cosine re-rank within. 2^n_planes buckets ⇒ ~N/2^p candidates per
    probe.

    ``multi_probe``: each query also probes every bucket within that
    Hamming radius of its own (radius 2 at p=8 is 37 of 256 buckets ≈ 14%
    of the corpus). A true neighbor is most often lost to one or two wrong
    sign bits, so small radii recover most of the recall (sf0.1,
    near-random embeddings: radius 0 → 0.02, 1 → 0.28, 2 → 0.50
    recall@5). Only the broadcast QUERY side fans out, and a (query,
    neighbor) pair matches at most one probe per table, so one table
    needs no dedup pass.

    ``n_tables``: each table hashes with its own disjoint hyperplane range
    (plane_offset = t·n_planes); candidates are OR-ed across tables and a
    DISTINCT on (query, neighbor) dedups cross-table repeats before the
    re-rank. Recall composes as 1−(1−r)^L; the corpus frame explodes
    n_tables× over (id, bucket, table) only."""
    if multi_probe > 2:
        raise ValueError("multi_probe radius > 2 not supported")
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")

    def tables(vec: str, name: str) -> str:
        # one (table, bucket) struct per table, from disjoint plane ranges
        return "explode(array(" + ", ".join(
            f"struct({t} AS tbl, "
            f"{_lsh_bucket_sql(vec, n_planes, dims, t * n_planes)} AS {name})"
            for t in range(n_tables)
        ) + ")) AS _tb"

    c = _corpus_frame(corpus, id_col, vec_col, "neighbor_id", "cv")
    q = _query_frame(queries, id_col, vec_col, qn=None)
    c = c.selectExpr("*", tables("cv", "bucket")).selectExpr(
        "neighbor_id",
        "cv",
        "_tb.tbl AS tbl",
        "_tb.bucket AS bucket",
        f"{_norm_sql('cv')} AS cn",
    )
    flips = [
        sum(1 << j for j in bits)
        for r in range(multi_probe + 1)
        for bits in combinations(range(n_planes), r)
    ]
    # two-step explode: materialize each table's bucket ONCE, then fan out
    # the cheap XOR probe flips — inlining the 64-dim bucket aggregate into
    # every probe element would codegen n_tables·|flips| copies of it
    flipped = ", ".join(f"(_tb.home ^ {m})" for m in flips)
    q = (
        q.selectExpr("*", tables("qv", "home"))
        .selectExpr("*", f"explode(array({flipped})) AS bucket")
        .selectExpr(
            "query_id", "qv", "_tb.tbl AS tbl", "bucket", f"{_norm_sql('qv')} AS qn"
        )
    )
    pairs = c.join(F.broadcast(q), ["tbl", "bucket"]).where(
        "neighbor_id != query_id"
    )
    if n_tables > 1:
        # a pair can match in several tables — dedup before the exact
        # re-rank so each candidate is scored once
        pairs = pairs.select(
            "query_id", "neighbor_id", "qv", "cv", "qn", "cn"
        ).distinct()
    scored = pairs.selectExpr("query_id", "neighbor_id", f"{_COS} AS cosine")
    return _topk_per_query(scored, "cosine", k)


def _sub_l2_sql(a: str, b: str, dims: int | None = None) -> str:
    """Exact int64 squared L2 between two sub-vectors (SQL fragment).
    ``dims`` unrolls known-small widths into codegen'd arithmetic (see
    UNROLL_MAX_DIMS) — the same exact-int64 value as the HOF form, the
    any-width fallback. The two forms do NOT agree on a sub-vector
    shorter than ``dims``: the unrolled form reads past its end (an
    INVALID_ARRAY_INDEX error at execution under ANSI mode, NULL without
    it) while the HOF form zips against NULL padding and returns NULL. A
    NULL distance sorts FIRST in ``min(struct(_d, cid))`` and silently
    picks that code, so the PQ entry points reject any split that does
    not cover the declared width exactly (``_check_pq_width``). That
    guard reads the parameters only, not the data: a corpus narrower
    than the declared width still reaches this NULL path."""
    if dims is not None and 1 <= dims <= UNROLL_MAX_DIMS:
        return (
            "CAST("
            + " + ".join(
                f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
                for i in range(dims)
            )
            + " AS BIGINT)"
        )
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _check_pq_width(n_subspaces: int, sub_dims: int, dims: int) -> None:
    """Reject a PQ split that does not cover the DECLARED width ``dims``.
    Parameters only: the vectors' own width is not inspected, so callers
    must pass a corpus exactly ``dims`` wide."""
    if n_subspaces * sub_dims != dims:
        raise ValueError(
            f"n_subspaces * sub_dims = {n_subspaces} * {sub_dims} must equal "
            f"the {dims}-dim vector width"
        )


def pq_subvectors(
    df: DataFrame,
    id_col: str = "vec_id",
    qv_col: str = "qv",
    n_subspaces: int = 8,
    sub_dims: int = 8,
) -> DataFrame:
    """Explode quantized vectors into (id, sub, sv) sub-vector rows."""
    parts = "array(" + ", ".join(
        f"struct({m} AS sub, slice({qv_col}, {m * sub_dims + 1}, {sub_dims}) AS sv)"
        for m in range(n_subspaces)
    ) + ")"
    return df.selectExpr(id_col, f"explode({parts}) AS _p").selectExpr(
        id_col, "_p.sub AS sub", "_p.sv AS sv"
    )


def pq_train_codebooks(
    subvecs: DataFrame,
    seeds: DataFrame,
    train_iters: int = 1,
    id_col: str = "vec_id",
    sub_dims: int | None = None,
) -> DataFrame:
    """Deterministic per-subspace k-means codebooks: [sub, cid, sv]. Each
    iteration assigns every sub-vector to its min-L2 centroid within the
    SAME subspace (centroid-id tie-break) and applies the floor-of-mean
    update keyed by (sub, cid), so all M codebooks train in the same two
    shuffles per iteration."""
    cb = seeds
    for _ in range(train_iters):
        pairs = subvecs.join(
            F.broadcast(cb.selectExpr("sub", "cid", "sv AS _cv")), "sub"
        )
        assigned = (
            pairs.selectExpr("*", f"{_sub_l2_sql('sv', '_cv', sub_dims)} AS _d")
            .groupBy(id_col, "sub")
            .agg(
                F.expr(
                    "min_by(struct(sv AS _sv, cid), struct(_d, cid))"
                ).alias("_best")
            )
            .selectExpr("sub", "_best.cid AS cid", "_best._sv AS sv")
        )
        cb = _floor_mean_update(cb, assigned, ["sub", "cid"], "sv")
    return cb


def pq_encode(
    subvecs: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    sub_dims: int | None = None,
) -> DataFrame:
    """Assign each (vector, subspace) to its min-L2 code: [id, sub, code] —
    the compressed corpus: M small ints per vector instead of the float
    array (64×4 bytes → M bytes at K ≤ 256)."""
    pairs = subvecs.join(
        F.broadcast(codebooks.selectExpr("sub", "cid", "sv AS _cv")), "sub"
    )
    return (
        pairs.selectExpr("*", f"{_sub_l2_sql('sv', '_cv', sub_dims)} AS _d")
        .groupBy(id_col, "sub")
        .agg(F.expr("min(struct(_d, cid))").alias("_best"))
        .selectExpr(id_col, "sub", "_best.cid AS code")
    )


def _pq_codec(
    c: DataFrame,
    n_subspaces: int,
    sub_dims: int,
    seed_mod: int,
    train_iters: int,
    max_codes: int | None,
) -> tuple[DataFrame, DataFrame]:
    """PQ codec over a quantized corpus [nid, qv] → (codebooks [sub, cid,
    sv], codes [nid, sub, code]). The codebook size must be a CONSTANT:
    real PQ uses K=256 codes per subspace at any corpus size, and
    training/encoding cost is N·K per subspace — a mod-only seed rule
    would make K scale with N, so ``max_codes`` caps the seed set."""
    subvecs = tracked_persist(pq_subvectors(c, "nid", "qv", n_subspaces, sub_dims))
    seeds = pq_subvectors(
        c.where(_seed_filter("nid", seed_mod, max_codes)),
        "nid",
        "qv",
        n_subspaces,
        sub_dims,
    ).select("sub", F.col("nid").alias("cid"), "sv")
    cb = tracked_persist(
        pq_train_codebooks(subvecs, seeds, train_iters, "nid", sub_dims)
    )
    return cb, pq_encode(subvecs, cb, "nid", sub_dims)


def _adc_scan(
    q: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    n_subspaces: int,
    sub_dims: int,
    bq,
    probes: DataFrame | None = None,
    probe_rank: bool = False,
) -> DataFrame:
    """LUT/ADC scan → [query_id, neighbor_id, approx_cosine]. Each query
    [query_id, qv, qn] builds a (sub, code) → partial-dot lookup table
    (Q·M·K tiny rows, broadcast); a candidate's score is the sum of its M
    table hits over ‖q‖·‖x̂‖, with partial aggregation collapsing to one
    row per (query, neighbor) before any exchange.

    ``probes`` [query_id, centroid_id] restricts the scan to each query's
    probed lists (codes carry their centroid_id). ``probe_rank`` carries
    the probes' rank column ``_rn`` into the output as ``_minrn``: every
    candidate lives in one list, so the rank is constant per (query,
    neighbor)."""
    lut = pq_subvectors(q, "query_id", "qv", n_subspaces, sub_dims).join(
        F.broadcast(cb.selectExpr("sub", "cid", "sv AS _cv")), "sub"
    ).selectExpr(
        "query_id",
        "sub",
        "cid AS code",
        f"{_dot_sql('sv', '_cv', sub_dims)} AS _pdot",
        f"{_norm2_sql('_cv', sub_dims)} AS _pn2",
    )
    keys, carry = ["sub", "code"], []
    aggs = [
        F.expr("CAST(sum(_pdot) AS BIGINT)").alias("_adot"),
        F.expr("CAST(sum(_pn2) AS BIGINT)").alias("_rn2"),
    ]
    if probes is not None:
        codes, keys = codes.join(bq(probes), "centroid_id"), ["query_id", *keys]
    if probe_rank:
        aggs.append(F.min("_rn").alias("_minrn"))
        carry = ["_minrn"]
    acc = (
        codes.join(bq(lut), keys)
        .where("nid != query_id")
        .groupBy("query_id", "nid")
        .agg(*aggs)
    )
    qn = bq(q.selectExpr("query_id", "qn AS _qn"))
    return acc.join(qn, "query_id").selectExpr(
        "query_id",
        "nid AS neighbor_id",
        *carry,
        "CAST(_adot AS DOUBLE) / "
        + _nonzero_sql("_qn * sqrt(CAST(_rn2 AS DOUBLE))")
        + " AS approx_cosine",
    )


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 8,
    sub_dims: int = 8,
    seed_mod: int = 8,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 40,
    max_codes: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """ANN top-k via product quantization with asymmetric distance
    computation (ADC — Jégou et al. 2011): the corpus is encoded once as
    M per-subspace codes; each query precomputes a (sub, code) →
    partial-dot lookup table, and the compressed score is the sum of M
    table hits: approx_cos(q, x) = Σₘ ⟨qₘ, c[m, codeₘ(x)]⟩ / (‖q‖ · ‖x̂‖),
    x̂ the code reconstruction, all numerators exact int64. The top-
    ``rerank`` shortlist is re-scored with EXACT cosine.
    ``n_subspaces · sub_dims`` must equal the 64-dim width
    (``DEFAULT_DIMS``), and the corpus must be exactly 64-dim: the check
    reads the parameters, not the vectors.

    Measured at sf0.1 (M=16, d=4, mod=4, 1 iter): compressed-only
    recall@5 0.75; re-ranked at K=256/R=40 → 0.98, K=128/R=60 → 0.99
    (M=8, d=8 measures 0.32-0.46 compressed-only — the finer split is the
    knob that matters on near-random vectors). Scans read M bytes of codes
    per vector, not the raw embedding, but score ALL pairs — the IVF
    router (``ann_topk_ivfpq``) makes the candidate count sublinear."""
    _check_pq_width(n_subspaces, sub_dims, DEFAULT_DIMS)
    bq = _resolve_query_broadcast(queries, n_queries)
    # persisted: seeds, train, encode and the re-rank all read it
    c = tracked_persist(_corpus_frame(corpus, id_col, vec_col))
    cb, codes = _pq_codec(
        c, n_subspaces, sub_dims, seed_mod, train_iters, max_codes
    )
    q = _query_frame(queries, id_col, vec_col)
    scored = _adc_scan(q, cb, codes, n_subspaces, sub_dims, bq)
    return _exact_rerank(scored, "approx_cosine", rerank, q, c, k)


def synth_clustered_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    n_clusters: int = 32,
    dims: int = 64,
) -> DataFrame:
    """Deterministic mixture-of-centroids embedding corpus: [id,
    embedding], embedding[d] = base(cluster, d) + noise(id, d) with
    cluster = id % n_clusters, base ∈ [-3, 3] (Knuth-mixed like
    ``_hyperplane_coeff``), noise ∈ [-2, 2].

    The driver's embeddings are near-uniform on the sphere, which forces
    any honest IVF operating point to probe ~half the lists — the regime
    real corpora are NOT in. This corpus has cluster structure (in-cluster
    cosine ≈ 0.67, cross-cluster ≈ 0), so a declared row can exercise the
    n_lists ∝ √N / small-probe-fraction FAISS sizing with measured recall.
    Components are small int64-computed integers: the DuckDB oracles
    replay the formula, and ``quantize`` maps v → v·10⁶ exactly."""
    expr = f"""
    transform(sequence(0, {dims - 1}), d -> CAST(
        ((shiftright((({id_col} % {n_clusters} + 1) * 2654435761L
                      + (CAST(d AS BIGINT) + 1) * 2246822519L)
                     & 4294967295L, 13) % 7) - 3)
      + ((shiftright((({id_col} + 1) * 2246822519L
                      + (CAST(d AS BIGINT) + 1) * 3266489917L)
                     & 4294967295L, 11) % 5) - 2)
    AS DOUBLE))
    """
    return df.select(F.col(id_col), F.expr(expr).alias("embedding"))


def _ivfpq_build(
    corpus: DataFrame,
    n_centroids_mod: int,
    max_lists: int | None,
    ivf_train_iters: int,
    n_subspaces: int,
    sub_dims: int,
    seed_mod: int,
    pq_train_iters: int,
    max_codes: int | None,
    id_col: str,
    vec_col: str,
    n_lists: int | None = None,
    persist_codes: bool = False,
    train_sample: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """IVF-PQ index build → (c, cents, cb, codes): the persisted quantized
    corpus, trained coarse centroids, PQ codebooks and the encoded corpus
    joined with its list assignment. ``persist_codes`` materializes the
    encode once for callers that search the same index repeatedly."""
    # persisted: coarse training and assignment, PQ training and the
    # re-rank all read it
    c = tracked_persist(_corpus_frame(corpus, id_col, vec_col))
    cents = _ivf_train(
        c, "nid", n_centroids_mod, max_lists, ivf_train_iters, n_lists, train_sample
    )
    assign = ivf_assign(c, cents, "nid", "qv").select("nid", "centroid_id")
    cb, codes = _pq_codec(
        c, n_subspaces, sub_dims, seed_mod, pq_train_iters, max_codes
    )
    codes = codes.join(assign, "nid")
    return c, cents, cb, tracked_persist(codes) if persist_codes else codes


#: Query-side broadcast gate: the per-query broadcast payload in an
#: IVF-PQ/IVF-SQ8 search is ~1 KB (n_probe route rows + n_subspaces LUT
#: rows), so 32k queries ≈ 32 MB — half the session's 64 MB
#: autoBroadcast budget. Above this the query-side frames join as
#: ordinary shuffle joins instead.
ANN_BROADCAST_MAX_QUERIES = 32_768


def _resolve_query_broadcast(queries: DataFrame, n_queries: int | None):
    """(broadcast-or-identity wrapper) for |Q|-sized search-side frames.
    ``n_queries`` is the caller's bound on the batch size when it knows
    one (declared rows pass their fixed 20-query cap — zero runtime
    cost); ``None`` gates on one LIMIT-bounded count probe."""
    if n_queries is None:
        n_queries = queries.limit(ANN_BROADCAST_MAX_QUERIES + 1).count()
    if n_queries > ANN_BROADCAST_MAX_QUERIES:
        return lambda df: df
    return F.broadcast


def _ivfpq_search(
    c: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
    n_subspaces: int,
    sub_dims: int,
    rerank: int,
    id_col: str,
    vec_col: str,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-PQ search over a built index: probe routing → ADC scan of the
    probed lists → exact re-rank, with the |Q|-sized frames broadcast
    under ``ANN_BROADCAST_MAX_QUERIES``."""
    bq = _resolve_query_broadcast(queries, n_queries)
    q = _query_frame(queries, id_col, vec_col)
    probes = _probe_routes(q, cents, n_probe).select("query_id", "centroid_id")
    scored = _adc_scan(q, cb, codes, n_subspaces, sub_dims, bq, probes)
    return _exact_rerank(scored, "approx_cosine", rerank, q, c, k, bq=bq)


def ann_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids_mod: int = 50,
    n_probe: int = 10,
    max_lists: int | None = 40,
    ivf_train_iters: int = 1,
    n_subspaces: int = 16,
    sub_dims: int = 4,
    seed_mod: int = 4,
    pq_train_iters: int = 1,
    rerank: int = 40,
    max_codes: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DEFAULT_DIMS,
    n_lists: int | None = None,
    train_sample: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011 §V: coarse quantizer + product
    codes): the IVF router sends each query to its ``n_probe`` nearest
    lists, the ADC scan runs ONLY over the probed lists' codes, and the
    top-``rerank`` shortlist is re-ranked exactly.
    ``n_subspaces · sub_dims`` must equal ``dims``, and the corpus must
    be exactly ``dims`` wide: the check reads the parameters, not the
    vectors.

    The flat PQ scan's per-query work is linear in codes, so a query
    batch growing with the corpus makes |Q|·N quadratic (measured n^1.97,
    SCALE.md); probing cuts the scan to the probed fraction. At a
    CONSTANT ``max_lists`` that is a constant-factor win; the production
    discipline is n_lists ∝ √N (the ``n_lists`` / ``train_sample`` hooks
    of ``_ivf_train``, exercised by ``ann_topk_ivfpq_sqrt``). Codes are PQ
    over the RAW vectors, not residuals (per-list codebooks cost recall at
    K this small), so one codebook set is shared with ``ann_topk_pq``.

    Shuffle shape: centroids and codebooks broadcast; the candidate join
    codes ⋈ broadcast(probes) ⋈ broadcast(LUT) stays map-side until the
    (query, neighbor) partial-sum exchange of probed candidates."""
    _check_pq_width(n_subspaces, sub_dims, dims)
    index = _ivfpq_build(
        corpus,
        n_centroids_mod,
        max_lists,
        ivf_train_iters,
        n_subspaces,
        sub_dims,
        seed_mod,
        pq_train_iters,
        max_codes,
        id_col,
        vec_col,
        n_lists=n_lists,
        train_sample=train_sample,
    )
    return _ivfpq_search(
        *index,
        queries,
        k,
        n_probe,
        n_subspaces,
        sub_dims,
        rerank,
        id_col,
        vec_col,
        n_queries=n_queries,
    )


def ann_ivfpq_probe_curve(
    corpus: DataFrame,
    queries: DataFrame,
    probe_settings: list[int],
    k: int = 5,
    n_lists: int | None = None,
    train_sample: int | None = None,
    n_queries: int | None = None,
    n_centroids_mod: int = 50,
    max_lists: int | None = 40,
    ivf_train_iters: int = 1,
    n_subspaces: int = 16,
    sub_dims: int = 4,
    seed_mod: int = 4,
    pq_train_iters: int = 1,
    rerank: int = 40,
    max_codes: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DEFAULT_DIMS,
) -> DataFrame:
    """Recall-vs-probe curve over ONE built IVF-PQ index: [probe_lists,
    n_queries, avg_recall] — one row per probe setting against the exact
    brute-force top-k. The index is built once and persisted (the reuse
    incremental top-k search relies on); avg_recall = sum(n_hits) /
    (k · |Q|), one double division of exact integers.

    One ADC scan serves the WHOLE curve: every candidate lives in exactly
    one list, so its partial sums are the same at every setting that
    reaches that list. The scan runs at max(probe_settings) carrying each
    pair's probe rank, each candidate fans out to the settings whose
    cutoff admits it, and the shortlist and re-rank are keyed by (setting,
    query) — bit-identical to one ``ann_topk_ivfpq`` search per setting,
    which the oracle replays. The PQ width contract is
    ``ann_topk_ivfpq``'s."""
    if not probe_settings:
        raise ValueError("probe_settings must be non-empty")
    _check_pq_width(n_subspaces, sub_dims, dims)
    c, cents, cb, codes = _ivfpq_build(
        corpus,
        n_centroids_mod,
        max_lists,
        ivf_train_iters,
        n_subspaces,
        sub_dims,
        seed_mod,
        pq_train_iters,
        max_codes,
        id_col,
        vec_col,
        n_lists=n_lists,
        persist_codes=True,
        train_sample=train_sample,
    )
    distinct_ps = sorted({int(p) for p in probe_settings})
    parr = "array({})".format(",".join(str(p) for p in distinct_ps))
    bq = _resolve_query_broadcast(queries, n_queries)
    q = _query_frame(queries, id_col, vec_col)
    probes = _probe_routes(q, cents, distinct_ps[-1]).select(
        "query_id", "centroid_id", "_rn"
    )
    scored = _adc_scan(
        q, cb, codes, n_subspaces, sub_dims, bq, probes, probe_rank=True
    )
    cand = scored.selectExpr(
        "*", f"explode(filter({parr}, p -> p >= _minrn)) AS _probe"
    )
    approx_topk = _exact_rerank(
        cand, "approx_cosine", rerank, q, c, k, keys=("_probe", "query_id"), bq=bq
    ).select("_probe", "query_id", "neighbor_id")
    # brute-force reference over the persisted quantized corpus: ``c``
    # already holds the (nid, qv) rows a fresh ann_topk_bruteforce would
    # derive, so the reference is served from the index build's cache
    cq = _with_norm(c.selectExpr("nid AS neighbor_id", "qv AS cv"), "cv", "cn")
    inter = _exact_topk(cq, q, k).select("query_id", "neighbor_id").join(
        approx_topk, ["query_id", "neighbor_id"]
    )
    hits = inter.groupBy("_probe", "query_id").agg(F.count(F.lit(1)).alias("_h"))
    basex = queries.select(F.col(id_col).alias("query_id")).selectExpr(
        "query_id", f"explode({parr}) AS _probe"
    )
    rec = basex.join(hits, ["_probe", "query_id"], "left").select(
        "_probe",
        "query_id",
        F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("n_hits"),
    )
    curve = rec.groupBy("_probe").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (
            F.sum("n_hits").cast("double")
            / (F.lit(float(k)) * F.count(F.lit(1)).cast("double"))
        ).alias("avg_recall"),
    )
    # re-expand to the INPUT setting list: duplicate settings (possible at
    # tiny SFs where n_lists//16 == n_lists//8) yield duplicate rows
    wanted = queries.sparkSession.range(1).selectExpr(
        "explode(array({})) AS probe_lists".format(
            ",".join(str(int(p)) for p in probe_settings)
        )
    )
    return wanted.join(
        F.broadcast(curve), F.col("probe_lists") == F.col("_probe")
    ).select(
        F.col("probe_lists").cast("long").alias("probe_lists"),
        "n_queries",
        "avg_recall",
    )


def sq8_scales(c: DataFrame, qv_col: str = "qv", dims: int = 64) -> DataFrame:
    """Per-dimension symmetric int8 scales over a quantized corpus, as a
    ONE-ROW frame [sl: array<double>] for a broadcast scalar attach:
    sl[d] = 127 / max|qv_d| (0 for an identically-zero dimension). The
    64-key max aggregate is map-side combined; the fact table never
    shuffles. Same float recipe as ``int8_quantize_stats`` (127.0/mx is
    one double division — IEEE-identical in any engine)."""
    return (
        c.selectExpr(f"posexplode(slice({qv_col}, 1, {dims})) AS (pos, x)")
        .groupBy("pos")
        .agg(F.expr("max(abs(CAST(x AS DOUBLE)))").alias("mx"))
        .selectExpr(
            "pos",
            "CASE WHEN mx > 0 THEN 127.0D / mx ELSE 0.0D END AS s",
        )
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, s))), x -> x.s)"
            ).alias("sl")
        )
    )


def sq8_encode(qv: Column | str, sl: Column | str) -> Column:
    """int8 code vector: clamp(⌊qv_d · s_d + 0.5⌋, −127, 127) per
    dimension — ``floor(·+0.5)`` rather than round() because the engines'
    round() tie conventions differ while this float tree is
    IEEE-identical (the ``int8_quantize_stats`` recipe)."""
    if isinstance(qv, str) and isinstance(sl, str):
        return F.expr(_sq8_encode_sql(qv, sl))
    return F.zip_with(
        qv,
        sl,
        lambda x, s: F.greatest(
            F.lit(-127).cast("long"),
            F.least(
                F.lit(127).cast("long"),
                F.floor(x.cast("double") * s + F.lit(0.5)).cast("long"),
            ),
        ),
    )


def _sq8_encode_sql(qv: str, sl: str) -> str:
    """``sq8_encode`` as a SQL fragment (fast builder path; same tree)."""
    return (
        f"zip_with({qv}, {sl}, (x, s) -> "
        f"greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT), "
        f"CAST(floor(CAST(x AS DOUBLE) * s + 0.5D) AS BIGINT))))"
    )


#: int8 cosine of a query code [q8, qn8] against a corpus code [c8, cn8].
_SQ8_COS = _cfn_sql("q8", "c8", "qn8", "cn8") + " AS approx_cosine"


def _sq8_codec(
    c: DataFrame, q: DataFrame, dims: int | None, assign: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """SQ8 codec: per-dim scales trained on the corpus [nid, qv], attached
    to both sides by a one-row broadcast cross join so encoding runs
    map-side. Returns corpus codes [nid, (centroid_id when ``assign`` is
    given), c8, cn8] and query codes [query_id, q8, qn8]."""
    scales = F.broadcast(sq8_scales(c, "qv", dims or 64))
    cols = ["nid"]
    if assign is not None:
        c, cols = c.join(assign, "nid"), ["nid", "centroid_id"]
    code = _sq8_encode_sql("qv", "sl")
    c8 = c.crossJoin(scales).selectExpr(*cols, f"{code} AS c8")
    q8 = q.crossJoin(scales).selectExpr("query_id", f"{code} AS q8")
    return _with_norm(c8, "c8", "cn8"), _with_norm(q8, "q8", "qn8")


def ann_topk_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,
) -> DataFrame:
    """Scalar-quantized (int8) ANN — FAISS's ``ScalarQuantizer`` QT_8bit
    path: per-dimension symmetric scales trained on the corpus, every
    vector compressed to 64 int8 codes (4× the raw-embedding bandwidth),
    candidates scored by int8 cosine, and the top-``rerank`` shortlist
    re-ranked exactly. PQ compresses harder but needs trained codebooks;
    SQ8 is the train-light middle ground. Brute-force scan shape (corpus
    × broadcast query batch); ``ann_topk_ivfsq8`` adds the IVF router.
    Scales are one double division per dimension, codes floor(x·s + 0.5)
    clamps and int8 dots exact int64 sums — bit-replayable in DuckDB."""
    c = tracked_persist(_corpus_frame(corpus, id_col, vec_col))
    q = _query_frame(queries, id_col, vec_col)
    c8, q8 = _sq8_codec(c, q, dims)
    scored = _scan(c8, q8, _SQ8_COS, "nid")
    return _exact_rerank(scored, "approx_cosine", rerank, q, c, k)


def ann_topk_ivfsq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids_mod: int = 50,
    n_probe: int = 10,
    max_lists: int | None = 40,
    ivf_train_iters: int = 1,
    rerank: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-SQ8 ANN — FAISS's ``IVF<n>,SQ8``: the IVF router sends each
    query to its ``n_probe`` nearest lists, candidates WITHIN them are
    scored by int8 cosine, and the top-``rerank`` shortlist is re-ranked
    exactly. IVF-PQ compresses harder but pays ADC table lookups; IVF-SQ8
    keeps plain dot products over int8 codes. Per-query scanned vectors ≈
    probed fraction of N; scan bytes ≈ N/4 of the raw scan. Centroids,
    scales, probe routes and query codes all broadcast; the candidate
    scan is map-side over the probed lists' partitions."""
    bq = _resolve_query_broadcast(queries, n_queries)
    c = tracked_persist(_corpus_frame(corpus, id_col, vec_col))
    cents = _ivf_train(c, "nid", n_centroids_mod, max_lists, ivf_train_iters)
    assign = ivf_assign(c, cents, "nid", "qv").select("nid", "centroid_id")
    q = _query_frame(queries, id_col, vec_col)
    c8, q8 = _sq8_codec(c, q, dims, assign)
    probes = _probe_routes(q, cents, n_probe).select("query_id", "centroid_id")
    cand = (
        c8.join(bq(probes), "centroid_id")
        .join(bq(q8), "query_id")
        .where("nid != query_id")
    )
    scored = cand.selectExpr("query_id", "nid AS neighbor_id", _SQ8_COS)
    return _exact_rerank(scored, "approx_cosine", rerank, q, c, k)


def sign_signature_word(qv_col: str, start: int, width: int = 32) -> Column:
    """One 32-bit word of a vector's per-dimension SIGN signature:
    Σ_j (qv[start+j] > 0)·2^j — the binary-embedding binarization of
    FAISS's binary indexes (64 dims → two words = 16 bytes). One SQL
    string (the lsh_bucket fast-path idiom); the DuckDB oracle computes
    the identical sum with a range/CASE transform."""
    return F.expr(_sign_signature_sql(qv_col, start, width))


def _sign_signature_sql(qv_col: str, start: int, width: int = 32) -> str:
    """``sign_signature_word`` as a raw SQL fragment (composable)."""
    terms = [
        f"(CASE WHEN element_at({qv_col}, {start + j + 1}) > 0L"
        f" THEN {1 << j}L ELSE 0L END)"
        for j in range(width)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def ann_topk_hamming(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary sign-bit ANN — FAISS ``IndexBinaryFlat``: every vector
    binarized to its per-dimension sign bits (two 32-bit words),
    candidates ranked by HAMMING distance (one ``bit_count(xor)`` per
    word — the cheapest scan in the family), and the top-``rerank``
    shortlist (ascending salted top-k) re-ranked with exact cosine.
    Hamming between sign signatures proxies angular distance, so the
    re-rank carries the accuracy (``ann_hamming_recall`` measures it).
    Signatures and Hamming are exact integers; ties break on
    neighbor_id."""
    lo, hi = _sign_signature_sql("qv", 0), _sign_signature_sql("qv", 32)
    c = tracked_persist(
        _corpus_frame(corpus, id_col, vec_col).selectExpr(
            "*", f"{lo} AS lo", f"{hi} AS hi"
        )
    )
    q = _query_frame(queries, id_col, vec_col)
    qs = q.selectExpr("query_id", f"{lo} AS qlo", f"{hi} AS qhi")
    hamming = "CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS BIGINT) AS hamming"
    scored = _scan(c, qs, hamming, "nid")
    return _exact_rerank(scored, "hamming", rerank, q, c, k, descending=False)


def ann_filtered_prepost(
    corpus: DataFrame,
    queries: DataFrame,
    predicate,
    k: int = 5,
    overfetch: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The FILTERED-ANN strategy pair every vector store exposes: (pre,
    post) top-k results under a metadata ``predicate`` on the corpus.

    - PRE-filter: restrict the corpus BEFORE the search — exact within
      the filtered set (the ground truth), but the index must support
      predicate pushdown.
    - POST-filter: search the FULL corpus for ``overfetch`` candidates,
      then drop non-matching neighbors and keep the best ``k`` by the
      original ranking — what an unfiltered index forces, losing recall
      whenever fewer than ``k`` overfetched candidates match.

    ``predicate`` is a FACTORY ``column_name -> Column`` (e.g.
    ``lambda c: F.col(c) % 2 == 0``) applied to the corpus ids and to the
    post-filter results' ``neighbor_id``. It may reference ONLY the id
    column: the quantized frame carries nothing else, so a predicate over
    other corpus columns fails analysis by design. Both sides scan ONE
    persisted quantized corpus (the predicate reads only the id, so
    filtering it is the same row set); the post-filter re-rank is a
    bounded window over ≤ |Q|·overfetch rows."""
    c = tracked_persist(
        _with_norm(
            _corpus_frame(corpus, id_col, vec_col, "neighbor_id", "cv"), "cv", "cn"
        )
    )
    q = _query_frame(queries, id_col, vec_col)
    pre = _exact_topk(c.where(predicate("neighbor_id")), q, k)
    full = _exact_topk(c, q, overfetch)
    w = Window.partitionBy("query_id").orderBy("rank")
    post = (
        full.where(predicate("neighbor_id"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("_rn").cast("long").alias("rank"),
        )
    )
    return pre, post


def mmr_diversified_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    1998): greedily select ``k`` results per query from the exact
    top-``shortlist`` candidates, each step maximizing

        mmr(d) = 0.5·cos(q, d) − 0.5·max_{s ∈ selected} cos(d, s)

    (ties → lower neighbor_id). Output: [query_id, neighbor_id, relevance,
    mmr_score, rank] — rank 1..k in selection order; step 1's mmr_score
    is its raw relevance (no selected set yet).

    All N-dependence lives in the shortlist stage (a salted-top-k
    brute-force scan); the greedy selection is a grouped
    ``applyInPandas`` kernel over ≤ ``shortlist`` rows per query — the
    escape hatch for a BOUNDED sequential algorithm: k data-dependent
    argmax-then-update steps have no shuffle-free declarative form, and
    the unrolled-DataFrame variant measured 12-16s of pure plan/AQE-stage
    overhead vs ~2s for the kernel (SCALE.md). The kernel does exact
    integer dots in Python and the same IEEE double operation order as
    the module's cosine recipe — bit-replayable by the DuckDB oracle
    (which unrolls the ``k`` greedy steps as CTEs)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    c = tracked_persist(
        _with_norm(_corpus_frame(corpus, id_col, vec_col), "qv", "n")
    )
    q = _query_frame(queries, id_col, vec_col, "q_qv", "q_n")
    relevance = f"{_cfn_sql('q_qv', 'qv', 'q_n', 'n')} AS relevance"
    scored = _scan(c, q, relevance, "nid")
    # exact top-`shortlist` relevance candidates per query (salted top-k
    # keeps the order column, so the |Q|·N scored frame is scanned once),
    # re-joined with their vectors for the pairwise diversity penalty —
    # |Q|·shortlist rows from here on, independent of N
    cz = (
        _topk_per_query(scored, "relevance", shortlist, rank_col="_slr")
        .select("query_id", "neighbor_id", "relevance")
        .join(c.select(F.col("nid").alias("neighbor_id"), "qv"), "neighbor_id")
        .select("query_id", "neighbor_id", "relevance", "qv")
    )

    def _greedy(pdf):
        import math

        import pandas as pd

        # deterministic candidate order; Python ints for exact dots
        rows = sorted(
            (
                (int(r.neighbor_id), None if pd.isna(r.relevance) else float(r.relevance), [int(v) for v in r.qv])
                for r in pdf.itertuples()
            ),
            key=lambda t: t[0],
        )
        qid = int(pdf["query_id"].iloc[0])
        norms = [math.sqrt(float(sum(v * v for v in qv))) for _, _, qv in rows]

        def cos(i: int, j: int):
            den = norms[i] * norms[j]
            if den == 0.0:
                return None
            d = sum(x * y for x, y in zip(rows[i][2], rows[j][2]))
            return float(d) / den

        out = []  # (nid, rel, mmr, rank)
        pen: list = [None] * len(rows)  # max cos vs selected so far
        chosen: set[int] = set()
        for step in range(1, k + 1):
            best = None  # (score, -?, idx) — argmax (score, lowest nid)
            for i, (nid, rel, _) in enumerate(rows):
                if i in chosen:
                    continue
                if step == 1:
                    score = rel
                else:
                    score = (
                        None
                        if rel is None or pen[i] is None
                        else 0.5 * rel - 0.5 * pen[i]
                    )
                if score is None:
                    continue  # NULL scores lose (max_by / NULLS LAST parity)
                if best is None or score > best[0] or (
                    score == best[0] and nid < rows[best[1]][0]
                ):
                    best = (score, i)
            if best is None:
                break
            score, i = best
            chosen.add(i)
            out.append((rows[i][0], rows[i][1], score, step))
            for j in range(len(rows)):
                if j in chosen:
                    continue
                s = cos(i, j)
                if s is not None and (pen[j] is None or s > pen[j]):
                    pen[j] = s
        return pd.DataFrame(
            {
                "query_id": [qid] * len(out),
                "neighbor_id": [o[0] for o in out],
                "relevance": [o[1] for o in out],
                "mmr_score": [o[2] for o in out],
                "rank": [o[3] for o in out],
            }
        )

    return cz.groupBy("query_id").applyInPandas(
        _greedy,
        "query_id long, neighbor_id long, relevance double, "
        "mmr_score double, rank long",
    )


def pca_power_iteration(
    corpus: DataFrame,
    n_iter: int = 3,
    scale: int = 64,
    quant: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Top principal direction of an embedding corpus by DETERMINISTIC
    integer power iteration — the dimensionality-reduction pass (PCA /
    whitening / OPQ rotation seeding) that feeds this module's
    quantization stack, with no driver-side eigensolver. Output: [dim,
    component, rayleigh] — the n_iter-step direction (integer components
    in [−scale, scale]) and its Rayleigh quotient vᵀCv / vᵀv.

    Pipeline: (1) the ``embedding_covariance_ints`` pass at quantization
    ``quant`` — ONE corpus scan into d(d+1)/2 integer cells with map-side
    combine (2080 shuffle keys regardless of N); (2) per-cell
    floor-division by n (the bm25 fdiv identity) to keep later products
    in int64; (3) ``n_iter`` mat-vec steps w = C·v in exact Python ints
    over the COLLECTED cells, each followed by the integer rescale
    v' = floor(w·scale / max|w|) — no float accumulation anywhere.

    int64 headroom: with |x|·quant ≤ ~1536 the pre-fdiv numerator is
    ≤ n²·(quant·X)² (safe to n ≈ 2e6 at quant = 256 — shrink quant with
    corpus growth), and the Rayleigh numerator ≤ d²·scale·max|w| ≈ 2.3e18
    at the sf3 probe. The only float is the final division."""
    spark = corpus.sparkSession
    xq = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(quant)).cast("long")
    )
    q = corpus.select(xq.alias("xq"))
    pairs_dim = local_frame(
        spark, [(i, j) for i in range(dims) for j in range(i, dims)], "i int, j int"
    )
    g = (
        q.crossJoin(F.broadcast(pairs_dim))
        .select(
            "i",
            "j",
            F.element_at("xq", F.col("i") + 1).alias("xi"),
            F.element_at("xq", F.col("j") + 1).alias("xj"),
        )
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("xi").cast("long").alias("si"),
            F.sum("xj").cast("long").alias("sj"),
            F.sum(F.col("xi") * F.col("xj")).cast("long").alias("sp"),
        )
    )
    cells = g.select(
        "i",
        "j",
        (F.col("n") * F.col("sp") - F.col("si") * F.col("sj")).alias("_num"),
        "n",
    ).select("i", "j", F.expr("(_num - pmod(_num, n)) div n").alias("c"))
    # The d(d+1)/2 integer cells are BOUNDED MODEL STATE (O(d²),
    # independent of N): the power iteration runs over them in exact
    # Python ints. As 3·(join+agg+scalar+crossjoin) DataFrame stages over
    # the 4096-row matrix the loop measured ~10s of pure stage overhead
    # at EVERY SF; this form is one covariance job + one 2080-row collect.
    cov: dict[tuple[int, int], int] = {}
    for r in cells.collect():
        cov[(r["i"], r["j"])] = r["c"]
        if r["i"] != r["j"]:
            cov[(r["j"], r["i"])] = r["c"]

    def matvec(vec: list[int]) -> list[int]:
        return [
            sum(cov.get((i, j), 0) * vec[j] for j in range(dims))
            for i in range(dims)
        ]

    def fdiv(a: int, b: int) -> int:
        return (a - (a % b + b) % b) // b  # floor division, b > 0

    v = [int(scale)] * dims
    for _ in range(n_iter):
        w = matvec(v)
        m = max(abs(x) for x in w)
        v = [0 if m == 0 else fdiv(x * int(scale), m) for x in w]
    wf = matvec(v)
    vnum = sum(a * b for a, b in zip(wf, v))
    vden = sum(x * x for x in v)
    rayleigh = float(vnum) / float(vden) if vden != 0 else None
    spark2 = corpus.sparkSession
    return local_frame(
        spark2,
        [(int(d), int(v[d]), rayleigh) for d in range(dims)],
        "dim long, component long, rayleigh double",
    )


def int8_quantize_stats(
    df: DataFrame, id_col: str, vec_col: str, dims: int = 64
) -> DataFrame:
    """Per-dimension symmetric int8 quantization of an embedding column —
    the 4x memory/bandwidth compression step (FAISS's ScalarQuantizer
    QT_8bit) ahead of this module's PQ/IVF structures.

    Per dimension d: s_d = 127 / max|x_d| over the corpus (0 for an
    identically-zero dimension); per element: q = clamp(floor(x·s_d +
    0.5), -127, 127) — floor(·+0.5) because the engines' round() tie
    conventions differ while the floor float tree is IEEE-identical.
    Output per vector: [id, l1, sum_q, l2, n_clipped] — exact integer
    summaries; n_clipped counts saturated elements (never for symmetric
    scales; kept as the saturation audit for trained scales).

    Plan: map-side posexplode → 64-key max aggregate (tiny shuffle) →
    scales broadcast onto a second exploded scan → one aggregate keyed by
    vector id. The fact table never shuffles un-aggregated."""
    xd = F.col("x").cast("double")
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.slice(F.col(vec_col), 1, dims)).alias("pos", "x"),
    )
    scales = (
        ex.groupBy("pos")
        .agg(F.max(F.abs(xd)).alias("mx"))
        .select(
            "pos",
            F.when(F.col("mx") > 0, F.lit(127.0) / F.col("mx"))
            .otherwise(F.lit(0.0))
            .alias("s"),
        )
    )
    raw = F.floor(xd * F.col("s") + F.lit(0.5))
    q = F.least(F.lit(127), F.greatest(F.lit(-127), raw))
    clip = F.when((raw > 127) | (raw < -127), F.lit(1)).otherwise(F.lit(0))
    quant = ex.join(F.broadcast(scales), "pos").select(
        F.col(id_col), q.alias("q"), clip.alias("clip")
    )
    return quant.groupBy(id_col).agg(
        F.sum(F.abs(F.col("q"))).cast("long").alias("l1"),
        F.sum("q").cast("long").alias("sum_q"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("l2"),
        F.sum("clip").cast("long").alias("n_clipped"),
    )
