"""Approximate-nearest-neighbor similarity search over an embedding column
(``array<float>``), for training-data curation (near-dup by embedding,
retrieval QA).

* brute-force cosine top-k — the exact baseline: native ``zip_with`` /
  ``aggregate`` dot product (JVM-side, no Python), cross-join against a
  BROADCAST query set, ``row_number`` window top-k.
* random-hyperplane LSH buckets — the scale path: sign-bit sketch over R
  hyperplanes → bucket join; only same-bucket pairs are scored. Probe
  multiplicity via band tables mirrors minhash LSH.
* IVF (inverted-file) — k-means-lite coarse quantizer: assign each vector
  to its nearest of C centroids (one narrow pass), search only matching
  cells (optionally the nearest P cells per query).
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import (
    cache_mark,
    let_,
    map_arrow,
    persist,
    release_between,
)


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_col(a, b) -> F.Column:
    """Native cosine similarity between two array columns; 0.0 when either
    norm is zero."""
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the query set against the corpus
    (queries are small by construction; the corpus never shuffles), score
    natively, take k per query with a window."""
    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    scored = vectors.crossJoin(q).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_col(F.col(vec_col), F.col(query_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplane_sketch(
    df: DataFrame,
    dim: int,
    num_planes: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append a ``bucket`` column: sign-bit sketch of the vector against
    ``num_planes`` random hyperplanes, packed into one long. One
    Arrow-vectorized pass (numpy matmul per batch)."""
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(num_planes, dim)).astype(np.float64)
    weights = 1 << np.arange(num_planes, dtype=np.int64)

    def _bucket(mats):
        return ((mats @ planes.T) > 0) @ weights

    return _append_bucket(df, vec_col, _bucket)


def _append_bucket(df: DataFrame, vec_col: str, bucket) -> DataFrame:
    """``df`` plus ``bucket bigint`` = ``bucket(mats)`` over each batch's
    stacked ``vec_col`` rows as a float64 matrix. Every other column is
    kept zero-copy; the vector column goes through the pass and back, so
    ``map_arrow`` keeps one contract (``fn`` reads only columns it is not
    keeping) at about 1 µs per 64-dim row of re-encoding."""

    def _sketch(vecs):
        return vecs, bucket(np.stack(vecs).astype(np.float64, copy=False))

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", bucket bigint"
    keep = [c for c in df.columns if c != vec_col]
    return map_arrow(df, _sketch, schema, keep=keep)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 12,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    sketch: str = "normal",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose hyperplane bucket
    equals the query's. Recall < 1 by construction; bucket width traded via
    ``num_planes``. ``sketch='rademacher_q6'`` uses the exact-integer
    quantized sketch (DuckDB-reproducible buckets, see
    :func:`quantized_sketch`); ``'normal'`` the float Gaussian sketch."""
    if sketch == "rademacher_q6":
        planes = rademacher_planes(dim, num_planes, seed)
        v = quantized_sketch(vectors, planes, vec_col)
        q = quantized_sketch(
            queries.select(query_id_col, F.col(query_vec_col).alias(vec_col)),
            planes, vec_col,
        ).select(query_id_col, F.col(vec_col).alias(query_vec_col), "bucket")
    else:
        v = hyperplane_sketch(vectors, dim, num_planes, seed, vec_col)
        q = hyperplane_sketch(
            queries.select(query_id_col, F.col(query_vec_col).alias(vec_col)),
            dim, num_planes, seed, vec_col,
        ).select(query_id_col, F.col(vec_col).alias(query_vec_col), "bucket")
    joined = v.join(F.broadcast(q), on="bucket").select(
        query_id_col,
        F.col(id_col),
        cosine_col(F.col(vec_col), F.col(query_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def rademacher_planes(dim: int, num_planes: int = 12, seed: int = 7) -> "np.ndarray":
    """Seeded ±1 hyperplanes — shared by the Spark operator and the
    driver's DuckDB oracle builder (inlined as literals) so both engines
    bucket identically."""
    rng = np.random.RandomState(seed)
    return (rng.randint(0, 2, size=(num_planes, dim)) * 2 - 1).astype(np.int64)


QUANT_SCALE = 1_000_000  # embedding quantization for exact integer sketches


def quantized_sketch(
    df: DataFrame, planes: "np.ndarray", vec_col: str = "embedding"
) -> DataFrame:
    """Append ``bucket``: sign-bit sketch over ±1 planes in EXACT integer
    arithmetic — embeddings truncation-quantized to ``x * 1e6`` int64, so
    the dot products (≤ dim·2^21 ≪ 2^63) have no floating-point order
    sensitivity and any engine reproduces the identical bucket (what lets
    the driver's DuckDB oracle check LSH candidate generation
    bit-for-bit). One Arrow pass, int64 matmul per batch (the
    column-expression form :func:`quantized_sketch_col` computes the same
    buckets ~1000x slower per row; a parity test pins them equal)."""
    num_planes, dim = planes.shape
    planes_t = planes.T.astype(np.int64)
    weights = (1 << np.arange(num_planes, dtype=np.int64))

    def _bucket(mats):
        q = (mats * QUANT_SCALE).astype(np.int64)  # trunc toward 0
        return ((q @ planes_t) > 0) @ weights

    return _append_bucket(df, vec_col, _bucket)


def mean_pool_embeddings(
    df: DataFrame,
    group_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(group, pooled array<double>)`` — element-wise mean of each
    group's vectors: the chunk→document pooling step of an embedding
    pipeline (chunk embeddings come back from the encoder per chunk;
    retrieval and SemDeDup want one vector per document).

    Exactness discipline: float summation order is not reproducible
    across engines or layouts, so values are truncation-quantized to
    ``x * 1e6`` int64 (the repo's QUANT_SCALE sketch convention), summed
    in INTEGER space (order-free), and divided ONCE: ``s / (n * 1e6)``
    with both operands exact in double — a single correctly-rounded IEEE
    division, so the result is bit-identical in Spark and the DuckDB
    oracle and layout-independent by construction. Deliberately NOT
    re-rounded to fixed decimals: ``s/10^7`` produces exact half-ties at
    6 dp, where Spark's BigDecimal HALF_UP and DuckDB's float rounding
    disagree by one ulp — the raw quotient has no such ambiguity. The
    ~1e-6 absolute quantization error is far below encoder noise.

    Scale shape: ``posexplode`` → one ``(group, pos)``-keyed
    aggregation whose map-side combine runs where the vectors live
    (rows are 24-byte integer triples, never float arrays), then a
    group-keyed reassembly of the dim-sized result. Groups with ragged
    dimensions pool each position over the vectors that HAVE it."""
    g = F.col(group_col).alias("g")
    base = df.select(
        g, F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    qv = (F.col("v").cast("double") * QUANT_SCALE).cast("long")
    agg = base.groupBy("g", "pos").agg(
        F.sum(qv).alias("s"), F.count(F.lit(1)).alias("n")
    )
    vals = agg.select(
        "g",
        "pos",
        (
            F.col("s").cast("double")
            / (F.col("n") * F.lit(QUANT_SCALE)).cast("double")
        ).alias("val"),
    )
    return (
        vals.groupBy("g")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "val"))
                ),
                lambda x: x["val"],
            ).alias("pooled")
        )
        .withColumnRenamed("g", group_col)
    )


def quantized_sketch_col(
    vec_col: F.Column, planes: "np.ndarray"
) -> F.Column:
    """Column-expression form of :func:`quantized_sketch` (identical
    buckets; statically unrolled, no Python exchange — but interpreted
    per element, so use the Arrow form in hot paths)."""
    q = F.transform(vec_col, lambda x: (x.cast("double") * QUANT_SCALE).cast("long"))

    def _bucket(qv: F.Column) -> F.Column:
        acc = F.lit(0).cast("bigint")
        for r, plane in enumerate(planes):
            dot = F.aggregate(
                F.zip_with(
                    qv,
                    F.array(*[F.lit(int(v)) for v in plane]).cast("array<bigint>"),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("bigint"),
                lambda s, v: s + v,
            )
            acc = acc + F.when(dot > 0, F.lit(1 << r)).otherwise(F.lit(0))
        return acc

    return let_(q, _bucket)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 12,
    seed: int = 7,
    max_bucket_size: int | None = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sketch: str = "rademacher_q6",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH buckets
    generate candidates (same-bucket only — never an all-pairs join), then
    exact native cosine verifies against ``threshold``. The dedup analogue
    of minhash-LSH for the embedding modality; ``max_bucket_size`` guards
    degenerate buckets exactly as in operators.dedup.

    ``sketch='rademacher_q6'`` (default) buckets with the exact-integer
    quantized sketch — fully native AND portable to the DuckDB oracle;
    ``'normal'`` uses the float Gaussian sketch (numpy pass)."""
    if sketch == "rademacher_q6":
        planes = rademacher_planes(dim, num_planes, seed)
        sk = quantized_sketch(vectors, planes, vec_col)
    else:
        sk = hyperplane_sketch(vectors, dim, num_planes, seed, vec_col)
    # cache: the sketch feeds the bucket-size aggregation and both join
    # sides; uncached it would be recomputed per consumer
    buckets = persist(sk.select(id_col, vec_col, "bucket"))
    if max_bucket_size is not None:
        small = (
            buckets.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") <= max_bucket_size)
            .select("bucket")
        )
        buckets = buckets.join(small, on="bucket", how="left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("vec_a"),
            F.col(f"b.{vec_col}").alias("vec_b"),
        )
    )

    return _cosine_verify(cand).distinct().filter(F.col("cosine") >= threshold)


def _cosine_verify(cand: DataFrame) -> DataFrame:
    """``(id_a, id_b, vec_a, vec_b)`` → ``(id_a, id_b, cosine)`` in one
    Arrow pass: the candidate set is the hot loop (every near-dup
    candidate pays one cosine); numpy row-wise dot beats the interpreted
    fold ~50x and matches it to ~1e-15 (both sides of the driver
    comparison round to 6dp). A zero-norm side scores 0.0."""

    def _score(vas, vbs):
        va = np.stack(vas).astype(np.float64, copy=False)
        vb = np.stack(vbs).astype(np.float64, copy=False)
        dots = np.einsum("ij,ij->i", va, vb)
        denom = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
        return (np.where(denom > 0, dots / np.where(denom == 0, 1, denom), 0.0),)

    id_type = dict(cand.dtypes)["id_a"]
    return map_arrow(
        cand, _score, f"id_a {id_type}, id_b {id_type}, cosine double",
        keep=("id_a", "id_b"),
    )


# ---------------------------------------------------------------------------
# IVF coarse quantizer
# ---------------------------------------------------------------------------

def ivf_assign(
    df: DataFrame,
    centroids: List[List[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cell`` = argmin centroid by L2, computed natively: a
    literal centroid array + ``array_position`` over ``array_min`` of
    distances. Centroids are tiny (C ≤ a few thousand) → pure broadcast
    literals, no join."""
    cents = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in c]).cast("array<double>")
            for c in centroids
        ]
    )
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        ),
    )
    return df.withColumn(
        "cell", (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    )


def _collect_bounded_sample(
    df: DataFrame, vec_col: str, fraction: float, seed: int, max_rows: int
) -> "np.ndarray":
    """Driver-side training sample, hard-capped at ``max_rows`` rows
    regardless of corpus size (the scale guard train_centroids_sample
    documents)."""
    rows = (
        df.select(vec_col)
        .sample(fraction=fraction, seed=seed)
        .limit(int(max_rows))
        .collect()
    )
    return np.array([r[vec_col] for r in rows], dtype=np.float64)


def train_centroids_sample(
    df: DataFrame,
    n_centroids: int = 16,
    sample_fraction: float = 0.1,
    iters: int = 5,
    seed: int = 11,
    vec_col: str = "embedding",
    max_rows: int = 100_000,
) -> List[List[float]]:
    """k-means on a driver-side sample (the standard IVF recipe: train the
    coarse quantizer on a sample, assign the full corpus distributed).

    The driver materialization is bounded by ``max_rows`` (default 100k —
    ~50 MB at dim=64 float64), NOT by the fraction alone: a fraction-only
    sample scales with the corpus, and at 10^12 rows fraction=0.1 would
    collect 10^11 vectors onto the driver. ``limit`` after ``sample``
    keeps the scan one pass and early-exits once ``max_rows`` rows are
    produced; the k-means quantizer only needs a representative sample,
    not a uniform one, so per-layout row choice under ``limit`` is
    acceptable (the seed fixes the sample for a fixed input layout).
    Corpus-scale alternative when a fully layout-independent model is
    required: Spark ML KMeans on the sampled relation (distributed, no
    driver collect)."""
    X = _collect_bounded_sample(df, vec_col, sample_fraction, seed, max_rows)
    if len(X) < n_centroids:
        raise ValueError("sample smaller than n_centroids; raise sample_fraction")
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), n_centroids, replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return [list(map(float, c)) for c in cents]


def ivf_demo_centroids(n_centroids: int = 8, dim: int = 64, seed: int = 13):
    """Fixed seeded centroids (values rounded to 6 decimals so the same
    literals parse to identical doubles in any engine) — lets the driver's
    DuckDB oracle reproduce IVF cell assignment exactly without sharing a
    trained model. Production uses :func:`train_centroids_sample`."""
    rng = np.random.RandomState(seed)
    return [
        [round(float(x), 6) for x in row]
        for row in rng.normal(scale=0.1, size=(n_centroids, dim))
    ]


def ivf_probe_cells(
    df: DataFrame,
    centroids: List[List[float]],
    nprobe: int = 1,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cell`` = each of the ``nprobe`` nearest centroids by L2
    (one output row per probed cell), computed natively: distances →
    (dist, idx) structs → ``array_sort`` (ascending by dist, ties by cell
    index — the same order as argmin-by-first-occurrence) → slice →
    explode. This is the standard IVF recall knob: a query near a cell
    boundary finds neighbors that quantized into the adjacent cell."""
    cents = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in c]).cast("array<double>")
            for c in centroids
        ]
    )
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        ),
    )
    pairs = F.transform(
        dists, lambda d, i: F.struct(d.alias("dist"), i.cast("int").alias("idx"))
    )
    probed = F.slice(F.array_sort(pairs), 1, min(nprobe, len(centroids)))
    return df.withColumn(
        "cell", F.explode(F.transform(probed, lambda s: s["idx"]))
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: List[List[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k searching the query's ``nprobe`` nearest IVF
    cells (corpus vectors live in exactly one cell, so a (query, vector)
    pair meets at most once — no dedup needed)."""
    v = ivf_assign(vectors, centroids, vec_col)
    q = ivf_probe_cells(
        queries.select(query_id_col, F.col(query_vec_col).alias(vec_col)),
        centroids, nprobe=nprobe, vec_col=vec_col,
    ).select(query_id_col, F.col(vec_col).alias(query_vec_col), "cell")
    joined = v.join(F.broadcast(q), on="cell").select(
        query_id_col,
        F.col(id_col),
        cosine_col(F.col(vec_col), F.col(query_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------

def semantic_dedup_pairs(
    vectors: DataFrame,
    centroids: List[List[float]],
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
) -> DataFrame:
    """``(id_a, id_b, cosine)`` — same-IVF-cell pairs with cosine >=
    ``tau``: the candidate stage of SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540 — k-means-cluster the embeddings, then call
    within-cluster high-cosine pairs semantic duplicates). The cross-
    cluster blind spot is the algorithm's documented recall trade, not an
    implementation shortcut.

    Scale shape: cell assignment is a pure literal expression (no join);
    the pair join shuffles each vector ONCE keyed on its cell, and the
    per-cell join is quadratic only within a cell — the operator's
    contract is that the CALLER sizes ``len(centroids)`` to the corpus
    (the paper uses 50k clusters at 5B docs, keeping cells ~10^5).
    ``max_cell_size`` optionally drops oversized cells entirely (a recall
    trade under centroid collapse); it is None by default because unlike
    LSH buckets a cell has no "try another band" fallback — silently
    skipping one would change SEMANTICS, not just recall. The cosine
    verify is the same Arrow-vectorized pass as
    :func:`embedding_near_dup_pairs`."""
    assigned = ivf_assign(vectors, centroids, vec_col)
    cells = persist(assigned.select(id_col, vec_col, "cell"))
    if max_cell_size is not None:
        small = (
            cells.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("csz"))
            .filter(F.col("csz") <= max_cell_size)
            .select("cell")
        )
        cells = cells.join(small, on="cell", how="left_semi")
    a = cells.alias("a")
    b = cells.alias("b")
    cand = (
        a.join(b, on="cell")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("vec_a"),
            F.col(f"b.{vec_col}").alias("vec_b"),
        )
    )

    return _cosine_verify(cand).filter(F.col("cosine") >= tau)


def semantic_dedup(
    vectors: DataFrame,
    centroids: List[List[float]],
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
) -> DataFrame:
    """Surviving rows after SemDeDup: within-cell cosine-``tau`` pairs →
    connected components → one representative kept per component.

    ``keep`` policies:

    * ``"min_id"`` (default) — the pipeline-wide deterministic keep
      policy, same trade as
      :func:`llm_aided_ocr_spark.operators.dedup.near_dedup`; the
      driver-contract ``semantic_dedup`` query stays on this policy.
    * ``"farthest"`` — the paper's representative (Abbas et al. 2023
      §3: keep the member with the LOWEST cosine to its cluster
      centroid, i.e. farthest from the cell center), ties broken by min
      id. Selection is a per-cluster min-struct aggregation over the
      16-byte label relation joined to per-member centroid distances —
      no window, no extra pass over the vectors (the distance reuses
      the already-assigned cell).

    The drop list is a tiny ``(id)`` relation — broadcast-eligible
    anti-join, document vectors move at most once."""
    from llm_aided_ocr_spark.operators.dedup import (
        dedup_clusters,
        dedup_keep_list,
    )
    if keep not in ("min_id", "farthest"):
        raise ValueError(f"unknown keep policy: {keep!r}")

    spark = vectors.sparkSession
    start = cache_mark()
    pairs = semantic_dedup_pairs(
        vectors, centroids, tau=tau, id_col=id_col, vec_col=vec_col
    )
    stop = cache_mark()
    # dedup_clusters materializes eagerly (localCheckpoint rounds): after
    # it the cell cache registered inside semantic_dedup_pairs is dead,
    # while the final labels checkpoint (registered after `stop`) stays
    if keep == "min_id":
        keep_df = dedup_keep_list(pairs)
        drops = keep_df.filter(~F.col("keep")).select(
            F.col("id").alias(id_col)
        )
        release_between(spark, start, stop)
        return vectors.join(drops, on=id_col, how="left_anti")

    clusters = dedup_clusters(pairs)
    release_between(spark, start, stop)
    # cosine of each clustered member to ITS centroid (cells reuse the
    # same literal-centroid assignment; only cluster members pay)
    cents = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in c]).cast("array<double>")
            for c in centroids
        ]
    )
    cvec = F.get(cents, F.col("cell"))
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), cvec, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )

    def _norm(col):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: x * x),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            )
        )

    denom = _norm(F.col(vec_col)) * _norm(cvec)
    cos = F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))
    members = (
        ivf_assign(
            vectors.join(
                clusters.withColumnRenamed("id", id_col), on=id_col
            ),
            centroids,
            vec_col,
        )
        .select(id_col, "cluster_id", cos.alias("_cos"))
    )
    keepers = (
        members.groupBy("cluster_id")
        .agg(
            F.min(F.struct(F.col("_cos"), F.col(id_col))).alias("_k")
        )
        .select(F.col("_k")[id_col].alias("_keep_id"))
    )
    drops = (
        members.join(
            keepers, members[id_col] == keepers["_keep_id"], "left_anti"
        )
        .select(F.col(id_col))
    )
    return vectors.join(drops, on=id_col, how="left_anti")


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_embedding",
    levels: int = 127,
) -> DataFrame:
    """Per-vector symmetric scalar quantization to int8 range: ``q_i =
    floor(v_i / s + 0.5)`` with ``s = max|v| / levels`` (zero vectors
    quantize to zeros). Cosine over the quantized integers approximates
    cosine over the floats — the per-vector scale cancels — which is
    the 4× (vs float32; 8× vs float64) memory cut that makes a
    10^12-vector corpus index fit a cluster's RAM budget; a production
    sink would pack the ints to a binary column.

    The rounding is pinned to ``floor(x + 0.5)`` (round-half-up) rather
    than an engine ``round()`` because HALF_UP-vs-banker's divergence
    between engines is a known cross-engine hash breaker; the values
    stay in [-levels, levels] by construction (|v_i| ≤ max|v| and half-up
    needs +0.5 beyond the max to escape, which ``x/s ≤ levels`` cannot
    reach). One native projection: zero Python, zero shuffle."""
    v = F.col(vec_col)
    q = let_(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
        ) / F.lit(float(levels)),
        lambda s: F.when(
            s > 0,
            F.transform(v, lambda x: F.floor(x / s + 0.5).cast("int")),
        ).otherwise(F.transform(v, lambda x: F.lit(0))),
    )
    return df.withColumn(out_col, q)


def quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    levels: int = 127,
) -> DataFrame:
    """:func:`brute_force_topk` over int8-quantized vectors (both sides
    quantized through :func:`quantize_embeddings`): the memory-bound
    exact-scan baseline a quantized serving index runs. Since quantized
    components are exact small integers, the cosine doubles are
    bit-identical across engines — the scores themselves are
    deterministic, not just the ranking."""
    qv = quantize_embeddings(
        vectors, vec_col=vec_col, out_col="_q", levels=levels
    ).select(
        id_col, F.col("_q").cast("array<double>").alias(vec_col)
    )
    qq = quantize_embeddings(
        queries, vec_col=query_vec_col, out_col="_q", levels=levels
    ).select(
        query_id_col, F.col("_q").cast("array<double>").alias(query_vec_col)
    )
    return brute_force_topk(
        qv, qq, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )


def mine_bitext(
    x: DataFrame,
    y: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    levels: int = 127,
    scale: int = 10**12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(x_id, y_id, margin)`` — margin-based bitext mining (Artetxe &
    Schwenk, ACL 2019; the CCMatrix/CCAligned recipe): mine translation
    pairs between two monolingual sides embedded in a shared space by
    scoring every candidate with the RATIO margin

        margin(x, y) = cos(x, y) /
                       ((avgᵏ cos(x, NNₖ(x,Y)) + avgᵏ cos(y, NNₖ(y,X))) / 2)

    and keeping MUTUAL bests (x's best y is also y's best x) above the
    threshold — the neighborhood denominator cancels hubness (vectors
    that are everyone's neighbor score high raw cosine everywhere, but
    their margin is ~1), which plain cosine thresholds cannot do.

    Determinism: both sides pass through :func:`quantize_embeddings`
    (pinned half-up int8), so every cosine double is bit-identical
    cross-engine; each cosine is then FLOOR-QUANTIZED to a ``scale``-
    denominated bigint and the k-NN neighborhood sums are INTEGER sums
    — order-free — so ``margin = (2k·qcos) / (sx + sy)`` is one IEEE
    division of exact integers. Rankings, ties (broken by id), and the
    mutual-best selection replay exactly in the DuckDB oracle.

    Scale shape: the candidate relation here is the full X×Y cross (the
    exact spec, sized for per-language-pair shards); at the 10^12-doc
    tier generate candidates first — IVF cells (:func:`ivf_topk`'s
    assignment) or hyperplane-LSH buckets (:func:`hyperplane_sketch`)
    on both sides — and feed each bucket through this scorer; the
    margin/mutual logic is unchanged, only the pair generator narrows.
    The k-NN windows partition by vector id (massively parallel, no
    global sort); everything after quantization is native columnar —
    zero Python rows."""
    # Norms are per-VECTOR, not per-pair: compute them once per side
    # (|X| + |Y| aggregates) instead of letting cosine_col re-run both
    # norm aggregates for every one of the |X|·|Y| candidate pairs
    # (guide §1.2 per-task work / §2.4 don't recompute). The expression
    # trees are identical to cosine_col's, so every double — and hence
    # every floor-quantized qcos — is bit-identical.
    qx = quantize_embeddings(x, vec_col=vec_col, out_col="_q", levels=levels).select(
        F.col(id_col).alias("x_id"),
        F.col("_q").cast("array<double>").alias("xv"),
    ).withColumn("xn", _norm(F.col("xv")))
    qy = quantize_embeddings(y, vec_col=vec_col, out_col="_q", levels=levels).select(
        F.col(id_col).alias("y_id"),
        F.col("_q").cast("array<double>").alias("yv"),
    ).withColumn("yn", _norm(F.col("yv")))
    denom = F.col("xn") * F.col("yn")
    cos = F.when(denom > 0, _dot(F.col("xv"), F.col("yv")) / denom).otherwise(
        F.lit(0.0)
    )
    # Cache the candidate relation hash-partitioned by x_id: the x-side
    # k-NN window, the final sx join and the forward-rank window all key
    # on x_id, so establishing that distribution ONCE at materialization
    # lets all three reuse it (guide §2.4 — one exchange shared by every
    # same-keyed consumer; the window's shuffle it replaces was already
    # a full pass over the pair relation, so no new at-scale cost).
    pairs = persist(
        qx.crossJoin(qy)
        .select(
            "x_id",
            "y_id",
            F.floor(cos * F.lit(float(scale))).cast("bigint").alias("qcos"),
        )
        .repartition("x_id")
    )
    wx = Window.partitionBy("x_id").orderBy(F.desc("qcos"), F.col("y_id"))
    sx = (
        pairs.withColumn("r", F.row_number().over(wx))
        .filter(F.col("r") <= k)
        .groupBy("x_id")
        .agg(F.sum("qcos").alias("sx"))
    )
    wy = Window.partitionBy("y_id").orderBy(F.desc("qcos"), F.col("x_id"))
    sy = (
        pairs.withColumn("r", F.row_number().over(wy))
        .filter(F.col("r") <= k)
        .groupBy("y_id")
        .agg(F.sum("qcos").alias("sy"))
    )
    # Join sy (y_id) FIRST and sx (x_id) LAST so that m leaves the join
    # pipeline hash-partitioned by x_id — the forward-rank window below
    # partitions by x_id and reuses that distribution, which removes one
    # full exchange of the pair-sized relation (guide §2.4: operations
    # keyed the same way share one exchange).
    m = (
        pairs.join(sy, "y_id")
        .join(sx, "x_id")
        .filter((F.col("qcos") > 0) & (F.col("sx") + F.col("sy") > 0))
        .select(
            "x_id",
            "y_id",
            (
                (F.lit(2 * k) * F.col("qcos")).cast("double")
                / (F.col("sx") + F.col("sy")).cast("double")
            ).alias("margin"),
        )
    )
    fwd = Window.partitionBy("x_id").orderBy(F.desc("margin"), F.col("y_id"))
    bwd = Window.partitionBy("y_id").orderBy(F.desc("margin"), F.col("x_id"))
    return (
        m.withColumn("rf", F.row_number().over(fwd))
        .withColumn("rb", F.row_number().over(bwd))
        .filter(
            (F.col("rf") == 1)
            & (F.col("rb") == 1)
            & (F.col("margin") >= threshold)
        )
        .select("x_id", "y_id", "margin")
    )


def sign_codes_col(vec_col, dim: int):
    """Native 1-bit sign quantization: the ``dim``-dim vector becomes
    ``ceil(dim/32)`` bigint WORDS of 32 sign bits each (bit i of word k
    = ``v[32k+i] > 0``). 32-bit words sidestep int64 sign-bit overflow
    checks in either engine while keeping the 32x (vs float32) / 64x
    (vs float64) memory cut — at the 10^12-vector tier the binary index
    is the one that fits in cluster RAM (Charikar 2002 sign-random-
    projection codes; here the identity projection, i.e. per-component
    signs, composes with :func:`hyperplane_sketch` for true SRP codes).
    Distinct powers of two sum without carries, so the packing is a
    plain SUM — exact integers, engine-portable."""
    words = []
    for k in range(0, dim, 32):
        n = min(32, dim - k)
        chunk = F.slice(vec_col, k + 1, n)
        word = F.aggregate(
            F.zip_with(
                chunk,
                F.sequence(F.lit(0), F.lit(n - 1)),
                # pow(2, i) is exact in double for i <= 31; shiftleft's
                # python API wants a literal shift, the lambda index is
                # a Column
                lambda x, i: F.when(
                    x > 0, F.pow(F.lit(2.0), i).cast("bigint")
                ).otherwise(F.lit(0).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        words.append(word)
    return F.array(*words)


def hamming_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """``(query_id, vec_id, hamming, rank)`` — exact top-k by Hamming
    distance over 1-bit sign codes (:func:`sign_codes_col`): the
    binary-sketch serving scan. XOR + popcount per 32-bit word — pure
    integer ops, so distances AND rank ties (broken by id) are
    engine-exact; the corpus side never shuffles (queries broadcast,
    per-query window partitions by query id). For cosine-faithful
    binary codes feed hyperplane projections instead of raw components;
    the scan is identical."""
    codes = vectors.select(
        F.col(id_col), sign_codes_col(F.col(vec_col), dim).alias("_c")
    )
    qc = F.broadcast(
        queries.select(
            F.col(query_id_col),
            sign_codes_col(F.col(query_vec_col), dim).alias("_qc"),
        )
    )
    scored = codes.crossJoin(qc).select(
        F.col(query_id_col),
        F.col(id_col),
        F.aggregate(
            F.zip_with(
                F.col("_c"),
                F.col("_qc"),
                lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("hamming"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("hamming"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "hamming", "rank")
    )
