"""Similarity search over the ``embeddings`` table.

Two tiers:

- **Brute-force top-k** (correctness tier): broadcast the query set,
  nested-loop against the corpus, exact cosine, per-query top-k via
  row_number. At scale this is the right plan when |queries| is
  small: the corpus streams once, nothing shuffles except the final
  tiny top-k.
- **LSH-bucketed ANN** (scale tier): random-hyperplane signatures →
  candidates share a signature prefix (equi-join on bucket) → exact
  rerank on candidates only. Recall tunable via bits/tables.

Dot products fold left in double precision (deterministic order), so
scores are bit-reproducible and oracle-comparable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from etl_geonet_quakes_spark.io import load_table

DIM = 64  # fixture embedding dimensionality (FIXTURES.md)


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(u: Column, w: Column) -> Column:
    return F.aggregate(F.zip_with(u, w, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


def cosine(u: Column, w: Column) -> Column:
    return dot(u, w) / (F.sqrt(dot(u, u)) * F.sqrt(dot(w, w)))


# Zero-norm vectors (failed encoders, padding rows) have no defined
# direction: a cosine against them is 0/0, which ANSI arithmetic turns
# into a runtime error and engines disagree on (NULL vs NaN ordering).
# Every similarity operator therefore EXCLUDES them up front — the
# oracle SQL carries the same WHERE list_dot_product(v, v) > 0.


def _nonzero(e):
    return e.filter(dot(F.col("v"), F.col("v")) > 0)


def topk_bruteforce(
    spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    The query side is tiny → broadcast; the corpus side never
    shuffles. Ties broken by corpus vec_id for determinism.
    """
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    )
    queries = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = e.crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("v")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        # round for cross-engine hash stability (ulp-level summation
        # differences); ranking above uses the unrounded score
        .select("query_id", "rnk", "neighbor_id", F.round("cos", 6).alias("cos"))
        .orderBy("query_id", "rnk")
    )


def _hyperplanes(n_bits: int, dim: int = DIM, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded, reproducible across
    runs — analogous to the reference pinning its clock for
    determinism, SURVEY §7.4)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim)).tolist()


def _rh_signature(v: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(v · plane_i). Built
    as a literal-array dot per plane — constant-folded plane vectors,
    no UDF."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(v, plane) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(bit)
    return sig


def topk_lsh(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 5,
    n_bits: int = 6,
    n_tables: int = 6,
) -> DataFrame:
    """ANN top-k via multi-table random-hyperplane LSH.

    L independent tables of b-bit signatures; a corpus vector is a
    candidate if it matches the query's bucket in ANY table (explode
    (table, bucket) pairs → equi-join → dedup), then exact cosine
    rerank on candidates only. Per-pair recall for angle θ is
    1-(1-(1-θ/π)^b)^L — b trades candidate volume against selectivity,
    L buys recall linearly in cost. At 100 TB the bucket equi-join
    replaces the O(N·Q) scan with O(N·Q·L/2^b) shuffled work.

    "Approximate" only relative to brute force — the seeded
    hyperplanes make the result fully deterministic, so the DuckDB
    oracle in queries.py replays signature → bucket-join → rerank with
    the plane literals inlined and hash-matches it. Tests additionally
    check recall against the brute-force tier.
    """
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    )
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _rh_signature(F.col("v"), _hyperplanes(n_bits, seed=42 + t)).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )
    sig = e.select("vec_id", "v", F.explode(tables).alias("tb")).select(
        "vec_id", "v", "tb.tbl", "tb.bucket"
    )
    queries = sig.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    cand = sig.join(
        F.broadcast(queries),
        (F.col("tbl") == F.col("qtbl"))
        & (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("query_id")),
    ).dropDuplicates(["query_id", "vec_id"])
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("v")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        # round for cross-engine hash stability; ranking above uses
        # the unrounded score (same contract as topk_bruteforce)
        .select("query_id", "rnk", "neighbor_id", F.round("cos", 6).alias("cos"))
        .orderBy("query_id", "rnk")
    )


def _centroids(n_cells: int, dim: int = DIM, seed: int = 7) -> list[list[float]]:
    """Deterministic unit-norm coarse-quantizer centroids. Seeded
    random directions are the right coarse quantizer for the fixture's
    isotropic random embeddings; a production build would swap in
    k-means centroids trained offline — the query shape is identical."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_cells, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return c.tolist()


def _cell_scores(v: Column, cents: list[list[float]]) -> Column:
    """array<struct<negdot,cell>> of (−v·centroid, cell_id) — struct
    ordering makes array_min/array_sort rank cells by descending dot
    product with deterministic cell-id tiebreak.

    The |cents|-wide dot-product batch runs as an Arrow pandas UDF
    (one numpy matmul per batch): this is the one place a Python UDF
    beats JVM column algebra, because the HOF form pays |cents| ×
    interpreted aggregate/zip_with per row. Measured at sf0.1
    (2000×64 corpus, 16 centroids, warmed session, median-of-3):
    assignment pass 1.24 s HOF → 0.34 s Arrow, with ZERO argmin
    assignment diffs — the fixture's cell-score gaps are ~1e-1, nine
    orders above matmul-vs-fold summation noise, so the (integer)
    assignments and probe sets are unaffected and the oracle replay
    still hash-matches. Single dots (rerank cosine, q42/q43) keep the
    JVM fold: candidate-bounded volume, and the left-fold order is
    what makes the SCORE values bit-reproducible cross-engine.
    (An all-scalar unrolled form was also tried: 4.4× slower than the
    HOF — recorded in round 2.)"""
    neg = [[-float(x) for x in c] for c in cents]

    @pandas_udf("array<double>")
    def _negdots(vs: pd.Series) -> pd.Series:
        # self-contained closure: imports inside the body so executors
        # never need this module importable (foreign-cwd contract)
        import numpy as _np
        import pandas as _pd

        m = _np.asarray(neg, dtype=_np.float64)
        return _pd.Series(list(_np.vstack(vs.to_numpy()) @ m.T))

    return F.transform(
        _negdots(v),
        lambda x, i: F.struct(x.alias("negdot"), i.cast("int").alias("cell")),
    )


def topk_ivf(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization — the
    scale-path alternative to topk_lsh.

    Each corpus vector is assigned to its nearest of ``n_cells``
    centroids (argmin via array_min over a literal centroid array —
    zero-shuffle, whole-stage-codegen'd). Queries probe their
    ``nprobe`` nearest cells; candidates come from an equi-join on
    cell id with the tiny query side broadcast, then exact cosine
    rerank + windowed top-k. Expected candidate volume is
    N·Q·nprobe/n_cells — at 100 TB the cell id becomes the parquet
    partition key so a probe prunes (n_cells−nprobe)/n_cells of the
    scan entirely.

    "Approximate" only relative to brute force — given the (seeded,
    deterministic) centroids the result is fully reproducible, so the
    DuckDB oracle in queries.py replays the same assignment → probe →
    rerank with the centroid literals inlined and hash-matches it.
    Tests additionally check recall against the brute-force tier.
    """
    cents = _centroids(n_cells)
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    )
    corpus = e.withColumn(
        "cell", F.array_min(_cell_scores(F.col("v"), cents))["cell"]
    )
    queries = (
        e.filter(F.col("vec_id") < n_queries)
        .withColumn(
            "probe",
            F.slice(F.array_sort(_cell_scores(F.col("v"), cents)), 1, nprobe),
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(F.col("probe")["cell"]).alias("cell"),
        )
    )
    cand = corpus.join(
        F.broadcast(queries),
        on=["cell"],
    ).filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("v")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        # round for cross-engine hash stability; ranking above uses
        # the unrounded score (same contract as topk_bruteforce)
        .select("query_id", "rnk", "neighbor_id", F.round("cos", 6).alias("cos"))
        .orderBy("query_id", "rnk")
    )


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function kit on embeddings: dimensionality, first
    component, L2 norm, per-label aggregates."""
    e = load_table(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    return (
        e.select(
            "vec_id",
            "label",
            F.size("embedding").cast("long").alias("dim"),
            F.element_at("embedding", 1).cast("double").alias("first_comp"),
            F.round(F.sqrt(dot(v, v)), 6).alias("l2_norm"),
        )
        .orderBy("vec_id")
    )


def kmeans_step(spark: SparkSession, sf_dir: str, n_cells: int = 8) -> DataFrame:
    """One Lloyd iteration of k-means over the embeddings — the
    iterative-ML primitive behind IVF centroid training (q21's
    docstring promises "k-means centroids trained offline"; this is
    that trainer's inner loop as a single Spark plan). Assignment
    reuses the Arrow-batched cell scorer (argmax dot ≡ argmin
    distance for the unit-norm seeded centroids, deterministic
    cell-id tiebreak — identical semantics to topk_ivf's, already
    oracle-proven); the update step is posexplode → one partial+final
    hash agg keyed (cell, dim) — the shuffle carries n_cells·dim
    aggregate rows per partition, never vectors, which is the
    scale-correct shape for any corpus size. A full trainer loops
    this plan with the returned means as the next round's literals
    (driver-side centroid refresh, n_cells·dim doubles — tiny by
    construction, the same pattern as the CC loop's per-round sync).

    Emits (cell, dim, c_new, n_members) — the updated centroid matrix
    in long form, rounded to 6dp (absorbs partial-agg summation-order
    ulps cross-engine; membership counts are exact)."""
    cents = _centroids(n_cells)
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    )
    corpus = e.withColumn(
        "cell", F.array_min(_cell_scores(F.col("v"), cents))["cell"]
    )
    ex = corpus.select("cell", F.posexplode("v").alias("dim", "x"))
    return (
        ex.groupBy("cell", "dim")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("x"), 6).alias("c_new"),
        )
        .select("cell", F.col("dim").cast("int").alias("dim"), "c_new", "n_members")
        .orderBy("cell", "dim")
    )


def kmeans_train(
    spark: SparkSession, sf_dir: str, n_cells: int = 8, n_iters: int = 5
) -> DataFrame:
    """k-means training: ``n_iters`` Lloyd iterations from the seeded
    centroids — the trainer q21's docstring promises ("k-means
    centroids trained offline"), closing the one seeded-constants gap
    in the ANN story. kmeans_step (q102) is this loop's body run
    once; here the loop actually iterates, with the refreshed
    centroids fed back as next-round literals.

    Distributed shape (the CC-loop pattern, cluster_labels): each
    round is one independent Spark job — Arrow-matmul assignment
    (argmax dot ≡ argmin distance for these centroids, deterministic
    cell tiebreak) → posexplode → (cell, dim)-keyed partial+final
    avg — and the ONLY driver-side state is the n_cells×dim centroid
    matrix (512 doubles; the analog of the CC loop's convergence
    count). No checkpointing is needed, unlike CC: the iteration
    state lives on the driver, so every round's lineage starts at
    the parquet scan — lineage never grows. At 100 TB each round is
    a scan + one tiny-keyed agg; the shuffle carries n_cells·dim
    aggregate cells, never vectors.

    A FIXED iteration count (not a tolerance stop) is the contract:
    it makes the result replayable by a non-iterative engine — the
    DuckDB oracle unrolls exactly n_iters assign→update rounds as
    CTEs and must hash-match. Convergence is still verified:
    tests/test_llm_ops.py pins the per-round centroid shift trajectory
    (strictly decreasing, final shift ≲ 1e-2 on every fixture sf)
    against an independent numpy replay, plus the non-empty-cell
    invariant. Per-round means are rounded to 6dp BEFORE feeding the
    next round (both engines see identical literals, so cross-engine
    float drift cannot compound across rounds); empty cells carry
    their previous centroid unrounded.

    Emits (cell, dim, c_trained, n_members) — the trained centroid
    matrix in long form after the final update."""
    dim = DIM
    cents = [[float(x) for x in c] for c in _centroids(n_cells)]
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    )

    def round_means(cur: list[list[float]]) -> DataFrame:
        corpus = e.withColumn(
            "cell", F.array_min(_cell_scores(F.col("v"), cur))["cell"]
        )
        ex = corpus.select("cell", F.posexplode("v").alias("dim", "x"))
        return ex.groupBy("cell", "dim").agg(
            F.count("*").alias("n"), F.round(F.avg("x"), 6).alias("c")
        )

    # rounds 1..n_iters-1 update driver-side state; the FINAL round
    # stays a plan so the returned DataFrame computes distributed
    for _ in range(n_iters - 1):
        got = {
            (r["cell"], r["dim"]): r["c"] for r in round_means(cents).collect()
        }
        cents = [
            [got.get((ci, di), cents[ci][di]) for di in range(dim)]
            for ci in range(n_cells)
        ]

    grid = spark.createDataFrame(
        [(ci, di, cents[ci][di]) for ci in range(n_cells) for di in range(dim)],
        "cell int, dim int, carry double",
    )
    # the means side is ≤ n_cells·dim aggregate rows — broadcast it
    # (the RIGHT side of the left-outer, the side Spark can broadcast)
    m = F.broadcast(round_means(cents))
    return (
        grid.join(m, ["cell", "dim"], "left")
        .select(
            "cell",
            "dim",
            F.round(F.coalesce(F.col("c"), F.col("carry")), 6).alias("c_trained"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_members"),
        )
        .orderBy("cell", "dim")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    compression step a 100 TB vector corpus runs before ANN serving
    (4× smaller than float32, 8× than float64; cell-local scale keeps
    recall). Per vector: scale = max|x|/127, q_i = floor(x_i/scale +
    0.5) (explicit half-up — engine-unambiguous, unlike numpy's
    half-to-even rint), reconstruction error = ||x − q·scale||₂.

    API surface: this is the engine's ``mapInArrow`` exercise — the
    lowest-level Arrow entry point (raw RecordBatch in/out, no pandas
    conversion), completing the Python-vectorization family next to
    the scalar pandas UDF (``_cell_scores``), grouped-agg UDAF (q11), UDTF
    (q12), applyInPandas (q74), mapInPandas (q32) and
    applyInPandasWithState (q09). Scale shape: stateless map over the
    scan, no shuffle until the presentation sort.

    scale is a single IEEE division (bit-identical cross-engine,
    emitted unrounded); err_l2 sums squares in engine-internal order
    → rounded to 6dp like every fold-order-sensitive float result."""
    import pyarrow as pa

    def quant(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            ids = b.column("vec_id").to_numpy()
            vecs = np.asarray(b.column("v").to_pylist(), dtype=np.float64)
            amax = np.abs(vecs).max(axis=1)
            scale = amax / 127.0
            q = np.floor(vecs / scale[:, None] + 0.5)
            err = np.sqrt(((vecs - q * scale[:, None]) ** 2).sum(axis=1))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(scale, type=pa.float64()),
                    pa.array(np.round(err, 6), type=pa.float64()),
                ],
                names=["vec_id", "scale", "err_l2"],
            )

    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    )
    return e.mapInArrow(
        quant, schema="vec_id long, scale double, err_l2 double"
    ).orderBy("vec_id")


def power_iteration(
    spark: SparkSession, sf_dir: str, n_iters: int = 3
) -> DataFrame:
    """Top principal direction of the embedding matrix by POWER
    ITERATION — the dominant right-singular vector of the raw
    (uncentered) vector stack, the core of PCA whitening /
    anisotropy diagnostics ("all-but-the-top", arXiv:1702.01417)
    over an embedding corpus.

    Each round is two distributed contractions, never a materialized
    64×64 covariance (at 100 TB the Gram matrix is the wrong object —
    the matvec streams the corpus instead):
      s_i = ⟨v_i, x⟩   (per-vector dot with the broadcast literal x)
      y_d = Σ_i v_id·s_i  (one (dim)-keyed partial+final agg —
            the shuffle carries 64 cells, never vectors)
    then x ← round(y/‖y‖, 6dp).

    Replay contract (the q118 convention): FIXED iteration count,
    x₀ = 1/√64 = 0.125 exactly, per-round output rounded to 6dp so
    both engines feed identical literals into the next round and
    float drift cannot compound. Rounds 1..n−1 update driver state
    (64 doubles); the FINAL round stays a plan. The oracle unrolls
    the same rounds as CTEs. Sign is pinned by x₀.

    Convergence is geometric in the spectral-gap ratio, so on a
    near-isotropic corpus (like this fixture) the fixed-round result
    is an ESTIMATE whose guarantee is Rayleigh-quotient monotonicity,
    not SVD alignment — the test pins exactly that plus an
    independent numpy replay of the contract.

    Emits (dim, loading) — the unit iterate after n_iters rounds."""
    dim = DIM
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    )

    def dots(x: list[float]):
        xs = F.array(*[F.lit(c) for c in x])
        return F.aggregate(
            F.zip_with(F.col("v"), xs, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    def y_frame(x: list[float]) -> DataFrame:
        # r14 (guide §2.4): s_i is a function of the SAME row as v_i,
        # so it rides the scan as a projected column — the previous
        # vec_id self-join (e ⋈ e-derived s) re-scanned the corpus
        # and shuffled it by vec_id every round for values already in
        # hand. Per round: one scan, zero joins; the only shuffle is
        # the 64-key dim agg. Identical arithmetic per row, identical
        # aggregation — same values.
        return (
            e.withColumn("s", dots(x))
            .select(F.posexplode("v").alias("dim", "val"), "s")
            .groupBy("dim")
            .agg(F.sum(F.col("val") * F.col("s")).alias("y"))
        )

    def round6_away(v: float) -> float:
        # half-away-from-zero at 6dp — Spark round()/DuckDB ROUND()
        import math as _m

        scaled = v * 1e6
        return (_m.floor(scaled + 0.5) if v >= 0 else _m.ceil(scaled - 0.5)) / 1e6

    x = [0.125] * dim
    for _ in range(n_iters - 1):
        got = {r["dim"]: r["y"] for r in y_frame(x).collect()}
        ys = [got.get(d, 0.0) for d in range(dim)]
        norm = sum(v * v for v in ys) ** 0.5
        x = [round6_away(v / norm) for v in ys]

    # the 64-row final iterate feeds both the norm agg and the output
    # select — materialize it so the final corpus pass runs once
    y = y_frame(x).localCheckpoint(eager=False)
    n = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("n"))
    return (
        y.join(F.broadcast(n))
        .select("dim", F.round(F.col("y") / F.col("n"), 6).alias("loading"))
        .orderBy("dim")
    )


def hard_negative_mining(
    spark: SparkSession, sf_dir: str, n_queries: int = 8, k: int = 3
) -> DataFrame:
    """Contrastive-training hard negatives: for each query vector, the
    ``k`` most-cosine-similar corpus vectors with a DIFFERENT label —
    the mining step that builds (anchor, hard-negative) pairs for
    embedding-model training. Same exact-scoring discipline as q43
    (the un-filtered top-k); the label inequality is the only new
    predicate, so the two operators bracket the retrieval surface:
    nearest overall vs nearest wrong-class.

    Scale shape identical to q43: tiny query side broadcast, corpus
    side never shuffles, per-query top-k via partitioned window.
    The label filter composes into the broadcast-join predicate, so
    pruning happens before scoring. Ties break by neighbor_id;
    scores are ranked unrounded (deterministic fold order both
    engines) and emitted rounded 6dp."""
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _as_double(F.col("embedding")).alias("v")
        )
    )
    queries = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
    )
    pairs = e.crossJoin(F.broadcast(queries)).filter(
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("query_label"))
    )
    scored = pairs.select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        cosine(F.col("qv"), F.col("v")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "query_label",
            "rnk",
            "neighbor_id",
            "neighbor_label",
            F.round("cos", 6).alias("cos"),
        )
        .orderBy("query_id", "rnk")
    )


def ann_recall_eval(spark: SparkSession, sf_dir: str,
                    n_queries: int = 5, k: int = 5) -> DataFrame:
    """Index-quality evaluation as a first-class query: recall@k of
    the LSH ANN index (q44) against the exact brute force (q43),
    per query and corpus-mean — the metric that decides whether an
    approximate index is shippable, computed INSIDE the engine (at
    100 TB you evaluate on a sampled query set exactly this way;
    the ground-truth side is the only brute-force pass and is
    bounded by the sample).

    Both inputs are deterministic (seeded hyperplanes, tie-broken
    rankings), so recall is exact and the oracle replays both sides.
    Shape: two top-k runs joined on (query, neighbor) — the eval is
    an anti/semi-join accounting, not a new scan."""
    exact = topk_bruteforce(spark, sf_dir, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    approx = topk_lsh(spark, sf_dir, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("n_hit"))
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_true"), 6
            ).alias("recall_at_k"),
        )
    )
    return per_q.orderBy("query_id")


def sparse_cosine_topk(
    spark: SparkSession, sf_dir: str,
    k: int = 5, max_df: int = 60, min_dot: int = 2,
) -> DataFrame:
    """Sparse term-frequency cosine top-k: for every document, the k
    most TF-cosine-similar other documents, computed through an
    INVERTED-INDEX join (the BM25/q101 posting shape turned
    pairwise) — the lexical complement of the dense-embedding
    brute force (q43): dot(a,b) = Σ_t tf_a·tf_b accumulates only
    over SHARED tokens, so the join work is Σ_t |posting(t)|², never
    |docs|².

    The ``max_df`` cap drops tokens whose posting list exceeds it
    from BOTH the pairing and the norms — the standard stop-word
    guard that keeps Σ|posting|² bounded on dense vocabularies
    (SCALE.md round-7: with a closed vocabulary, uncapped posting
    lists grow ∝ corpus and the index join degenerates toward
    all-pairs; the cap makes the semantics 'cosine over the
    discriminative vocabulary', stated, not hidden). ``min_dot``
    prunes noise pairs before the top-k window.

    Exactness: tf counts, dot products and squared norms are exact
    integers; cosine = dot / sqrt(na2·nb2) is one double expression
    over them, rounded 6dp; top-k per doc via a doc-partitioned
    window (parallel) with (cos, doc_b) ordering so ties are
    deterministic."""
    from etl_geonet_quakes_spark.llm.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    tf = d.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("t").agg(F.count("*").alias("df"))
    kept = tf.join(
        F.broadcast(df_tbl.filter(F.col("df") <= max_df)), "t"
    ).select("doc_id", "t", "tf")
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = kept.select(
        F.col("doc_id").alias("doc_a"), "t", F.col("tf").alias("tf_a")
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), "t", F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "t")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
        .filter(F.col("dot") >= min_dot)
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "cos",
            F.round(
                F.col("dot")
                / F.sqrt((F.col("na2") * F.col("nb2")).cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_a").orderBy(F.desc("cos"), "doc_b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_a", "doc_b", "dot", "cos",
                F.col("rn").cast("long").alias("rank"))
        .orderBy("doc_a", "rank")
    )


# --- Johnson–Lindenstrauss projection audit -------------------------

JL_K = 16  # target dimensionality of the sketch


def jl_signs(k: int = JL_K, dim: int = DIM) -> list[list[int]]:
    """Deterministic Rademacher ±1 projection matrix: sign(c, j) =
    +1 iff the md5 of "c:j" has an even low hex digit — the same
    engine-independent md5 discipline as dedup.md5_feature_hash, so
    an external oracle regenerates the identical matrix (DuckDB
    replays it inline as literals; both derivations are pinned equal
    in tests). Hash-derived instead of rng-seeded so NO numpy state
    is part of the contract."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{c}:{j}".encode()).hexdigest()[15], 16) % 2 == 0
            else -1
            for j in range(dim)
        ]
        for c in range(k)
    ]


def jl_projection_audit(
    spark: SparkSession, sf_dir: str, k: int = JL_K, sample_mod: int = 10
) -> DataFrame:
    """Johnson–Lindenstrauss random-projection distance audit: project
    every sampled embedding from DIM=64 to k=16 via a deterministic
    Rademacher ±1 matrix, then report, for every sampled pair, the
    squared L2 distance before and after and the distortion ratio
    (d²_proj / k) / d²_orig — the measured ε of the JL lemma on this
    corpus, the audit a pipeline runs before trusting a sketch
    dimension for dedup/ANN.

    Scale shape: the projection is a per-row map (k fold-left dot
    products against BROADCAST-LITERAL sign rows — constant-folded,
    no shuffle, no UDF); the pair audit runs on a mod-sampled slice
    (|sample|² pairs, bounded by construction) while production would
    project the full 100 TB corpus with the same map. Fold order is
    ascending-j on both engines (F.aggregate ≡ DuckDB list_reduce),
    so sums are bit-identical; outputs still round 6dp per module
    float discipline. Ties/NaNs: zero-norm originals are excluded
    (division guard), pairs ordered a < b."""
    signs = jl_signs(k)
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    ).filter(F.col("vec_id") % sample_mod == 0)
    proj = e.select(
        "vec_id",
        "v",
        F.array(
            *[
                dot(F.col("v"), F.array(*[F.lit(float(s)) for s in row]))
                for row in signs
            ]
        ).alias("p"),
    )
    a = proj.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("p").alias("pa"),
    )
    b = proj.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("p").alias("pb"),
    )

    def d2(u: Column, w: Column) -> Column:
        return F.aggregate(
            F.zip_with(u, w, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    pairs = (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            d2(F.col("va"), F.col("vb")).alias("d2_orig"),
            (d2(F.col("pa"), F.col("pb")) / F.lit(float(k))).alias("d2_proj"),
        )
        .filter(F.col("d2_orig") > 0)
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        F.round("d2_orig", 6).alias("d2_orig"),
        F.round("d2_proj", 6).alias("d2_proj"),
        F.round(F.col("d2_proj") / F.col("d2_orig"), 6).alias("distortion"),
    ).orderBy("vec_a", "vec_b")


def centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift between two corpus halves
    (even vs odd vec_ids — in production: two time windows): for
    every label, the L2 distance and cosine similarity between the
    two halves' mean vectors — SEMANTIC drift, the embedding-space
    sibling of the lexical drift family (q183 PSI / q209 KL / q221
    KS all compare scalar distributions; this compares where each
    class LIVES in representation space).

    Exactness (the module discipline applied to vector means): each
    component is rounded 6dp then cast DECIMAL(28,6), so per-
    dimension sums are associative ⇒ partition-order-independent and
    engine-exact; the mean's single double division and the final
    fold-ascending distance/cosine are then bit-reproducible, rounded
    6dp on emit. Distributed shape: posexplode to (label, half, dim)
    → ONE partial+final hash agg (64·|labels|·2 groups — tiny), means
    reassembled into ordered arrays via array_sort(collect_list) over
    the 64-row groups; the |corpus|-sized input is touched exactly
    once, nothing collects."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).cast("long").alias("h"),
        F.posexplode(F.col("embedding")).alias("pos", "x"),
    )
    per_dim = e.groupBy("label", "h", "pos").agg(
        F.sum(
            F.round(F.col("x").cast("double"), 6).cast("decimal(28,6)")
        ).alias("s"),
        F.count("*").alias("n"),
    )
    per_half = per_dim.groupBy("label", "h").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        (F.col("s").cast("string").cast("double") / F.col("n"))
                        .alias("m"),
                    )
                )
            ),
            lambda st: st.m,
        ).alias("m"),
        F.first("n").alias("n"),
    )
    ev = per_half.filter(F.col("h") == 0).select(
        "label", F.col("m").alias("me"), F.col("n").alias("n_even")
    )
    od = per_half.filter(F.col("h") == 1).select(
        "label", F.col("m").alias("mo"), F.col("n").alias("n_odd")
    )

    def fold(col: Column) -> Column:
        return F.aggregate(col, F.lit(0.0), lambda a, x: a + x)

    d2 = fold(F.zip_with(F.col("me"), F.col("mo"), lambda a, b: (a - b) * (a - b)))
    dotp = fold(F.zip_with(F.col("me"), F.col("mo"), lambda a, b: a * b))
    na2 = fold(F.transform(F.col("me"), lambda a: a * a))
    nb2 = fold(F.transform(F.col("mo"), lambda a: a * a))
    return (
        ev.join(od, "label")
        .select(
            "label",
            "n_even",
            "n_odd",
            F.round(F.sqrt(d2), 6).alias("l2_drift"),
            F.round(dotp / (F.sqrt(na2) * F.sqrt(nb2)), 6).alias("cos_sim"),
        )
        .orderBy("label")
    )


def rrf_hybrid_fusion(
    spark: SparkSession, sf_dir: str,
    query_terms: tuple = ("spark", "hash", "join", "window"),
    query_vec_id: int = 1, rrf_k: int = 60, topn: int = 15,
) -> DataFrame:
    """Reciprocal-rank fusion of LEXICAL (BM25, q101's exact scoring
    expression) and SEMANTIC (exact cosine to a query embedding,
    q43's machinery) rankings — the hybrid-search combiner every
    production retrieval stack runs (OpenSearch/Elastic RRF;
    Cormack et al. 2009): rrf(d) = Σ_r 1/(k + rank_r(d)) over the
    rankings that contain d, top-``topn`` by fused score.

    Determinism: the LEXICAL ranking keys on the 6dp-ROUNDED
    fixed-order BM25 score (q101's round-11 repair — a SUM over term
    rows let hash-agg combine order split identical (tf, dl) profiles
    by one ulp and shuffle mid-list ranks at the sf1.0 tiling, where
    tiled copies tie by construction); the SEMANTIC ranking keys on
    the unrounded cosine, which is a per-row fixed-order array fold
    (no combine-order hazard). Ties break by doc_id. The fused score
    is a FIXED two-term sum of exact reciprocals of integer ranks,
    rounded 6dp. Docs and vectors align by doc_id = vec_id; a
    document missing from one ranking simply contributes that
    ranking's term as 0 (full outer join + coalesce — absence is
    information, not an error).

    Scale: each ranking is its parent's shape (scan-stage explode +
    broadcast stats for BM25; broadcast query vector for cosine);
    the fusion join is rank-table sized, and top-n is
    TakeOrderedAndProject. Repeated query terms are deduped
    (order-preserving) before the pivot — duplicates would emit
    duplicate pivot columns (ambiguous-column AnalysisException);
    BM25 scores a term SET and tf already counts repetitions."""
    query_terms = tuple(dict.fromkeys(query_terms))
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("double").alias("dl"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    tf = (
        tok.filter(F.col("token").isin(*query_terms))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count("*").alias("tf"))
    )
    stats = d.agg(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " ")).cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("avgdl"),
    )
    dfreq = tf.groupBy("token").agg(
        F.count("*").cast("double").alias("df")
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "token")
        .join(F.broadcast(stats), F.lit(True))
        .select(
            "doc_id",
            "token",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (
                    F.col("tf") * F.lit(2.2)
                    / (
                        F.col("tf")
                        + F.lit(1.2)
                        * (
                            F.lit(0.25)
                            + F.lit(0.75) * F.col("dl") / F.col("avgdl")
                        )
                    )
                )
            ).alias("ts"),
        )
    )
    # q101's fixed-order pivot: one row per (doc, token) ⇒ first() is
    # exact; the add runs left-to-right so identical profiles are
    # bit-identical, and the rank key is the ROUNDED score
    wide = per_term.groupBy("doc_id").pivot(
        "token", list(query_terms)
    ).agg(F.first("ts"))
    lex_key = F.lit(0.0)
    for t in query_terms:
        lex_key = lex_key + F.coalesce(F.col(f"`{t}`"), F.lit(0.0))
    lex_scored = wide.select(
        "doc_id", F.round(lex_key, 6).alias("lex_score")
    )
    wl = Window.orderBy(F.col("lex_score").desc(), F.col("doc_id").asc())
    lex = lex_scored.select(
        "doc_id", F.row_number().over(wl).alias("rank_lex")
    )
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    )
    qv = e.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("qv")
    )
    sem_scored = (
        e.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(qv), F.lit(True))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    ws = Window.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    sem = sem_scored.select(
        "doc_id", F.row_number().over(ws).alias("rank_sem")
    )
    kk = F.lit(float(rrf_k))
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_lex",
            "rank_sem",
            (
                F.coalesce(
                    F.lit(1.0) / (kk + F.col("rank_lex").cast("double")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (kk + F.col("rank_sem").cast("double")),
                    F.lit(0.0),
                )
            ).alias("rrf_raw"),
        )
    )
    wf = Window.orderBy(F.col("rrf_raw").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= topn)
        .select(
            "rnk",
            "doc_id",
            "rank_lex",
            "rank_sem",
            F.round(F.col("rrf_raw"), 6).alias("rrf_score"),
        )
        .orderBy("rnk")
    )


def silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette of the embedding corpus
    under its ``label`` clustering: per vector, a = distance to own
    label's centroid, b = min distance to any OTHER label's centroid,
    s = (b−a)/max(a,b) — the clustering-quality audit for the k-means
    family (q102/q118 fit centroids, q223 tracks their drift; this
    scores how separable the clustering actually is). Simplified
    silhouette is the scale-honest variant: the classic one is
    all-pairs within/between clusters (corpus² — unshippable), the
    centroid form is one pass, and they rank clusterings identically
    in practice (Hruschka et al.).

    Exactness: centroids use the q223 per-dimension decimal-sum
    discipline; per-vector distances fold ascending over zip_with
    (bit-reproducible); the min-over-other-labels breaks ties by
    (distance, label); per-vector s rounds 6dp FIRST and sums as
    DECIMAL(18,6), so the per-label mean is associative and
    engine-exact. Distributed shape: one posexplode agg for
    centroids (64·|labels| groups), one broadcast of the |labels|
    centroid structs, one map-side distance pass, one label agg —
    corpus touched twice, nothing collects."""
    e = load_table(spark, sf_dir, "embeddings")
    per_dim = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).groupBy("label", "pos").agg(
        F.sum(
            F.round(F.col("x").cast("double"), 6).cast("decimal(28,6)")
        ).alias("s"),
        F.count("*").alias("n"),
    )
    cents = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        (F.col("s").cast("string").cast("double") / F.col("n"))
                        .alias("m"),
                    )
                )
            ),
            lambda st: st.m,
        ).alias("c"),
    )
    allc = cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("label").alias("cl"), "c"))
        ).alias("cs")
    )

    def dist(vec, cent):
        return F.sqrt(
            F.aggregate(
                F.zip_with(
                    vec,
                    cent,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )

    scored = e.join(F.broadcast(allc), F.lit(True)).select(
        "label",
        F.transform(
            "cs",
            lambda c: F.struct(
                dist(F.col("embedding"), c["c"]).alias("d"),
                c["cl"].alias("cl"),
            ),
        ).alias("ds"),
    )
    a = F.element_at(
        F.filter("ds", lambda d: d["cl"] == F.col("label")), 1
    )["d"]
    b = F.array_min(F.filter("ds", lambda d: d["cl"] != F.col("label")))["d"]
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    return (
        scored.select("label", F.round(s, 6).cast("decimal(18,6)").alias("s"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(
                F.sum("s").cast("double") / F.count("*").cast("double"), 6
            ).alias("mean_silhouette"),
            F.sum((F.col("s") < 0).cast("long")).alias("n_negative"),
        )
        .orderBy("label")
    )


def dunn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based Dunn index of the label clustering — the
    single-number separability certificate pairing with q351's
    per-label silhouette: D = (min inter-centroid distance) /
    (2 · max mean distance-to-own-centroid). Higher = tighter,
    better-separated clusters; the centroid form (Bezdek & Pal's
    ν-variants) replaces the classic all-pairs min/max diameters
    with one-pass statistics, same scale honesty as q351.

    Centroids follow the q223 decimal discipline; the |labels|²
    inter-centroid min is a broadcast self-join of a bounded frame;
    per-vector distances fold ascending (bit-reproducible), rounded
    6dp and averaged via DECIMAL sums. Output one row: both Dunn
    ingredients and the index."""
    e = load_table(spark, sf_dir, "embeddings")
    per_dim = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).groupBy("label", "pos").agg(
        F.sum(
            F.round(F.col("x").cast("double"), 6).cast("decimal(28,6)")
        ).alias("s"),
        F.count("*").alias("n"),
    )
    cents = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        (F.col("s").cast("string").cast("double") / F.col("n"))
                        .alias("m"),
                    )
                )
            ),
            lambda st: st.m,
        ).alias("c"),
    )

    def dist(vec, cent, cast_left=False):
        left = (lambda a: a.cast("double")) if cast_left else (lambda a: a)
        return F.sqrt(
            F.aggregate(
                F.zip_with(
                    vec, cent, lambda a, b: (left(a) - b) * (left(a) - b)
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )

    ca, cb = cents.alias("ca"), cents.alias("cb")
    inter = (
        ca.join(F.broadcast(cb), F.col("ca.label") < F.col("cb.label"))
        .select(dist(F.col("ca.c"), F.col("cb.c")).alias("d"))
        .agg(F.min("d").alias("min_inter"))
    )
    intra = (
        e.join(F.broadcast(cents), "label")
        .select(
            "label",
            F.round(dist(F.col("embedding"), F.col("c"), cast_left=True), 6)
            .cast("decimal(18,6)")
            .alias("d"),
        )
        .groupBy("label")
        .agg(
            (F.sum("d").cast("double") / F.count("*").cast("double")).alias(
                "mean_d"
            )
        )
        .agg(F.max("mean_d").alias("max_intra"))
    )
    return inter.join(F.broadcast(intra), F.lit(True)).select(
        F.round("min_inter", 6).alias("min_inter_centroid"),
        F.round("max_intra", 6).alias("max_mean_intra"),
        F.round(
            F.col("min_inter") / (F.lit(2.0) * F.col("max_intra")), 6
        ).alias("dunn_index"),
    )
