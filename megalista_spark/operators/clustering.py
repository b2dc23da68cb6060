"""Iterative clustering over embedding columns — Lloyd's k-means as a
driver-side loop of declarative DataFrame steps.

This is the "training" counterpart of the IVF index in
``operators/similarity.py`` (which deliberately uses deterministic
lowest-id centroids): same dataflow per iteration —

  assign:  corpus × broadcast(centroids) → per-vector argmin distance
           (rank over (rounded distance, centroid id) — fully
           deterministic, engine-portable tie-break)
  update:  posexplode vectors → avg per (cluster, dim) → rebuild arrays

Each iteration is ONE shuffle (the per-dimension mean); the assignment
side is map-only because the centroid table (k rows) broadcasts. That is
the canonical Spark shape for iterative ML: small model state cycles
through the driver, big data never moves.

Cross-engine reproducibility (the oracle runs the SAME algorithm in SQL):
distances and centroid components are rounded to 6dp at every iteration
boundary, so both engines re-synchronize on identical inputs each round
instead of accumulating float-order drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _lloyd(
    df: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
):
    """Shared Lloyd's loop → (last assignment, final centroids)."""
    # cache the prepared corpus for the iteration loop — every round's
    # assignment and mean, plus the per-round centroid materialization,
    # re-reads it (the MLlib pattern: cache the working set, iterate with
    # small driver-side state). MEMORY_AND_DISK, so oversized corpora
    # spill instead of failing; stays cached for the caller's final
    # action on the returned lineage.
    vecs = df.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # Scale-adaptive width, keyed layout (r13). Two prior failure modes:
    # a small-file local corpus (one parquet file → 1-4 partitions)
    # serialized the O(n·k·dim) assignment onto a few cores while 28
    # idled (measured: k=782 at sf1 pinned ONE core for minutes), while
    # blanket repartition(defaultParallelism) made every TINY fit (train
    # samples are capped at max(4096, 32k) rows) pay ~16 sequential AQE
    # stage-jobs of 33 tasks each per call — pure scheduler overhead
    # (measured: the whole ann_ivf_auto fit at sf0.1 is 2000 rows yet
    # cost ~3-5 s). Width now derives from the actual assignment work:
    # the zip_with/aggregate distance is a CodegenFallback expression
    # (measured ~19 µs per (row, centroid) pair at dim=64 — it
    # materializes a per-pair array), so ~25k pairs ≈ 0.5 s per task,
    # and local fits collapse to a few partitions while cluster-scale
    # fits still fan out to every core. Partitioning HASH-BY-vid (not round-robin) lets the
    # per-iteration groupBy("vid") argmin and the vid join-back reuse
    # the cached layout — zero corpus-sized Exchange per iteration
    # (guide §2.4: two operations keyed the same way share one
    # exchange). The exact count() here is column-pruned (a parquet
    # row-count scan) and doubles as the width oracle.
    sc = df.sparkSession.sparkContext
    n_train = vecs.count()
    parts = min(sc.defaultParallelism, max(1, -(-n_train * k // 25_000)))
    vecs = vecs.repartition(parts, "vid").persist()
    # single-partition window, but over the orderBy("vid").limit(k) output:
    # it never sees more than k rows
    w_init = Window.orderBy("vid")
    centroids = (
        vecs.orderBy("vid")
        .limit(k)
        .select((F.row_number().over(w_init) - 1).alias("cid"), F.col("v").alias("cv"))
    )

    # Iterative-Spark discipline: the centroid table is tiny (k rows) but
    # its LINEAGE doubles every iteration (each round's plan embeds the
    # previous round's join) — exponential plan growth is the classic
    # iterative-algorithm trap. Materialize the model state to the driver
    # each round so every iteration's plan is flat; values are already
    # 6dp-rounded so this changes nothing numerically.
    spark = df.sparkSession

    def _materialize(c: DataFrame) -> DataFrame:
        rows = [(r["cid"], list(r["cv"])) for r in c.collect()]
        return spark.createDataFrame(rows, "cid int, cv array<double>")

    # argmin by PRIMITIVE hash aggregate: (d, cid) encodes into one
    # bigint — d is already 6dp-rounded, so d_micro = round(d·1e6) is
    # exact, and key = d_micro·2^20 + cid preserves the lexicographic
    # (d, cid) order bit-for-bit (k < 2^20 by contract). min(bigint)
    # stays inside whole-stage codegen with map-side partial combine, so
    # the n·k expansion collapses to ~one long per vid per task before
    # the shuffle. The earlier forms both lost this: a per-vid WINDOW
    # shuffled and sorted all n·k rows (39M at k=782/sf1 — the measured
    # straggler), and min(struct(d, cid, v)) fell back to
    # ObjectHashAggregate copying 64-double arrays per new minimum
    # (measured ~2× slower than this at sf1). The vector joins back by
    # vid from the persisted corpus — an n-row narrow join per round.
    if k >= (1 << 20):
        raise ValueError(f"_lloyd supports k < 2^20 (got {k})")
    d_bound = (1 << 42) - 1  # d_micro·2^20 must stay under 2^63
    assigned = None
    for _ in range(iters):
        d = F.round(_sq_dist(F.col("v"), F.col("cv")), 6)
        d_micro = F.round(d * 1_000_000).cast("bigint")
        # a NULL vector or a centroid/vector dimension mismatch makes
        # d_micro NULL; without the explicit IS NULL branch such rows
        # fell through the headroom WHEN into the misleading "rescale
        # the vectors" error (the old window form silently tolerated
        # them) — diagnose them by name instead
        key = (
            F.when(
                d_micro.isNull(),
                F.raise_error(
                    F.lit(
                        "_lloyd: NULL distance - a NULL or "
                        "mismatched-dimension vector reached the "
                        "assignment stage; filter NULL/ragged vectors "
                        "before clustering"
                    )
                ).cast("bigint"),
            )
            .when(
                d_micro <= F.lit(d_bound),
                d_micro * F.lit(1 << 20) + F.col("cid"),
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "_lloyd: squared distance exceeds the bigint argmin "
                        "encoding headroom (d > ~4.4e6) - rescale the vectors"
                    )
                ).cast("bigint")
            )
        )
        best = (
            vecs.join(F.broadcast(centroids))
            .select("vid", key.alias("_k"))
            .groupBy("vid")
            .agg(F.min("_k").alias("_k"))
            .select("vid", F.pmod(F.col("_k"), F.lit(1 << 20)).cast("int").alias("cid"))
        )
        assigned = vecs.join(best, "vid").select("vid", "v", "cid")
        centroids = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("mval"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                    lambda s: s.getField("mval"),
                ).alias("cv")
            )
        )
        centroids = _materialize(centroids)

    return assigned, centroids


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained centroids as (cid, cv array<double>) — feed directly into
    ``similarity.ivf_cosine_topk(..., centroids=...)`` to replace its
    deterministic lowest-id fallback with real cluster centers."""
    _, centroids = _lloyd(df, k, iters, id_col, vec_col)
    return centroids


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means, deterministic: init = the ``k`` vectors with the
    lowest ids (cid assigned in id order), squared-Euclidean assignment
    with (distance, cid) tie-break. Returns one row per cluster:
    (cid, n_members, c0, c1) — the first two (rounded) centroid
    components summarize the centroid for comparison."""
    assigned, centroids = _lloyd(df, k, iters, id_col, vec_col)
    return (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(
            centroids.select(
                "cid",
                F.get("cv", 0).alias("c0"),
                F.get("cv", 1).alias("c1"),
            ),
            "cid",
        )
        .select("cid", "n_members", "c0", "c1")
        .orderBy("cid")
    )
