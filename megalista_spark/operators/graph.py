"""Graph operators: PageRank as a driver-side loop of declarative
DataFrame steps, companion to the min-label connected-components
propagation in ``operators/dedup.py`` (``min_label_groups``).

The kernel is the canonical join-based message-passing shape — the same
dataflow GraphX/Pregel lowers to, expressed directly on DataFrames:

  contribute:  ranks ⋈ edges on src  →  per-edge share  (rank/out_deg)
  aggregate:   sum shares per dst                        (ONE shuffle)
  reassign:    teleport + damping × (inflow + dangling/N)

Each iteration is one shuffle (the per-dst sum). The edge list and the
out-degree table are computed once, repartitioned by ``src``, and
persisted, so every iteration's ranks-side shuffle lands on an already
co-partitioned build side. Rank state stays DISTRIBUTED (unlike k-means'
k-row centroids it is O(nodes)); only two scalars — node count and
dangling mass — ever reach the driver, which also keeps the per-iteration
plans flat instead of growing a doubled lineage per round.

Engine-portable fixed-point arithmetic: float PageRank is NOT
reproducible across engines (sum order changes the low bits every
iteration, and rounding cannot fully re-synchronize a recurrence).
Ranks are therefore carried as BIGINT micro-units (``scale`` ≈ 1e12)
and every step uses integer multiply / floor division only — Spark's
``div`` and DuckDB's ``//`` agree exactly on non-negative operands, and
integer sums are order-independent, so an unrolled-CTE SQL oracle
reproduces the result bit-for-bit (same trick as the affine MinHash
permutations in ``operators/dedup.py``).

Reference tie-in: the reference engine has no graph operators; this is
part of the beyond-reference surface for corpus curation (rank-based
document/source weighting feeding the samplers in
``operators/sampling.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale: 1.0 of rank mass == 10**12 micro-units. Total mass
#: stays ~= scale, so 64-bit intermediates (damping × inflow ≤ ~1e14)
#: never overflow.
PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list.

    Per iteration, with integer floor division throughout::

        share(e)   = rank_u[src] · w(e) div W(src)         (per edge)
        inflow(v)  = Σ share(e) over e with e.dst = v      (the shuffle)
        dangling   = Σ rank_u over nodes with out_deg = 0  (scalar)
        rank_u'(v) = (100-d)·(scale div N) div 100
                     + d·(inflow(v) + dangling div N) div 100

    ``w`` is ``weight_col`` (positive integers, max_w · scale < 2^63) or
    1; W(src) is the node's total outgoing weight; ``damping_pct`` keeps
    the damping factor integral. Floor division sheds a deterministic
    sub-micro-unit of mass per step, identically in every engine: the
    price of bit-exact reproducibility (~1e-9 relative per iteration).

    Returns ``(node, rank_u, rank)``, ``rank = round(rank_u/scale, 6)``;
    ``rank_u`` is the exact fixed-point value an oracle must match. An
    empty edge list yields an empty frame. This is
    ``personalized_pagerank`` with every node a seed (N = |S|); the seed
    flag is the literal ``true``, so no seed join is planned.
    """
    return _pagerank(edges, None, src, dst, iterations, damping_pct, scale,
                     "id", weight_col)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
    seed_col: str = "id",
    weight_col: str | None = None,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: the ``pagerank`` kernel,
    but teleport AND dangling mass return only to the SEED set S — rank
    becomes proximity-to-seeds, the recommendation / similar-entities
    primitive (Haveliwala 2002; public method), where global PageRank
    measures importance.

        rank'(v) = [v∈S]·(100-d)·(scale div |S|) div 100
                   + d·(inflow(v) + [v∈S]·(dangling div |S|)) div 100

    The seed flag rides the node table (one join at setup, not per
    round). Off-graph seeds contribute nothing (their teleport share
    sheds — deterministic on every engine since |S| counts the raw seed
    set). An empty seed set raises ``ValueError``. Returns ``pagerank``'s
    columns over the graph's nodes.
    """
    return _pagerank(edges, seeds, src, dst, iterations, damping_pct, scale,
                     seed_col, weight_col)


def _pagerank(edges: DataFrame, seeds: DataFrame | None, src: str, dst: str,
              iterations: int, damping_pct: int, scale: int, seed_col: str,
              weight_col: str | None) -> DataFrame:
    """The one PageRank loop; ``seeds=None`` makes every node a seed."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    w_expr = F.lit(1) if weight_col is None else F.col(weight_col)
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"),
        w_expr.cast("long").alias("_w"),
    ).repartition("_src").persist()
    deg = e.groupBy("_src").agg(F.sum("_w").cast("long").alias("_deg")).persist()
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    s = None
    if seeds is None:
        is_seed = "true"  # a literal: the flag folds out of every plan
        nodes = nodes.persist()
        ns = max(nodes.count(), 1)  # |S| = N; no node, no rank to divide
    else:
        is_seed = "_is_seed"
        s = seeds.select(F.col(seed_col).alias("node")).distinct().persist()
        ns = s.count()
        if ns == 0:
            raise ValueError(
                "personalized_pagerank: the seed set is empty — every teleport "
                "share would divide by zero. Check the seed filter."
            )
        nodes = (
            nodes.join(s.withColumn("_is_seed", F.lit(True)), "node", "left")
            .select("node", F.coalesce("_is_seed", F.lit(False)).alias("_is_seed"))
            .persist()
        )
        nodes.count()
    base_u = scale // ns  # teleport share per seed, exact in both engines
    teleport_u = (100 - damping_pct) * base_u // 100
    def seeded(value: int) -> str:
        return f"CASE WHEN {is_seed} THEN {value}L ELSE 0L END"

    ranks = nodes.select("node", F.expr(seeded(base_u)).alias("rank_u"))
    prev = None
    for _ in range(iterations):
        ranks = ranks.persist()
        # dangling mass: rank held by nodes with no out-edges, the only
        # node state that reaches the driver. The per-round action is
        # deliberate: it fills the ranks cache before its two consumers
        # read it (r12: a lazy single-job form was slower; concurrent
        # stages recomputed unpopulated blocks). r13 folded the scalar
        # into the plan (per-round localCheckpoint + broadcast 1-row agg):
        # worse, pagerank_supply_graph cold ~13.4 -> ~19.0 s in 3 of 4
        # alternating A/B rounds (every rank block written, plus an AQE
        # exchange per round). Reverted.
        dangling = (
            ranks.join(deg, ranks["node"] == deg["_src"], "left_anti")
            .agg(F.coalesce(F.sum("rank_u"), F.lit(0)).cast("long"))
            .first()[0]
        )
        contrib = (
            e.join(deg, "_src")
            .join(ranks.withColumnRenamed("node", "_src"), "_src")
            .select(
                F.col("_dst").alias("node"),
                F.expr("(rank_u * _w) div _deg").alias("_share"),
            )
            .groupBy("node")
            .agg(F.sum("_share").cast("long").alias("_inflow"))
        )
        new = nodes.join(contrib, "node", "left").select(
            "node",
            F.expr(
                f"{seeded(teleport_u)} + {damping_pct} * (coalesce(_inflow, 0L)"
                f" + {seeded(dangling // ns)}) div 100"
            ).cast("long").alias("rank_u"),
        )
        if prev is not None:
            prev.unpersist()
        prev = ranks
        ranks = new
    # materialize the O(nodes) result once, then release every persisted
    # intermediate so a long-lived session accumulates no blocks per call
    out = ranks.withColumn(
        "rank", F.round(F.col("rank_u") / F.lit(float(scale)), 6)
    ).localCheckpoint(eager=True)
    for cached in (e, deg, s, nodes, prev):
        if cached is not None:
            cached.unpersist()
    return out


def _triangle_kernel(
    edges: DataFrame, src: str, dst: str, assume_canonical: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of triangle_count/clustering_stats: returns
    (deg, PERSISTED canonical edges or None, PERSISTED oriented edges,
    lazy 1-row triangle count). The caller owns unpersisting ``e`` (when
    not None) and ``oriented`` after materializing — r13: the canonical
    path previously localCheckpointed the edge list with no release
    handle, so repeated calls in one session accumulated executor
    storage blocks until GC.

    ``assume_canonical=True`` declares the input already a DISTINCT
    simple-graph pair list with src < dst (e.g. ``_copurchase_pairs``
    output) and skips the defensive least/greatest + distinct — one
    full shuffle+dedup of the edge set saved; results are identical
    whenever the contract holds.

    The compact-forward / degree-orientation algorithm: orient every edge
    from its lower-ranked endpoint to its higher-ranked one, where rank is
    the lexicographic (degree, node) pair. Out-degree under this
    orientation is O(sqrt(m)) regardless of how skewed the raw degree
    distribution is, so the wedge self-join — the quadratic step that
    kills naive triangle counting on power-law graphs — does b² work only
    over these bounded out-neighborhoods. Each triangle is then counted
    exactly once as (a→b, a→c, b→c) with rank(a)<rank(b)<rank(c).

    Shuffles: canonical-edge distinct, degree agg, two degree joins, the
    wedge self-join on the source node, one closing-edge semi-join. All
    equi-joins — no cartesian anywhere.
    """
    from pyspark import StorageLevel

    if assume_canonical:
        # e is read three times below (degree union twice + edge tagging);
        # without the distinct there is no Exchange for ReusedExchange to
        # share, so materialize the (often expensive) pair lineage ONCE —
        # otherwise skipping the distinct would re-run pair generation 3×.
        # persist+count (not localCheckpoint): same eager one-job
        # materialization, but releasable by the caller — localCheckpoint
        # blocks have no public unpersist handle in PySpark
        e_handle = edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        e_handle.count()
        e = e_handle
    else:
        e_handle = None
        e = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("u"),
                F.greatest(F.col(src), F.col(dst)).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = (
        e.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # hash-partition the oriented edges on the wedge-join key BEFORE
    # persisting: both sides of the wedge self-join then read the SAME
    # co-partitioned cache — the join needs no Exchange at all, where the
    # unpartitioned cache paid two full shuffles of the oriented set
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).repartition("a").persist(StorageLevel.MEMORY_AND_DISK)
    o1 = oriented.select(F.col("a"), F.col("b").alias("w1"), F.col("db").alias("d1"))
    o2 = oriented.select(F.col("a"), F.col("b").alias("w2"), F.col("db").alias("d2"))
    wedges = o1.join(o2, "a").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("w1") < F.col("w2")))
    )
    closing = oriented.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    tri = wedges.join(closing, ["w1", "w2"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("triangle_count")
    )
    return deg, e_handle, oriented, tri


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """One-row DataFrame: (triangle_count bigint) — exact triangle count
    of the undirected simple graph induced by ``edges``. See
    :func:`_triangle_kernel` for the algorithm, the shuffle story, and
    the ``assume_canonical`` contract.
    """
    _, e, oriented, tri = _triangle_kernel(edges, src, dst, assume_canonical)
    out = tri.localCheckpoint(eager=True)  # 1 row; frees the persisted edges
    oriented.unpersist()
    if e is not None:
        e.unpersist()
    return out


def clustering_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """One-row (triangle_count, n_wedges, clustering_coefficient) — the
    global clustering coefficient 3·triangles / wedges in ONE pass over
    the edge set.

    Composing ``triangle_count`` (eager) with a separate wedge aggregate
    would run the upstream edge pipeline twice — the eager checkpoint
    breaks Spark's ReusedExchange sharing between the two branches. Here
    the wedge count Σ d(d−1)/2 reads the SAME degree aggregate the
    triangle orientation needs (a closed form over degrees, never a
    join), so the expensive upstream (e.g. co-purchase pair generation)
    and the degree shuffle are computed once; both one-row branches then
    cross-join driver-side-free and the whole thing materializes in a
    single job before the persisted edges are released.
    """
    deg, e, oriented, tri = _triangle_kernel(edges, src, dst, assume_canonical)
    wedges = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    out = (
        tri.crossJoin(wedges)
        .select(
            "triangle_count",
            "n_wedges",
            F.round(
                F.lit(3.0) * F.col("triangle_count") / F.col("n_wedges"), 6
            ).alias("clustering_coefficient"),
        )
        .localCheckpoint(eager=True)
    )
    oriented.unpersist()
    if e is not None:
        e.unpersist()
    return out


def star_contraction_components(
    pairs: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 25,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    id_col: str = "id",
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond" — public method): the deep-graph complement to
    ``dedup.min_label_groups_fixpoint``. Min-label Pregel needs
    O(component diameter) rounds — a 10^6-hop chain means 10^6 shuffles;
    star contraction halves component height per alternation, so
    O(log n) rounds suffice for ANY topology.

      large-star(u): attach every neighbor v > u to m = min(N(u) ∪ {u})
      small-star(u): attach every neighbor v ≤ u (and u) to m

    Each half-round is one groupBy + one join on the node id (shuffle ∝
    edges), the edge set only shrinks toward the final star forest, and
    every round is localCheckpointed (the fixpoint lesson: iterative
    lineage otherwise doubles per round). Convergence = the edge set
    stops changing, detected EXACTLY with two scalar actions per round
    (count + exceptAll count — no checksum collisions).

    Output contract identical to the min-label forms:
    (id, group_label, is_canonical) for every node in ``nodes``, label =
    component minimum. Property-tested equal to
    ``min_label_groups_fixpoint`` on random graphs and deep chains.
    """
    a, b = pair_cols
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _mins(sym: DataFrame) -> DataFrame:
        return (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
        )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        sym = _sym(e)
        m = _mins(sym)
        joined = sym.join(m, "u")
        if large:
            out = joined.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = (
                joined.where(F.col("v") <= F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .unionByName(m.select(F.col("u"), F.col("m").alias("v")))
            )
        return (
            out.where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    import logging

    log = logging.getLogger(__name__)
    for rnd in range(max_rounds):
        after_large = _star(edges, large=True)
        after_small = _star(after_large, large=False)
        # exact change detection: same count and no row outside the old set
        n_before, n_after = edges.count(), after_small.count()
        changed = n_after != n_before or after_small.exceptAll(edges).count() > 0
        # scaling instrumentation (the sf1 26×/10× adjudication): edge
        # counts per round attribute superlinear wall-clock to component
        # structure (rounds/edge-volume growth) vs kernel overhead; the
        # checkpointed counts are block-metadata reads, ~free
        log.info(
            "star_contraction round %d: edges %d -> large %d -> small %d%s",
            rnd + 1,
            n_before,
            after_large.count(),
            n_after,
            "" if changed else " (converged)",
        )
        edges = after_small
        if not changed:
            break

    # the converged edge set is a star forest: every edge is (node, root)
    labels = (
        _sym(edges)
        .groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least(F.col("_mv"), F.col("u")).alias("label"))
    )
    out = (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels, F.col("id") == F.col("u"), "left")
        .select(
            "id", F.coalesce(F.col("label"), F.col("id")).alias("group_label")
        )
    )
    return out.select(
        "id", "group_label", (F.col("id") == F.col("group_label")).alias("is_canonical")
    )


def label_propagation_communities(
    pairs: DataFrame,
    nodes: DataFrame,
    iters: int = 2,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    id_col: str = "id",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007, public method), made deterministic and engine-portable:
    each round every node adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label, all nodes updating
    from the same previous-round snapshot (the asynchronous original is
    order-dependent — useless for a reproducibility contract). Fixed
    ``iters`` keeps the operator a pure function the SQL oracle unrolls
    round by round, exactly like min_label_groups / kmeans.

    Distinct from connected components: min-label FLOODS the component
    minimum everywhere; majority-vote LPA stops at density boundaries,
    splitting a connected graph into dense neighborhoods — the actual
    community structure.

    Scale: per round, one (edge ⋈ labels) join + one (dst, label) count
    shuffle + one per-node argmax (a max over (count, label) structs —
    an aggregate, NOT a row_number window, so map-side partial
    aggregation applies). Labels localCheckpoint per round (iterative
    lineage otherwise doubles — the fixpoint lesson). Isolated nodes
    keep their own label via left join + coalesce.

    Output: (id, community) for every node in ``nodes``.
    """
    from megalista_spark.operators.dedup import symmetric_edges

    # Pre-partition the edge cache on the vote-join key and force the
    # per-round join to SHUFFLE-HASH with labels as build side (r13).
    # Why: from round 2 on, labels is a checkpointed RDD scan whose size
    # the optimizer does NOT know (defaultSizeInBytes = huge), so it
    # was broadcasting the EDGE SET instead — a single-task multi-second
    # hash-relation build per round locally (measured 2.3-2.6 s at
    # sf0.1), and at 100 TB a driver-fatal plan (the edge relation can
    # never broadcast). With the cache hash-partitioned on dst, the
    # shuffle-hash join reads it exchange-free every round; only the
    # node-sized labels relation shuffles per round, and the per-
    # partition hash build is the node slice, not the edge set. The
    # eager count closes the unpopulated-cache race (min_label lesson).
    sym = symmetric_edges(pairs, pair_cols).repartition("dst").persist()
    sym.count()
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    for _ in range(iters):
        votes = (
            sym.join(labels.hint("shuffle_hash"), sym["dst"] == labels["id"])
            .groupBy(F.col("src"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (count DESC, label ASC): max(struct(c, -label)) picks
        # the largest count, then the LARGEST -label = smallest label
        best = (
            votes.groupBy("src")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("_b"))
            .select(F.col("src"), (-F.col("_b.nl")).alias("new_label"))
        )
        # eager per-round checkpoint on purpose: labels is read twice next
        # round, and the lazy persist-only form was MEASURED SLOWER
        # (r12 A/B — concurrent stages recompute not-yet-cached partitions)
        labels = (
            labels.join(best, labels["id"] == best["src"], "left")
            .select(
                "id",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    return labels.select("id", F.col("label").alias("community"))


def k_hop_reach(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "id",
) -> DataFrame:
    """Multi-source BFS: (seed, node, hop) — every node reachable from
    each seed within ``hops`` directed hops, labeled with its MINIMUM hop
    distance (hop 0 = the seed itself). The expansion-from-seed-set
    primitive behind blast-radius, recommendation-neighborhood, and
    contamination-spread questions.

    Per hop: frontier ⋈ edges on the frontier node (ONE shuffle), then a
    min-hop aggregate against the visited set — rows carry (seed, node)
    only, so state is O(reached nodes × seeds), never O(edges × hops).
    The frontier for hop h+1 is exactly the rows first discovered at hop
    h (min_hop == h), so settled nodes are never re-expanded — the
    textbook level-synchronous BFS invariant. Each round is
    localCheckpointed (iterative lineage otherwise doubles per round).

    Fixed ``hops`` keeps the operator a pure function a SQL oracle can
    unroll hop by hop (same discipline as pagerank / LPA). Engine-
    portable by construction: min over integers, equi-joins only.

    Scale: the frontier join shuffles |frontier ⋈ edges| rows per hop;
    for hub-heavy graphs cap blowup upstream by degree-capping the edge
    list (see ``triangle_count``'s orientation trick). Seeds are a small
    bounded set by contract — the operator broadcasts them only
    implicitly via the first join's build side when Spark sees fit.
    """
    # materialize the deduped edge list ONCE, hash-partitioned on the join
    # key — otherwise every hop re-executes the upstream edge-building
    # lineage (the same lesson as pagerank's persisted co-partitioned
    # edges), and each hop's join reuses the partitioning. Each round is
    # EAGERLY checkpointed on purpose: ``merged`` is read twice (next
    # frontier + the min merge), and a lazy persist-only formulation was
    # MEASURED SLOWER (r12 A/B) — concurrent stages of the single final
    # job recompute partitions whose cache blocks are not populated yet.
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .repartition("u")
        .localCheckpoint(eager=True)
    )
    visited = (
        seeds.select(F.col(seed_col).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).alias("min_hop"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for h in range(1, hops + 1):
        grown = (
            frontier.join(e, frontier["node"] == e["u"])
            .select("seed", F.col("v").alias("node"), F.lit(h).alias("min_hop"))
        )
        merged = (
            visited.unionByName(grown)
            .groupBy("seed", "node")
            .agg(F.min("min_hop").alias("min_hop"))
            .localCheckpoint(eager=True)
        )
        frontier = merged.where(F.col("min_hop") == h)
        visited = merged
    return visited


def bounded_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    seed_col: str = "id",
) -> DataFrame:
    """Bounded-round single/multi-source shortest paths (Bellman-Ford
    relaxation) over INTEGER edge weights: (seed, node, dist) — the
    cheapest ≤``rounds``-edge path from each seed, exact for any path of
    that many edges or fewer. Integer weights make every relaxation an
    integer add + min — order-independent and bit-identical across
    engines, the same portability discipline as fixed-point pagerank.

    Per round, the classic relax step as one join + one aggregate:

      candidate(v) = dist(u) + w(u,v)    (dists ⋈ edges on u — ONE shuffle)
      dist'(v)     = min(dist(v), min candidate(v))

    State is (seed, node, dist) — O(reached × seeds). Relaxation is
    DELTA-FRONTIER (r13): only rows whose dist changed in the previous
    round re-relax. Exactly equivalent to relaxing the full table —
    an unchanged (seed, u, dist) row already contributed dist+w(u,v)
    to every neighbor in the round after it last changed, and merged
    distances never increase (dists rides every union), so that bound
    is permanently reflected; re-relaxing it can add nothing new.
    Settled regions (the bulk of a graph after a few rounds) therefore
    stop paying the relax join — the per-round shuffle shrinks from
    |dists ⋈ edges| to |changed ⋈ edges| — at the cost of one
    O(reached) changed-set join per round. Rounds are
    localCheckpointed. Fixed ``rounds`` → SQL-oracle unrollable.
    """
    # materialized once, partitioned on the relax-join key; each round is
    # EAGERLY checkpointed on purpose — the lazy persist-only form was
    # MEASURED ~2× SLOWER (r12 A/B): ``dists`` is read twice per round
    # and concurrent stages of a single final job recompute partitions
    # whose cache blocks are not populated yet (see k_hop_reach)
    e = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("bigint").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .repartition("u")
        .localCheckpoint(eager=True)
    )
    dists = (
        seeds.select(F.col(seed_col).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = dists
    for rnd in range(rounds):
        relaxed = (
            frontier.join(e, frontier["node"] == e["u"])
            .select("seed", F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        # the changed-set rides the SAME union/aggregate the merge
        # already pays: old rows carry their dist as _prev, relaxed
        # candidates carry NULL, and min(_prev) (nulls ignored) is
        # therefore the node's previous distance — NULL iff first
        # reached this round. A first join-based frontier was measured
        # SLOWER at sf0.1 (r13 alternating A/B: 1.37×/1.79× cold/warm —
        # two extra stage waves per round dwarfed the relax saving);
        # this form adds only one bigint agg column to the existing
        # shuffle.
        merged = (
            dists.select("seed", "node", "dist", F.col("dist").alias("_prev"))
            .unionByName(
                relaxed.select(
                    "seed", "node", "dist",
                    F.lit(None).cast("bigint").alias("_prev"),
                )
            )
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"), F.min("_prev").alias("_prev"))
            .localCheckpoint(eager=True)
        )
        if rnd < rounds - 1:
            frontier = merged.where(
                F.col("_prev").isNull() | (F.col("dist") < F.col("_prev"))
            ).select("seed", "node", "dist")
        dists = merged.select("seed", "node", "dist")
    return dists


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    assume_canonical: bool = False,
) -> DataFrame:
    """Bounded-round k-core peeling (Seidman 1983; public method) over an
    undirected pair list: (node, degree) for every node still alive
    after ``rounds`` synchronous removals of nodes with degree < k —
    the density filter that strips hangers-on from a graph before
    community/triangle analytics spend effort on them. Full k-core
    needs peeling to fixpoint; fixed ``rounds`` is the oracle-unrollable
    contract (same discipline as BFS/SSSP/LPA), and each round is one
    degree aggregate + one semi-join per side.

    Synchronous semantics: every round recomputes degrees over the
    CURRENTLY-alive subgraph and removes ALL sub-k nodes at once —
    deterministic under any scheduling, unlike sequential peeling.
    Rounds localCheckpoint (iterative-lineage rule). Degrees count
    DISTINCT neighbors (the pair list is deduplicated both ways).
    """
    from megalista_spark.operators.dedup import symmetric_edges

    a, b = pair_cols
    # self-loop filter BEFORE symmetrizing (a one-sided filter would let
    # loops re-enter via the reversed direction and inflate degrees);
    # symmetric_edges explodes both directions in ONE pass so the pair
    # lineage — often an expensive self-join — is not evaluated twice
    # assume_canonical: the caller guarantees a DISTINCT a < b simple
    # pair list (no self-loops), so both exploded directions are already
    # unique — skip the defensive filter + distinct (one shuffle saved)
    base = edges if assume_canonical else edges.where(F.col(a) != F.col(b))
    sym = symmetric_edges(base, pair_cols).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    if not assume_canonical:
        sym = sym.distinct()
    # rounds stay EAGERLY checkpointed: ``alive`` is read twice per round
    # (degree aggregate + the semi-join left side) and the lazy
    # persist-only form was MEASURED SLOWER (r12 A/B — concurrent stages
    # recompute not-yet-cached partitions)
    sym = sym.localCheckpoint(eager=True)
    alive = sym
    for _ in range(rounds):
        deg = alive.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("u")
        alive = (
            alive.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
    return (
        alive.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .select(F.col("u").alias("node"), "degree")
    )


def degree_assortativity(
    edges: DataFrame,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    assume_canonical: bool = False,
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002; public method) of
    an undirected graph: one row (n_edges, r) where r is the Pearson
    correlation of endpoint degrees over every directed edge — positive
    means hubs attach to hubs (social nets), negative means hubs attach
    to leaves (infrastructure). THE one-number structure probe run
    before choosing skew strategies for graph joins.

    All five correlation moments (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    bigint sums over integer degrees — order-independent, map-side
    combinable. The CLOSING products (n·Σxy etc.) promote to double
    first: at web-graph scale n·Σx² crosses 2^63 and a silent int64
    wrap would corrupt the sign (the collocation-lift lesson); IEEE
    double multiply/divide/sqrt stays bit-identical across engines.
    Degenerate graphs (regular: zero degree variance) yield NULL
    rather than 0/0.

    Cost: one degree aggregate, two broadcast-or-shuffle joins tagging
    each edge with endpoint degrees, one moments aggregate.
    """
    from megalista_spark.operators.dedup import symmetric_edges

    a, b = pair_cols
    # self-loops filtered BEFORE the one-pass symmetrize (see kcore_peel);
    # sym is materialized because deg + the edge tagging traverse it three
    # times and its lineage is typically the query's dominant self-join
    # assume_canonical: caller-guaranteed DISTINCT a < b pairs — skip the
    # defensive self-loop filter + distinct (see kcore_peel)
    base = edges if assume_canonical else edges.where(F.col(a) != F.col(b))
    sym = symmetric_edges(base, pair_cols).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    if not assume_canonical:
        sym = sym.distinct()
    sym = sym.localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dy"))
    tagged = sym.join(du, "u").join(dv, "v")
    m = tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum("dx").cast("bigint").alias("_sx"),
        F.sum("dy").cast("bigint").alias("_sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("_sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("_sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("_syy"),
    )
    n = F.col("n_edges").cast("double")
    cov = n * F.col("_sxy") - F.col("_sx").cast("double") * F.col("_sy")
    vx = n * F.col("_sxx") - F.col("_sx").cast("double") * F.col("_sx")
    vy = n * F.col("_syy") - F.col("_sy").cast("double") * F.col("_sy")
    r = cov / F.sqrt(vx * vy)
    return m.select(
        "n_edges",
        F.when((vx > 0) & (vy > 0), F.round(r, 6)).alias("assortativity"),
    )
