"""Weak connected components on an edge DataFrame — dependency-free.

Replaces the reference's driver-memory igraph clustering
(reference: examples/graph/resolution/mapper/messy.py:431-433) with the
multi-level *filtering* scheme used by large-scale CC systems
(Lattanzi et al. "Filtering: a method for solving graph problems in
MapReduce"; Kiveris et al. SoCC'14):

1. **Distributed contraction** — per-Arrow-batch union-find inside
   `mapInPandas` rewrites each batch's edges as stars (node → batch-local
   root). Connectivity-equivalent, no shuffle, shrinks the graph by the
   local clustering factor.
2. **Relabel** — map every star edge through the per-node min-root
   mapping; conflict rows (a node seen in two batches) become edges
   between the two roots, so cross-batch connectivity is preserved.
3. **Residual solve** — once the contracted edge set fits one task
   (`RESIDUAL_THRESHOLD`), a single `applyInPandas` union-find finishes
   it exactly; otherwise contraction repeats, and past `MAX_LEVELS` the
   alternating large-star/small-star rounds (bounded memory per task,
   O(log n) rounds) take over.

Scale notes: executor-side union-find is an Arrow-batched Pandas UDF
(never a driver collect); every relabel join is hash-partitioned on the
node id; each level cuts lineage via ``materialize`` (localCheckpoint
on local[*], reliable checkpoint on clusters). On typical graphs
one contraction level + one single-task solve replaces ~log(n) join
rounds — at local[32] that's a 3-4× wall-clock win, on a cluster it
saves the same number of full-edge-set shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.materialize import materialize

if TYPE_CHECKING:  # pragma: no cover
    import pandas

#: connected_components: largest edge set solved in one task, contraction
#: levels before star rounds, star rounds before giving up
RESIDUAL_THRESHOLD = 2_000_000
MAX_LEVELS = 3
MAX_ITER = 30
#: pagerank broadcasts rank slices up to this many nodes
BROADCAST_NODE_LIMIT = 8_000_000
#: pagerank's rounds and damping factor (percent)
PR_ITERATIONS = 3
PR_DAMPING_PCT = 85
#: triangle_count broadcasts the adjacency up to this many edges
#: (~16 bytes/adjacency entry -> 64MB)
BROADCAST_EDGE_LIMIT = 4_000_000


def _union_find(us, vs) -> dict:
    """Union-find with path compression over parallel edge arrays.
    Returns {node: root} with root = min member of the local component."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(us, vs):
        ru, rv = find(u), find(v)
        if ru != rv:
            # keep the smaller id as root so labels are min-stable
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent} | {
        x: find(x) for x in set(us) | set(vs) if x not in parent
    }


def _star_edges(pdf: "pandas.DataFrame") -> "pandas.DataFrame":
    roots = _union_find(pdf["u"].tolist(), pdf["v"].tolist())
    items = [(n, r) for n, r in roots.items() if n != r]
    return type(pdf)(items, columns=["u", "v"])


def _contract_batches(e: DataFrame, schema: str) -> DataFrame:
    """Per-Arrow-batch union-find → star edges (u > v = local root)."""

    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:
        for pdf in batches:
            if len(pdf):
                yield _star_edges(pdf)

    return e.mapInPandas(run, schema)


def _solve_single_task(e: DataFrame, schema: str) -> DataFrame:
    """Exact union-find over the whole residual in ONE executor task
    (guarded by RESIDUAL_THRESHOLD; this is the standard tail of the
    filtering algorithm, NOT a driver-side collect)."""

    # No type hints: Spark's applyInPandas tries to resolve them for
    # eval-type inference and warns on unresolvable string annotations.
    def run(_key, pdf):
        return _star_edges(pdf[["u", "v"]])

    return (
        e.withColumn("_g", F.lit(0)).groupBy("_g").applyInPandas(run, schema)
    )


def _large_star(e: DataFrame) -> DataFrame:
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        nbrs.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    return (
        e.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_rounds(e: DataFrame, n_edges: int) -> DataFrame:
    """Alternating large-star/small-star to fixpoint (Kiveris et al.).
    Bounded memory per task at any scale; O(log n) rounds."""
    converged = n_edges == 0
    for _ in range(MAX_ITER):
        if converged:
            break
        new_e = materialize(_small_star(_large_star(e)))
        new_count = new_e.count()
        if new_count == n_edges:
            converged = new_e.join(e, ["u", "v"], "left_anti").isEmpty()
        e.unpersist()
        e, n_edges = new_e, new_count
    if not converged:
        raise RuntimeError(
            f"connected_components star rounds did not converge in {MAX_ITER}"
        )
    return e


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Weak connected components. Returns (node_id, cluster_id) where
    cluster_id = min node id reachable in the undirected graph.

    Edges are treated as undirected (SURVEY §8.4); self-edges and
    isolated endpoints yield singleton clusters. Works for any orderable
    id type (long, string)."""
    # checkpoint the raw edge projection ONCE — the upstream plan (often
    # an expensive pair-mining pipeline) must not re-execute for each of
    # the node-set / edge-set derivations below. No fan_out here: the
    # small path collapses to one task anyway, and the large path's
    # canonicalize+distinct reshuffles to proper partitioning before the
    # contraction — a pre-spread would be a wasted shuffle. (It was also
    # actively harmful BEFORE the materialize: fan_out probes partition
    # count via df.rdd, and under AQE that probe EXECUTES every shuffle
    # stage of an un-materialized plan as a hidden job — measured as the
    # whole pair-mining pipeline running twice per CC call.)
    raw = materialize(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    id_type = raw.schema["a"].dataType.simpleString()
    star_schema = f"u {id_type}, v {id_type}"
    # lazy on purpose: read once at composition time, straight off the
    # checkpointed raw edges
    nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    # Fast path: if the RAW edge list already fits one task, feed it to
    # the single-task union-find directly — duplicates, mirrored pairs,
    # and self-edges are all no-ops for union-find, so the canonicalize
    # + distinct shuffle (and its materialize/count sync jobs) would
    # only reduce data we're about to crunch in one pass anyway.  raw
    # count >= distinct count, so the one-task guard stays conservative.
    mappings: list[DataFrame] = []
    n_raw = raw.count()
    if n_raw <= RESIDUAL_THRESHOLD:
        # a small edge set inherits the checkpoint's full partition
        # count (32+ near-empty partitions), so every downstream stage
        # pays a task per partition for rows that fit one task anyway —
        # coalesce (narrow, no shuffle) collapses that fixed overhead.
        # 50k rows per task is far under the union-find guard.
        if n_raw <= 50_000:
            raw = raw.coalesce(1)
            nodes = (
                raw.select(F.col("a").alias("node"))
                .union(raw.select(F.col("b").alias("node")))
                .distinct()
            )
        if n_raw > 0:
            # no materialize: the mapping feeds exactly ONE consumer (the
            # compose join), so pinning it would only add a sync job —
            # lineage is already cut at the checkpointed raw edges
            mappings.append(
                _solve_single_task(
                    raw.filter(F.col("a") != F.col("b")).select(
                        F.col("a").alias("u"), F.col("b").alias("v")
                    ),
                    star_schema,
                )
            )
        return _compose_labels(nodes, mappings)

    e = materialize(
        raw.filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )
    n_edges = e.count()

    # mappings[i]: (node, root) star edges; roots of level i are the only
    # nodes of level i+1. Compose at the end.
    for _ in range(MAX_LEVELS):
        if n_edges == 0:
            break
        if n_edges <= RESIDUAL_THRESHOLD:
            m = materialize(_solve_single_task(e, star_schema))
            mappings.append(m)
            n_edges = 0
            break
        stars = _contract_batches(e, star_schema)
        # per-node min root; conflict rows (node in 2 batches) relabel to
        # root-root edges below, preserving cross-batch connectivity
        m = materialize(stars.groupBy("u").agg(F.min("v").alias("v")))
        mappings.append(m)
        mu = m.select(F.col("u").alias("n"), F.col("v").alias("r"))
        relabeled = (
            stars.join(mu.withColumnRenamed("n", "u"), "u", "left")
            .select(
                F.coalesce("r", "u").alias("x"), F.col("v").alias("v0")
            )
            .join(
                mu.select(F.col("n").alias("v0"), F.col("r").alias("rv")),
                "v0",
                "left",
            )
            .select(F.coalesce("rv", "v0").alias("y"), "x")
        )
        e_next = materialize(
            relabeled.filter(F.col("x") != F.col("y"))
            .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
            .distinct()
        )
        e.unpersist()
        e = e_next
        n_edges = e.count()
    if n_edges > 0:
        mappings.append(_star_rounds(e, n_edges))
    return _compose_labels(nodes, mappings)


def _compose_labels(nodes: DataFrame, mappings: list[DataFrame]) -> DataFrame:
    lab = nodes.select("node", F.col("node").alias("label"))
    for m in mappings:
        step = m.select(F.col("u").alias("label"), F.col("v").alias("next"))
        lab = lab.join(step, "label", "left").select(
            "node", F.coalesce("next", "label").alias("label")
        )
    return lab.select(
        F.col("node").alias("node_id"), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# PageRank — deterministic integer-arithmetic variant.


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """PageRank over a directed edge list, all-integer arithmetic:
    ``PR_ITERATIONS`` rounds at damping ``PR_DAMPING_PCT`` percent.

    Float PageRank is not reproducible across engines (per-partition sum
    order changes the low bits every run); here ranks are BIGINTs scaled
    by ``scale`` and every step is integer division, so ANY engine
    computes bit-identical ranks — the property that lets an oracle
    hash-check an iterative graph algorithm at all.

    Per iteration: contribution(u->v) = r_u div outdeg_u; dangling mass
    (outdeg-0 nodes) redistributes uniformly; r'_v = (100-d)%% of the
    uniform share + d%% of (contributions + dangling share), with each
    ``%%`` an integer ``div 100``.

    Scale: the deduped edge list is hash-partitioned on ``dst`` and
    pinned ONCE via ``materialize`` (the dedupe groupBy runs on the
    same dst-exchange — HashPartitioning(dst) satisfies the (src,dst)
    clustering — so pre-partitioning costs nothing extra), and every
    round after that is part of ONE fully-lazy unrolled plan. The
    per-round join strategy is picked from the driver-known node count,
    the same size-based adaptivity Spark's own broadcast threshold
    applies:

    - ``n_nodes <= BROADCAST_NODE_LIMIT`` (node-sized tables fit an
      executor): the rank slice joins the edge table as a BROADCAST
      build side, so the contribution pass streams the dst-partitioned
      edges and its ``groupBy(dst)`` reuses that partitioning — a
      PageRank round with ZERO edge-sized shuffles. Rank-sized state
      (contrib, dangling scalar) moves via node-sized exchanges only.
    - larger graphs: shuffle sort-merge joins throughout (ranks cannot
      be broadcast); repeated subtrees still collapse via exchange
      canonicalization (ReusedExchange), so each round's shuffle
      executes exactly once with no checkpoint and no per-round sync
      job. Measured at sf0.1 local[32]: the lazy unrolled plan runs
      ~0.9-1.2s vs 3.2s for the checkpoint-every-2 variant and 4-5s
      for eager per-round materialize/persist variants — job-launch
      overhead, not recomputation, was the cost.

    Prelude job count adjudicated (r12,
    git show eccd0ba:tools/decompose_q92.py): the three serial driver
    actions (edge materialize, node materialize, count) resist the q62/q107
    concurrent-staging trick — overlapping an independent nodes-distinct
    count under the edge materialize measured SLOWER (2.49s vs 2.27s
    committed at sf0.1; lazy-persist of the node table slower still at
    2.80s) because the count job is real executor work contending for the
    same cores, unlike the driver-literal centroid writes that made
    q62/q107's overlap free.

    The plan unrolls every round, so its analysis/planning time grows
    with ``PR_ITERATIONS``. NOTE: a caller that fires multiple actions on
    the lazy result re-executes the unrolled plan per action —
    ``materialize`` the returned frame yourself in that case. Reference
    analog: the graph-resolution iteration loop
    (examples/graph/resolution/mapper/messy.py) run driver-side; here
    every step stays distributed.
    """
    from dropbox_duckdb_playground_spark.materialize import materialize

    # The dst-repartition sits AFTER the checkpoint on purpose: a
    # checkpoint boundary erases outputPartitioning metadata (the
    # LogicalRDD under AQE reports unknown partitioning), so
    # pre-partitioning the stored blocks cannot spare the per-round
    # groupBy(dst) its exchange. Post-checkpoint, `epart` is the same
    # Exchange over the same LogicalRDD in every round's subplan, so
    # exchange reuse executes it ONCE per action, and every contrib
    # groupBy(dst) then runs exchange-free on its output.
    # materialize (block store), NOT DataFrame.persist: the columnar
    # InMemoryRelation cache costs a compression pass per fill and a
    # decompression per consumer — measured ~2x slower end-to-end here
    # than checkpointed row blocks for the edge table.
    e = materialize(edges.select("src", "dst").distinct())
    epart = e.repartition("dst")
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("outdeg")
    )
    # No broadcast hint on deg: AQE picks broadcast when deg is small
    # and sort-merge when it is not — the same size-gated adaptivity
    # the per-round joins below apply via the n_nodes count, which is
    # taken on the materialized table (a block-sized count, not a
    # second scan of the node sources).
    n = materialize(
        nodes.select("node").distinct().join(deg, "node", "left")
    )  # (node, outdeg|null)
    n_nodes = n.count()
    small = n_nodes <= BROADCAST_NODE_LIMIT
    init = scale // n_nodes
    base = (100 - PR_DAMPING_PCT) * init // 100
    r = n.select("node", "outdeg", F.lit(init).cast("long").alias("r"))
    for it in range(PR_ITERATIONS):
        rsrc = r.filter(F.col("outdeg").isNotNull()).select(
            F.col("node").alias("src"),
            F.expr("r div outdeg").alias("c"),
        )
        contrib = (
            epart.join(F.broadcast(rsrc) if small else rsrc, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("contrib"))
        )
        dang = r.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).alias("dang")
        )
        r = (
            n.join(F.broadcast(contrib) if small else contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "outdeg",
                (
                    F.lit(base)
                    + F.expr(
                        f"({PR_DAMPING_PCT} * (coalesce(contrib, 0)"
                        f" + (dang div {n_nodes}))) div 100"
                    )
                )
                .cast("long")
                .alias("r"),
            )
        )
        if it + 1 < PR_ITERATIONS:
            # LAZY per-round persist (no forcing action): the rank
            # vector has three consumers next round (contribution
            # slice, dangling aggregate, final join). Exchange reuse
            # collapses SOME of the duplicated subtrees, but the
            # attribute-rewritten copies inside the dangling chains
            # canonicalize unreliably; a node-sized cache makes the
            # no-recompute property unconditional — the standard
            # per-iteration persist of distributed PageRank (GraphX
            # does exactly this with its rank RDD). First touch fills
            # the cache inside the SAME action; no per-round job.
            r = r.persist()
    return r.select("node", F.col("r").alias("rank"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count via degree-ordered orientation + the
    edge-iterator ("forward") formulation (Suri & Vassilvitskii WWW'11
    for the orientation; Chiba & Nishizeki '85 / Schank & Wagner '05
    for edge-iterator with adjacency intersection).

    Each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one, which caps every node's OUT-degree at
    O(sqrt(m)) regardless of how skewed the raw degree distribution is.
    Under the resulting TOTAL order every triangle {a,b,c} (tau-sorted)
    is the acyclic a->b, a->c, b->c, so
    n_triangles = sum over oriented edges (x,y) of |N+(x) & N+(y)| —
    each triangle counted exactly once, at its lowest edge.

    Physical strategy is SIZE-GATED on ``BROADCAST_EDGE_LIMIT``
    (~16 bytes/adjacency entry -> 64MB at 4M edges), because the
    two formulations win in DIFFERENT regimes (both measured r9, counts
    verified identical to the oracle):

    - m <= limit (adjacency fits a broadcast): build out-adjacency
      arrays in ONE m-row shuffle (arrays bounded at O(sqrt(m)) entries
      by the orientation — no monster rows on power-law graphs), then
      recover each oriented edge (u, v) WITH its tail adjacency nx by
      EXPLODING the checkpointed adjacency table (orientation is a
      bijection und -> oriented, so explode(adj) IS the oriented edge
      set), hang the head's array via ONE broadcast join, sum a
      codegen'd size(array_intersect). NO wedge rows materialize or
      shuffle. Paired A/B at sf0.1 (1.2M edges, 41M wedges): 3.4s vs
      the wedge form's 5.9s, every pair. r13 restructure: the explode
      replaces the former oriented-checkpoint + TWO broadcast joins
      (oriented ⋈ a1 on u ⋈ a2 on v) — the a1 join was a no-op row-wise
      (every oriented edge's tail u has at least that very edge in its
      out-list, so the inner join on u never dropped a row) yet paid a
      full broadcast build + probe per edge, and `oriented` itself no
      longer needs a materialize barrier in this regime because its
      ONLY consumer is the adjacency aggregate (the regime gate counts
      the checkpointed `und` instead — same number, orientation is
      1:1). Measured r13 (git show eccd0ba:tools/decompose_q105.py,
      interleaved): one fewer checkpoint job, one fewer broadcast; plan diff
      in git show cfe44d3:plans/r13/q105_triangle_count_{before,after}.txt.
    - m > limit: enumerate the wedge stream and probe it against the
      oriented edge set (shuffle_hash). At sf1 (12M edges on the
      saturated co-purchase graph) the intersect form measured 83s vs
      ~32s for this form: per-edge hash-intersection pays
      sum(d_in(y)*d_out(y)) element probes with a hashset REBUILT per
      edge, while the shuffle machinery sorts the equivalent wedge
      stream once — same O(m^1.5) bound, very different constants at
      scale. The gate criterion is a physical property (adjacency
      broadcastability), not a tuned constant.

    Also measured and REJECTED at r9: broadcasting the oriented edge
    list itself for the wedge join (median 1.6s WORSE at sf0.1 —
    per-run broadcast build/serialize dominates). The intersect hang is
    an INNER join on purpose: edges whose head has no out-neighbors
    close nothing, and the null-array alternative silently returns
    size()=-1 under Spark's legacy sizeOfNull (ANSI off) — a measured
    wrong-answer trap (it undercounted by exactly the leaf-head edge
    count until caught against the oracle).

    Ties in degree break by node id, so the orientation — and the count
    path, though the COUNT itself is orientation-invariant — is fully
    deterministic in any engine."""
    # canonicalize: undirected, dedup, drop self-loops
    und = (
        edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
    )
    und = materialize(und)
    # orientation maps every undirected edge to exactly one directed
    # edge, so |und| == |oriented| and the regime gate can run on the
    # already-checkpointed table — no oriented-side count job needed.
    m = und.count()
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # orient low-(deg, id) -> high-(deg, id)
    oriented = (
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    if m <= BROADCAST_EDGE_LIMIT:
        # Broadcast regime: out-adjacency arrays (bounded O(sqrt(m))
        # entries by the orientation). `oriented` stays LAZY here — its
        # only consumer is the adjacency aggregate, whose checkpoint
        # below is the barrier — and the edge set is recovered from the
        # checkpointed arrays by explode, carrying the tail's adjacency
        # nx in-row for free. One broadcast join (the head side) and
        # size(array_intersect) sum the closures — NO wedge rows
        # materialize or shuffle.
        adj = materialize(
            oriented.groupBy("u").agg(
                F.sort_array(F.collect_list("v")).alias("nbrs")
            )
        )
        a2 = adj.select(F.col("u").alias("y"), F.col("nbrs").alias("ny"))
        closed = (
            adj.select(F.col("nbrs").alias("nx"), F.explode("nbrs").alias("v"))
            # INNER: a head with no out-edges closes nothing (and a
            # null array would hit the legacy size()=-1 trap —
            # docstring)
            .join(F.broadcast(a2), F.col("v") == F.col("y"))
            .select(F.size(F.array_intersect("nx", "ny")).alias("c"))
        )
        return closed.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles")
        )
    # Shuffle regime: enumerate the wedge stream and probe it against
    # the oriented edge set (three consumers — e1, e2, probe — so the
    # materialize barrier stays load-bearing here).
    oriented = materialize(oriented)
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    # wedges centered at u: pairs of out-neighbors (v < w keeps each once)
    wedges = e1.join(e2, F.col("e1.u") == F.col("e2.u")).filter(
        F.col("e1.v") < F.col("e2.v")
    ).select(F.col("e1.v").alias("v"), F.col("e2.v").alias("w"))
    # a wedge closes iff (v,w) or (w,v) is an oriented edge; both
    # orderings collapse to one probe on the canonical (min,max) pair
    probe = oriented.select(
        F.least("u", "v").alias("v"), F.greatest("u", "v").alias("w")
    )
    closed = wedges.join(
        probe.hint("shuffle_hash"),
        ["v", "w"],
    )
    return closed.agg(F.count("*").cast("long").alias("n_triangles"))
