package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives over edge DataFrames — the web/link-graph
  * side of corpus curation (host authority for quality weighting, triangle
  * density for community/spam signals). No graph library: edges are rows,
  * every step is a join or an aggregation Catalyst can plan.
  *
  * Triangle counting uses the classic degree orientation (Suri &
  * Vassilvitskii's MR-triangles): direct each undirected edge from its
  * (degree, id)-lower endpoint to the higher one. The resulting DAG has
  * max out-degree O(sqrt m) REGARDLESS of in-degree skew, so the wedge
  * self-join a celebrity vertex would explode (deg^2 pairs) is bounded by
  * construction — the same role the hot-bucket cap plays in the dedup
  * stack, achieved by orientation instead of truncation (and therefore
  * exact, not approximate).
  *
  * PageRank runs in FIXED-POINT integer arithmetic: ranks are micro-units
  * (1e6 total mass / N per node at init), per-edge contributions floor-
  * divide by degree, damping is (85 * inbound) div 100. Integer sums are
  * associative — the result is bit-identical on any engine, any partition
  * order, any fold order, which is what lets the gate hash-match a DuckDB
  * replay (double-valued PageRank cannot be oracled: its sums are
  * partial-order-dependent). Iterations build on persisted edges; lineage
  * is checkpoint-truncated on the same cadence as ConnectedComponents.
  *
  * Caching note: the self-joining intermediates (canonical edges, the
  * oriented DAG, the degree-annotated adjacency) persist per call and
  * back the lazily returned results — every persist goes through
  * [[OperatorCaches.cache]]; long-lived sessions call
  * [[OperatorCaches.releaseAll]] after consuming each result.
  */
object Graph {

  /** Canonical undirected edge list: distinct (src < dst), self-loops
    * dropped. Accepts any two-column numeric frame. */
  def canonicalEdges(edges: DataFrame): DataFrame = {
    val Array(a, b) = edges.columns
    edges.where(col(a) =!= col(b))
      .select(least(col(a), col(b)).as("src"),
        greatest(col(a), col(b)).as("dst"))
      .distinct()
  }

  /** Undirected degree per vertex of a canonical edge list. */
  def degrees(canonical: DataFrame): DataFrame =
    canonical.select(col("src").as("v"))
      .union(canonical.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** All triangles of the undirected graph, one row each, vertices sorted
    * by id (v1 < v2 < v3). Exact. */
  def triangles(edges: DataFrame): DataFrame =
    trianglesOf(OperatorCaches.cache(canonicalEdges(edges)))

  /** [[triangles]] over an already-canonical (and ideally persisted)
    * edge frame — lets [[triangleStats]] share one canonical edge scan
    * between the triangle enumeration and the degree table. */
  private def trianglesOf(e: DataFrame): DataFrame = {
    val deg = degrees(e)
    // orient low -> high in the (deg, id) total order
    val keyed = e
      .join(deg.select(col("v").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("ddeg")), "dst")
    val oriented = OperatorCaches.cache(keyed.select(
      when(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")),
        struct(col("src").as("u"), col("dst").as("w"), col("ddeg").as("wdeg")))
        .otherwise(
          struct(col("dst").as("u"), col("src").as("w"), col("sdeg").as("wdeg")))
        .as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"), col("o.wdeg").as("wdeg")))
    // wedges at u: ordered pairs of out-neighbors; closing edge, if any,
    // is oriented (a -> b) because orientation follows the same order
    val x = oriented.select(col("u"), col("w").as("a"), col("wdeg").as("adeg"))
    val y = oriented.select(col("u"), col("w").as("b"), col("wdeg").as("bdeg"))
    val wedges = x.join(y, Seq("u"))
      .where(struct(col("adeg"), col("a")) < struct(col("bdeg"), col("b")))
      .select(col("u"), col("a"), col("b"))
    val closed = wedges.join(
      oriented.select(col("u").as("a"), col("w").as("b")),
      Seq("a", "b"), "left_semi")
    closed
      .select(array_sort(array(col("u"), col("a"), col("b"))).as("t"))
      .select(col("t").getItem(0).as("v1"), col("t").getItem(1).as("v2"),
        col("t").getItem(2).as("v3"))
  }

  /** Per-vertex triangle participation: (vertex, deg, n_tri, wedges) with
    * wedges = C(deg, 2) — numerator/denominator of the local clustering
    * coefficient kept as exact integers (the float ratio would not
    * hash-gate). Vertices in no triangle report n_tri = 0. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = OperatorCaches.cache(canonicalEdges(edges))
    val tri = trianglesOf(e)
    val perVertex = tri
      .select(explode(array(col("v1"), col("v2"), col("v3"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    degrees(e)
      .join(perVertex, Seq("v"), "left")
      .select(col("v").as("vertex"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        (col("deg") * (col("deg") - 1) / 2).cast("long").as("wedges"))
  }

  /** Up to `rounds` rounds of k-core peeling over the undirected graph:
    * each round computes degrees over the remaining canonical edges and
    * drops every vertex (and its incident edges) with degree < `k`.
    * Returns the surviving vertices with their WITHIN-CORE degrees:
    * (vertex, deg). Semantics are "exactly `rounds` peels" — the loop
    * early-exits once a round removes nothing because further peels are
    * no-ops, so the result is identical to running all `rounds`, which is
    * what lets a fixed-unroll SQL replay hash-match regardless of where
    * convergence lands.
    *
    * Scale shape: every round is one degree aggregation plus two
    * semi-joins keyed on the vertex id — the same exchange family as one
    * label-propagation round in ConnectedComponents; the edge set only
    * ever shrinks, and each round's (small) edge frame persists via the
    * tracked cache so re-scans within the round are free. Peeling removes
    * vertices in WAVES (all sub-k vertices at once), the parallel analog
    * of the sequential min-degree peel — rounds needed = peel depth, not
    * vertex count. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    var e = OperatorCaches.cache(canonicalEdges(edges))
    var stable = false
    var i = 0
    while (i < rounds && !stable) {
      val deg = degrees(e)
      stable = deg.where(col("deg") < k).isEmpty
      if (!stable) {
        val keep = deg.where(col("deg") >= k).select("v")
        // localCheckpoint (eager) EVERY round: a round's plan references
        // the previous round's frame three times (two semi-joins + the
        // degree aggregate), so without truncation the logical plan
        // TRIPLES per round and a 13-round peel OOMs the driver in
        // Catalyst before a single task runs. Checkpointing bounds the
        // plan at one round; the frame is edge-sized and only shrinks.
        // Release-tracked: the old persist-over-checkpoint layering was
        // redundant (a checkpoint is already materialized in the block
        // manager) and unreleasable (unpersist never reaches the
        // checkpoint RDD's pin — only the tracked seam does).
        e = OperatorCaches.checkpointed(e
          .join(keep.select(col("v").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("v").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst"))
      }
      i += 1
    }
    degrees(e).select(col("v").as("vertex"), col("deg"))
  }

  /** `iters` rounds of damped PageRank in fixed-point micro-units over the
    * undirected graph (each edge carries rank both ways). Returns
    * (vertex, deg, rank_micro). Init: 1e6 div N per vertex; update:
    * rank' = (150000 div N) + (85 * sum(in_contrib)) div 100 with
    * in_contrib = rank div deg. All arithmetic is integer — floor
    * division, associative sums — so results are engine/partitioning-
    * exact. Mass lost to flooring stays lost (defined semantics, same on
    * both sides of the gate). */
  def pageRankFixedPoint(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val e = canonicalEdges(edges)
    val dir = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    // (src, dst, deg) persisted once; every iteration joins ranks to it
    val adj = OperatorCaches.cache(dir.join(deg, "src"))
    val n = deg.count()
    require(n > 0, "pageRank needs a non-empty graph")
    val init = 1000000L / n
    val base = 150000L / n
    var ranks = deg.select(col("src").as("v"), lit(init).as("r"))
    for (i <- 1 to iters) {
      val inbound = adj.join(ranks, adj("src") === ranks("v"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      ranks = deg.select(col("src").as("v"))
        .join(inbound.select(col("dst").as("v"), col("s")), Seq("v"), "left")
        .select(col("v"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
      // lineage cadence: release-tracked, so long driver sessions do
      // not accumulate one pinned checkpoint RDD per 5 iterations
      if (i % 5 == 0 && i < iters) ranks = OperatorCaches.checkpointed(ranks)
    }
    ranks.join(deg.select(col("src").as("v"), col("deg")), "v")
      .select(col("v").as("vertex"), col("deg"), col("r").as("rank_micro"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.),
    * made DETERMINISTIC: every node starts labeled with its own id; each
    * round every node adopts the label with the highest count among its
    * neighbors, ties to the SMALLEST label (`min(struct(-cnt, label))` —
    * one lexicographic aggregate, no RNG, no visit order). A FIXED round
    * count (synchronous sweeps) keeps the run replayable in unrolled SQL
    * — unlike convergence-loop LPA, whose oscillations make "until
    * stable" engine-dependent.
    *
    * Scale shape: one join + one two-level aggregation per round, all
    * keyed on node id — the ConnectedComponents exchange family — with
    * the same persisted-adjacency reuse and lineage cadence as PageRank.
    * Isolated nodes never appear (edges define the population). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds out of range: $rounds")
    val e = canonicalEdges(edges)
    val sym = OperatorCaches.cache(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))))
    sym.count()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (i <- 1 to rounds) {
      val neigh = sym
        .join(labels.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      labels = neigh
        .groupBy("id")
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l")))
          .as("best"))
        .select(col("id"), col("best.l").as("lbl"))
      // lineage cadence: release-tracked (see pageRankFixedPoint)
      if (i % 5 == 0 && i < rounds) labels = OperatorCaches.checkpointed(labels)
    }
    labels.select(col("id"), col("lbl").as("community"))
  }
}
