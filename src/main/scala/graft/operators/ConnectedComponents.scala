package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a near-duplicate pair graph — the step that
  * turns dedup PAIRS into dedup DECISIONS: every document in a duplicate
  * cluster maps to one canonical id (the cluster minimum), and a pipeline
  * keeps exactly the rows where `id == canonical`.
  *
  * Algorithm: min-label propagation (Pregel-lite). Each node starts
  * labeled with its own id; every round each node takes the min of its
  * label and its neighbors' labels; converges in O(graph diameter) rounds.
  * Near-dup graphs are shallow (clusters are cliques-ish, diameter ≤ ~3),
  * so the loop terminates in a handful of rounds — `maxIter` bounds
  * adversarial chains, and the operator FAILS LOUDLY rather than returning
  * a half-converged labeling.
  *
  * Scale shape: one shuffle per round (the neighbor-min aggregation), all
  * joins on the node id. Storage discipline: each round persists its
  * output, materializes it via the convergence count, then frees the
  * previous round — at most two label copies live at any moment. Every
  * `CheckpointEvery` rounds the frame is additionally localCheckpoint'ed
  * to truncate the iterative lineage (the plan would otherwise nest one
  * join deeper per round and the optimizer re-walks the whole history);
  * checkpoint blocks are bounded at diameter/CheckpointEvery copies, the
  * price of fast recovery should a persisted partition be lost. For graphs
  * whose diameter is itself the problem (billions of edges, long chains),
  * swap in the alternating large-star/small-star algorithm (Kiveris et
  * al., "Connected Components in MapReduce and Beyond") — same DataFrame
  * surface.
  */
object ConnectedComponents {

  private val CheckpointEvery = 5

  /** Edge-count bound under which [[canonicalize]] solves the closure
    * driver-locally. Small match graphs (entity-resolution fixtures,
    * incremental batches, contracted remaps) are dominated by per-round
    * JOB overhead, not data: each distributed round costs a
    * join+aggregate+count of scheduler/codegen latency, while ≤ 2^16
    * edges are a ~1 MB bounded collect that union-find answers exactly
    * in microseconds — the same bounded-collect pattern as Packing's
    * prefix-scan offsets and Similarity's k centroids. Above the bound
    * the plan is exactly the pre-existing distributed loop. */
  private val SmallGraph = 1 << 16

  private val integralTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(LongType, IntegerType, ShortType, ByteType)
  }

  /** Driver-local min-root union-find over a BOUNDED, already-counted
    * edge set: exact for any component shape (no radius/diameter bound,
    * unlike label propagation's maxIter), canonical = component min.
    * Only reached behind [[SmallGraph]]'s probe, so the collect is
    * capped by construction. */
  private def localLabels(sym: DataFrame): DataFrame = {
    val idType = sym.schema("a").dataType
    val edges = sym.select(col("a").cast("long"), col("b").cast("long"))
      .collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val spark = sym.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.toSeq.map(id => (id, find(id)))
      .toDF("id", "canonical")
      .select(col("id").cast(idType).as("id"),
        col("canonical").cast(idType).as("canonical"))
  }

  /** @param pairs edges as two id columns (any orientation, dups fine)
    * @param localThreshold edge bound for the driver-local fast path
    *        (0 disables it — every input runs the distributed loop)
    * @return (id, canonical) for every id appearing in `pairs` */
  def canonicalize(pairs: DataFrame, id1Col: String = "id1",
                   id2Col: String = "id2", maxIter: Int = 20,
                   localThreshold: Int = SmallGraph): DataFrame = {
    val sym = pairs.select(col(id1Col).as("a"), col(id2Col).as("b"))
      .union(pairs.select(col(id2Col).as("a"), col(id1Col).as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded probe (the limit short-circuits — never a full count at
      // scale): small integral-id graphs skip the round loop entirely
      if (localThreshold > 0 &&
          sym.schema.fields.forall(f => integralTypes(f.dataType)) &&
          sym.limit(localThreshold + 1).count() <= localThreshold)
        return localLabels(sym)
      var labels = OperatorCaches.cache(sym.select(col("a").as("id")).distinct()
        .withColumn("canonical", col("id")))
      // the frame whose persist an eager unpersist can actually reach:
      // `labels` becomes a Project (drop) OVER the persisted round below,
      // and CacheManager.uncacheQuery matches whole plans — unpersisting
      // the projection is a silent no-op, so the raw round frame is kept
      var labelsPersisted = labels
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        // One round = one join + ONE aggregation: neighbor candidates and
        // the node's own label union into a single min — the self row both
        // keeps the label monotone (canonical = least(prev, neighborMin))
        // and carries the previous label through the same aggregate
        // (min over the unique self row), so convergence is read off the
        // SAME materialized frame with no per-round re-join. Two
        // label-sized exchanges per round instead of three.
        val cand = sym
          .join(labels.select(col("id").as("b"), col("canonical").as("cand")),
            "b")
          .select(col("a").as("id"), col("cand"), lit(false).as("self"))
          .union(labels.select(col("id"), col("canonical").as("cand"),
            lit(true).as("self")))
        var updated = cand.groupBy("id").agg(
          min(when(col("self"), col("cand"))).as("__prev"),
          min("cand").as("canonical"))
        updated =
          if (iter % CheckpointEvery == CheckpointEvery - 1)
            // truncate the iterative lineage; release-TRACKED, because
            // Dataset.unpersist never reaches a localCheckpoint's pinned
            // RDD — only OperatorCaches.releaseAll
            // unpins these rounds. ≤ maxIter/CheckpointEvery label-sized
            // frames pinned per call, freed at release.
            OperatorCaches.checkpointed(updated)
          else OperatorCaches.cache(updated)
        // count() (not isEmpty) fully materializes the round before the
        // previous copy is released
        converged = updated.where(col("canonical") =!= col("__prev"))
          .count() == 0
        // updated is materialized; eagerly free the prior round's plain
        // persist so peak storage stays at two label frames, not one per
        // round (checkpointed rounds are a no-op here — their pinned RDD
        // is released by the tracked seam, not unpersist)
        labelsPersisted.unpersist()
        labelsPersisted = updated
        labels = updated.drop("__prev")
        iter += 1
      }
      if (!converged) {
        // free the last round's persisted frame before failing loudly —
        // the finally below only covers `sym`
        labelsPersisted.unpersist(blocking = false)
        throw new IllegalArgumentException(
          s"requirement failed: connected components did not converge " +
            s"in $maxIter rounds — graph diameter exceeds the bound; " +
            "raise maxIter or use an alternating-star variant for " +
            "long-chain graphs")
      }
      labels
    } finally sym.unpersist() // also on the non-convergence throw
  }

  /** Long-diameter variant: alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — converges in O(log n) rounds regardless of graph
    * diameter, where [[canonicalize]]'s label propagation needs
    * O(diameter) rounds and fails loudly on adversarial chains.
    *
    *   - large-star at node u: every strictly-LARGER neighbor re-attaches
    *     to min(u ∪ N(u)) — long tails collapse toward small ids.
    *   - small-star at node u: every smaller-or-equal neighbor (and u)
    *     re-attaches to the minimum of that set — stars flatten.
    *
    * The fixed point is a star forest: every node holds an edge to its
    * component minimum. Both steps preserve connectivity exactly (each
    * re-attachment goes through a shared neighborhood), so the final
    * stars ARE the components.
    *
    * Scale shape: each round is two groupBy-min aggregations and two
    * joins, all keyed on node id — the same exchange family as one
    * label-propagation round, just O(log n) of them instead of
    * O(diameter). Edge sets are kept normalized (lo < hi, distinct);
    * the per-round equality check is one anti-join over the previous
    * (already-persisted) set. Same storage discipline as
    * [[canonicalize]]: at most two edge copies live, lineage truncated
    * every [[CheckpointEvery]] rounds.
    *
    * @param pairs edges as two id columns (any orientation, dups fine)
    * @return (id, canonical) for every id appearing in `pairs` */
  def canonicalizeDeep(pairs: DataFrame, id1Col: String = "id1",
                       id2Col: String = "id2",
                       maxIter: Int = 30,
                       localThreshold: Int = SmallGraph): DataFrame = {
    val nodes = pairs.select(col(id1Col).as("id"))
      .union(pairs.select(col(id2Col).as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var edges = OperatorCaches.cache(pairs
      .select(least(col(id1Col), col(id2Col)).as("lo"),
        greatest(col(id1Col), col(id2Col)).as("hi"))
      .where(col("lo") =!= col("hi")) // self loops carry no connectivity
      .distinct())
    try {
      // same bounded driver-local fast path as [[canonicalize]] — the
      // star rounds, like label propagation, pay scheduler latency per
      // round that dwarfs the data work on small graphs. Union-find is
      // orientation-agnostic, so the DISTINCT normalized edge set
      // suffices (never the raw pairs, whose duplication is unbounded);
      // nodes ride along as self-loops so self-loop-only singletons
      // still get labeled, with their own bounded probe.
      if (localThreshold > 0 &&
          edges.schema.fields.forall(f => integralTypes(f.dataType)) &&
          edges.limit(localThreshold + 1).count() <= localThreshold &&
          nodes.limit(localThreshold + 1).count() <= localThreshold)
        return localLabels(edges
          .select(col("lo").as("a"), col("hi").as("b"))
          .union(nodes.select(col("id").as("a"), col("id").as("b"))))
      var nEdges = edges.count()
      var iter = 0
      var converged = nEdges == 0
      while (!converged && iter < maxIter) {
        // large-star: center every node, re-attach larger neighbors to
        // the neighborhood min (which is <= center < neighbor, so the
        // output pair is already (min, neighbor)-normalized)
        val sym = edges.select(col("lo").as("u"), col("hi").as("v"))
          .union(edges.select(col("hi").as("u"), col("lo").as("v")))
        val nbrMin = sym.groupBy("u").agg(min("v").as("__nm"))
          .select(col("u"), least(col("__nm"), col("u")).as("m"))
        val large = sym.where(col("v") > col("u"))
          .join(nbrMin, "u")
          .select(col("m").as("lo"), col("v").as("hi"))
          .where(col("lo") =!= col("hi"))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK) // read 3× below
        // small-star: center the HI side of each normalized edge; its
        // smaller neighbors (and itself) re-attach to their min
        val smallMin = large.groupBy(col("hi").as("u"))
          .agg(min("lo").as("m"))
        val reattached = large
          .join(smallMin, large("hi") === smallMin("u"))
          .select(col("m").as("lo"), large("lo").as("hi"))
          .where(col("lo") =!= col("hi"))
        val centers = smallMin
          .select(col("m").as("lo"), col("u").as("hi"))
        // eager localCheckpoint EVERY round, not every CheckpointEvery:
        // one alternating-star round references the prior edge set ~9
        // times (sym twice, nbrMin, three reads of `large`), so an
        // un-truncated lineage grows ~9^rounds and the optimizer/explain
        // machinery blows up after a handful — and rounds are O(log n)
        // few, so per-round truncation costs almost nothing here.
        // Release-tracked: O(log n) shrinking edge-sized frames pinned
        // per call, unpinned by OperatorCaches.releaseAll.
        val updated = OperatorCaches.checkpointed(
          reattached.union(centers).distinct())
        val nUpdated = updated.count()
        // distinct sets: equal counts + empty anti-join ⇒ equal sets
        converged = nUpdated == nEdges &&
          updated.join(edges, Seq("lo", "hi"), "left_anti").isEmpty
        large.unpersist()
        edges.unpersist()
        edges = updated
        nEdges = nUpdated
        iter += 1
      }
      require(converged,
        s"alternating-star components did not converge in $maxIter " +
          "rounds — O(log n) bound exceeded, which indicates a bug or a " +
          "pathological id space; raise maxIter only after inspecting")
      // fixed point is a star forest: every non-root appears as hi with
      // its root as lo; roots (and isolated nodes) map to themselves
      nodes.join(edges.select(col("hi").as("id"), col("lo").as("root")),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("root"), col("id")).as("canonical"))
    } finally nodes.unpersist()
  }

  /** Fold a NEW batch of duplicate pairs into an EXISTING labeling at
    * O(batch) propagation cost — the daily-increment path: near-dup
    * mining emits a day's pairs ([[graft.operators.Dedup
    * .incrementalLshPairs]]), and this merges them into the standing
    * (id, canonical) table without re-running components over history.
    *
    * Correctness rests on the canonical-is-component-min invariant:
    * contract each new edge to the endpoints' CURRENT canonicals (an
    * unseen endpoint is its own), run [[canonicalize]] on that
    * contracted graph — bounded by the batch, NOT the corpus — and the
    * resulting relabeling `old canonical → new canonical` is exactly the
    * cascade of component merges the batch causes: a merged component's
    * new minimum is the min over its parts' minima and the new ids,
    * which is the full-graph minimum. The spec and gate pin
    * `incremental(labels, batch) == full recompute over all pairs`.
    *
    * Scale shape: the batch maps through two joins against the labeling
    * (batch side broadcast-eligible), the contracted propagation runs on
    * ≤|batch| edges, and the corpus-sized labeling is touched by ONE
    * scan — a left join against the batch-sized remap (broadcast). At
    * 100 TB: history is never re-propagated, yesterday's labels are
    * yesterday's; only bridged components change canonical. */
  def incrementalCanonicalize(labels: DataFrame, newPairs: DataFrame,
                              id1Col: String = "id1", id2Col: String = "id2",
                              maxIter: Int = 20): DataFrame = {
    // Eager localCheckpoints at every boundary, not persists: the inputs
    // and the remap carry DEEP iterative lineage (labels is usually a
    // canonicalize result), and each downstream join re-references it —
    // under plain persist, consumers whose cache lookup misses after
    // attribute deduplication re-ANALYZE the nested plan, and the
    // multiplicative plan size costs tens of seconds of Catalyst time on
    // 60-row frames (measured 52 s before truncation, 1.4 s after).
    // Checkpointed leaves make every plan below shallow. All three are
    // release-tracked (OperatorCaches.releaseAll unpins them), which
    // makes the RETURNED frame consume-before-release: materialize it
    // before releasing, as the driver's gate sessions do.
    val l = OperatorCaches.checkpointed(labels.select(col("id"), col("canonical")))
    val p = OperatorCaches.checkpointed(
      newPairs.select(col(id1Col).as("a"), col(id2Col).as("b")))
    val mapped = p
      .join(l.select(col("id").as("a"), col("canonical").as("ca")),
        Seq("a"), "left")
      .join(l.select(col("id").as("b"), col("canonical").as("cb")),
        Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("ca"),
        coalesce(col("cb"), col("b")).as("cb"))
    val contracted = mapped.where(col("ca") =!= col("cb"))
    val remap = OperatorCaches.checkpointed(
      canonicalize(contracted, "ca", "cb", maxIter)
        .select(col("id").as("old_c"), col("canonical").as("new_c")))
    val updated = l
      .join(remap, l("canonical") === remap("old_c"), "left")
      .select(col("id"),
        coalesce(col("new_c"), col("canonical")).as("canonical"))
    val newIds = p.select(col("a").as("id"))
      .union(p.select(col("b").as("id"))).distinct()
      .join(l.select("id"), Seq("id"), "left_anti")
    val newLabeled = newIds
      .join(remap, newIds("id") === remap("old_c"), "left")
      .select(col("id"),
        coalesce(col("new_c"), col("id")).as("canonical"))
    updated.unionByName(newLabeled)
  }
}
