package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted binary-sketch index: equivalence to the in-memory
  * hammingTopK pipeline, the dual-dataset layout, and the full shared
  * lifecycle (streamed ingestion, compaction, streamed deletion via the
  * generic tombstone sink, vacuum). */
class SketchIndexSpec extends SparkSpec {

  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  test("searchIndex is row-identical to the in-memory hammingTopK and " +
      "both datasets carry their layouts") {
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val qs = emb.where(col("vec_id") < 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sketch_idx").toString
    SketchIndex.writeIndex(emb, dir)
    val mem = Similarity.hammingTopK(emb, qs, k = 10, shortlist = 50)
      .as[(Long, Long, Int, Double, Int)].collect()
      .sortBy(r => (r._1, r._5))
    val idx = SketchIndex.searchIndex(spark, dir, qs, k = 10,
        shortlist = 50)
      .as[(Long, Long, Int, Double, Int)].collect()
      .sortBy(r => (r._1, r._5))
    assert(mem.nonEmpty && idx.sameElements(mem),
      s"persisted sketch search diverged:\n${idx.toSeq}\n${mem.toSeq}")
    // sketches flat (8B/vector first stage), vectors bucket-partitioned
    assert(new java.io.File(s"$dir/vectors").listFiles()
      .exists(_.getName.startsWith("bucket=")), "vectors not bucketed")
    assert(!new java.io.File(s"$dir/sketches").listFiles()
      .exists(_.getName.startsWith("bucket=")),
      "sketches must stay flat — the first stage is a deliberate " +
        "full scan of the smallest dataset")
  }

  test("searchIndex plan: partial WindowGroupLimit below the shortlist " +
      "exchange, bucket partition filter at the vector fetch") {
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val qs = emb.where(col("vec_id") < 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sketch_plan").toString
    SketchIndex.writeIndex(emb, dir)
    val df = SketchIndex.searchIndex(spark, dir, qs, k = 5, shortlist = 20)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"vector fetch must partition-prune on bucket:\n$plan")
    // the shortlist window itself runs inside searchIndex (collected);
    // its plan is checked on the pre-collect frame the operator builds —
    // assert the re-rank window of the returned frame has its group
    // limit too (rank <= k pushes a WindowGroupLimit)
    assert(plan.contains("WindowGroupLimit"),
      s"re-rank window lost its group limit:\n$plan")
  }

  test("lifecycle: streamed batches land exactly-once, compaction " +
      "preserves results and consumes dirs, the generic tombstoneSink " +
      "masks immediately, vacuum is physical on both datasets") {
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val qs = emb.where(col("vec_id") < 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sketch_life").toString
    SketchIndex.writeIndex(emb, dir)
    val v = graft.functions.VectorFunctions.asDouble(col("embedding"))
    val batch = emb.where(col("vec_id") < 3)
      .select((col("vec_id") + 1000000).as("vec_id"),
        concat(array(element_at(v, 1) + 0.1), slice(v, 2, 63))
          .as("embedding"))
    def feed(tag: String): Unit = {
      val rows = batch.as[(Long, Seq[Double])].collect().toSeq
      val src = MemoryStream[(Long, Seq[Double])]
      src.addData(rows: _*)
      graft.streaming.EventStreams.indexSink(SketchIndex,
          src.toDF().toDF("vec_id", "embedding"), dir,
          tagOverride = Some(tag))
        .awaitTermination()
    }
    feed("crawl")
    def rows() = SketchIndex.searchIndex(spark, dir, qs, k = 10,
        shortlist = 50)
      .as[(Long, Long, Int, Double, Int)].collect()
      .sortBy(r => (r._1, r._5)).toSeq
    val once = rows()
    // near-copies reachable only through the batch dir surface at rank 1
    for (q <- 0L to 2L)
      assert(once.exists(r => r._1 == q && r._2 == q + 1000000 && r._5 == 1),
        s"query $q: streamed near-copy not at rank 1")
    // a replayed one-shot stream (same tag, batchId 0 again) rewrites
    feed("crawl")
    assert(rows() == once, "replayed micro-batch double-counted")
    // and equals the in-memory pipeline over the union corpus
    val union = emb.select(col("vec_id"), v.as("embedding")).union(batch)
    val direct = Similarity.hammingTopK(union, qs, k = 10, shortlist = 50)
      .as[(Long, Long, Int, Double, Int)].collect()
      .sortBy(r => (r._1, r._5)).toSeq
    assert(rows() == direct, "streamed index diverged from hammingTopK")
    SketchIndex.compactIndexBatches(spark, dir)
    assert(rows() == once, "compaction changed results")
    assert(IndexBatches.live(spark, dir, "sketches").isEmpty)
    // streamed DELETION through the one generic ledger sink
    val victim = once.head._2
    val ids = MemoryStream[Long]
    ids.addData(victim)
    graft.streaming.EventStreams.tombstoneSink(
        ids.toDF().toDF("vec_id"), dir, tagOverride = Some("gdpr"))
      .awaitTermination()
    assert(!rows().exists(_._2 == victim), "tombstoned vector retrieved")
    assert(SketchIndex.vacuumIndex(spark, dir) > 0L)
    for (ds <- Seq("sketches", "vectors"))
      assert(spark.read.parquet(s"$dir/$ds")
        .where(col("vec_id") === victim).count() == 0,
        s"$ds still holds the vacuumed vector")
    assert(!rows().exists(_._2 == victim), "vacuum resurfaced the victim")
  }

  test("vacuum-everything then append keeps the vectors layout " +
      "consistent (no mixed flat/partitioned directory)") {
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
      .where(col("vec_id") < 20)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sketch_purge").toString
    SketchIndex.writeIndex(emb, dir)
    // tombstone the ENTIRE corpus: the vacuum rewrite has zero rows to
    // keep, the branch that used to write a FLAT empty file at the
    // vectors root — which made the next append's bucket=N dirs a mixed
    // layout Spark's partition discovery rejects
    SketchIndex.deleteFromIndex(emb.select(col("vec_id")), dir)
    assert(SketchIndex.vacuumIndex(spark, dir) == 20L)
    assert(spark.read.parquet(s"$dir/vectors").count() == 0L,
      "purged vectors dataset must still read (schema-carrying leaf)")
    SketchIndex.appendToIndex(emb, dir)
    val got = SketchIndex.searchIndex(spark, dir,
        emb.where(col("vec_id") < 2), k = 3, shortlist = 10)
      .as[(Long, Long, Int, Double, Int)].collect()
    assert(got.nonEmpty, "post-purge append not searchable")
    assert(spark.read.parquet(s"$dir/vectors").count() == 20L,
      "mixed layout broke the vectors read after append")
  }
}
