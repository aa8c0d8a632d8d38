package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.engine.Tables.t

/** A live batch dir is read with its base dataset's schema: building a
  * search frame over an index with one live batch dir starts as many
  * Spark jobs as over the same index with none (no per-dir schema
  * inference), and the batch's rows still surface. */
class LiveBatchSchemaSpec extends SparkSpec {

  test("a live batch dir adds no Spark job to building a search frame") {
    val emb = t(spark, sf001, "embeddings").where(col("vec_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("graft_live_schema")
      .toString
    Similarity.writeIndex(emb.where(col("vec_id") % 2 === 0), dir,
      nClusters = 4)
    val qs = emb.where(col("vec_id") < 3)
    var found: Option[org.apache.spark.sql.DataFrame] = None
    def frameJobs(): Int = jobsDuring {
      found = Some(Similarity.searchIndex(spark, dir, qs, k = 5, nProbe = 4))
    }
    val none = frameJobs()
    Similarity.appendBatchDir(emb.where(col("vec_id") % 2 === 1), dir,
      "t", 0L)
    val one = frameJobs()
    assert(one == none,
      s"one live batch dir: $one jobs, none: $none jobs")
    assert(found.get.where(col("cand_id") % 2 === 1).count() > 0,
      "the live batch dir's rows never surfaced")
  }
}
