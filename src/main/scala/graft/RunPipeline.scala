package graft

import graft.engine.{Pipeline, Runner}
import graft.queries.VaultQueries

/** End-to-end Data Vault pipeline runner against a persistent parquet
  * warehouse: derives the four raw landing tables from a testdata sf dir,
  * runs TWO full loads (the second with changed ratings and a vanished
  * movie subset, exercising every SCD2 leg), and prints per-table row
  * counts. This is the user-facing flow of the engine — the same path the
  * reference's `etl_layer_transfer.py` run takes.
  *
  * Usage: runMain graft.RunPipeline [sfDir] [warehouseDir]
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val whDir = if (args.length > 1) args(1)
                else java.nio.file.Files.createTempDirectory("graft-wh").toString
    val spark = Sessions.local(4)

    val wh = new Runner.Warehouse(spark, Some(whDir))

    def load(shift: Int, dropMod: Int, ts: String): Unit = {
      wh.put(Pipeline.RawMovieImdb,
        VaultQueries.rawMovies(spark, sfDir, 2, shift, dropMod))
      wh.put(Pipeline.RawMovieMeta,
        VaultQueries.rawMovies(spark, sfDir, 3, shift, dropMod))
      wh.put(Pipeline.RawActorImdb, VaultQueries.rawActors(spark, sfDir, 2))
      wh.put(Pipeline.RawActorMeta, VaultQueries.rawActors(spark, sfDir, 3))
      Pipeline.runLoad(wh, ts)
      println(s"[pipeline] load @ $ts done")
    }

    load(shift = 0, dropMod = 0, ts = "2024-01-01 00:00:00")
    load(shift = 3, dropMod = 30, ts = "2024-02-01 00:00:00")

    println(f"[pipeline] warehouse at $whDir:")
    wh.names.foreach { n =>
      println(f"[pipeline]   $n%-24s ${wh(n).count()}%8d rows")
    }
    spark.stop()
  }
}
