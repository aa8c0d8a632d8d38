package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.IOException

/** Versioned table directory — time travel for the warehouse, the
  * single-table core of what a lakehouse format's commit log provides:
  * every write lands a complete new snapshot under `<dir>/v=N`, a tiny
  * `_latest` pointer names the current version, and readers pin either
  * the pointer or an explicit version.
  *
  * Commit protocol: data first, pointer last. The snapshot directory is
  * fully written before the pointer moves (pointer swap = the
  * whole-path [[Formats.publish]]: stage, rename `_latest` aside, rename
  * the stage in — single-file renames, atomic on HDFS-like stores; a
  * crash between the two renames leaves the aside, which
  * [[latestVersion]] reads), so a crash at ANY point leaves the table
  * readable at its previous version; a half-written `v=N` dir that never
  * got the pointer is invisible to readers and reclaimed by the next
  * write to the same number. Concurrent READERS are safe throughout
  * (they resolve the pointer once, then read an immutable snapshot dir);
  * single writer, as everywhere in this warehouse.
  *
  * Scale notes: this is snapshot-per-write — right for dimension and
  * registry tables (read @version is what makes yesterday's pipeline
  * reproducible bit-for-bit); for 100 TB facts, SCD2's partition-grain
  * history (`Warehouse.putScd2`) is the incremental-history path, and a
  * real table format (Delta/Iceberg) replaces BOTH with a manifest log —
  * the read/write surface here is deliberately shaped so that swap-in
  * changes call sites, not semantics. [[prune]] bounds history like a
  * lakehouse VACUUM, refusing to drop the live version.
  */
object Versioned {

  private val Pointer = "_latest"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All committed versions (pointer-reachable history), ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val f = fs(spark, dir)
    val d = new Path(dir)
    if (!f.exists(d)) return Nil
    val latest = latestVersion(spark, dir)
    f.listStatus(d).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toInt)
      .filter(v => latest.exists(v <= _)) // uncommitted dirs are invisible
      .sorted
  }

  /** The pointer's version, if the table has ever committed — read from
    * the pointer's aside when a crash hit between its swap's renames. */
  def latestVersion(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    Formats.lastCommitted(f, new Path(dir, Pointer)).map { p =>
      val in = f.open(p)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        new String(buf, 0, math.max(n, 0), "UTF-8").trim.toInt
      } finally in.close()
    }
  }

  /** Commit `df` as the next version and move the pointer. Returns the
    * committed version number (1-based). */
  def write(df: DataFrame, dir: String): Int = {
    val spark = df.sparkSession
    val f = fs(spark, dir)
    val next = latestVersion(spark, dir).getOrElse(0) + 1
    val snap = new Path(dir, s"v=$next")
    // a crashed previous attempt at this number is dead weight: reclaim
    f.delete(snap, true)
    df.write.parquet(snap.toString)
    Formats.publish(spark, new Path(dir, Pointer)) { staged =>
      val out = f.create(staged, true)
      try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    }
    spark.catalog.refreshByPath(dir)
    next
  }

  /** Read the pointer version, or an explicit `version` for time travel.
    * Fails loudly on a version outside committed history. */
  def read(spark: SparkSession, dir: String,
           version: Option[Int] = None): DataFrame = {
    val latest = latestVersion(spark, dir).getOrElse(
      throw new IOException(s"$dir has no committed version"))
    val v = version.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"version $v outside committed history [1, $latest] of $dir")
    val snap = new Path(dir, s"v=$v")
    require(fs(spark, dir).exists(snap),
      s"version $v of $dir was pruned — history no longer reaches it")
    spark.read.parquet(snap.toString)
  }

  /** Drop all but the newest `keep` committed versions (VACUUM). Never
    * drops the live version. Returns the dropped version numbers. */
  def prune(spark: SparkSession, dir: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"must keep at least the live version: $keep")
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    val drop = vs.dropRight(keep)
    drop.foreach(v => f.delete(new Path(dir, s"v=$v"), true))
    drop
  }
}
