package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import java.io.IOException

/** Source/sink surface (SURVEY.md §2 family A): the reference lands scraped
  * rows via per-row INSERTs (A7), a CSV dump path (A8), and truncate-reload
  * (A9). The Spark-native shapes are batch columnar writes — one atomic
  * commit per table per run instead of 5,000 autocommits.
  *
  * Scale notes: every writer takes partition columns — at 100 TB the
  * load-date partitioning is what makes SCD2 history pruning and
  * incremental re-loads O(changed partition), not O(table).
  */
object Formats {

  /** Snapshot reader with declared schema (the landing contract): schema
    * mismatches surface at analysis, not mid-job. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .csv(path)

  def readJsonLines(spark: SparkSession, path: String,
                    schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC leg of the columnar surface — same predicate-pushdown and
    * column-pruning contract as parquet (FormatsSpec asserts
    * `PushedFilters` reaches the ORC scan), for warehouses standardized
    * on ORC instead. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** A7: the row-insert sink becomes a batch append. */
  def append(df: DataFrame, path: String,
             partitionBy: Seq[String] = Nil): Unit =
    write(df, path, SaveMode.Append, partitionBy)

  /** A9: truncate-and-reload becomes one atomic overwrite. */
  def overwrite(df: DataFrame, path: String,
                partitionBy: Seq[String] = Nil): Unit =
    write(df, path, SaveMode.Overwrite, partitionBy)

  private def write(df: DataFrame, path: String, mode: SaveMode,
                    partitionBy: Seq[String]): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** A8: the deprecated CSV dump path, kept for capability parity. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** A7's warehouse leg: partition-parallel JDBC read. The reference's
    * load boundary is a live Postgres (`imdb parser.py:229-252`); the
    * Spark-native read splits `table` into `numPartitions` range slices of
    * `partitionColumn` so 1000 executors pull concurrently instead of one
    * cursor streaming 100 TB through a single connection. Without a
    * partition column the read is single-connection — acceptable only for
    * dimension-sized tables. */
  def readJdbc(spark: SparkSession, url: String, table: String,
               props: Map[String, String] = Map.empty,
               partitionColumn: Option[String] = None,
               lowerBound: Long = 0L, upperBound: Long = 0L,
               numPartitions: Int = 8): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    val withProps = props.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }
    partitionColumn.fold(withProps) { c =>
      require(upperBound > lowerBound,
        s"partitioned read needs upperBound > lowerBound, " +
          s"got [$lowerBound, $upperBound]")
      withProps.option("partitionColumn", c)
        .option("lowerBound", lowerBound.toString)
        .option("upperBound", upperBound.toString)
        .option("numPartitions", numPartitions.toString)
    }.load()
  }

  /** A7's JDBC sink: the reference inserts row-at-a-time under autocommit
    * (`imdb parser.py:237-248` — one round-trip per scraped row); the
    * Spark shape is batched writes issued in parallel from every
    * partition (`batchsize` rows per statement, one transaction per
    * partition). Target-side keying/constraints stay the warehouse's job,
    * as in the reference. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: SaveMode = SaveMode.Append,
                props: Map[String, String] = Map.empty,
                batchSize: Int = 10000): Unit = {
    val base = df.write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize.toString)
    props.foldLeft(base) { case (w, (k, v)) => w.option(k, v) }.save()
  }

  /** The one stage of `live`: `.<name>.staging` beside it, dot-hidden
    * like the swap's aside so neither partition discovery nor a scan of
    * the parent ever parses it, and cleared of whatever a crashed earlier
    * run left there. */
  private[graft] def stage(fs: FileSystem, live: Path): Path = {
    val staged = new Path(live.getParent, s".${live.getName}.staging")
    fs.delete(staged, true)
    staged
  }

  /** Whole-directory publish, the reference's `temp_` table step
    * (ddl.py:559-570): `write` fills the stage of `live`, which then
    * swaps in over it ([[swapInto]]) and the path is refreshed. A crash
    * at any point leaves the old or the new copy intact, never neither.
    * Returns what `write` returns. */
  def publish[A](spark: SparkSession, live: Path)(write: Path => A): A = {
    val staged = stage(fsOf(spark, live), live)
    val out = write(staged)
    commit(spark, Seq(staged -> live))
    out
  }

  /** Partition-leaf publish: `write` fills the stage of the dataset at
    * `live` in the dataset's own layout and returns the leaf names to
    * publish (`col=value`), in order. Each staged leaf swaps in over its
    * live counterpart; a listed leaf the stage lacks is deleted (every
    * row of it fell away). Leaves the list omits are never opened or
    * moved. Each leaf swap is atomic-enough on its own, the dataset is
    * not, so the caller orders the leaves such that every prefix of the
    * list leaves a readable dataset. The stage is removed and the
    * dataset refreshed afterwards. */
  def publishLeaves(spark: SparkSession, live: Path)
                   (write: Path => Seq[String]): Unit = {
    val fs = fsOf(spark, live)
    val staged = stage(fs, live)
    for (leaf <- write(staged)) {
      val from = new Path(staged, leaf)
      val to = new Path(live, leaf)
      if (fs.exists(from)) swapInto(fs, from, to) else fs.delete(to, true)
    }
    fs.delete(staged, true)
    spark.catalog.refreshByPath(live.toString)
  }

  /** The swap-and-refresh step of every publish, for callers that stage
    * several directories before any of them may swap (an index fold, a
    * recenter): swaps each `(staged, live)` pair in the given order, then
    * refreshes every live path — the swaps happened behind Spark's back,
    * so a later scan would otherwise serve a dead file listing. */
  def commit(spark: SparkSession, swaps: Seq[(Path, Path)]): Unit = {
    for ((staged, live) <- swaps) swapInto(fsOf(spark, live), staged, live)
    swaps.foreach { case (_, live) =>
      spark.catalog.refreshByPath(live.toString) }
  }

  /** The committed copy of `live`: itself, or — after a crash between a
    * swap's two renames — the dot-hidden aside that still holds it. */
  def lastCommitted(fs: FileSystem, live: Path): Option[Path] =
    Seq(live, aside(live)).find(fs.exists)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def aside(live: Path) =
    new Path(live.getParent, s".${live.getName}.old")

  /** The machine-owned partition-leaf shape ([[swapInto]]'s retro-clean
    * gate): an identifier column name, `=`, an integer value. */
  private val IntLeaf = "^[A-Za-z_][A-Za-z0-9_]*=-?[0-9]+$".r

  /** Crash-safe directory swap: rename the live dir aside, rename the new
    * dir into place, then drop the old. A crash between the two renames
    * leaves BOTH copies on disk (`.<name>.old` + the new dir) for
    * recovery — unlike delete-then-rename, where a crash after the delete
    * loses the table — and while `live` is missing the aside is the
    * committed copy, so it is kept until the new dir is in place. The
    * aside name is DOT-PREFIXED so partition discovery never parses it:
    * when `live` is a partition LEAF inside a dataset root (the
    * [[publishLeaves]] per-leaf swap), an un-hidden `part=3.old` sibling
    * would be read as a partition VALUE `"3.old"` between rename-aside
    * and delete — flipping the partition column to string and
    * resurfacing tombstoned rows for any concurrent reader, and
    * permanently after a crash in that window. Dot-prefixed paths are
    * invisible to Spark/Hadoop listing (same convention as the stage
    * dirs), so in-flight and crashed swaps alike leave reads correct.
    * Single-writer warehouse semantics otherwise (a reader holding an
    * open handle on the moving directory itself is out of scope, as with
    * the reference's truncate-reload). Both rename results are checked:
    * `FileSystem.rename` reports most failures by returning false. */
  private[sources] def swapInto(fs: FileSystem, newDir: Path,
                                live: Path): Unit = {
    val old = aside(live)
    // retro-clean the UN-hidden aside a crash under the pre-dot-prefix
    // code could have left — but ONLY for INT-VALUED partition LEAVES
    // (`col=-?digits` names, the one shape every index layout in this
    // library writes), where the exposed `part=N.old` sibling corrupts
    // partition discovery (string-typed value, resurfaced rows) on
    // every read until removed. That namespace is machine-owned, so
    // the sweep can never hit user data there. Anything else is left
    // standing: for a STRING-typed partition column a legitimate
    // sibling leaf like `part=backup.old` would be indistinguishable
    // from a crashed swap of `part=backup`, and for whole-dataset
    // swaps a `<name>.old` could be a user's own backup — deleting
    // either unasked would be data loss.
    if (IntLeaf.matches(live.getName))
      fs.delete(new Path(live.getParent, s"${live.getName}.old"), true)
    if (fs.exists(live)) {
      fs.delete(old, true) // leftover from a prior crashed swap
      if (!fs.rename(live, old))
        throw new IOException(s"could not move $live aside to $old")
    }
    if (!fs.rename(newDir, live))
      throw new IOException(s"could not move $newDir into place at $live")
    fs.delete(old, true)
  }

  /** The zero-row layout of `df` at `dir` that stays readable AND
    * appendable, cleared first. Flat (`part` = None): one zero-row
    * schema-carrying file at `dir`. Partitioned: a dynamic-partition
    * write of zero rows emits no part files (only _SUCCESS), so every
    * later read dies on schema inference — while a flat zero-row file at
    * the ROOT turns the NEXT append's `part=N/` subdirectories into the
    * mixed flat/partitioned layout Spark's partition discovery rejects.
    * Writing the zero-row file INSIDE a literal `<part>=0/` leaf keeps
    * both properties: the file carries the data schema, the directory
    * name carries the partition column (discovered as int, matching
    * every index layout's bucket/cell column type). */
  def writeEmpty(df: DataFrame, dir: Path, part: Option[String]): Unit = {
    fsOf(df.sparkSession, dir).delete(dir, true)
    df.where(org.apache.spark.sql.functions.lit(false))
      .drop(part.toSeq: _*).coalesce(1).write.mode("overwrite")
      .parquet(part.fold(dir)(p => new Path(dir, s"$p=0")).toString)
  }

  /** Small-files compaction: rewrite a parquet dataset into files of
    * roughly `targetBytes` each, published crash-safely ([[publish]]).
    * Incremental appends (A7) accumulate one file per commit per
    * partition; at 100 TB the resulting footer/open overhead dominates
    * scan time long before data volume does. File count is derived from
    * the dataset's actual on-disk size, and the rewrite is a coalesce —
    * no shuffle — unless `sortBy` asks for a clustering order (e.g. a
    * [[graft.expressions.ZOrder62]] key), which range-partitions instead.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
              sortBy: Seq[org.apache.spark.sql.Column] = Nil): Long = {
    val hPath = new Path(path)
    val onDisk = fsOf(spark, hPath).getContentSummary(hPath).getLength
    val nFiles = math.max(1, (onDisk + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(path)
    val arranged =
      if (sortBy.nonEmpty) df.repartitionByRange(nFiles, sortBy: _*)
      else df.coalesce(nFiles)
    publish(spark, hPath)(staged =>
      arranged.write.mode(SaveMode.Overwrite).parquet(staged.toString))
    nFiles.toLong
  }
}
