package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class FormatsSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("csv round-trip with declared schema") {
    val dir = Files.createTempDirectory("graft-csv").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Formats.writeCsv(df, s"$dir/t")
    val back = Formats.readCsv(spark, s"$dir/t", schema)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("append accretes, overwrite truncate-reloads (A7/A9)") {
    val dir = Files.createTempDirectory("graft-pq").toString
    val df = Seq((1L, "a")).toDF("id", "name")
    Formats.overwrite(df, s"$dir/t")
    Formats.append(Seq((2L, "b")).toDF("id", "name"), s"$dir/t")
    assert(Formats.readParquet(spark, s"$dir/t").count() == 2)
    Formats.overwrite(df, s"$dir/t")
    assert(Formats.readParquet(spark, s"$dir/t").count() == 1)
  }

  test("partitioned writes prune on the partition column") {
    val dir = Files.createTempDirectory("graft-part").toString
    val df = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
      .toDF("id", "name", "load_date")
    Formats.overwrite(df, s"$dir/t", partitionBy = Seq("load_date"))
    val pruned = Formats.readParquet(spark, s"$dir/t")
      .where(col("load_date") === "2024-01-01")
    assert(pruned.count() == 1)
    // partition pruning visible in the plan: only one directory scanned
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(pruned.queryExecution.optimizedPlan.toString != null && scan.nonEmpty)
  }

  test("json lines reader honors the declared schema") {
    val dir = Files.createTempDirectory("graft-json").toString
    Files.writeString(java.nio.file.Paths.get(dir, "d.json"),
      """{"id": 1, "name": "a"}
        |{"id": 2, "name": "b"}""".stripMargin)
    val back = Formats.readJsonLines(spark, dir, schema)
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("compact merges a many-file dataset, preserving rows atomically") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    // simulate per-commit appends: 20 tiny files
    (1 to 20).foreach { i =>
      Formats.append(spark.range(i * 100L, i * 100L + 10L).toDF("id"), dir)
    }
    val before = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before >= 20)
    val expect = spark.read.parquet(dir).as[Long].collect().toSet
    Formats.compact(spark, dir, targetBytes = 1L << 30) // all → 1 file
    val after = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after == 1, s"expected 1 file after compaction, saw $after")
    assert(spark.read.parquet(dir).as[Long].collect().toSet == expect)
  }

  test("swapInto retro-cleans a legacy un-hidden .old aside ONLY for " +
      "partition leaves — a user's sibling backup dir survives") {
    val root = Files.createTempDirectory("graft-swap-legacy")
    val fs = new org.apache.hadoop.fs.Path(root.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(name: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(root.toString, name)
      fs.mkdirs(p); p
    }
    // leaf case: a crashed pre-dot-prefix swap left `part=3.old` —
    // exposed to partition discovery, must be swept by the next swap
    val leaf = mk("part=3"); mk("part=3.old")
    Formats.swapInto(fs, mk(".part=3.stage"), leaf)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root.toString,
        "part=3.old")),
      "legacy leaf aside survived the swap and would corrupt discovery")
    // whole-dataset case: `events.old` beside `events` is invisible to
    // reads of `events` and may be the USER'S backup — never deleted
    val events = mk("events"); mk("events.old")
    Formats.swapInto(fs, mk(".events.stage"), events)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root.toString,
        "events.old")),
      "swapInto deleted a sibling directory it does not own")
    // STRING-valued leaf case: `part=backup.old` is a legitimate leaf
    // of a string-typed partition column, indistinguishable from a
    // crashed swap of `part=backup` — the sweep is gated to the
    // int-valued leaves this library writes and must leave it standing
    val strLeaf = mk("part=backup"); mk("part=backup.old")
    Formats.swapInto(fs, mk(".part=backup.stage"), strLeaf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root.toString,
        "part=backup.old")),
      "swapInto swept a string-valued sibling leaf it cannot " +
        "distinguish from live data")
  }

  private def hPath(p: String) = new org.apache.hadoop.fs.Path(p)

  test("publish stays invisible to a scan of the parent until it swaps, " +
      "then serves the new rows and leaves no stage behind") {
    val root = Files.createTempDirectory("graft-publish").toString
    Seq((1L, 1), (2L, 2)).toDF("id", "part")
      .write.partitionBy("part").parquet(root + "/t")
    def scan() = spark.read.parquet(root + "/t").as[(Long, Int)].collect().toSet
    // the published directory is a partition leaf, so its parent is a
    // dataset root that partition discovery parses
    val during = Formats.publish(spark, hPath(s"$root/t/part=1")) { staged =>
      Seq(7L).toDF("id").write.parquet(staged.toString)
      scan()
    }
    assert(during == Set((1L, 1), (2L, 2)),
      "a scan of the parent saw the stage")
    assert(scan() == Set((7L, 1), (2L, 2)))
    assert(new java.io.File(s"$root/t").list().toSet
      .filterNot(n => n.startsWith("_") || n.endsWith(".crc")) ==
      Set("part=1", "part=2"),
      "the publish left a stage or aside behind")
  }

  test("publishLeaves on an int partition column swaps the staged leaves " +
      "in, deletes a listed leaf the stage lacks, and ignores a stale " +
      "stage from a crashed run") {
    val root = Files.createTempDirectory("graft-leaves").toString
    val live = s"$root/t"
    Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "part")
      .write.partitionBy("part").parquet(live)
    // a crashed earlier publish left its stage holding a part=3 leaf
    Seq((99L, 3)).toDF("id", "part")
      .write.partitionBy("part").parquet(s"$root/.t.staging")
    Formats.publishLeaves(spark, hPath(live)) { staged =>
      Seq((10L, 1)).toDF("id", "part")
        .write.mode("append").partitionBy("part").parquet(staged.toString)
      Seq("part=1", "part=3")
    }
    val back = spark.read.parquet(live)
    assert(back.schema("part").dataType == IntegerType)
    assert(back.as[(Long, Int)].collect().toSet == Set((10L, 1), (2L, 2)),
      "part=3 survived, or the stale stage leaked into the publish")
    assert(new java.io.File(root).list().toSet == Set("t"))
    assert(new java.io.File(live).list().toSet
      .filterNot(n => n.startsWith("_") || n.startsWith(".")) ==
      Set("part=1", "part=2"))
  }

  test("publishLeaves swaps leaves in the caller's order") {
    val root = Files.createTempDirectory("graft-order").toString
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.rec.impl", classOf[RecordingFs].getName)
    Seq("part=1", "part=2", "part=3").foreach(l =>
      new java.io.File(s"$root/t/$l").mkdirs())
    RecordingFs.renames.clear()
    Formats.publishLeaves(spark, hPath(s"rec://$root/t")) { staged =>
      Seq("part=1", "part=2").foreach(l =>
        new java.io.File(s"${staged.toUri.getPath}/$l").mkdirs())
      Seq("part=2", "part=3", "part=1")
    }
    val swappedIn = RecordingFs.renames.toSeq.collect {
      case (from, to) if from.getParent.getName == ".t.staging" => to.getName
    }
    assert(swappedIn == Seq("part=2", "part=1"))
    assert(new java.io.File(s"$root/t").list().toSet == Set("part=1", "part=2"))
    assert(new java.io.File(root).list().toSet == Set("t"))
  }

  test("compact with a sort key clusters files by that key") {
    val dir = Files.createTempDirectory("graft-compact2").toString + "/t"
    Formats.overwrite(
      spark.range(0, 1000L).toDF("id").repartition(13), dir)
    Formats.compact(spark, dir, targetBytes = 3000L, // ~7KB on disk → >1 file
      sortBy = Seq(col("id")))
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1)
    // range partitioning → per-file id ranges are disjoint
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f.getPath).as[Long].collect()
      (ids.min, ids.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, "overlapping files")
      case _ =>
    }
  }

  test("ORC round-trip with predicate pushdown at the scan") {
    val dir = Files.createTempDirectory("graft_orc").toString + "/t"
    val df = (1L to 500L).map(i => (i, s"v$i", i % 7)).toDF("id", "v", "m")
    graft.sources.Formats.writeOrc(df, dir)
    val back = graft.sources.Formats.readOrc(spark, dir)
      .where(col("id") > 490L).select("id", "v")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,490)"),
      s"filter did not reach the ORC scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,v:string>"),
      s"projection did not prune the ORC scan:\n$plan")
    assert(back.as[(Long, String)].collect().toSet ==
      (491L to 500L).map(i => (i, s"v$i")).toSet)
  }

  test("JDBC round-trip: batched parallel write, partitioned parallel read (A7)") {
    // Embedded Derby (ships with Spark) stands in for the reference's live
    // Postgres: same JDBC surface, no network. The write issues batched
    // inserts from every partition; the read splits the table into range
    // slices of the partition column — the 1000-executor shape, exercised
    // for real.
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val props = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val df = (1L to 1000L).map(i => (i, s"name_$i", i * 1.5))
      .toDF("id", "name", "score").repartition(7)
    graft.sources.Formats.writeJdbc(df, url, "people",
      mode = org.apache.spark.sql.SaveMode.Overwrite, props = props,
      batchSize = 100)
    val back = graft.sources.Formats.readJdbc(spark, url, "people",
      props = props, partitionColumn = Some("id"),
      lowerBound = 1L, upperBound = 1001L, numPartitions = 4)
    assert(back.rdd.getNumPartitions == 4,
      "partitioned read did not split into range slices")
    assert(back.count() == 1000)
    val got = back.select("id", "name", "score")
      .as[(Long, String, Double)].collect().toSet
    val want = (1L to 1000L).map(i => (i, s"name_$i", i * 1.5)).toSet
    assert(got == want, "JDBC round-trip changed the data")
    // appending accretes (the reference's insert path, batched)
    graft.sources.Formats.writeJdbc(df.where(col("id") <= 10), url, "people",
      props = props)
    assert(graft.sources.Formats.readJdbc(spark, url, "people",
      props = props).count() == 1010)
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    // the incremental-reload contract at 100 TB: rewriting one load_date
    // must not truncate the other thousand partitions (static overwrite
    // mode would drop them all)
    val dir = Files.createTempDirectory("graft-dpo").toString + "/t"
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("id", "p").write.partitionBy("p").parquet(dir)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((30L, "b")).toDF("id", "p").write
        .mode("overwrite").partitionBy("p").parquet(dir)
      val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (2L, "a"), (30L, "b")),
        s"dynamic overwrite damaged untouched partitions: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}

/** The local file system under the `rec` scheme, recording each rename. */
class RecordingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("rec:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    RecordingFs.renames.synchronized(RecordingFs.renames += src -> dst)
    super.rename(src, dst)
  }
}
object RecordingFs {
  val renames = scala.collection.mutable.ArrayBuffer
    .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]
}

/** Versioned table directory: commit protocol, time travel, vacuum. */
class VersionedSpec extends SparkSpec {

  import spark.implicits._

  test("write/read round-trips, versions accumulate, time travel works") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ver").toString
    assert(Versioned.write(Seq((1, "a")).toDF("id", "s"), dir) == 1)
    assert(Versioned.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), dir) == 2)
    assert(Versioned.write(Seq((9, "z")).toDF("id", "s"), dir) == 3)
    assert(Versioned.versions(spark, dir) == Seq(1, 2, 3))
    assert(Versioned.latestVersion(spark, dir).contains(3))
    assert(Versioned.read(spark, dir).as[(Int, String)].collect().toSeq
      == Seq((9, "z")))
    assert(Versioned.read(spark, dir, Some(1))
      .as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(Versioned.read(spark, dir, Some(2))
      .orderBy("id").as[(Int, String)].collect().toSeq
      == Seq((1, "a"), (2, "b")))
  }

  test("a crashed write (snapshot without pointer) is invisible and " +
      "reclaimed by the next commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ver2").toString
    Versioned.write(Seq((1, "a")).toDF("id", "s"), dir)
    // simulate a crash AFTER the data write, BEFORE the pointer move:
    // write the v=2 dir directly with different content, no pointer
    Seq((666, "orphan")).toDF("id", "s")
      .write.parquet(s"$dir/v=2")
    assert(Versioned.versions(spark, dir) == Seq(1), "orphan visible")
    assert(Versioned.read(spark, dir).as[(Int, String)].collect().toSeq
      == Seq((1, "a")))
    // the next commit reclaims the number; the orphan's content is gone
    assert(Versioned.write(Seq((2, "b")).toDF("id", "s"), dir) == 2)
    assert(Versioned.read(spark, dir).as[(Int, String)].collect().toSeq
      == Seq((2, "b")))
  }

  test("a crash between the pointer swap's renames keeps the previous " +
      "version readable, and the next commit numbers past it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ver4")
    val d = dir.toString
    Versioned.write(Seq((1, "a")).toDF("id", "s"), d)
    Versioned.write(Seq((2, "b")).toDF("id", "s"), d)
    // the pointer went aside, the new one never came in
    java.nio.file.Files.move(dir.resolve("_latest"),
      dir.resolve("._latest.old"))
    java.nio.file.Files.writeString(dir.resolve("_latest.tmp"), "3")
    assert(Versioned.latestVersion(spark, d).contains(2))
    assert(Versioned.read(spark, d).as[(Int, String)].collect().toSeq
      == Seq((2, "b")))
    assert(Versioned.write(Seq((3, "c")).toDF("id", "s"), d) == 3)
    assert(Versioned.versions(spark, d) == Seq(1, 2, 3))
    assert(Versioned.read(spark, d, Some(1))
      .as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(Versioned.read(spark, d).as[(Int, String)].collect().toSeq
      == Seq((3, "c")))
  }

  test("prune drops old versions, keeps the live one, and pruned reads " +
      "fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ver3").toString
    (1 to 4).foreach(i =>
      Versioned.write(Seq((i, s"v$i")).toDF("id", "s"), dir))
    assert(Versioned.prune(spark, dir, keep = 2) == Seq(1, 2))
    assert(Versioned.versions(spark, dir) == Seq(3, 4))
    assert(Versioned.read(spark, dir, Some(4))
      .as[(Int, String)].collect().toSeq == Seq((4, "v4")))
    val e = intercept[IllegalArgumentException] {
      Versioned.read(spark, dir, Some(1))
    }
    assert(e.getMessage.contains("pruned"))
    intercept[IllegalArgumentException] {
      Versioned.prune(spark, dir, keep = 0)
    }
  }
}
