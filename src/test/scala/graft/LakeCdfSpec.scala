package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{DedupLsh, TempLakes, TextOps}
import graft.sources.{GraftCatalog, LakeVersions}

/** Streaming change-data feed over the lake version log
  * ([[graft.sources.LakeCdfMicroBatchStream]] — `readStream` with
  * `readChangeFeed=true`): per-version replay equivalence with the batch
  * CDF, checkpointed exactly-once across kill/restart, startingVersion
  * positioning, and the d58 incremental-dedup streaming twin.
  */
class LakeCdfSpec extends GraftSpec {

  private def withLake[T](body: String => T): T = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val lake = TempLakes.dir("graft_cdf_lake")
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    body(lake)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Drain the CDF stream of `path` into a memory table, AvailableNow. */
  private def drainToMemory(path: String, opts: (String, String)*): DataFrame = {
    val mem = "cdf_" + java.util.UUID.randomUUID.toString.take(8)
    var r = spark.readStream.format("graft.sources.LakeSink")
      .option("readChangeFeed", "true")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.load(path)
      .writeStream.format("memory").queryName(mem)
      .option("checkpointLocation", TempLakes.dir("graft_cdf_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table(mem).localCheckpoint(true)
    spark.catalog.dropTempView(mem)
    out
  }

  private def threeRows(tag: Int) = {
    import spark.implicits._
    Seq((1L + 10 * tag, s"a$tag"), (2L + 10 * tag, s"b$tag"), (3L + 10 * tag, s"c$tag"))
      .toDF("id", "v")
  }

  test("streaming CDF drain ≡ per-version batch changes across append/rewrite/mor-delete") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.cdf").create() // v1
      threeRows(1).writeTo("graft.lake.cdf").append() // v2
      spark.sql("UPDATE graft.lake.cdf SET v = 'patched' WHERE id = 2") // v3 (cow rewrite)
      spark.sql("DELETE FROM graft.lake.cdf WHERE id = 11") // v4 (mor vectors)
      val streamed = drainToMemory(s"$lake/cdf")
      // expected: v1 = the snapshot as inserts; v>1 = the batch CDF legs
      val v1 = spark.sql("SELECT * FROM graft.lake.cdf VERSION AS OF 1")
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(1L))
      val rest = (2L to 4L).map { v =>
        LakeVersions.changes(spark, s"$lake/cdf", v - 1, v)
          .withColumn("_commit_version", lit(v))
      }.reduce(_ unionByName _)
      assert(canon(streamed) == canon(v1.unionByName(rest)),
        "stream must replay exactly the batch CDF legs, version-tagged")
      // the mor DELETE surfaces as EXACTLY the deleted row, nothing else
      assert(canon(streamed.filter(col("_commit_version") === 4L)) ==
        canon(spark.sql("SELECT * FROM graft.lake.cdf VERSION AS OF 3")
          .filter(col("id") === 11L)
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(4L))))
    }
  }

  test("streaming CDF replays a RESTORE's un-deleted rows as INSERT legs (≡ batch changes)") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.rcdf").create() // v1: ids 1,2,3
      spark.sql("DELETE FROM graft.lake.rcdf WHERE id = 2") // v2 (mor vector)
      graft.sources.LakeMaintenance.restore(s"$lake/rcdf", 1L) // v3: vector undone
      val streamed = drainToMemory(s"$lake/rcdf")
      // the restore version's only leg is the un-deleted row, as an insert
      val v3legs = streamed.filter(col("_commit_version") === 3L)
      assert(canon(v3legs) == canon(
        threeRows(0).filter(col("id") === 2)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(3L))),
        canon(v3legs).mkString(";"))
      // …and bit-equal to the batch CDF legs for the same version range
      assert(canon(v3legs.drop("_commit_version")) ==
        canon(LakeVersions.changes(spark, s"$lake/rcdf", 2, 3)))
      // final replica law: applying the whole feed version-by-version
      // reproduces the live table (insert adds, delete removes)
      val lastState = (1L to 3L).foldLeft(Seq.empty[String]) { (acc, v) =>
        val legs = streamed.filter(col("_commit_version") === v)
        val ins = canon(legs.filter(col("_change_type") === "insert")
          .drop("_change_type", "_commit_version"))
        val del = canon(legs.filter(col("_change_type") === "delete")
          .drop("_change_type", "_commit_version"))
        (acc.diff(del) ++ ins).sorted
      }
      assert(lastState == canon(spark.table("graft.lake.rcdf")),
        "replaying the feed must reproduce the restored live table")
    }
  }

  test("CDF replay across schema evolution: exact leg shapes, null-fill, rename/widen translation") {
    withLake { lake =>
      import spark.implicits._
      // v1 lands (id INT, v STRING); THREE evolution commits follow —
      // ADD COLUMNS, RENAME, and a type WIDENING — all metadata-only;
      // then a wide append (v2) and a mor DELETE of a PRE-evolution row
      // (v3). Every assertion below is an EXACT leg shape (the r12
      // masked-off-by-one lesson: no rows>0 anywhere).
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
        .writeTo("graft.lake.ecdf").create() // v1
      spark.sql("ALTER TABLE graft.lake.ecdf ADD COLUMNS (w DOUBLE)")
      spark.sql("ALTER TABLE graft.lake.ecdf RENAME COLUMN v TO label")
      spark.sql("ALTER TABLE graft.lake.ecdf ALTER COLUMN id TYPE BIGINT")
      Seq((10L, "d", 1.5)).toDF("id", "label", "w")
        .writeTo("graft.lake.ecdf").append() // v2
      spark.sql("DELETE FROM graft.lake.ecdf WHERE id = 2") // v3 (mor vector)
      val streamed = drainToMemory(s"$lake/ecdf")
      // the feed carries the EVOLVED schema + cdf columns, id widened
      assert(streamed.schema.fieldNames.toSeq ==
        Seq("id", "label", "w", "_change_type", "_commit_version"))
      assert(streamed.schema("id").dataType ==
        org.apache.spark.sql.types.LongType)
      def legs(v: Long) = streamed.filter(col("_commit_version") === v)
      // v1 bootstrap: the snapshot as inserts under the LIVE names/types,
      // the added column null-filled, the rename translated per file
      assert(canon(legs(1L)) == canon(
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "label")
          .withColumn("w", lit(null).cast("double"))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(1L))), canon(legs(1L)).mkString(";"))
      // v2-v4 are the three DDL commits (each records a version): EXACTLY
      // zero legs each — metadata-only versions change no files
      (2L to 4L).foreach(v =>
        assert(legs(v).count() == 0L, s"DDL version $v must emit no legs"))
      // v5: exactly the one appended wide row
      assert(canon(legs(5L)) == canon(
        Seq((10L, "d", 1.5)).toDF("id", "label", "w")
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(5L))), canon(legs(5L)).mkString(";"))
      // v6: exactly the deleted pre-evolution row, translated
      assert(canon(legs(6L)) == canon(
        Seq((2L, "b")).toDF("id", "label")
          .withColumn("w", lit(null).cast("double"))
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(6L))), canon(legs(6L)).mkString(";"))
      // nothing beyond v6, and the drain is exactly the five leg sets
      assert(streamed.filter(col("_commit_version") > 6L).count() == 0L)
      // and the stream ≡ the BATCH CDF read across the evolution — the
      // one shared leg planner (LakeCdf.planRange) under LIVE names both
      // ways (LakeVersions.changes stays generation-faithful by design:
      // each version pair reads under its OWN commit's names)
      val batchRest = spark.read.format("graft.sources.LakeSink")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2").option("endingVersion", "6")
        .load(s"$lake/ecdf")
      assert(canon(streamed.filter(col("_commit_version") > 1L)) ==
        canon(batchRest))
    }
  }

  test("batch CDF range reads: startingVersion/endingVersion ≡ per-version changes; vacuum gap refuses") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.bcdf").create() // v1
      threeRows(1).writeTo("graft.lake.bcdf").append() // v2
      spark.sql("UPDATE graft.lake.bcdf SET v = 'patched' WHERE id = 2") // v3
      spark.sql("DELETE FROM graft.lake.bcdf WHERE id = 11") // v4 (mor)
      def batchRead(opts: (String, String)*): DataFrame = {
        var r = spark.read.format("graft.sources.LakeSink")
          .option("readChangeFeed", "true")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load(s"$lake/bcdf")
      }
      // a SUB-RANGE equals the per-version batch changes, version-tagged
      val range23 = batchRead("startingVersion" -> "2", "endingVersion" -> "3")
      val expect23 = (2L to 3L).map { v =>
        LakeVersions.changes(spark, s"$lake/bcdf", v - 1, v)
          .withColumn("_commit_version", lit(v))
      }.reduce(_ unionByName _)
      assert(canon(range23) == canon(expect23))
      // the FULL batch read equals the streamed drain (same leg planner)
      assert(canon(batchRead()) == canon(drainToMemory(s"$lake/bcdf")))
      def rootMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      // keepLast=2 keeps records v3+v4: startingVersion=4 still has its
      // DIFF BASE (v3's record) and must equal the true v3→v4 legs —
      // the single mor delete row, NOT a whole-table insert replay
      graft.sources.LakeMaintenance.vacuum(s"$lake/bcdf", keepLast = Some(2))
      assert(canon(batchRead("startingVersion" -> "4").drop("_commit_version")) ==
        canon(LakeVersions.changes(spark, s"$lake/bcdf", 3, 4)),
        "a positioned read inside the horizon must produce the exact diff")
      // keepLast=1 destroys v4's diff base: a positioned read REFUSES
      // (replaying v4 against nothing would duplicate the whole table)
      graft.sources.LakeMaintenance.vacuum(s"$lake/bcdf", keepLast = Some(1))
      val e = intercept[Exception](batchRead("startingVersion" -> "4").collect())
      assert(rootMsg(e).contains("vacuumed"), rootMsg(e).take(300))
      val e2 = intercept[Exception](batchRead("startingVersion" -> "2").collect())
      assert(rootMsg(e2).contains("vacuumed"), rootMsg(e2).take(300))
      // a FRESH full-history consumer bootstraps: the oldest surviving
      // version's snapshot arrives as inserts (the Delta fresh shape)
      val fresh = batchRead()
      assert(canon(fresh.filter(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version")) ==
        canon(spark.table("graft.lake.bcdf")),
        "the bootstrap must emit exactly the surviving snapshot as inserts")
    }
  }

  test("checkpointed CDF drains are exactly-once across a kill/restart") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.tail").create() // v1
      val ckpt = TempLakes.dir("graft_cdf_tail_ckpt")
      val outDir = TempLakes.dir("graft_cdf_tail_out")
      // drains land in a lake table (memory sinks refuse checkpoint
      // recovery): the whole pipe is version log → CDF stream → lake
      def drain(): Seq[String] = {
        val q = spark.readStream.format("graft.sources.LakeSink")
          .option("readChangeFeed", "true")
          .option("maxFilesPerTrigger", "1") // several batches per drain
          .load(s"$lake/tail")
          .writeStream.format("graft.sources.LakeSink")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        canon(spark.read.format("graft.sources.LakeSink").load(outDir))
      }
      val first = drain()
      assert(first.size == 3 && first.forall(_.contains("insert")), first.mkString(";"))
      threeRows(1).writeTo("graft.lake.tail").append() // v2
      spark.sql("DELETE FROM graft.lake.tail WHERE id = 1") // v3 (mor)
      val second = drain()
      // restart replays NOTHING already emitted: exactly v2's inserts and
      // v3's single delete leg arrive on top of the first drain
      assert(second.size == first.size + 4, s"${first.size} -> ${second.size}")
      assert(second.count(_.contains("delete")) == 1)
      // a third drain with no new versions adds nothing
      assert(drain() == second)
    }
  }

  test("startingVersion positions the stream; versionAsOf+readChangeFeed refused") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.pos").create() // v1
      threeRows(1).writeTo("graft.lake.pos").append() // v2
      val fromV2 = drainToMemory(s"$lake/pos", "startingVersion" -> "2")
      assert(canon(fromV2) == canon(threeRows(1)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(2L))))
      val e = intercept[Exception] {
        spark.readStream.format("graft.sources.LakeSink")
          .option("readChangeFeed", "true").option("versionAsOf", "1")
          .load(s"$lake/pos")
      }
      assert(e.getMessage.contains("readChangeFeed"), e.getMessage)
    }
  }

  test("startingTimestamp positions at the first commit at-or-after it") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.ts").create() // v1
      Thread.sleep(30) // separate the commit instants (mtime ms granularity)
      threeRows(1).writeTo("graft.lake.ts").append() // v2
      val v2At = java.nio.file.Files.getLastModifiedTime(
        graft.sources.LakeSinkFiles.versionsDir(s"$lake/ts").resolve("v000000002"))
        .toMillis
      // exactly v2's instant → v2 on; epoch-millis form
      val fromT = drainToMemory(s"$lake/ts", "startingTimestamp" -> v2At.toString)
      assert(canon(fromT) == canon(threeRows(1)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(2L))))
      // after all history → empty replay (positions past the end)
      assert(drainToMemory(s"$lake/ts",
        "startingTimestamp" -> (v2At + 60000).toString).isEmpty)
      // both options together refused (at scan build = stream start)
      val e = intercept[Exception] {
        drainToMemory(s"$lake/ts",
          "startingVersion" -> "1", "startingTimestamp" -> v2At.toString)
      }
      assert(e.getMessage.contains("not both"), e.getMessage)
    }
  }

  test("batch CDF timestamp window: brackets commit instants, both forms agree, stream refuses ends") {
    withLake { lake =>
      threeRows(0).writeTo("graft.lake.bts").create() // v1
      Thread.sleep(30) // separate commit instants (mtime ms granularity)
      threeRows(1).writeTo("graft.lake.bts").append() // v2
      Thread.sleep(30)
      threeRows(2).writeTo("graft.lake.bts").append() // v3
      def at(v: Long): Long = Files.getLastModifiedTime(
        graft.sources.LakeSinkFiles.versionsDir(s"$lake/bts")
          .resolve(graft.sources.LakeSinkFiles.versionName(v))).toMillis
      def read(opts: (String, String)*): org.apache.spark.sql.DataFrame = {
        var r = spark.read.format("graft.sources.LakeSink")
          .option("readChangeFeed", "true")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load(s"$lake/bts")
      }
      // [v2's instant, v2's instant] → exactly v2's legs
      assert(canon(read("startingTimestamp" -> at(2).toString,
        "endingTimestamp" -> at(2).toString)) ==
        canon(threeRows(1).withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(2L))))
      // the timestamp pair plans the same legs as the version pair; the
      // TEXT timestamp form agrees with epoch millis
      assert(canon(read("startingTimestamp" -> at(2).toString,
        "endingTimestamp" -> at(3).toString)) ==
        canon(read("startingVersion" -> "2", "endingVersion" -> "3")))
      assert(canon(read("startingVersion" -> "1",
        "endingTimestamp" -> new java.sql.Timestamp(at(2)).toString)) ==
        canon(read("startingVersion" -> "1", "endingVersion" -> "2")))
      // endingTimestamp before all history → version 0 → EMPTY, not error
      assert(read("endingTimestamp" -> (at(1) - 60000).toString).isEmpty)
      // both ending forms together refused
      val e = intercept[Exception] {
        read("endingVersion" -> "2",
          "endingTimestamp" -> at(2).toString).collect()
      }
      def rootMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      assert(rootMsg(e).contains("not both"), rootMsg(e).take(300))
      // ending options on a STREAM refuse loudly (the r12 silently-dropped
      // option anti-pattern)
      val e2 = intercept[Exception] {
        drainToMemory(s"$lake/bts", "endingVersion" -> "2")
      }
      assert(rootMsg(e2).contains("batch range"), rootMsg(e2).take(300))
    }
  }

  test("d58 streaming twin: CDC replay feeds the incremental dedup bit-equal across kill/restart") {
    import spark.implicits._
    withLake { lake =>
      val d = Tables.documents(spark, sfTiny)
        .withColumn("h", DedupLsh.h60($"doc_id".cast("string")) % 10)
        .select($"doc_id", $"h", TextOps.normFp($"text").as("fp"))
        .localCheckpoint(true)
      d.filter($"h" <= 7).select($"doc_id", $"fp")
        .writeTo("graft.lake.d58s").create() // v1: the historical store
      val ckpt = TempLakes.dir("graft_cdf_d58_ckpt")
      val outDir = TempLakes.dir("graft_cdf_d58_out")
      def drain(): Long = {
        val q = spark.readStream.format("graft.sources.LakeSink")
          .option("readChangeFeed", "true")
          .option("startingVersion", "2") // the store is history, not feed
          .load(s"$lake/d58s")
          .writeStream.format("graft.sources.LakeSink")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val out = spark.read.format("graft.sources.LakeSink").load(outDir)
        if (out.isEmpty) 0L else out.count()
      }
      // first run: today's crawl hasn't landed — the stream drains nothing
      // (a no-op first run is the kill point: the restart must pick up v2)
      assert(drain() == 0L)
      d.filter($"h" >= 8).select($"doc_id", $"fp")
        .writeTo("graft.lake.d58s").append() // v2: today's crawl
      assert(drain() > 0L)
      // the CDC-fed batch drives d49's split against the v1 snapshot store
      val batch = spark.read.format("graft.sources.LakeSink").load(outDir)
        .filter($"_change_type" === "insert").select($"doc_id", $"fp")
      val store = spark.sql("SELECT fp FROM graft.lake.d58s VERSION AS OF 1")
        .select($"fp".as("sfp")).distinct()
      val wmin = batch.groupBy($"fp").agg(min($"doc_id").as("wid"))
      val streamedVerdicts = batch
        .join(store, $"fp" === $"sfp", "left")
        .join(wmin, "fp")
        .select($"doc_id",
          when($"sfp".isNotNull, "dup_of_corpus")
            .when($"doc_id" =!= $"wid", "dup_in_batch")
            .otherwise("new").as("verdict"))
        .withColumn("kept", ($"verdict" === "new").cast("int"))
      // bit-equal to d58's batch-CDF pipeline over the same corpus
      val expected = TextOps.queries("d58_cdf_dedup")(spark, sfTiny)
      assert(canon(streamedVerdicts) == canon(expected))
    }
  }
}
