package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TempLakes
import graft.sources.{GraftCatalog, LakeMaintenance, LakeSinkFiles}

/** The `_graft_counts.json` row-count ledger + COUNT pushdown
  * ([[graft.sources.LakeSinkScanBuilder]] / LakeSinkAggScan): a lake
  * table's gzip JSON files carry no footer row count, so `count(*)`
  * without metadata decompresses every byte — the ledger (written at
  * every commit, merged by compaction, trimmed by retire) makes it
  * O(#files) driver arithmetic. These tests pin WHEN the pushdown is
  * legal (global count, all filters consumed as partition equalities,
  * live read, every kept file recorded) and that every data-changing
  * path keeps the ledger equal to a full recount.
  */
class LakeCountsSpec extends GraftSpec {

  private def withLake[T](body: String => T): T = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val lake = TempLakes.dir("graft_cnt_lake")
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    body(lake)
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** count answered from metadata: the agg scan replaced the row scan and
    * no aggregation over data rows remains in the executed plan. */
  private def assertPushed(df: DataFrame): Unit = {
    val p = plan(df)
    assert(p.contains("graft-lake-agg") && p.contains("PushedAggregates"),
      s"count not answered from the ledger:\n${p.take(900)}")
    assert(!p.contains("HashAggregate"), s"residual aggregation in:\n${p.take(900)}")
  }

  private def assertNotPushed(df: DataFrame): Unit = {
    val p = plan(df)
    assert(!p.contains("graft-lake-agg"),
      s"count must NOT take the metadata path here:\n${p.take(900)}")
  }

  private def rows(tag: Int, n: Int = 10) = {
    import spark.implicits._
    (0 until n).map(i => (tag * 100L + i, i % 3, s"v$tag-$i")).toDF("id", "p", "v")
  }

  test("count(*) answers from the commit-time ledger: pushed, zero data-file aggregation") {
    withLake { _ =>
      rows(0).writeTo("graft.lake.c1").create()
      rows(1, 7).writeTo("graft.lake.c1").append()
      val c = spark.table("graft.lake.c1").agg(count(lit(1)).as("n"))
      assertPushed(c)
      assert(c.collect()(0).getLong(0) == 17L)
      // SQL spelling too
      val sqlC = spark.sql("SELECT count(*) AS n FROM graft.lake.c1")
      assertPushed(sqlC)
      assert(sqlC.collect()(0).getLong(0) == 17L)
    }
  }

  test("partition-equality filters compose (count sums only kept files); data filters block") {
    withLake { _ =>
      rows(0, 30).writeTo("graft.lake.c2").partitionedBy(col("p")).create()
      val one = spark.table("graft.lake.c2").filter(col("p") === 1)
        .agg(count(lit(1)).as("n"))
      assertPushed(one)
      assert(one.collect()(0).getLong(0) == 10L)
      // a non-partition filter cannot be consumed at planning -> row scan,
      // still correct
      val dataF = spark.table("graft.lake.c2").filter(col("v") === "v0-4")
        .agg(count(lit(1)).as("n"))
      assertNotPushed(dataF)
      assert(dataF.collect()(0).getLong(0) == 1L)
      // count(partCol) == count(*): the writer refuses NULL partition values
      val cp = spark.table("graft.lake.c2").agg(count(col("p")).as("n"))
      assertPushed(cp)
      assert(cp.collect()(0).getLong(0) == 30L)
      // count(dataCol) is nullable-aware: since r10 the stats ledger's
      // per-file null counts make it a metadata answer too —
      // Σ per file (rows − nulls); LakeStatsSpec pins the null mechanics
      val cv = spark.table("graft.lake.c2").agg(count(col("v")).as("n"))
      assertPushed(cv)
      assert(cv.collect()(0).getLong(0) == 30L)
      // grouped counts on PARTITION columns are a metadata answer too
      // (one ledger-sum row per partition directory — see LakeStatsSpec's
      // GROUP BY case for the full contract)
      val grp = spark.table("graft.lake.c2").groupBy(col("p")).agg(count(lit(1)).as("n"))
      assertPushed(grp)
      assert(grp.collect().map(_.getLong(1)).sum == 30L)
    }
  }

  test("every data-changing path keeps the ledger honest: DML, partition DELETE, compaction") {
    withLake { lake =>
      rows(0, 30).writeTo("graft.lake.c3").partitionedBy(col("p")).create()
      rows(1, 12).writeTo("graft.lake.c3").append()
      def pushedCount(): Long = {
        val c = spark.table("graft.lake.c3").agg(count(lit(1)).as("n"))
        assertPushed(c)
        c.collect()(0).getLong(0)
      }
      def recount(): Long =
        spark.table("graft.lake.c3").select("id").collect().length.toLong
      assert(pushedCount() == 42L)
      // row-level DELETE: ReplaceData rewrites the touched groups
      spark.sql("DELETE FROM graft.lake.c3 WHERE id % 2 = 0")
      assert(pushedCount() == recount(), "ledger must equal recount after row DELETE")
      // UPDATE: rewrite with same cardinality
      spark.sql("UPDATE graft.lake.c3 SET v = 'patched' WHERE id < 5")
      assert(pushedCount() == recount(), "ledger must equal recount after UPDATE")
      // partition (metadata) DELETE trims the ledger with the files
      spark.sql("DELETE FROM graft.lake.c3 WHERE p = 2")
      assert(pushedCount() == recount(), "ledger must equal recount after partition DELETE")
      // compaction merges per-file counts onto the merged file
      LakeMaintenance.compact(spark, s"$lake/c3")
      assert(pushedCount() == recount(), "ledger must equal recount after compaction")
      // truncating overwrite replaces the ledger's live set
      rows(9, 4).write.format("graft.sources.LakeSink").mode("overwrite")
        .save(s"$lake/c3")
      assert(pushedCount() == 4L)
    }
  }

  test("pre-ledger tables fall back to scanning — never a guess") {
    withLake { lake =>
      rows(0, 8).writeTo("graft.lake.c4").create()
      LakeRecords.stripFacts(s"$lake/c4", "counts")
      val c = spark.table("graft.lake.c4").agg(count(lit(1)).as("n"))
      assertNotPushed(c)
      assert(c.collect()(0).getLong(0) == 8L)
      // a later commit records only ITS files; older files stay unrecorded,
      // so the table keeps scanning rather than undercounting
      rows(1, 5).writeTo("graft.lake.c4").append()
      val c2 = spark.table("graft.lake.c4").agg(count(lit(1)).as("n"))
      assertNotPushed(c2)
      assert(c2.collect()(0).getLong(0) == 13L)
    }
  }

  test("time-travel counts answer from the VERSION's recorded ledger, not the live one") {
    withLake { lake =>
      rows(0, 6).writeTo("graft.lake.c5").create() // v1
      rows(1, 4).writeTo("graft.lake.c5").append() // v2
      // a snapshot count pushes to ITS version's recorded counts — the
      // live ledger (which already includes v2's files) must not leak in
      val snap = spark.sql("SELECT count(*) AS n FROM graft.lake.c5 VERSION AS OF 1")
      assertPushed(snap)
      assert(snap.collect()(0).getLong(0) == 6L)
      val live = spark.sql("SELECT count(*) AS n FROM graft.lake.c5")
      assertPushed(live)
      assert(live.collect()(0).getLong(0) == 10L)
      // a LEGACY record without ledger snapshots falls back to scanning —
      // never a guess (strip the counts/stats fields from v1's record)
      val vpath = graft.sources.LakeSinkFiles.versionsDir(s"$lake/c5")
        .resolve("v000000001")
      val legacy = new String(java.nio.file.Files.readAllBytes(vpath), "UTF-8")
        .replaceAll(""","counts":"[^"]*"""", "")
        .replaceAll(""","stats":"[^"]*"""", "")
      java.nio.file.Files.write(vpath, legacy.getBytes("UTF-8"))
      val snapLegacy = spark.sql("SELECT count(*) AS n FROM graft.lake.c5 VERSION AS OF 1")
      assertNotPushed(snapLegacy)
      assert(snapLegacy.collect()(0).getLong(0) == 6L)
    }
  }

  test("streaming epochs record counts: a stream-built table answers count(*) from metadata") {
    withLake { _ =>
      val srcSchema = spark.read.format("graft.sources.TelemetrySource").load().schema
      spark.sql(s"CREATE TABLE graft.lake.c6 (${srcSchema.toDDL})")
      val q = spark.readStream.format("graft.sources.TelemetrySource")
        .option("rows", "200").option("rowsPerBatch", "50").load()
        .writeStream
        .option("checkpointLocation", TempLakes.dir("graft_cnt_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.lake.c6")
      q.awaitTermination()
      val c = spark.table("graft.lake.c6").agg(count(lit(1)).as("n"))
      assertPushed(c)
      assert(c.collect()(0).getLong(0) == 200L)
    }
  }
}
