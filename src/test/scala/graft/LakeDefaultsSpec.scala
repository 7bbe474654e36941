package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.TempLakes
import graft.sources.GraftCatalog

/** Column DEFAULT values on lake tables — Spark 4.1's
  * `SUPPORT_COLUMN_DEFAULT_VALUE` surface wired to the manifest's
  * `defaults` field: the stored SQL feeds the engine's CURRENT-default
  * INSERT filling (through [[graft.sources.LakeSinkTable.columns]]), and
  * the stored writer-token feeds the scanner's EXISTS-default fill
  * (files that predate the column — or legal subset appends — read the
  * default, while EXPLICIT nulls stay null). Asserts exact VALUES, never
  * rows>0 (the r12/r13 lesson).
  */
class LakeDefaultsSpec extends GraftSpec {

  private def withCatalog[T](lake: String)(body: => T): T = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    body
  }

  test("CREATE with DEFAULT: engine fills missing INSERT columns; subset appends read the default") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_def_create")
    withCatalog(lake) {
      spark.sql("""CREATE TABLE graft.lake.d1
                   (id BIGINT, tag STRING DEFAULT 'n/a', score INT DEFAULT 7)""")
      // INSERT missing both defaulted columns → CURRENT defaults fill
      spark.sql("INSERT INTO graft.lake.d1 (id) VALUES (1), (2)")
      // INSERT with explicit values, including an EXPLICIT NULL
      spark.sql("INSERT INTO graft.lake.d1 VALUES (3, 'x', 9), (4, NULL, NULL)")
      // the DEFAULT keyword resolves too
      spark.sql("INSERT INTO graft.lake.d1 VALUES (5, DEFAULT, DEFAULT)")
      val got = spark.table("graft.lake.d1").orderBy("id")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) null else r.getInt(2))).toSeq
      assert(got == Seq((1L, "n/a", 7), (2L, "n/a", 7), (3L, "x", 9),
        (4L, null, null), (5L, "n/a", 7)), got.toString)
      // a SUBSET DataFrame append (no tag/score anywhere in the file)
      // reads the defaults back — the EXISTS-default scanner fill
      Seq(6L).toDF("id").write.format("graft.sources.LakeSink")
        .mode("append").save(s"$lake/d1")
      val r6 = spark.table("graft.lake.d1").filter($"id" === 6).collect()(0)
      assert(r6.getString(1) == "n/a" && r6.getInt(2) == 7, r6.toString)
    }
  }

  test("ADD COLUMN DEFAULT: pre-evolution rows read the default; explicit null stays null; CDF legs carry it") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_def_add")
    withCatalog(lake) {
      (1L to 4L).toDF("id").writeTo("graft.lake.d2").create() // v1: no tag
      spark.sql("ALTER TABLE graft.lake.d2 ADD COLUMN tag STRING DEFAULT 'legacy'")
      spark.sql("INSERT INTO graft.lake.d2 VALUES (5, 'new'), (6, NULL)")
      val got = spark.table("graft.lake.d2").orderBy("id")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getString(1))).toSeq
      assert(got == Seq(1L -> "legacy", 2L -> "legacy", 3L -> "legacy",
        4L -> "legacy", 5L -> "new", 6L -> null), got.toString)
      // filters on the FILLED value work (defaults are applied before
      // predicate evaluation, not cosmetically at output)
      assert(spark.table("graft.lake.d2").filter($"tag" === "legacy").count() == 4)
      assert(spark.table("graft.lake.d2").filter($"tag".isNull).count() == 1)
      // CDF: the pre-evolution INSERT legs surface the default (exact
      // values — the evolution-replay contract, extended to defaults)
      val cdf = spark.read.format("graft.sources.LakeSink")
        .option("readChangeFeed", "true").option("startingVersion", "1")
        .load(s"$lake/d2")
        .filter(col("_change_type") === "insert" && col("_commit_version") === 1)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sortBy(_._1)
      assert(cdf == Seq(1L -> "legacy", 2L -> "legacy", 3L -> "legacy",
        4L -> "legacy"), cdf.toString)
      // a snapshot BEFORE the evolution has no tag column at all
      val snap = spark.read.format("graft.sources.LakeSink")
        .option("versionAsOf", "1").load(s"$lake/d2")
      assert(snap.columns.toSeq == Seq("id"), snap.columns.mkString(","))
    }
  }

  test("defaults survive compaction, rename, widening; interact soundly with the ledgers") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_def_maint")
    withCatalog(lake) {
      (1L to 8L).toDF("id").repartition(2).writeTo("graft.lake.d3")
        .option("distributionMode", "none").create()
      spark.sql("ALTER TABLE graft.lake.d3 ADD COLUMN score INT DEFAULT 5")
      spark.sql("DELETE FROM graft.lake.d3 WHERE id = 1") // mor vector → materialize path
      // count(score) must be exact whichever path answers it: the
      // pre-evolution files have no score stats entry (scan fallback
      // reads the fill), and a compacted rewrite's FRESH trackers must
      // see the FILLED value, not nulls (the ledger-poisoning hazard)
      def scoreCount: Long = spark.table("graft.lake.d3")
        .agg(count($"score")).collect()(0).getLong(0)
      assert(scoreCount == 7L, s"pre-compact count(score) = $scoreCount")
      graft.sources.LakeMaintenance.compact(spark, s"$lake/d3")
      assert(scoreCount == 7L, s"post-compact count(score) = $scoreCount")
      assert(spark.table("graft.lake.d3").agg(sum($"score")).collect()(0)
        .getLong(0) == 35L)
      // RENAME follows the default; WIDENING re-decodes the token
      spark.sql("ALTER TABLE graft.lake.d3 RENAME COLUMN score TO pts")
      spark.sql("ALTER TABLE graft.lake.d3 ALTER COLUMN pts TYPE BIGINT")
      Seq(9L).toDF("id").write.format("graft.sources.LakeSink")
        .mode("append").save(s"$lake/d3")
      val vals = spark.table("graft.lake.d3").orderBy("id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(vals == (2L to 9L).map(_ -> 5L), vals.toString)
    }
  }

  test("refusals: SET DEFAULT, partition-column default; DROP clears it") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_def_refuse")
    withCatalog(lake) {
      spark.sql("CREATE TABLE graft.lake.d4 (id BIGINT, tag STRING DEFAULT 'a')")
      val e1 = intercept[Exception](
        spark.sql("ALTER TABLE graft.lake.d4 ALTER COLUMN tag SET DEFAULT 'b'"))
      assert(e1.getMessage.contains("immutable"), e1.getMessage)
      val e2 = intercept[Exception](spark.sql(
        """CREATE TABLE graft.lake.d5 (id BIGINT, p INT DEFAULT 3)
           PARTITIONED BY (p)"""))
      assert(e2.getMessage.contains("partition column"), e2.getMessage)
      // DROP COLUMN clears the stored default; a re-added column under a
      // NEW name starts clean (name reuse itself is refused elsewhere)
      spark.sql("ALTER TABLE graft.lake.d4 DROP COLUMN tag")
      assert(graft.sources.LakeManifest
        .read(s"$lake/d4").get.defaults.isEmpty)
      // non-foldable defaults refuse at DDL (engine-side): rand() is not
      // a constant — must not reach the manifest
      val e3 = intercept[Exception](spark.sql(
        "CREATE TABLE graft.lake.d6 (id BIGINT, r DOUBLE DEFAULT rand())"))
      assert(e3 != null)
      assert(!Files.isDirectory(java.nio.file.Paths.get(s"$lake/d6")) ||
        graft.sources.LakeManifest.read(s"$lake/d6").isEmpty)
    }
  }

  test("truncating path overwrite with a frame read from a defaulted table stays readable") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_def_overwrite")
    withCatalog(lake) {
      spark.sql("CREATE TABLE graft.lake.d8 (id BIGINT, tag STRING DEFAULT 'a')")
      spark.sql("INSERT INTO graft.lake.d8 VALUES (1, 'x'), (2, NULL)")
      spark.sql("INSERT INTO graft.lake.d8 (id) VALUES (3)")
      def rows: Seq[(Long, String)] = spark.table("graft.lake.d8").orderBy("id")
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toSeq
      val before = rows
      assert(before == Seq(1L -> "x", 2L -> null, 3L -> "a"), before.toString)
      // the frame's fields carry the table's CURRENT/EXISTS_DEFAULT
      // metadata; the manifest must not render it into its schema DDL
      spark.table("graft.lake.d8").write.format("graft.sources.LakeSink")
        .mode("overwrite").save(s"$lake/d8")
      assert(rows == before, rows.toString)
      spark.sql("INSERT INTO graft.lake.d8 (id) VALUES (4)")
      assert(rows == before :+ (4L -> "a"), rows.toString)
      // a subset append still reads the EXISTS default
      Seq(5L).toDF("id").write.format("graft.sources.LakeSink")
        .mode("append").save(s"$lake/d8")
      assert(spark.table("graft.lake.d8").filter($"id" === 5).head().getString(1) == "a")
    }
  }

  test("typed defaults round-trip: timestamp, date, double, boolean") {
    val lake = TempLakes.dir("graft_def_types")
    withCatalog(lake) {
      spark.sql("""CREATE TABLE graft.lake.d7 (
                     id BIGINT,
                     ts TIMESTAMP DEFAULT TIMESTAMP'2024-01-02 03:04:05.123456',
                     d DATE DEFAULT DATE'2024-06-30',
                     x DOUBLE DEFAULT 2.5,
                     ok BOOLEAN DEFAULT true)""")
      spark.sql("INSERT INTO graft.lake.d7 (id) VALUES (1)")
      // subset append → all four EXISTS-defaults fill on read
      spark.range(2, 3).toDF("id").write.format("graft.sources.LakeSink")
        .mode("append").save(s"$lake/d7")
      val rows = spark.table("graft.lake.d7").orderBy("id").collect()
      rows.foreach { r =>
        assert(r.getTimestamp(1).toString == "2024-01-02 03:04:05.123456", r.toString)
        assert(r.getDate(2).toString == "2024-06-30", r.toString)
        assert(r.getDouble(3) == 2.5 && r.getBoolean(4), r.toString)
      }
    }
  }
}
