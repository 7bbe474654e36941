package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TempLakes
import graft.sources.{GraftCatalog, LakeMaintenance, LakeSinkCommit, LakeSinkDeletes,
  LakeSinkFiles, LakeSinkStreamingWrite, LakeSinkStreamingWriterFactory}

/** The lake's commit invariant: a version record is the ONLY store of a
  * commit's per-file facts, and a live read IS a read of the latest
  * record. After every commit kind, (a) no side ledger exists under the
  * root, (b) the record's delete vectors equal the `_graft_deletes/`
  * union it snapshots, and (c) the live read and its `count(*)` pushdown
  * equal `VERSION AS OF <latest>`. Then three crash states, built from
  * the commit protocol's own steps: readers see exactly the last recorded
  * version, and the next commit records a correct successor.
  */
class LakeCommitInvariantSpec extends GraftSpec {

  private def withLake[T](body: String => T): T = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val lake = TempLakes.dir("graft_invariant_lake")
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    body(lake)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def rows(from: Int, n: Int): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "p")
  }

  private def latest(path: String): Long = LakeSinkFiles.listVersions(path).last

  /** The three invariants, after a commit to `graft.lake.<t>`. */
  private def assertInvariant(lake: String, t: String): Unit = {
    val path = s"$lake/$t"
    Seq("_graft_counts.json", "_graft_stats.json", "_graft_sorted.json").foreach { f =>
      assert(!Files.exists(Paths.get(path, f)), s"$t: side ledger $f exists")
    }
    val v = latest(path)
    val recorded = LakeSinkFiles.snapshot(path, v).deletes
    val union = LakeSinkDeletes.read(path)
    assert(recorded.keySet == union.keySet &&
      recorded.forall { case (rel, ps) => ps.toSeq == union(rel).toSeq },
      s"$t: v$v deletes ${recorded.view.mapValues(_.toSeq).toMap} != " +
        s"_graft_deletes ${union.view.mapValues(_.toSeq).toMap}")
    val snap = s"graft.lake.$t VERSION AS OF $v"
    assert(canon(spark.table(s"graft.lake.$t")) == canon(spark.sql(s"SELECT * FROM $snap")),
      s"$t: live read differs from v$v")
    val live = spark.sql(s"SELECT count(*) FROM graft.lake.$t")
    assert(live.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
      s"$t: live count(*) must answer from v$v's facts")
    assert(live.collect()(0).getLong(0) ==
      spark.sql(s"SELECT count(*) FROM $snap").collect()(0).getLong(0),
      s"$t: live count(*) differs from v$v")
  }

  test("every commit kind keeps the record the only store of facts and the live read") {
    withLake { lake =>
      // batch append
      rows(0, 6).writeTo("graft.lake.ap").partitionedBy(col("p")).create()
      rows(6, 4).writeTo("graft.lake.ap").append()
      assertInvariant(lake, "ap")
      // truncating overwrite (unpartitioned path write)
      rows(0, 6).drop("p").writeTo("graft.lake.ow").create()
      rows(20, 3).drop("p").write.format("graft.sources.LakeSink")
        .mode("overwrite").save(s"$lake/ow")
      assertInvariant(lake, "ow")
      // overwrite-where: a static partition replace
      rows(0, 6).writeTo("graft.lake.rw").partitionedBy(col("p")).create()
      rows(30, 2).withColumn("p", lit(1)).writeTo("graft.lake.rw")
        .overwrite(col("p") === 1)
      assertInvariant(lake, "rw")
      // streaming epochs
      spark.sql("CREATE TABLE graft.lake.se (id BIGINT, v STRING)")
      locally {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val ms = MemoryStream[(Long, String)]
        ms.addData((1L, "a"), (2L, "b"))
        val q = ms.toDF().toDF("id", "v").writeStream
          .option("checkpointLocation", TempLakes.dir("graft_inv_ck"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graft.lake.se")
        q.awaitTermination()
      }
      assertInvariant(lake, "se")
      // copy-on-write UPDATE and MERGE
      rows(0, 6).drop("p").writeTo("graft.lake.cw").create()
      spark.sql("UPDATE graft.lake.cw SET v = 'u' WHERE id = 1")
      assertInvariant(lake, "cw")
      spark.sql("""MERGE INTO graft.lake.cw t
                   USING (SELECT id, 'm' AS v FROM range(4, 8)) s ON t.id = s.id
                   WHEN MATCHED THEN UPDATE SET v = s.v
                   WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
      assertInvariant(lake, "cw")
      // merge-on-read DELETE (vectors only)
      rows(0, 6).writeTo("graft.lake.md").partitionedBy(col("p")).create()
      spark.sql("DELETE FROM graft.lake.md WHERE id = 2")
      assertInvariant(lake, "md")
      // partition DELETE, then TRUNCATE
      rows(0, 6).writeTo("graft.lake.pd").partitionedBy(col("p")).create()
      spark.sql("DELETE FROM graft.lake.pd WHERE p = 1")
      assertInvariant(lake, "pd")
      spark.sql("TRUNCATE TABLE graft.lake.pd")
      assertInvariant(lake, "pd")
      // compaction, materializing a vector on the way
      rows(10, 4).writeTo("graft.lake.md").append()
      spark.sql("DELETE FROM graft.lake.md WHERE id = 11")
      LakeMaintenance.compact(spark, s"$lake/md")
      assertInvariant(lake, "md")
      // z-order: whole table and partition-scoped, both a rewrite commit
      LakeMaintenance.zorder(spark, s"$lake/ow", Seq("id"), 2)
      assertInvariant(lake, "ow")
      LakeMaintenance.zorder(spark, s"$lake/ap", Seq("id"), 2, Map("p" -> "0"))
      assertInvariant(lake, "ap")
      // clone, live and at a version
      LakeMaintenance.clone(spark, s"$lake/md", s"$lake/cl")
      assertInvariant(lake, "cl")
      LakeMaintenance.clone(spark, s"$lake/md", s"$lake/cv", Some(2L))
      assertInvariant(lake, "cv")
      // restore to a version with a vector the later compaction cleared
      LakeMaintenance.restore(s"$lake/md", 2L)
      assertInvariant(lake, "md")
      // analyze backfills facts in place and adds no version
      LakeRecords.stripFacts(s"$lake/rw", "counts", "stats")
      val before = LakeSinkFiles.listVersions(s"$lake/rw")
      LakeMaintenance.analyze(spark, s"$lake/rw")
      assert(LakeSinkFiles.listVersions(s"$lake/rw") == before)
      assertInvariant(lake, "rw")
    }
  }

  test("ANALYZE amends the latest record in place: same id, same commit instant") {
    withLake { lake =>
      rows(0, 8).writeTo("graft.lake.an").create()
      val path = s"$lake/an"
      val v = latest(path)
      val record = LakeSinkFiles.versionsDir(path).resolve(LakeSinkFiles.versionName(v))
      val instant = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
      Files.setLastModifiedTime(record, instant)
      LakeRecords.stripFacts(path, "stats")
      Files.setLastModifiedTime(record, instant)
      val (analyzed, _) = LakeMaintenance.analyze(spark, path)
      assert(analyzed > 0)
      assert(LakeSinkFiles.listVersions(path) == Seq(v))
      assert(Files.getLastModifiedTime(record) == instant,
        "the amended record must keep its commit instant")
      assert(LakeSinkFiles.snapshot(path, v).facts.stats.keySet ==
        LakeSinkFiles.snapshot(path, v).files.toSet)
      assert(LakeSinkFiles.versionAtTimestamp(path, instant.toMillis * 1000L) == Some(v))
    }
  }

  /** A streaming sink on a fresh `(id BIGINT, v STRING)` table under a
    * new query id, and `stage(epoch, ids)`: the epoch's one task writing
    * `ids` and committing (no ids: the task's no-data message). */
  private class EpochSink(lake: String, table: String) {
    private val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    spark.sql(s"CREATE TABLE graft.lake.$table (id BIGINT, v STRING)")
    val path = s"$lake/$table"
    private val queryId = java.util.UUID.randomUUID.toString
    val qtag = s"q${queryId.filter(_ != '-').take(8)}-"
    private val factory = new LakeSinkStreamingWriterFactory(schema, path, qtag = qtag)
    val sink = new LakeSinkStreamingWrite(schema, path, queryId = queryId)
    def stage(epoch: Long, ids: Seq[Long]): WriterCommitMessage = {
      val w = factory.createWriter(0, epoch, epoch)
      ids.foreach(i => w.write(new GenericInternalRow(
        Array[Any](i, UTF8String.fromString(s"r$i")))))
      w.commit()
    }
  }

  test("crash states: readers see exactly v; the next commit records a correct v+1") {
    withLake { lake =>
      val es = new EpochSink(lake, "cr")
      val path = es.path
      val sink = es.sink
      def stage(epoch: Long, ids: Seq[Long]): LakeSinkCommit =
        es.stage(epoch, ids).asInstanceOf[LakeSinkCommit]
      def visible: Seq[String] = canon(spark.table("graft.lake.cr"))
      def atVersion(v: Long): Seq[String] =
        canon(spark.sql(s"SELECT * FROM graft.lake.cr VERSION AS OF $v"))
      def assertReadersSee(v: Long, ids: Seq[Long]): Unit = {
        assert(latest(path) == v, s"latest must stay v$v")
        assert(visible == atVersion(v), s"live read must be exactly v$v")
        assert(visible == ids.sorted.map(i => s"[$i,r$i]").sorted)
        assert(spark.sql("SELECT count(*) FROM graft.lake.cr").collect()(0).getLong(0) ==
          ids.size.toLong)
      }
      sink.commit(0L, Array(stage(0L, Seq(1L, 2L))))
      val v = latest(path)
      assertReadersSee(v, Seq(1L, 2L))

      // 1. staged only: the epoch's files sit in _staging, nothing promoted
      val staged = stage(1L, Seq(3L))
      assertReadersSee(v, Seq(1L, 2L))
      // the redelivered epoch commits them as v+1
      sink.commit(1L, Array(staged))
      assert(latest(path) == v + 1)
      assertReadersSee(v + 1, Seq(1L, 2L, 3L))
      assertInvariant(lake, "cr")

      // 2. promoted but not recorded: the files are live on disk only
      val promoted = stage(2L, Seq(4L, 5L))
      LakeSinkFiles.promote(path, promoted.staged)
      assert(promoted.staged.forall(rel => Files.isRegularFile(Paths.get(path, rel))))
      assertReadersSee(v + 1, Seq(1L, 2L, 3L))
      // the re-run epoch re-stages the same names; its commit converges
      sink.commit(2L, Array(stage(2L, Seq(4L, 5L))))
      assertReadersSee(v + 2, Seq(1L, 2L, 3L, 4L, 5L))
      assertInvariant(lake, "cr")

      // 3. an empty reservation: a committer died before writing its record
      Files.createFile(LakeSinkFiles.versionsDir(path).resolve(LakeSinkFiles.versionName(v + 3)))
      assertReadersSee(v + 2, Seq(1L, 2L, 3L, 4L, 5L))
      val next = stage(3L, Seq(6L))
      sink.commit(3L, Array(next))
      assert(LakeSinkFiles.listVersions(path).takeRight(2) == Seq(v + 2, v + 4),
        "the next commit reserves past the hole")
      assertReadersSee(v + 4, Seq(1L, 2L, 3L, 4L, 5L, 6L))
      assert(LakeSinkFiles.snapshot(path, v + 4).files.toSet ==
        LakeSinkFiles.snapshot(path, v + 2).files.toSet ++ next.staged,
        "the record after the hole = the last record's files + the new epoch's")
      assertInvariant(lake, "cr")
    }
  }

  test("an empty streaming epoch writes its marker and records no version") {
    withLake { lake =>
      val es = new EpochSink(lake, "ee")
      es.sink.commit(0L, Array(es.stage(0L, Seq(1L, 2L))))
      val v = latest(es.path)
      val record = LakeSinkFiles.versionsDir(es.path).resolve(LakeSinkFiles.versionName(v))
      val before = Files.readAllBytes(record).toSeq
      es.sink.commit(1L, Array(es.stage(1L, Seq.empty)))
      assert(LakeSinkFiles.listVersions(es.path) == Seq(v), "a no-data epoch adds no version")
      assert(Files.readAllBytes(record).toSeq == before)
      assert(Files.exists(LakeSinkFiles.commitsDir(es.path).resolve(s"${es.qtag}1")),
        "the no-data epoch's marker must land")
      // a replay of the epoch (restart before the checkpoint's commit)
      // finds the marker and discards what it staged
      val replay = es.stage(1L, Seq(9L)).asInstanceOf[LakeSinkCommit]
      es.sink.commit(1L, Array(replay))
      assert(latest(es.path) == v)
      assert(replay.staged.forall(rel =>
        !Files.exists(LakeSinkFiles.stagingDir(es.path).resolve(rel)) &&
          !Files.exists(Paths.get(es.path, rel))), "the replay must discard")
      assert(canon(spark.table("graft.lake.ee")) == Seq("[1,r1]", "[2,r2]"))
      // the next epoch with data records v's successor
      es.sink.commit(2L, Array(es.stage(2L, Seq(3L))))
      assert(latest(es.path) == v + 1)
      assertInvariant(lake, "ee")
    }
  }
}
