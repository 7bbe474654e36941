package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TempLakes
import graft.sources.{GraftCatalog, LakeSinkFiles}

/** The DSv2 catalog surface ([[graft.sources.GraftCatalog]]) + the READ
  * half of [[graft.sources.LakeSink]]: name-based resolution of the
  * parquet testdata and managed lake tables, schema-manifest reads,
  * partition-directory pruning, CTAS / append / drop / rename through the
  * catalog, and the error contract for missing tables/namespaces.
  */
class GraftCatalogSpec extends GraftSpec {

  private def withCatalog[T](lake: String = null)(body: => T): T = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.ns.sf", sfTiny)
    if (lake != null) spark.conf.set("spark.sql.catalog.graft.lake", lake)
    body
  }

  /** (name, size, mtime) of every committed data file — rewrite detector. */
  private def dataFilesOf(path: String): Seq[(String, Long, Long)] = {
    val root = java.nio.file.Paths.get(path)
    val it = java.nio.file.Files.walk(root).iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    while (it.hasNext) {
      val p = it.next()
      val n = p.getFileName.toString
      if (java.nio.file.Files.isRegularFile(p) && n.startsWith("part-") &&
          n.endsWith(".json.gz") && !p.toString.contains("_staging") &&
          !p.toString.contains("_graft_retired"))
        out += ((root.relativize(p).toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
    }
    out.sortBy(_._1).toSeq
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("parquet namespace: name-based read equals the path-based scan") {
    withCatalog() {
      val byName = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM graft.sf.lineitem GROUP BY 1")
      val byPath = spark.read.parquet(s"$sfTiny/lineitem.parquet")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(canon(byName) == canon(byPath))
    }
  }

  test("parquet namespace re-resolves its dir from the live session conf") {
    withCatalog() {
      val tiny = spark.table("graft.sf.lineitem").count()
      spark.conf.set("spark.sql.catalog.graft.ns.sf", sfSmall)
      val small = spark.table("graft.sf.lineitem").count()
      spark.conf.set("spark.sql.catalog.graft.ns.sf", sfTiny)
      assert(small > tiny, "same catalog instance must follow the conf re-point")
    }
  }

  test("listTables / listNamespaces / missing table + namespace errors") {
    val lake = TempLakes.dir("graft_cat_list")
    withCatalog(lake) {
      val sfTables = spark.sql("SHOW TABLES IN graft.sf").collect()
        .map(_.getString(1)).toSet
      assert(Tables.names.toSet.subsetOf(sfTables), s"got $sfTables")
      val nss = spark.sql("SHOW NAMESPACES IN graft").collect()
        .map(_.getString(0)).toSet
      assert(nss.contains("sf") && nss.contains("lake"), s"got $nss")
      val e = intercept[AnalysisException](spark.table("graft.sf.no_such_table"))
      assert(e.getMessage.contains("no_such_table"))
      val e2 = intercept[AnalysisException](spark.table("graft.nope.lineitem"))
      assert(e2 != null)
    }
  }

  test("lake namespace: CTAS writes through LakeSink, reads back by name, drop removes") {
    val lake = TempLakes.dir("graft_cat_ctas")
    withCatalog(lake) {
      spark.sql(
        """CREATE TABLE graft.lake.asia_nations AS
           SELECT n_nationkey, n_name FROM graft.sf.nation WHERE n_regionkey = 2""")
      // the table is a real LakeSink lake: manifest + committed gzip files
      assert(Files.isRegularFile(LakeSinkFiles.manifestPath(s"$lake/asia_nations")))
      val back = spark.table("graft.lake.asia_nations")
      val want = spark.read.parquet(s"$sfTiny/nation.parquet")
        .filter(col("n_regionkey") === 2).select("n_nationkey", "n_name")
      assert(canon(back) == canon(want))
      val listed = spark.sql("SHOW TABLES IN graft.lake").collect()
        .map(_.getString(1)).toSet
      assert(listed == Set("asia_nations"))
      spark.sql("DROP TABLE graft.lake.asia_nations")
      assert(!Files.exists(Paths.get(s"$lake/asia_nations")))
      assert(spark.sql("SHOW TABLES IN graft.lake").collect().isEmpty)
    }
  }

  test("lake namespace: INSERT INTO appends; RENAME moves the directory") {
    val lake = TempLakes.dir("graft_cat_insert")
    withCatalog(lake) {
      spark.sql("CREATE TABLE graft.lake.vals AS SELECT 1L AS v")
      spark.sql("INSERT INTO graft.lake.vals SELECT 2L AS v")
      assert(canon(spark.table("graft.lake.vals")) == Seq("[1]", "[2]"))
      spark.sql("ALTER TABLE graft.lake.vals RENAME TO graft.lake.vals2")
      assert(canon(spark.table("graft.lake.vals2")) == Seq("[1]", "[2]"))
      assert(!spark.catalog.tableExists("graft.lake.vals"))
    }
  }

  test("connector read without manifest fails with a useful message") {
    val empty = TempLakes.dir("graft_cat_nomanifest")
    val e = intercept[Exception](
      spark.read.format("graft.sources.LakeSink").load(empty).collect())
    assert(e.getMessage.contains("_graft_schema.json"), e.getMessage)
  }

  test("manifest-driven connector read round-trips all supported types bit-exactly") {
    val out = TempLakes.dir("graft_read_types")
    val src = graft.operators.Telemetry.twin(spark).filter(col("id") < 500L)
    src.write.format("graft.sources.LakeSink").mode("overwrite").save(out)
    val back = spark.read.format("graft.sources.LakeSink").load(out)
    assert(back.schema == src.schema,
      s"manifest schema drift: ${back.schema.toDDL} vs ${src.schema.toDDL}")
    assert(canon(back) == canon(src))
  }

  test("partitioned lake: equality filter on a partition column prunes input files") {
    import spark.implicits._
    val out = TempLakes.dir("graft_read_prune")
    (0 until 40).map(i => (i.toLong, i % 4)).toDF("v", "b")
      .repartition(2)
      .write.format("graft.sources.LakeSink").option("partitionCols", "b")
      .mode("overwrite").save(out)
    val all = spark.read.format("graft.sources.LakeSink").load(out)
    val pruned = all.filter($"b" === 2)
    // one RDD partition per surviving committed file: since r10 the write
    // requests clustering by partition columns, so each of the 4 b= dirs
    // holds exactly ONE file and pruning keeps exactly one
    assert(all.rdd.getNumPartitions == 4, s"got ${all.rdd.getNumPartitions}")
    assert(pruned.rdd.getNumPartitions == 1, s"got ${pruned.rdd.getNumPartitions}")
    assert(pruned.select(sum($"v")).as[Long].head ==
      (0 until 40).filter(_ % 4 == 2).sum.toLong)
    // the scan reports the pushed partition filter
    val desc = pruned.queryExecution.executedPlan.toString
    assert(desc.contains("EqualTo(b,2)"), desc)
  }

  test("in-flight staging files are invisible to the connector reader") {
    import spark.implicits._
    val out = TempLakes.dir("graft_read_staging")
    Seq(1L, 2L).toDF("v").write.format("graft.sources.LakeSink")
      .mode("overwrite").save(out)
    // simulate a concurrent writer mid-flight: bytes in _staging
    Files.write(LakeSinkFiles.stagingDir(out).resolve("part-x-0.json.gz"),
      Array[Byte](1, 2, 3))
    assert(canon(spark.read.format("graft.sources.LakeSink").load(out)) ==
      Seq("[1]", "[2]"))
  }

  test("DELETE FROM: partition equality is metadata-only; row predicates rewrite") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_delete")
    withCatalog(lake) {
      (0 until 30).map(i => (i.toLong, i % 3)).toDF("v", "b")
        .writeTo("graft.lake.deltest").partitionedBy($"b").create()
      spark.sql("DELETE FROM graft.lake.deltest WHERE b = 1")
      val left = spark.table("graft.lake.deltest")
      assert(left.count() == 20)
      assert(left.filter($"b" === 1).count() == 0)
      // the partition directory's committed files are physically gone
      assert(!Files.list(Paths.get(s"$lake/deltest/b=1")).iterator().hasNext ||
        !Files.exists(Paths.get(s"$lake/deltest/b=1")))
      // a non-partition predicate takes the MERGE-ON-READ path (r10):
      // exactly one row hidden by a delete vector, nothing rewritten —
      // LakeVersionSpec pins the zero-rewrite mechanics
      spark.sql("DELETE FROM graft.lake.deltest WHERE v = 5")
      val after = spark.table("graft.lake.deltest")
      assert(after.count() == 19)
      assert(after.filter($"v" === 5).count() == 0)
    }
  }

  test("MERGE INTO / UPDATE rewrite lake tables correctly") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_merge")
    withCatalog(lake) {
      spark.sql("CREATE TABLE graft.lake.m AS SELECT id AS k, id * 10 AS v FROM range(10)")
      spark.sql("CREATE OR REPLACE TEMP VIEW graft_m_src AS " +
        "SELECT id AS k, id * 100 AS nv FROM range(5, 15)")
      spark.sql("""MERGE INTO graft.lake.m t USING graft_m_src s ON t.k = s.k
                   WHEN MATCHED THEN UPDATE SET v = s.nv
                   WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""")
      val merged = spark.table("graft.lake.m").orderBy($"k")
        .as[(Long, Long)].collect().toSeq
      assert(merged == (0L until 5L).map(k => (k, k * 10)) ++
        (5L until 15L).map(k => (k, k * 100)), merged.toString)
      spark.sql("UPDATE graft.lake.m SET v = -1 WHERE k = 3")
      assert(spark.table("graft.lake.m").filter($"v" === -1)
        .select($"k").as[Long].collect().toSeq == Seq(3L))
      // the _file metadata column is queryable like any hidden column
      assert(spark.sql("SELECT _file FROM graft.lake.m LIMIT 1")
        .collect()(0).getString(0).endsWith(".json.gz"))
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION: a superset source auto-adds columns via the manifest") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_mergeevo")
    withCatalog(lake) {
      spark.sql("CREATE TABLE graft.lake.me AS SELECT id AS k, id * 10 AS v FROM range(10)")
      spark.sql("CREATE OR REPLACE TEMP VIEW graft_me_src AS " +
        "SELECT id AS k, id * 100 AS v, CAST(id AS STRING) AS tag FROM range(5, 15)")
      // the analyzer derives AddColumn changes from the source schema and
      // routes them through GraftCatalog.alterTable (the
      // AUTOMATIC_SCHEMA_EVOLUTION capability) — same evolution state as
      // ALTER TABLE ADD COLUMNS; pre-evolution files null-fill
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.lake.me t
                   USING graft_me_src s ON t.k = s.k
                   WHEN MATCHED THEN UPDATE SET *
                   WHEN NOT MATCHED THEN INSERT *""")
      val back = spark.table("graft.lake.me").orderBy($"k")
      assert(back.columns.toSeq == Seq("k", "v", "tag"))
      val got = back.as[(Long, Long, Option[String])].collect().toSeq
      assert(got == (0L until 5L).map(k => (k, k * 10, None: Option[String])) ++
        (5L until 15L).map(k => (k, k * 100, Some(k.toString))), got.toString)
      // WITHOUT the clause a superset source must NOT silently evolve the
      // schema (Spark aligns star assignments by name; the extra source
      // column is simply not landed)
      spark.sql("CREATE OR REPLACE TEMP VIEW graft_me_src2 AS " +
        "SELECT id + 100 AS k, id AS v, CAST(id AS STRING) AS tag, id AS extra FROM range(3)")
      spark.sql("""MERGE INTO graft.lake.me t USING graft_me_src2 s ON t.k = s.k
                   WHEN NOT MATCHED THEN INSERT *""")
      assert(spark.table("graft.lake.me").columns.toSeq == Seq("k", "v", "tag"),
        "a plain MERGE must not evolve the schema")
      assert(spark.table("graft.lake.me").count() == 18L)
    }
  }

  test("row-level UPDATE with a partition predicate rewrites ONLY that partition's files") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_group")
    withCatalog(lake) {
      (0 until 40).map(i => (i.toLong, i % 2)).toDF("v", "b")
        .writeTo("graft.lake.grp").partitionedBy($"b").create()
      def files(b: Int): Set[String] = {
        val d = Paths.get(s"$lake/grp/b=$b")
        if (!Files.isDirectory(d)) Set.empty
        else {
          val it = Files.list(d).iterator()
          var out = Set.empty[String]
          while (it.hasNext) out += it.next().getFileName.toString
          out
        }
      }
      val before0 = files(0)
      assert(before0.nonEmpty)
      // group-based rewrite with the partition equality pushed: only the
      // b=1 group files are replaced, b=0's committed files are untouched
      spark.sql("UPDATE graft.lake.grp SET v = v + 1000 WHERE b = 1 AND v < 10")
      assert(files(0) == before0,
        "untouched partition's files must survive a partition-scoped rewrite")
      val got = spark.table("graft.lake.grp").agg(sum($"v")).as[Long].head
      val want = (0 until 40).map(i => if (i % 2 == 1 && i < 10) i + 1000 else i).sum
      assert(got == want)
    }
  }

  test("ALTER TABLE ADD COLUMNS: old files null-fill, new writes carry the column") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_evolve")
    withCatalog(lake) {
      spark.sql("CREATE TABLE graft.lake.evo AS SELECT 1L AS v")
      spark.sql("ALTER TABLE graft.lake.evo ADD COLUMNS (tag STRING)")
      spark.sql("INSERT INTO graft.lake.evo SELECT 2L AS v, 'new' AS tag")
      val back = spark.table("graft.lake.evo").orderBy($"v")
        .select($"v", $"tag").as[(Long, Option[String])].collect().toSeq
      assert(back == Seq((1L, None), (2L, Some("new"))),
        s"old rows must read the added column as NULL: $back")
      // refused evolutions: dropping the last data column and bad types
      spark.sql("ALTER TABLE graft.lake.evo DROP COLUMN tag")
      val e1 = intercept[Exception](spark.sql("ALTER TABLE graft.lake.evo DROP COLUMN v"))
      assert(e1.getMessage.contains("last column"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql("ALTER TABLE graft.lake.evo ADD COLUMNS (bad ARRAY<INT>)"))
      assert(e2.getMessage.contains("unsupported"), e2.getMessage)
      assert(spark.table("graft.lake.evo").columns.toSeq == Seq("v"),
        "refused DDL must not change the schema")
    }
  }

  test("RENAME/DROP COLUMN: metadata-only, old files alias, snapshots keep old names") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_evolve2")
    withCatalog(lake) {
      Seq((1L, "en", "keepA"), (2L, "de", "keepB")).toDF("id", "lang", "x")
        .writeTo("graft.lake.ren").create() // v1: physical names id/lang/x
      val filesBefore = dataFilesOf(s"$lake/ren")
      spark.sql("ALTER TABLE graft.lake.ren RENAME COLUMN lang TO language") // v2
      // metadata-only: not a byte rewritten
      assert(dataFilesOf(s"$lake/ren") == filesBefore,
        "a rename must not rewrite data files")
      // live reads serve OLD files' bytes under the NEW name
      assert(spark.table("graft.lake.ren").columns.toSeq == Seq("id", "language", "x"))
      assert(spark.table("graft.lake.ren").orderBy($"id")
        .select($"language").as[String].collect().toSeq == Seq("en", "de"))
      // appends write the new physical name; both generations read as one
      Seq((3L, "fr", "keepC")).toDF("id", "language", "x")
        .writeTo("graft.lake.ren").append() // v3
      assert(spark.table("graft.lake.ren").orderBy($"id")
        .select($"language").as[String].collect().toSeq == Seq("en", "de", "fr"))
      // filters + stats on the renamed column still evaluate correctly
      assert(spark.table("graft.lake.ren").filter($"language" === "de").count() == 1)
      // pre-rename SNAPSHOT keeps the pre-rename name
      val v1 = spark.sql("SELECT * FROM graft.lake.ren VERSION AS OF 1")
      assert(v1.columns.toSeq == Seq("id", "lang", "x"),
        s"a pre-evolution snapshot must show pre-evolution names: ${v1.columns.toSeq}")
      assert(v1.count() == 2)
      // DROP COLUMN: old bytes invisible, old files still readable
      spark.sql("ALTER TABLE graft.lake.ren DROP COLUMN x") // v4
      assert(spark.table("graft.lake.ren").columns.toSeq == Seq("id", "language"))
      assert(spark.table("graft.lake.ren").count() == 3)
      // name reuse after rename/drop is refused (the rewrite-only case)
      val e1 = intercept[Exception](
        spark.sql("ALTER TABLE graft.lake.ren ADD COLUMNS (lang STRING)"))
      assert(e1.getMessage.contains("in use"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql("ALTER TABLE graft.lake.ren ADD COLUMNS (x STRING)"))
      assert(e2.getMessage.contains("in use"), e2.getMessage)
      // fresh names still evolve fine; count(*) stays metadata-answered
      spark.sql("ALTER TABLE graft.lake.ren ADD COLUMNS (y BIGINT)")
      assert(spark.table("graft.lake.ren").columns.toSeq == Seq("id", "language", "y"))
      val cnt = spark.sql("SELECT count(*) AS n FROM graft.lake.ren")
      assert(cnt.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(cnt.collect()(0).getLong(0) == 3)
    }
  }

  test("catalog aggregate function: graft.fns.dsum runs the V2Aggregator path with partials") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    Seq(Some(0.1), Some(0.2), Some(0.30000001), Some(-5.5), None)
      .toDF("x").createOrReplaceTempView("graft_dsum_t")
    val df = spark.sql("SELECT graft.fns.dsum(x) AS s FROM graft_dsum_t")
    // the function IS Num.dsum: exact decimal(38,10) accumulation (the
    // magnitude here converts to double exactly, so raw values match)
    val want = spark.table("graft_dsum_t")
      .agg(graft.operators.Num.dsum($"x").as("s")).collect()(0).getDouble(0)
    assert(df.collect()(0).getDouble(0) == want)
    // planned as a real aggregate with the partial + final split
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_v2aggregator"), plan)
    assert(plan.contains("GraftDsumBound"), plan)
    // grouped + order-independence across parallelism: repartitioned
    // shuffle order cannot change the exact decimal result
    val grouped = spark.sql(
      """SELECT x IS NULL AS g, graft.fns.dsum(x) AS s
         FROM graft_dsum_t GROUP BY x IS NULL ORDER BY g""").collect()
    assert(grouped.length == 2 && grouped(1).isNullAt(1) == false)
    val shuffled = spark.table("graft_dsum_t").repartition(7)
    shuffled.createOrReplaceTempView("graft_dsum_t7")
    assert(spark.sql("SELECT graft.fns.dsum(x) AS s FROM graft_dsum_t7")
      .collect()(0).getDouble(0) == want)
  }

  test("ALTER COLUMN TYPE widening: metadata-only, stats pushdown folds both generations") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_widen")
    withCatalog(lake) {
      Seq(1, 2, 3).toDF("k").writeTo("graft.lake.wid").create() // v1: k INT
      val filesBefore = dataFilesOf(s"$lake/wid")
      spark.sql("ALTER TABLE graft.lake.wid ALTER COLUMN k TYPE BIGINT") // v2
      assert(dataFilesOf(s"$lake/wid") == filesBefore,
        "a widening must not rewrite data files")
      assert(spark.table("graft.lake.wid").schema("k").dataType ==
        org.apache.spark.sql.types.LongType)
      // append values an int cannot hold; both generations read as one
      Seq(5000000001L, 5000000002L).toDF("k").writeTo("graft.lake.wid").append() // v3
      assert(spark.table("graft.lake.wid").orderBy($"k").as[Long].collect().toSeq ==
        Seq(1L, 2L, 3L, 5000000001L, 5000000002L))
      // min/max answer from metadata, folding int-recorded and
      // long-recorded per-file bounds under the widened type
      val mm = spark.table("graft.lake.wid").agg(min($"k"), max($"k"))
      assert(mm.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
        mm.queryExecution.executedPlan.toString.linesIterator.take(4).mkString("|"))
      assert(mm.as[(Long, Long)].head == ((1L, 5000000002L)))
      // pre-widening snapshot keeps the narrow type
      assert(spark.sql("SELECT * FROM graft.lake.wid VERSION AS OF 1")
        .schema("k").dataType == org.apache.spark.sql.types.IntegerType)
      // refusals: narrowing dies in Spark's own canUpCast analysis; a
      // cast-compatible but non-widening change (long→string upcasts in
      // Catalyst) reaches the catalog and must hit OUR refusal
      val e1 = intercept[Exception](
        spark.sql("ALTER TABLE graft.lake.wid ALTER COLUMN k TYPE INT"))
      assert(e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql("ALTER TABLE graft.lake.wid ALTER COLUMN k TYPE STRING"))
      assert(e2.getMessage.contains("widening"), e2.getMessage)
    }
  }

  test("streaming read tails a lake table incrementally across checkpointed drains") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_tail")
    val ckpt = TempLakes.dir("graft_cat_tail_ckpt")
    withCatalog(lake) {
      spark.sql("CREATE TABLE graft.lake.tail AS SELECT id AS v FROM range(5)")
      // the drained output goes through LakeSink too (memory sinks refuse
      // checkpoint recovery), so the whole tail is lake → stream → lake
      val outDir = TempLakes.dir("graft_cat_tail_out")
      def drain(): Seq[Long] = {
        val q = spark.readStream.table("graft.lake.tail")
          .writeStream.format("graft.sources.LakeSink")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.format("graft.sources.LakeSink").load(outDir)
          .as[Long].collect().sorted.toSeq
      }
      assert(drain() == (0L until 5L))
      spark.sql("INSERT INTO graft.lake.tail SELECT id AS v FROM range(100, 103)")
      // same checkpoint: only the appended files arrive — the offset
      // snapshot makes the tail exactly-once (no re-delivered originals)
      assert(drain() == ((0L until 5L) ++ Seq(100L, 101L, 102L)),
        "second drain must append ONLY the new rows")
    }
  }

  test("streaming read admission: maxFiles/maxRows per trigger bound each micro-batch") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_adm")
    withCatalog(lake) {
      // 5 single-file commits of 10 rows each (REPARTITION(1): one task,
      // one committed file per statement)
      spark.sql(
        "CREATE TABLE graft.lake.adm AS SELECT /*+ REPARTITION(1) */ id AS v FROM range(10)")
      (1 to 4).foreach(i => spark.sql(
        s"INSERT INTO graft.lake.adm SELECT /*+ REPARTITION(1) */ id AS v " +
          s"FROM range(${i * 100}, ${i * 100 + 10})"))
      def drain(opts: (String, String)*): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
        val outDir = TempLakes.dir("graft_cat_adm_out")
        var r = spark.readStream
        opts.foreach { case (k, v) => r = r.option(k, v) }
        val q = r.table("graft.lake.adm")
          .writeStream.format("graft.sources.LakeSink")
          .option("path", outDir)
          .option("checkpointLocation", TempLakes.dir("graft_cat_adm_ckpt"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        assert(spark.read.format("graft.sources.LakeSink").load(outDir)
          .count() == 50L, "every admitted batch must still deliver all rows")
        q.recentProgress.toSeq.filter(_.numInputRows > 0)
      }
      // one file per batch: 5 data-carrying batches of exactly 10 rows
      val perFile = drain("maxFilesPerTrigger" -> "1")
      assert(perFile.length == 5 && perFile.forall(_.numInputRows == 10),
        perFile.map(_.numInputRows).mkString(","))
      // row budget from the counts ledger: 20 rows admits 2 whole files
      val perRows = drain("maxRowsPerTrigger" -> "20").map(_.numInputRows).toSeq
      assert(perRows == Seq(20L, 20L, 10L), perRows.mkString(","))
      // no option: everything in one batch (allAvailable default)
      val all = drain()
      assert(all.length == 1 && all.head.numInputRows == 50,
        all.map(_.numInputRows).mkString(","))
      // byte budget (compressed on-disk sizes; each file here is well
      // over 1 byte): whole files admit, first always → one per batch
      val perBytes = drain("maxBytesPerTrigger" -> "1")
      assert(perBytes.length == 5 && perBytes.forall(_.numInputRows == 10),
        perBytes.map(_.numInputRows).mkString(","))
    }
  }

  test("metadata table .deletes lists merge-on-read vectors until compaction clears them") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_mdel")
    withCatalog(lake) {
      spark.sql(
        "CREATE TABLE graft.lake.md AS SELECT /*+ REPARTITION(2) */ id AS v FROM range(20)")
      assert(spark.sql("SELECT * FROM graft.lake.md.deletes").isEmpty)
      spark.sql("DELETE FROM graft.lake.md WHERE v IN (3, 7, 8)") // mor vectors
      val rows = spark.sql("SELECT * FROM graft.lake.md.deletes").collect()
      assert(rows.map(_.getAs[Long]("deleted_rows")).sum == 3L, rows.mkString(";"))
      // live_rows per file = ledger count − vector, and the table-wide sum
      // matches the live count
      assert(rows.forall(r => !r.isNullAt(2)))
      val vectoredLive = rows.map(_.getAs[Long]("live_rows")).sum
      val untouchedLive = spark.table("graft.lake.md").count() - vectoredLive
      assert(untouchedLive >= 0)
      // compaction materializes the vectors → the view drains empty
      graft.sources.LakeMaintenance.compact(spark, s"$lake/md")
      assert(spark.sql("SELECT * FROM graft.lake.md.deletes").isEmpty)
      assert(spark.table("graft.lake.md").count() == 17)
    }
  }

  test("metadata tables: .files / .history / .partitions answer from commit metadata") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_meta")
    withCatalog(lake) {
      (0 until 30).map(i => (i.toLong, i % 3)).toDF("v", "b")
        .repartition(2).writeTo("graft.lake.meta").partitionedBy($"b").create() // v1
      spark.sql("INSERT INTO graft.lake.meta SELECT /*+ REPARTITION(1) */ " +
        "v + 100, 0 AS b FROM range(5) t(v)") // v2
      // .files: one row per committed file, rows from the counts ledger —
      // since r10 writes cluster by partition columns: one file per dir
      // per job (3 from the CTAS + 1 from the append into b=0)
      val files = spark.sql("SELECT * FROM graft.lake.meta.files").collect()
      assert(files.length == 4, s"3 dirs + 1 append: got ${files.length}")
      assert(files.map(_.getLong(2)).sum == 35L, "ledger rows must total the table")
      assert(files.forall(_.getBoolean(4)), "every file has recorded stats")
      assert(files.forall(_.getLong(3) > 0L), "sizes from the filesystem")
      assert(files.count(r => r.getString(1) == "b=0") == 2)
      // .partitions: the per-directory rollup
      val parts = spark.sql(
        "SELECT partition, files, rows FROM graft.lake.meta.partitions ORDER BY partition")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(parts == Seq(("b=0", 2L, 15L), ("b=1", 1L, 10L), ("b=2", 1L, 10L)), parts)
      // .history: one row per recorded version, file counts grow
      val hist = spark.sql(
        "SELECT version, files FROM graft.lake.meta.history ORDER BY version")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(hist == Seq((1L, 3L), (2L, 4L)), hist.toString)
      // a metadata table of a missing base table fails loudly
      val e = intercept[Exception](spark.sql("SELECT * FROM graft.lake.nope.files"))
      assert(e.getMessage != null)
    }
  }

  test("catalog functions: h60 three-way bit-equality, sqdist matches the kernel") {
    import spark.implicits._
    withCatalog() {
      // h60: catalog function ≡ Column form ≡ executor Scala twin
      val samples = Seq("", "a", "doc-123", "ünïcödé \n tab\t")
      val viaSql = samples.map(s =>
        spark.sql(s"SELECT graft.fns.h60('${s.replace("\\", "\\\\").replace("'", "''").replace("\n", "\\n").replace("\t", "\\t")}')")
          .collect()(0).getLong(0))
      val viaCol = samples.toDF("s")
        .select(graft.operators.DedupLsh.h60(col("s"))).as[Long].collect().toSeq
      val viaScala = samples.map(graft.streaming.StreamOps.h60Scala)
      assert(viaSql == viaCol && viaCol == viaScala,
        s"sql=$viaSql col=$viaCol scala=$viaScala")
      // sqdist: catalog function ≡ the graft_sqdist Catalyst kernel on
      // ragged/null-carrying vectors (same null/length algebra)
      org.apache.spark.sql.graft.VectorExpressions.register(spark)
      val vecs = Seq(
        (Seq(1.0, 2.0, 3.0), Seq(4.0, 6.0, 3.0)),
        (Seq(1.0, 2.0), Seq(1.0, 2.0, 99.0)),
        (Seq(0.5), Seq(-0.5))).toDF("a", "b")
      vecs.createOrReplaceTempView("graft_fn_vecs")
      val viaFn = spark.sql(
        "SELECT graft.fns.sqdist(a, b) FROM graft_fn_vecs").as[Double].collect().toSeq
      val viaKernel = spark.sql(
        "SELECT graft_sqdist(a, b) FROM graft_fn_vecs").as[Double].collect().toSeq
      assert(viaFn == viaKernel, s"fn=$viaFn kernel=$viaKernel")
      // unknown function / wrong namespace error contract
      val e = intercept[Exception](spark.sql("SELECT graft.fns.nope(1)"))
      assert(e.getMessage != null)
    }
  }

  test("storage-partitioned join: two same-partitioned lake tables join with zero shuffles") {
    val lake = TempLakes.dir("graft_cat_spj")
    withCatalog(lake) {
      import spark.implicits._
      (0 until 600).map(i => (i.toLong, i % 6, s"a$i")).toDF("id", "p", "a")
        .writeTo("graft.lake.spjl").partitionedBy(col("p")).create()
      (0 until 600).map(i => (i.toLong, i % 6, i * 2L)).toDF("id", "p", "b")
        .writeTo("graft.lake.spjr").partitionedBy(col("p")).create()
      // no final orderBy: a global sort adds its own (legitimate) range
      // exchange; canon() sorts collected rows instead
      def joined = spark.table("graft.lake.spjl").as("l")
        .join(spark.table("graft.lake.spjr").as("r"), Seq("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("n"), sum(col("b")).as("sb"))
      def shuffleCount(df: DataFrame): Int = {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        var n = 0
        def walk(pl: SparkPlan): Unit = {
          pl match {
            case _: ShuffleExchangeLike   => n += 1
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec        => walk(q.plan)
            case _                        =>
          }
          pl.children.foreach(walk)
        }
        df.collect()
        walk(df.queryExecution.executedPlan)
        n
      }
      // hermetic conf: another suite may leave bucketing/broadcast state
      // behind in the shared session — pin BOTH legs explicitly
      // EXPLICIT setting only: getOption surfaces the REGISTERED DEFAULT (true
      // on this engine) and re-setting it explicitly would leak SPJ mode into
      // every later scan in the shared session (vetoing runtime filtering)
      val prevB: Option[String] =
        if (org.apache.spark.sql.internal.SQLConf.get.contains(
            "spark.sql.sources.v2.bucketing.enabled"))
          Some(spark.conf.get("spark.sql.sources.v2.bucketing.enabled"))
        else None
      val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        val expected = canon(joined) // baseline: the ordinary shuffled plan
        assert(shuffleCount(joined) > 0, "precondition: the un-bucketed join must shuffle")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        val q = joined
        assert(shuffleCount(q) == 0,
          "same-partitioned lake tables must join/aggregate with ZERO exchanges:\n" +
            q.queryExecution.executedPlan.toString.take(1500))
        assert(canon(q) == expected, "the co-located plan must return identical rows")
      } finally {
        prevB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
          v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      }
    }
  }

  test("bucket(n, col) transform: bucketed lake tables SPJ-join on the SOURCE key, zero shuffles") {
    val lake = TempLakes.dir("graft_cat_bspj")
    withCatalog(lake) {
      import spark.implicits._
      // high-cardinality key: identity dirs would need one dir per value —
      // the case the bucket transform exists for
      (0 until 600).map(i => (i.toLong, s"a$i")).toDF("id", "a")
        .writeTo("graft.lake.bkl")
        .partitionedBy(org.apache.spark.sql.functions.bucket(4, col("id"))).create()
      (0 until 600 by 2).map(i => (i.toLong, i * 3L)).toDF("id", "b")
        .writeTo("graft.lake.bkr")
        .partitionedBy(org.apache.spark.sql.functions.bucket(4, col("id"))).create()
      // layout: id_bucket=<k>/ dirs; the source column travels IN the rows
      val parts = spark.sql("SHOW PARTITIONS graft.lake.bkl")
        .collect().map(_.getString(0)).sorted
      assert(parts.nonEmpty && parts.forall(_.startsWith("id_bucket=")),
        s"bucket dirs expected, got ${parts.mkString(",")}")
      assert(spark.table("graft.lake.bkl").columns.contains("id"),
        "the bucket SOURCE column must remain a data column")
      def joined = spark.table("graft.lake.bkl")
        .join(spark.table("graft.lake.bkr"), Seq("id"))
        .groupBy(col("id")).agg(sum(col("b")).as("sb"))
      def shuffleCount(df: DataFrame): Int = {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        var n = 0
        def walk(pl: SparkPlan): Unit = {
          pl match {
            case _: ShuffleExchangeLike   => n += 1
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec        => walk(q.plan)
            case _                        =>
          }
          pl.children.foreach(walk)
        }
        df.collect()
        walk(df.queryExecution.executedPlan)
        n
      }
      // hermetic conf: pin BOTH legs (the r10 SPJ-flake lesson)
      // EXPLICIT setting only: getOption surfaces the REGISTERED DEFAULT (true
      // on this engine) and re-setting it explicitly would leak SPJ mode into
      // every later scan in the shared session (vetoing runtime filtering)
      val prevB: Option[String] =
        if (org.apache.spark.sql.internal.SQLConf.get.contains(
            "spark.sql.sources.v2.bucketing.enabled"))
          Some(spark.conf.get("spark.sql.sources.v2.bucketing.enabled"))
        else None
      val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        val expected = canon(joined) // baseline: the ordinary shuffled plan
        assert(shuffleCount(joined) > 0, "precondition: the un-bucketed join must shuffle")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        val q = joined
        assert(shuffleCount(q) == 0,
          "same-bucketed lake tables must join/aggregate on the source key " +
            "with ZERO exchanges:\n" +
            q.queryExecution.executedPlan.toString.take(1500))
        assert(canon(q) == expected, "the co-located plan must return identical rows")
      } finally {
        prevB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
          v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      }
    }
  }

  test("sortBy + bucket writes: SPJ merge join plans ZERO exchanges and ZERO sorts") {
    val lake = TempLakes.dir("graft_cat_sspj")
    withCatalog(lake) {
      import spark.implicits._
      def mk(name: String, sorted: Boolean, rows: Seq[(Long, Long)]): Unit = {
        var w = rows.toDF("id", "v").writeTo(s"graft.lake.$name")
          .partitionedBy(org.apache.spark.sql.functions.bucket(4, col("id")))
        if (sorted) w = w.option("sortBy", "id")
        w.create()
      }
      // shuffled input order: the writer's requested sort must be what
      // orders the files, not luck
      val left = scala.util.Random.shuffle((0 until 600).map(i => (i.toLong, i * 2L))).toSeq
      val right = scala.util.Random.shuffle((0 until 600 by 2).map(i => (i.toLong, i * 3L))).toSeq
      mk("sfl", sorted = true, left)
      mk("sfr", sorted = true, right)
      mk("sfu", sorted = false, right) // unsorted control
      def planCounts(df: DataFrame): (Int, Int, Int) = {
        import org.apache.spark.sql.execution.{SortExec, SparkPlan}
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        var (sh, so, smj) = (0, 0, 0)
        def walk(pl: SparkPlan): Unit = {
          pl match {
            case _: ShuffleExchangeLike   => sh += 1
            case _: SortExec              => so += 1
            case _: SortMergeJoinExec     => smj += 1
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec        => walk(q.plan)
            case _                        =>
          }
          pl.children.foreach(walk)
        }
        df.collect()
        walk(df.queryExecution.executedPlan)
        (sh, so, smj)
      }
      def joined(r: String) = spark.table("graft.lake.sfl")
        .join(spark.table(s"graft.lake.$r"), Seq("id"))
      // hermetic conf (the r10 SPJ-flake lesson): explicit settings only
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prevB: Option[String] =
        if (org.apache.spark.sql.internal.SQLConf.get.contains(key))
          Some(spark.conf.get(key))
        else None
      val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(key, "false")
        val expected = canon(joined("sfr")) // ordinary shuffled+sorted plan
        spark.conf.set(key, "true")
        // sorted ⋈ sorted: merge join, no exchange, NO SORT — the scans'
        // reported per-partition ordering satisfies SMJ's requirement
        val (sh1, so1, smj1) = planCounts(joined("sfr"))
        assert(smj1 > 0, "expected a sort-merge join")
        assert(sh1 == 0 && so1 == 0,
          s"sorted SPJ join must plan zero exchanges/sorts, got $sh1/$so1:\n" +
            joined("sfr").queryExecution.executedPlan.toString.take(1500))
        assert(canon(joined("sfr")) == expected, "sort-free plan, identical rows")
        // unsorted control: same SPJ layout still needs its sorts — the
        // assertion above is not vacuous
        val (_, soU, smjU) = planCounts(joined("sfu"))
        assert(smjU > 0 && soU > 0, s"unsorted control must sort ($soU)")
        // an UNSORTED append invalidates the claim: new files never enter
        // the ledger, so the scan stops reporting ordering — sound
        Seq((601L, 1L)).toDF("id", "v").writeTo("graft.lake.sfr").append()
        val (_, so2, _) = planCounts(joined("sfr"))
        assert(so2 > 0, "post-append the right side is no longer provably sorted")
      } finally {
        prevB.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      }
    }
  }

  test("compaction preserves sortedness: claimed groups k-way merge and re-declare") {
    val lake = TempLakes.dir("graft_cat_csort")
    withCatalog(lake) {
      import spark.implicits._
      // two sortBy commits per table → 2 claimed files per bucket dir
      def mk(name: String, sortedSecond: Boolean): Unit = {
        val rows = scala.util.Random.shuffle((0 until 600).map(i => (i.toLong, i * 2L))).toSeq
        val (evens, odds) = rows.partition(_._1 % 2 == 0)
        evens.toDF("id", "v").writeTo(s"graft.lake.$name")
          .partitionedBy(org.apache.spark.sql.functions.bucket(4, col("id")))
          .option("sortBy", "id").create()
        val w = odds.toDF("id", "v").writeTo(s"graft.lake.$name")
        (if (sortedSecond) w.option("sortBy", "id") else w).append()
      }
      mk("csl", sortedSecond = true)
      mk("csr", sortedSecond = true)
      mk("csu", sortedSecond = false) // one UNSORTED input file per dir
      def planCounts(df: DataFrame): (Int, Int, Int) = {
        import org.apache.spark.sql.execution.{SortExec, SparkPlan}
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        var (sh, so, smj) = (0, 0, 0)
        def walk(pl: SparkPlan): Unit = {
          pl match {
            case _: ShuffleExchangeLike   => sh += 1
            case _: SortExec              => so += 1
            case _: SortMergeJoinExec     => smj += 1
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec        => walk(q.plan)
            case _                        =>
          }
          pl.children.foreach(walk)
        }
        df.collect()
        walk(df.queryExecution.executedPlan)
        (sh, so, smj)
      }
      def joined(r: String) = spark.table("graft.lake.csl")
        .join(spark.table(s"graft.lake.$r"), Seq("id"))
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prevB: Option[String] =
        if (org.apache.spark.sql.internal.SQLConf.get.contains(key))
          Some(spark.conf.get(key)) else None
      val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(key, "true")
        val expected = canon(joined("csr"))
        // precondition: multi-file buckets can't report ordering → sorts
        val (_, soPre, smjPre) = planCounts(joined("csr"))
        assert(smjPre > 0 && soPre > 0,
          s"precondition: pre-compaction multi-file groups must sort ($soPre)")
        // COMPACT both sides: every group's inputs carry the same claim →
        // k-way merge + re-declared claim
        graft.sources.LakeMaintenance.compact(spark, s"$lake/csl")
        graft.sources.LakeMaintenance.compact(spark, s"$lake/csr")
        // the configured effect, asserted directly (r13 lesson): the
        // ledger claims exactly the live merged files…
        val claimed = graft.sources.LakeSinkFiles.readSorted(s"$lake/csr")
        val live = graft.sources.LakeSinkFiles.listLive(s"$lake/csr",
          Seq("bucket(4,id)")).map(_._1.toString)
        assert(claimed.keySet == live.map(f =>
          java.nio.file.Paths.get(s"$lake/csr").relativize(
            java.nio.file.Paths.get(f)).toString).toSet &&
          claimed.values.forall(_ == Seq("id")), claimed.toString)
        // …and each merged file is GENUINELY ascending row-by-row
        val perFile = spark.read.format("graft.sources.LakeSink").load(s"$lake/csr")
          .select(col("_file"), col("_pos"), col("id"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .groupBy(_._1)
        perFile.values.foreach { rows =>
          val byPos = rows.sortBy(_._2).map(_._3).toSeq
          assert(byPos == byPos.sorted, s"merged file not sorted: ${byPos.take(10)}")
        }
        // the t58 plan property SURVIVES maintenance: zero exchanges AND
        // zero sorts, identical rows
        val (sh1, so1, smj1) = planCounts(joined("csr"))
        assert(smj1 > 0 && sh1 == 0 && so1 == 0,
          s"post-compaction sorted SPJ must stay sort-free, got sh=$sh1 so=$so1:\n" +
            joined("csr").queryExecution.executedPlan.toString.take(1500))
        assert(canon(joined("csr")) == expected)
        // unsorted-input control: a group containing ONE unclaimed file
        // declines — no claim on its merged output, the join sorts
        graft.sources.LakeMaintenance.compact(spark, s"$lake/csu")
        assert(graft.sources.LakeSinkFiles.readSorted(s"$lake/csu").isEmpty,
          "a group with an unsorted input must not claim its merge")
        val (_, soU, smjU) = planCounts(joined("csu"))
        assert(smjU > 0 && soU > 0, s"unsorted control must sort ($soU)")
        // merge-on-read vectors: deleted rows vanish from the merged file,
        // the claim still re-declares, the counts ledger stays exact
        val prevMode = spark.conf.getOption("spark.graft.lake.dml.mode")
        try {
          spark.conf.set("spark.graft.lake.dml.mode", "mor")
          spark.sql("DELETE FROM graft.lake.csl WHERE id < 100")
        } finally prevMode.fold(spark.conf.unset("spark.graft.lake.dml.mode"))(
          v => spark.conf.set("spark.graft.lake.dml.mode", v))
        graft.sources.LakeMaintenance.compact(spark, s"$lake/csl")
        assert(graft.sources.LakeSinkFiles.readSorted(s"$lake/csl").nonEmpty)
        assert(spark.table("graft.lake.csl").count() == 500L)
        val (sh2, so2, smj2) = planCounts(joined("csr"))
        assert(smj2 > 0 && sh2 == 0 && so2 == 0,
          "vector-materializing sorted compaction must keep the claim")
      } finally {
        prevB.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      }
    }
  }

  test("days(ts) hidden partitioning: UTC day dirs, ts-predicate dir pruning, round trip") {
    val lake = TempLakes.dir("graft_cat_days")
    withCatalog(lake) {
      // 3 UTC days x 4 rows, written through the catalog
      spark.sql(
        """CREATE TABLE graft.lake.ev PARTITIONED BY (days(ts)) AS
           SELECT CAST(id AS BIGINT) AS id,
                  timestamp'2026-02-01 00:30:00' + make_interval(0,0,0,0,6 * CAST(id AS INT)) AS ts,
                  CAST(id AS DOUBLE) * 1.5 AS v
           FROM range(12)""")
      // layout: ts_day=YYYY-MM-DD dirs; ts itself travels IN the rows
      val parts = spark.sql("SHOW PARTITIONS graft.lake.ev")
        .collect().map(_.getString(0)).sorted
      assert(parts.toSeq == Seq("ts_day=2026-02-01", "ts_day=2026-02-02",
        "ts_day=2026-02-03"), parts.mkString(","))
      assert(spark.table("graft.lake.ev").columns.contains("ts"),
        "the temporal SOURCE column must remain a data column")
      val all = canon(spark.table("graft.lake.ev"))
      assert(all.size == 12)
      // HIDDEN-partitioning pruning: a plain ts predicate opens only the
      // matching day dirs. Strip the recorded stats first so the only
      // possible skip mechanism is the synthetic temporal-dir interval.
      LakeRecords.stripFacts(s"$lake/ev", "stats")
      val q = spark.table("graft.lake.ev")
        .filter(col("ts") >= expr("timestamp'2026-02-02 00:00:00'") &&
          col("ts") < expr("timestamp'2026-02-03 00:00:00'"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      val m = "skippedFiles=(\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined && m.get.group(1).toInt == 2,
        s"ts range must prune the two other day dirs:\n${plan.take(900)}")
      assert(q.count() == 4)
      // equality predicate prunes to one day dir
      val eq = spark.table("graft.lake.ev")
        .filter(col("ts") === expr("timestamp'2026-02-01 06:30:00'"))
      eq.collect()
      assert("skippedFiles=(\\d+)".r.findFirstMatchIn(
        eq.queryExecution.executedPlan.toString).get.group(1).toInt == 2)
      // appends flow into the existing day dirs; reads stay consistent
      spark.sql(
        """INSERT INTO graft.lake.ev
           SELECT 100L AS id, timestamp'2026-02-02 12:00:00' AS ts, 9.0 AS v""")
      assert(spark.table("graft.lake.ev").count() == 13)
      assert(spark.sql("SHOW PARTITIONS graft.lake.ev").count() == 3)
    }
  }

  test("hours/months/years transforms: dir naming, round trip, NULL refused") {
    val lake = TempLakes.dir("graft_cat_temporal")
    withCatalog(lake) {
      import org.apache.spark.sql.functions.{hours, months, years}
      val df = spark.sql(
        """SELECT CAST(id AS BIGINT) AS id,
                  timestamp'2025-11-30 22:10:00' + make_interval(0,0,0,0,0,80 * CAST(id AS INT)) AS ts
           FROM range(4)""")
      df.writeTo("graft.lake.hh").partitionedBy(hours(col("ts"))).create()
      assert(spark.sql("SHOW PARTITIONS graft.lake.hh")
        .collect().map(_.getString(0)).sorted.toSeq ==
        Seq("ts_hour=2025-11-30-22", "ts_hour=2025-11-30-23",
          "ts_hour=2025-12-01-00", "ts_hour=2025-12-01-02"))
      assert(canon(spark.table("graft.lake.hh")) == canon(df))
      df.writeTo("graft.lake.mm").partitionedBy(months(col("ts"))).create()
      assert(spark.sql("SHOW PARTITIONS graft.lake.mm")
        .collect().map(_.getString(0)).sorted.toSeq ==
        Seq("ts_month=2025-11", "ts_month=2025-12"))
      df.writeTo("graft.lake.yy").partitionedBy(years(col("ts"))).create()
      assert(spark.sql("SHOW PARTITIONS graft.lake.yy")
        .collect().map(_.getString(0)).sorted.toSeq == Seq("ts_year=2025"))
      // a DATE source partitions by days/months/years too
      val dd = spark.sql(
        "SELECT CAST(id AS BIGINT) AS id, date_add(date'2026-03-30', CAST(id AS INT)) AS d FROM range(3)")
      dd.writeTo("graft.lake.dd")
        .partitionedBy(org.apache.spark.sql.functions.days(col("d"))).create()
      assert(spark.sql("SHOW PARTITIONS graft.lake.dd")
        .collect().map(_.getString(0)).sorted.toSeq ==
        Seq("d_day=2026-03-30", "d_day=2026-03-31", "d_day=2026-04-01"))
      // NULL temporal source refused loudly (same contract as identity)
      val e = intercept[Exception] {
        spark.sql("SELECT 1L AS id, CAST(NULL AS TIMESTAMP) AS ts")
          .writeTo("graft.lake.nn")
          .partitionedBy(org.apache.spark.sql.functions.days(col("ts"))).create()
      }
      assert(e.getMessage != null)
    }
  }

  test("days(ts) SPJ: day-partitioned lake tables join on the timestamp with zero shuffles") {
    val lake = TempLakes.dir("graft_cat_dspj")
    withCatalog(lake) {
      spark.sql(
        """CREATE TABLE graft.lake.dsl PARTITIONED BY (days(ts)) AS
           SELECT timestamp'2026-02-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT)) AS ts,
                  CAST(id AS BIGINT) AS a
           FROM range(96)""")
      spark.sql(
        """CREATE TABLE graft.lake.dsr PARTITIONED BY (days(ts)) AS
           SELECT timestamp'2026-02-01 00:00:00' + make_interval(0,0,0,0,2 * CAST(id AS INT)) AS ts,
                  CAST(id AS BIGINT) * 3 AS b
           FROM range(48)""")
      def joined = spark.table("graft.lake.dsl")
        .join(spark.table("graft.lake.dsr"), Seq("ts"))
        .groupBy(col("ts")).agg(sum(col("b")).as("sb"))
      def shuffleCount(df: DataFrame): Int = {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        var n = 0
        def walk(pl: SparkPlan): Unit = {
          pl match {
            case _: ShuffleExchangeLike   => n += 1
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec        => walk(q.plan)
            case _                        =>
          }
          pl.children.foreach(walk)
        }
        df.collect()
        walk(df.queryExecution.executedPlan)
        n
      }
      // hermetic conf: pin BOTH legs (the r10 SPJ-flake lesson); EXPLICIT
      // setting only (the t53 conf-leak lesson — getOption surfaces the
      // registered default and re-setting it leaks SPJ mode)
      val prevB: Option[String] =
        if (org.apache.spark.sql.internal.SQLConf.get.contains(
            "spark.sql.sources.v2.bucketing.enabled"))
          Some(spark.conf.get("spark.sql.sources.v2.bucketing.enabled"))
        else None
      val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        val expected = canon(joined) // baseline: the ordinary shuffled plan
        assert(shuffleCount(joined) > 0, "precondition: the un-keyed join must shuffle")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        val q = joined
        assert(shuffleCount(q) == 0,
          "same-day-partitioned lake tables must join on ts with ZERO " +
            "exchanges:\n" + q.queryExecution.executedPlan.toString.take(1500))
        assert(canon(q) == expected, "the co-located plan must return identical rows")
      } finally {
        prevB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
          v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      }
    }
  }

  test("staged RTAS is atomic: a mid-write failure leaves the original table intact") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_rtas")
    withCatalog(lake) {
      spark.sql("CREATE TABLE graft.lake.rt AS SELECT id AS v FROM range(5)")
      val before = canon(spark.table("graft.lake.rt"))
      assert(before.size == 5)
      // WRITE-TIME failure (assert_true trips at v=3, well into execution):
      // the non-atomic drop-then-create RTAS would already have destroyed
      // the old table; the staged path must leave it untouched
      val e = intercept[Exception](spark.sql(
        """REPLACE TABLE graft.lake.rt AS
           SELECT id AS v, CAST(assert_true(id < 3) AS STRING) AS chk
           FROM range(5)"""))
      assert(e.getMessage != null)
      assert(canon(spark.table("graft.lake.rt")) == before,
        "a failed RTAS must not touch the original table")
      // no staged leftovers beyond the _staged scratch root itself
      val staged = java.nio.file.Paths.get(lake, "_staged")
      assert(!java.nio.file.Files.isDirectory(staged) ||
        java.nio.file.Files.list(staged).count() == 0,
        "aborted staged bytes must be reclaimed")
      // successful RTAS swaps atomically: new rows in, old rows gone
      spark.sql("REPLACE TABLE graft.lake.rt AS SELECT id * 10 AS v FROM range(3)")
      assert(spark.table("graft.lake.rt").as[Long].collect().sorted.toSeq ==
        Seq(0L, 10L, 20L))
      // REPLACE of a missing table still refuses; CREATE OR REPLACE creates
      val e2 = intercept[Exception](
        spark.sql("REPLACE TABLE graft.lake.nope AS SELECT 1L AS v"))
      assert(e2.getMessage.toUpperCase.contains("TABLE"), e2.getMessage)
      spark.sql("CREATE OR REPLACE TABLE graft.lake.rt2 AS SELECT 7L AS v")
      assert(spark.table("graft.lake.rt2").as[Long].head() == 7L)
      spark.sql("CREATE OR REPLACE TABLE graft.lake.rt2 AS SELECT 8L AS v")
      assert(spark.table("graft.lake.rt2").as[Long].head() == 8L)
    }
  }

  test("graft.fns.dsum skips NaN/Infinity exactly like the cast-to-decimal form") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    Seq(1.5, Double.NaN, 2.25, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.75).toDF("x")
      .createOrReplaceTempView("graft_dsum_nf")
    // Num.dsum = CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE): non-finite
    // doubles cast to NULL and SUM skips them — the V2 aggregate must agree
    // (BigDecimal.valueOf(NaN) would throw NumberFormatException instead)
    val got = spark.sql("SELECT graft.fns.dsum(x) AS s FROM graft_dsum_nf")
      .collect()(0).getDouble(0)
    val want = spark.table("graft_dsum_nf")
      .agg(graft.operators.Num.dsum($"x").as("s")).collect()(0).getDouble(0)
    assert(got == want && got == 3.0, s"got $got want $want")
  }

  test("REPLACE crash between the two commit renames: loadTable rolls the old table back") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_crash")
    withCatalog(lake) {
      spark.sql("CREATE TABLE graft.lake.cr AS SELECT id AS v FROM range(4)")
      val before = canon(spark.table("graft.lake.cr"))
      // simulate the crash window commitStagedChanges documents: the old
      // table has been moved aside (.replaced-<uuid>-<name>) but the
      // staged table never made it to dest — no table exists at the path
      val dest = Paths.get(lake, "cr")
      val staged = Paths.get(lake, "_staged")
      Files.createDirectories(staged)
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120_000L) // past the 60 s race gate
      val trash = staged.resolve(".replaced-deadbeef0001-cr")
      Files.move(dest, trash)
      Files.setLastModifiedTime(trash, old)
      assert(!Files.exists(dest))
      // loadTable recovers: the stranded old table rolls back atomically
      assert(canon(spark.table("graft.lake.cr")) == before,
        "crash recovery must restore the pre-replace table")
      assert(Files.isRegularFile(LakeSinkFiles.manifestPath(dest.toString)))
      assert(Files.list(staged).count() == 0, "the trash entry is consumed")
      // recovery is name-scoped EXACTLY: table "c" must not match "cr"'s
      // trash, and a FRESH trash entry (an in-flight commit's transient
      // state) is never touched — only the aged one recovers
      spark.sql("CREATE TABLE graft.lake.other AS SELECT 1L AS v")
      val trash2 = staged.resolve(".replaced-deadbeef0002-other")
      Files.move(Paths.get(lake, "other"), trash2)
      val e = intercept[Exception](spark.table("graft.lake.missing").collect())
      assert(e.getMessage.toUpperCase.contains("TABLE"), e.getMessage)
      val e2 = intercept[Exception](spark.table("graft.lake.oth").collect())
      assert(e2.getMessage.toUpperCase.contains("TABLE"), e2.getMessage)
      assert(Files.exists(trash2),
        "a mismatched or still-fresh trash entry must stay untouched")
      // fresh (inside the race gate): even the RIGHT name does not recover
      val e3 = intercept[Exception](spark.table("graft.lake.other").collect())
      assert(e3.getMessage.toUpperCase.contains("TABLE"), e3.getMessage)
      // aged past the gate: recovery proceeds under its own name
      Files.setLastModifiedTime(trash2, old)
      assert(canon(spark.table("graft.lake.other")) == Seq("[1]"),
        "…and the aged crash recovers under its OWN name")
    }
  }

  test("CHECK constraints: writes enforce, violating append aborts with zero mutation") {
    val lake = TempLakes.dir("graft_cat_cons")
    withCatalog(lake) {
      spark.sql(
        """CREATE TABLE graft.lake.cn
           (id BIGINT, t DOUBLE, CONSTRAINT trange CHECK (t BETWEEN -50 AND 150))
           USING graft""")
      spark.sql("INSERT INTO graft.lake.cn VALUES (1L, 20.0), (2L, 30.0)")
      assert(spark.table("graft.lake.cn").count() == 2)
      val before = dataFilesOf(s"$lake/cn")
      // a violating append fails BEFORE commit: zero table mutation, the
      // staged bytes swept by the ordinary task/job abort machinery
      val e = intercept[Exception](
        spark.sql("INSERT INTO graft.lake.cn VALUES (3L, 999.0), (4L, 40.0)"))
      assert(e.getMessage != null)
      assert(canon(spark.table("graft.lake.cn")).size == 2,
        "a violating append must not land any rows")
      assert(dataFilesOf(s"$lake/cn") == before,
        "a violating append must not touch committed files")
      // NULL passes CHECK (SQL semantics: violation = predicate IS FALSE)
      spark.sql("INSERT INTO graft.lake.cn VALUES (5L, CAST(NULL AS DOUBLE))")
      assert(spark.table("graft.lake.cn").count() == 3)
      // DROP CONSTRAINT lifts enforcement; ADD over violating data refuses
      spark.sql("ALTER TABLE graft.lake.cn DROP CONSTRAINT trange")
      spark.sql("INSERT INTO graft.lake.cn VALUES (6L, 999.0)")
      assert(spark.table("graft.lake.cn").count() == 4)
      val e2 = intercept[Exception](spark.sql(
        "ALTER TABLE graft.lake.cn ADD CONSTRAINT trange CHECK (t BETWEEN -50 AND 150)"))
      assert(e2.getMessage.contains("violate"), e2.getMessage)
      // clean data: ADD validates and subsequent writes enforce again
      spark.sql("DELETE FROM graft.lake.cn WHERE t > 150")
      spark.sql(
        "ALTER TABLE graft.lake.cn ADD CONSTRAINT trange CHECK (t BETWEEN -50 AND 150)")
      val e3 = intercept[Exception](
        spark.sql("INSERT INTO graft.lake.cn VALUES (7L, -999.0)"))
      assert(e3.getMessage != null)
      assert(spark.table("graft.lake.cn").count() == 3)
      // a column referenced by a CHECK cannot be renamed or dropped
      val e4 = intercept[Exception](
        spark.sql("ALTER TABLE graft.lake.cn RENAME COLUMN t TO temp"))
      assert(e4.getMessage.contains("CHECK constraint"), e4.getMessage)
    }
  }

  test("TBLPROPERTIES: stored, shown, evolved; graft.* become default write options") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val lake = TempLakes.dir("graft_cat_props")
    withCatalog(lake) {
      spark.sql("""CREATE TABLE graft.lake.tp (id BIGINT, v STRING)
                   TBLPROPERTIES ('team'='ml', 'graft.ndvColumns'='id',
                                  'graft.bloomFilterColumns'='v',
                                  'graft.bloomFilterBits'='8192')""")
      val shown = spark.sql("SHOW TBLPROPERTIES graft.lake.tp").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.get("team").contains("ml") &&
        shown.get("graft.ndvColumns").contains("id"), shown.toString)
      assert(!shown.contains("owner") && !shown.contains("provider"),
        s"engine keys must not round-trip: $shown")
      // a PLAIN insert (no write options) inherits the graft.* defaults:
      // every written file's stats entry carries ndv registers for id and
      // a bloom for v
      spark.sql("INSERT INTO graft.lake.tp SELECT id, CAST(id AS STRING) FROM range(1000)")
      val sch = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
      val blobs = graft.sources.LakeSinkStats.readBlobs(s"$lake/tp")
      assert(blobs.nonEmpty)
      blobs.values.foreach { b =>
        val cs = graft.sources.LakeSinkStats.decode(b, sch)
        assert(cs("id").ndv.isDefined, "graft.ndvColumns default not applied")
        assert(cs("v").bloom.isDefined, "graft.bloomFilterColumns default not applied")
        assert(cs("v").bloom.get.length * 8 == 8192, "graft.bloomFilterBits ignored")
      }
      // explicit write options OVERRIDE the table defaults — asserted on
      // the written file, not just attempted (the review's HashMap-order
      // finding: an unasserted override test stays green while the
      // property wins)
      import spark.implicits._
      Seq((5000L, "x5000")).toDF("id", "v")
        .write.format("graft.sources.LakeSink").mode("append")
        .option("bloomFilterColumns", "v").option("bloomFilterBits", "4096")
        .save(s"$lake/tp")
      val afterOverride = graft.sources.LakeSinkStats.readBlobs(s"$lake/tp")
      val overridden = (afterOverride.keySet -- blobs.keySet).toSeq
      assert(overridden.size >= 1)
      overridden.foreach { rel =>
        val cs = graft.sources.LakeSinkStats.decode(afterOverride(rel), sch)
        assert(cs("v").bloom.get.length * 8 == 4096,
          s"explicit bloomFilterBits must beat the table property: $rel")
      }
      // a SUBSET append (id only) must still succeed: the inherited
      // column lists intersect with the write schema instead of failing
      spark.range(9000, 9010).toDF("id")
        .write.format("graft.sources.LakeSink").mode("append").save(s"$lake/tp")
      val afterSubset = graft.sources.LakeSinkStats.readBlobs(s"$lake/tp")
      val subsetRels = (afterSubset.keySet -- afterOverride.keySet).toSeq
      assert(subsetRels.size >= 1)
      subsetRels.foreach { rel =>
        val cs = graft.sources.LakeSinkStats.decode(afterSubset(rel), sch)
        assert(cs("id").ndv.isDefined, "present columns still track registers")
      }
      // hidden-transform SOURCE columns are legal in graft.* properties
      // (they are data columns; only identity partition columns refuse)
      spark.sql("""CREATE TABLE graft.lake.tts (id BIGINT, ts TIMESTAMP)
                   PARTITIONED BY (days(ts))
                   TBLPROPERTIES ('graft.sortBy'='ts', 'graft.ndvColumns'='ts')""")
      // SET/UNSET evolve the set; the schema survives
      spark.sql("ALTER TABLE graft.lake.tp SET TBLPROPERTIES ('team'='search', 'x'='1')")
      spark.sql("ALTER TABLE graft.lake.tp UNSET TBLPROPERTIES ('x')")
      val shown2 = spark.sql("SHOW TBLPROPERTIES graft.lake.tp").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown2.get("team").contains("search") && !shown2.contains("x"))
      // a typo'd graft.* property refuses at DDL time, not at every write
      val e1 = intercept[Exception] {
        spark.sql("ALTER TABLE graft.lake.tp SET TBLPROPERTIES ('graft.ndvColumns'='nope')")
      }
      assert(e1.getMessage.contains("nope"), e1.getMessage)
      // renaming a column a graft.* property references refuses (the
      // dangling-reference lesson)
      val e2 = intercept[Exception] {
        spark.sql("ALTER TABLE graft.lake.tp RENAME COLUMN id TO id2")
      }
      assert(e2.getMessage.contains("references column id"), e2.getMessage)
      // properties travel with clones and survive manifest rewrites
      spark.sql("CALL graft.system.clone('tp', 'tp2')")
      val cloned = spark.sql("SHOW TBLPROPERTIES graft.lake.tp2").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cloned.get("team").contains("search"), cloned.toString)
      // CASE-VARIANT column lists canonicalize to the schema's case at
      // DDL time AND the configured effect lands: a plain insert tracks
      // the register (ADVICE r14 — validation was case-insensitive but
      // the write-time intersection exact-match, so 'ID' vs 'id' passed
      // CREATE yet silently never tracked)
      spark.sql("""CREATE TABLE graft.lake.tcase (id BIGINT, v STRING)
                   TBLPROPERTIES ('graft.ndvColumns'='ID',
                                  'graft.sortBy'='  V ')""")
      val caseShown = spark.sql("SHOW TBLPROPERTIES graft.lake.tcase").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(caseShown.get("graft.ndvColumns").contains("id") &&
        caseShown.get("graft.sortBy").contains("v"),
        s"column lists must store the schema's canonical case: $caseShown")
      spark.sql("INSERT INTO graft.lake.tcase SELECT id, CAST(id AS STRING) FROM range(100)")
      val caseBlobs = graft.sources.LakeSinkStats.readBlobs(s"$lake/tcase")
      assert(caseBlobs.nonEmpty)
      caseBlobs.values.foreach { b =>
        val cs = graft.sources.LakeSinkStats.decode(b, sch)
        assert(cs("id").ndv.isDefined,
          "case-variant graft.ndvColumns must still track registers")
      }
      // control characters in keys/values refuse at DDL (they would
      // corrupt the manifest pair codec's split with no signal)
      val e5 = intercept[Exception] {
        spark.sql("ALTER TABLE graft.lake.tp SET TBLPROPERTIES ('bad'='a\u0001b')")
      }
      assert(e5.getMessage.contains("control character"), e5.getMessage)
      // COMMENT is explicit user DDL: it STORES (review r14 — the
      // engine-key filter used to silently drop it)…
      spark.sql("COMMENT ON TABLE graft.lake.tp IS 'telemetry rollups'")
      // SHOW TBLPROPERTIES hides engine-RESERVED keys (comment among
      // them) — assert the STORED manifest and the DESCRIBE surface
      assert(graft.sources.LakeManifest.read(s"$lake/tp").get.props
        .toMap.get("comment").contains("telemetry rollups"),
        "COMMENT ON TABLE must store in the manifest")
      val descC = spark.sql("DESCRIBE EXTENDED graft.lake.tp").collect()
        .map(_.toString).mkString("\n")
      assert(descC.contains("telemetry rollups"),
        s"DESCRIBE must surface the comment:\n$descC")
      // …while genuinely engine-reserved keys refuse LOUDLY at ALTER —
      // 'owner' by Spark's own parser (reserved property), 'option.*' by
      // the catalog guard (never the silent drop)
      intercept[org.apache.spark.sql.catalyst.parser.ParseException](
        spark.sql("ALTER TABLE graft.lake.tp SET TBLPROPERTIES ('owner'='x')"))
      val eOpt = intercept[Exception](spark.sql(
        "ALTER TABLE graft.lake.tp SET TBLPROPERTIES ('option.x'='1')"))
      assert(eOpt.getMessage.contains("engine-reserved"), eOpt.getMessage)
    }
  }

  test("CALL graft.system.*: the whole maintenance cycle from pure SQL") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_cat_proc")
    withCatalog(lake) {
      // small-file spray across two partitions
      (0 until 40).map(i => (i.toLong, i % 2, s"v$i")).toDF("id", "p", "v")
        .repartition(4)
        .write.format("graft.sources.LakeSink").mode("append")
        .option("distributionMode", "none").option("partitionCols", "p")
        .save(s"$lake/pt")
      val before = spark.table("graft.lake.pt").collect().map(_.toString).sorted.toSeq
      def files(p: Int): Set[String] = {
        val d = Paths.get(s"$lake/pt/p=$p")
        val it = Files.list(d).iterator()
        var out = Set.empty[String]
        while (it.hasNext) {
          val f = it.next().getFileName.toString
          if (f.endsWith(".json.gz")) out += f
        }
        out
      }
      val p0Before = files(0)
      assert(files(1).size > 1, "precondition: small-file spray")
      // scoped COMPACT via CALL, result row counts surfaced
      val c = spark.sql("CALL graft.system.compact('pt', scope => 'p=1')").collect()
      assert(c.length == 1 && c(0).getInt(0) == 1 && c(0).getInt(2) == 1,
        c.mkString(";"))
      assert(files(1).size == 1 && files(0) == p0Before)
      assert(spark.table("graft.lake.pt").collect().map(_.toString).sorted.toSeq == before)
      // CLONE via CALL → independent readable branch
      val cl = spark.sql("CALL graft.system.clone('pt', 'ptbr')").collect()
      assert(cl(0).getInt(0) >= 2)
      assert(spark.table("graft.lake.ptbr").collect().map(_.toString).sorted.toSeq == before)
      // DML then RESTORE via CALL → v-before-DML state back
      val vBefore = graft.sources.LakeSinkFiles.listVersions(s"$lake/pt").last
      spark.sql("DELETE FROM graft.lake.pt WHERE id < 20")
      assert(spark.table("graft.lake.pt").count() == 20L)
      spark.sql(s"CALL graft.system.restore('pt', $vBefore)")
      assert(spark.table("graft.lake.pt").collect().map(_.toString).sorted.toSeq == before)
      // VACUUM via CALL (keep full history = default wipe): counts surface
      val v = spark.sql("CALL graft.system.vacuum('pt')").collect()
      assert(v(0).getInt(0) >= 0 && v(0).getInt(1) >= 1, v.mkString(";"))
      // ZORDER via CALL on an unpartitioned grid
      (0 until 256).map(i => (i.toLong, (i / 16).toLong, (i % 16).toLong))
        .toDF("id", "x", "y").repartitionByRange(4, col("id"))
        .writeTo("graft.lake.zg").create()
      val z = spark.sql("CALL graft.system.zorder('zg', 'x,y', n_files => 4)").collect()
      assert(z(0).getInt(0) == 4 && z(0).getInt(1) == 4, z.mkString(";"))
      assert(spark.table("graft.lake.zg").count() == 256L)
      // SCOPED zorder via CALL: exactly the matching partition's files
      // rewrite (result counts pinned), the other partition's files are
      // byte-identical, rows unchanged
      val before2 = spark.table("graft.lake.pt").collect()
        .map(_.toString).sorted.toSeq
      val p0Files = files(0)
      val zs = spark.sql(
        "CALL graft.system.zorder('pt', 'id', n_files => 2, scope => 'p=1')")
        .collect()
      assert(zs.length == 1 && zs(0).getInt(0) == 1 && zs(0).getInt(1) == 2,
        s"scoped zorder counts must be (1 -> 2): ${zs.mkString(";")}")
      assert(files(0) == p0Files, "unscoped partition must not be touched")
      assert(files(1).size == 2)
      assert(spark.table("graft.lake.pt").collect()
        .map(_.toString).sorted.toSeq == before2,
        "a scoped rewrite must not move a single value")
      // the procedure namespace is discoverable and described
      val shown = spark.sql("SHOW PROCEDURES IN graft.`system`").collect()
        .map(_.toString).mkString(";")
      Seq("compact", "vacuum", "zorder", "clone", "restore",
        "evolve_partition_spec", "analyze").foreach(p =>
        assert(shown.contains(p), s"$p missing from SHOW PROCEDURES: $shown"))
      // unknown procedure + missing table refuse loudly
      val e1 = intercept[Exception] {
        spark.sql("CALL graft.system.defragment('pt')").collect()
      }
      assert(e1.getMessage.contains("defragment"), e1.getMessage)
      val e2 = intercept[Exception] {
        spark.sql("CALL graft.system.compact('nope')").collect()
      }
      assert(e2.getMessage.contains("no lake table"), e2.getMessage)
      // a SQL-only caller cannot escape the lake root ('../…' would
      // compact/vacuum/restore any manifest-bearing dir on the machine)
      val e3 = intercept[Exception] {
        spark.sql("CALL graft.system.compact('../graft_cat_proc/pt')").collect()
      }
      assert(e3.getMessage.contains("plain lake table name"), e3.getMessage)
      val e4 = intercept[Exception] {
        spark.sql("CALL graft.system.vacuum('.hidden')").collect()
      }
      assert(e4.getMessage.contains("plain lake table name"), e4.getMessage)
      // explicit NULL arguments refuse with the parameter's NAME, not an
      // NPE (sentinel-typed optionals would otherwise read an undefined
      // primitive slot)
      val e5 = intercept[Exception] {
        spark.sql("CALL graft.system.compact(NULL)").collect()
      }
      assert(e5.getMessage.contains("'table' must not be NULL"), e5.getMessage)
      val e6 = intercept[Exception] {
        spark.sql("CALL graft.system.compact('pt', scope => NULL)").collect()
      }
      assert(e6.getMessage.contains("'scope' must not be NULL"), e6.getMessage)
      val e7 = intercept[Exception] {
        spark.sql("CALL graft.system.vacuum('pt', keep_last => NULL)").collect()
      }
      assert(e7.getMessage.contains("'keep_last' must not be NULL"), e7.getMessage)
    }
  }

  test("parquet namespaces reject CREATE TABLE (read-only testdata)") {
    withCatalog() {
      val e = intercept[Exception](
        spark.sql("CREATE TABLE graft.sf.x AS SELECT 1L AS v"))
      assert(e.getMessage.contains("read-only"), e.getMessage)
    }
  }

  test("SHOW CREATE TABLE / DESCRIBE EXTENDED round-trip the full DDL surface") {
    val lake = TempLakes.dir("graft_cat_sct")
    withCatalog(lake) {
      spark.sql("""CREATE TABLE graft.lake.sct
                   (id BIGINT, ts TIMESTAMP, v DOUBLE DEFAULT 1.5)
                   PARTITIONED BY (days(ts))
                   TBLPROPERTIES ('team'='ml', 'graft.ndvColumns'='id')""")
      // SHOW CREATE TABLE emits replayable DDL carrying the DEFAULT, the
      // hidden temporal transform, and the stored properties — the
      // V2 columns()/properties() surface end to end
      val ddl = spark.sql("SHOW CREATE TABLE graft.lake.sct")
        .collect()(0).getString(0)
      Seq("v DOUBLE DEFAULT 1.5", "PARTITIONED BY (days(ts))",
        "'team' = 'ml'", "'graft.ndvColumns' = 'id'").foreach(f =>
        assert(ddl.contains(f), s"SHOW CREATE TABLE missing '$f':\n$ddl"))
      // and the DDL actually REPLAYS into an equivalent table
      spark.sql(ddl.replace("graft.lake.sct", "graft.lake.sct2"))
      spark.sql("INSERT INTO graft.lake.sct2 (id, ts) " +
        "VALUES (1, timestamp'2024-01-01 00:00:00')")
      val row = spark.table("graft.lake.sct2").collect()(0)
      assert(row.getDouble(2) == 1.5, "replayed DDL must keep the default")
      // DESCRIBE EXTENDED surfaces partitioning, metadata columns,
      // properties, and the default-value section
      val desc = spark.sql("DESCRIBE EXTENDED graft.lake.sct").collect()
        .map(_.toString).mkString("\n")
      Seq("days(ts)", "_file", "_pos", "graft.ndvColumns=id",
        "# Column Default Values").foreach(f =>
        assert(desc.contains(f), s"DESCRIBE missing '$f':\n$desc"))
    }
  }
}
