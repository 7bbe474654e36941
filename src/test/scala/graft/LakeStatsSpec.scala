package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TempLakes
import graft.sources.{GraftCatalog, LakeMaintenance, LakeSinkFiles, LakeSinkStats}

/** Per-file column [lo, hi] statistics ([[graft.sources.LakeSinkStats]]):
  * commit-time collection, stats-based FILE SKIPPING under residual data
  * filters, MIN/MAX aggregate pushdown, ledger maintenance across DML and
  * compaction, and the Z-ORDER rewrite that makes multi-dimensional box
  * filters selective.
  */
class LakeStatsSpec extends GraftSpec {

  private def withLake[T](body: String => T): T = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val lake = TempLakes.dir("graft_stat_lake")
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    body(lake)
  }

  /** Executed-plan text AFTER an action ran (skippedFiles is recorded at
    * planning, which collect() forces). */
  private def ranPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def skippedOf(plan: String): Int = {
    val m = "skippedFiles=(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no skippedFiles marker in:\n${plan.take(900)}")
    m.get.group(1).toInt
  }

  private def assertAggPushed(df: DataFrame): Unit = {
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft-lake-agg"), s"aggregate not from metadata:\n${p.take(900)}")
    assert(!p.contains("HashAggregate"), s"residual aggregation in:\n${p.take(900)}")
  }

  test("data filters skip files whose [lo, hi] provably cannot match") {
    withLake { _ =>
      import spark.implicits._
      // 4 range-clustered files: ids [0,25) [25,50) [50,75) [75,100)
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id"))
        .writeTo("graft.lake.sk").create()
      val q = spark.table("graft.lake.sk").filter(col("id") < 25)
      val plan = ranPlan(q)
      assert(skippedOf(plan) == 3, s"expected 3 of 4 files skipped:\n$plan")
      assert(q.collect().map(_.getLong(0)).sorted.toSeq == (0L until 25L))
      // equality hits exactly one file
      val eq = spark.table("graft.lake.sk").filter(col("id") === 60)
      assert(skippedOf(ranPlan(eq)) == 3)
      assert(eq.collect().map(_.getString(1)).toSeq == Seq("v60"))
      // a filter no file can satisfy skips everything, returns empty
      val none = spark.table("graft.lake.sk").filter(col("id") > 1000)
      assert(skippedOf(ranPlan(none)) == 4)
      assert(none.count() == 0)
      // string bounds prune too (binary UTF8 order, same as Spark's)
      val sv = spark.table("graft.lake.sk").filter(col("v") === "v60")
      val svRows = sv.collect()
      assert(svRows.map(_.getLong(0)).toSeq == Seq(60L))
      assert(skippedOf(sv.queryExecution.executedPlan.toString) >= 1,
        "string stats must prune at least the non-covering files")
      // disjunctions: only files outside BOTH branches skip
      val or = spark.table("graft.lake.sk")
        .filter(col("id") < 10 || col("id") >= 90)
      assert(skippedOf(ranPlan(or)) == 2)
      assert(or.count() == 20)
    }
  }

  test("bloom filters: a needle lookup on an UNCLUSTERED id opens one file of N") {
    withLake { _ =>
      import spark.implicits._
      // ids interleaved mod 4 across 4 files: every file's [lo, hi]
      // straddles every needle, so bounds alone can never skip — the
      // exact case the per-file Bloom exists for
      val df = (0 until 200).map(i => (i.toLong, i % 4, s"name-$i"))
        .toDF("id", "g", "nm")
        .repartitionByRange(4, col("g"))
      df.write.format("graft.sources.LakeSink").mode("append")
        .option("bloomFilterColumns", "id,nm")
        .option("bloomFilterBits", "8192")
        .save(spark.conf.get("spark.sql.catalog.graft.lake") + "/bl")
      def needleOn(table: String)(c: org.apache.spark.sql.Column) = {
        val q = spark.table(table).filter(c)
        val plan = ranPlan(q)
        (skippedOf(plan), q.count())
      }
      def needle(c: org.apache.spark.sql.Column) = needleOn("graft.lake.bl")(c)
      // long needle: 57 % 4 == 1 — exactly one of four files holds it
      assert(needle(col("id") === 57L) == ((3, 1L)),
        "3 of 4 files must skip via the id bloom")
      // string needle rides the same entry machinery
      assert(needle(col("nm") === "name-122") == ((3, 1L)))
      // IN lookups skip files containing none of the listed values
      assert(needle(col("id").isin(57L, 61L)) == ((3, 2L)),
        "57 and 61 are both ≡ 1 (mod 4): same single file")
      // CONTROL: the same layout without the option never skips — the
      // straddling [lo, hi] bounds alone cannot serve the needle
      df.write.format("graft.sources.LakeSink").mode("append")
        .save(spark.conf.get("spark.sql.catalog.graft.lake") + "/nb")
      assert(needleOn("graft.lake.nb")(col("id") === 57L) == ((0, 1L)),
        "without blooms every straddling file must open")
      // compaction preserves coverage: materialize (vectored) rebuild
      spark.sql("DELETE FROM graft.lake.bl WHERE id = 3") // mor vector
      graft.sources.LakeMaintenance.compact(spark,
        spark.conf.get("spark.sql.catalog.graft.lake") + "/bl")
      val (sk, n) = needle(col("id") === 57L)
      assert(n == 1L && sk == 0,
        s"post-compaction (all files folded to one) the needle still reads; got skipped=$sk")
      // two-file layout via a fresh bloom'd write on top: union/rebuild
      // keeps skipping selective
      Seq((1000L, 9, "name-1000")).toDF("id", "g", "nm")
        .write.format("graft.sources.LakeSink").mode("append")
        .option("bloomFilterColumns", "id,nm")
        .option("bloomFilterBits", "8192")
        .save(spark.conf.get("spark.sql.catalog.graft.lake") + "/bl")
      val (sk2, n2) = needle(col("id") === 1000L)
      assert(n2 == 1L && sk2 == 1, s"the compacted file must skip: $sk2")
    }
  }

  test("STREAMING writes carry bloom filters too; streaming mergeSchema evolves") {
    withLake { _ =>
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val lake = spark.conf.get("spark.sql.catalog.graft.lake")
      val in = MemoryStream[Long]
      in.addData(0L until 200L: _*)
      val q = in.toDF().select($"value".as("id"), ($"value" % 4).as("g"))
        .repartition(4, col("g"))
        .writeStream.format("graft.sources.LakeSink")
        .option("path", s"$lake/sbl")
        .option("checkpointLocation", TempLakes.dir("graft_sbl_ckpt"))
        .option("bloomFilterColumns", "id")
        .option("bloomFilterBits", "8192")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val needle = spark.table("graft.lake.sbl").filter(col("id") === 57L)
      val plan = ranPlan(needle)
      assert(skippedOf(plan) >= 1,
        s"streaming-written files must carry consultable blooms:\n${plan.take(600)}")
      assert(needle.count() == 1)
      // mergeSchema on a stream: a wider query EVOLVES the manifest at
      // its first committed epoch (the r12 refusal lifted in r13); the
      // pre-evolution files null-fill on read
      val in2 = MemoryStream[Long]
      in2.addData(1000L)
      val q2 = in2.toDF().select($"value".as("id"), ($"value" % 4).as("g"),
          ($"value" * 2).as("w"))
        .writeStream.format("graft.sources.LakeSink")
        .option("path", s"$lake/sbl")
        .option("checkpointLocation", TempLakes.dir("graft_sbl_ckpt2"))
        .option("mergeSchema", "true")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
      val evolved = spark.read.format("graft.sources.LakeSink").load(s"$lake/sbl")
      assert(evolved.columns.toSeq == Seq("id", "g", "w"))
      assert(evolved.filter(col("id") === 1000L).select("w")
        .collect().map(_.getLong(0)).toSeq == Seq(2000L))
      assert(evolved.filter(col("id") < 200L && col("w").isNotNull).count() == 0L,
        "pre-evolution rows must null-fill the added column")
    }
  }

  test("NDV ledger: distinct estimates within 10%, CBO broadcast flip, compaction fold") {
    withLake { lake =>
      import spark.implicits._
      // 20k rows over 8 range-clustered files; true distincts: k=4000,
      // u=800, d=20000 (ndvColumns opts all three in — long, string,
      // double); a twin table WITHOUT the option is the control leg
      val rows = (0 until 20000).map(i => (i.toLong % 4000, s"u${i % 800}", i * 0.5))
      val df = rows.toDF("k", "u", "d").repartitionByRange(8, col("k"))
      df.write.format("graft.sources.LakeSink").mode("append")
        .option("ndvColumns", "k,u,d").save(s"$lake/nf")
      df.write.format("graft.sources.LakeSink").mode("append")
        .save(s"$lake/nc") // control: no registers
      val cboKeys = Seq("spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "32768")
      val prev = cboKeys.map { case (k, _) =>
        k -> (if (org.apache.spark.sql.internal.SQLConf.get.contains(k))
          Some(spark.conf.get(k)) else None)
      }
      try {
        cboKeys.foreach { case (k, v) => spark.conf.set(k, v) }
        // the optimizer's attributeStats carry the folded estimates
        val stats = spark.table("graft.lake.nf")
          .queryExecution.optimizedPlan.stats.attributeStats
        def ndvOf(name: String): Long = {
          val e = stats.find(_._1.name == name)
          assert(e.isDefined, s"no column stats for $name: $stats")
          e.get._2.distinctCount.get.toLong
        }
        def within10(est: Long, truth: Long): Unit =
          assert(math.abs(est - truth).toDouble / truth <= 0.10,
            s"estimate $est vs truth $truth off by >10%")
        within10(ndvOf("k"), 4000L)
        within10(ndvOf("u"), 800L)
        within10(ndvOf("d"), 20000L)
        // nullCount/min/max ride along (exact, from the bounds ledger)
        val kStat = stats.find(_._1.name == "k").get._2
        assert(kStat.nullCount.contains(BigInt(0)))
        assert(kStat.min.contains(0L) && kStat.max.contains(3999L))
        // BROADCAST FLIP: an equality-filtered build side estimates
        // 20000/800 = 25 rows through the ndv → under the 32 KiB
        // threshold → BroadcastHashJoin; the control table (no
        // registers) keeps its full scan size → SortMergeJoin. Both
        // legs pinned hermetically (the SPJ conf lesson).
        def joinPlan(t: String): String = {
          val big = spark.table("graft.lake.nf")
          val dim = spark.table(t).filter(col("u") === "u5")
            .groupBy(col("k")).agg(max(col("d")).as("md"))
          big.join(dim, "k").queryExecution.executedPlan.toString
        }
        val withNdv = joinPlan("graft.lake.nf")
        assert(withNdv.contains("BroadcastHashJoin"),
          s"ndv estimate must flip the filtered side to broadcast:\n${withNdv.take(1200)}")
        val control = joinPlan("graft.lake.nc")
        assert(!control.contains("BroadcastHashJoin") &&
          control.contains("SortMergeJoin"),
          s"without registers the same join must stay sort-merge:\n${control.take(1200)}")
        // compaction folds registers (elementwise max — exact): the
        // merged single file still estimates within 10%
        LakeMaintenance.compact(spark, s"$lake/nf")
        val after = spark.table("graft.lake.nf")
          .queryExecution.optimizedPlan.stats.attributeStats
        val kAfter = after.find(_._1.name == "k").get._2.distinctCount.get.toLong
        within10(kAfter, 4000L)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("histogram ledger: skewed selectivity within 2x, hot-key broadcast guard, fold") {
    withLake { lake =>
      import spark.implicits._
      // 20k rows: 90% hot key 7, the rest uniform over 100..149 — true
      // count(v=7) = 18000; NDV alone estimates 20000/51 ≈ 392 (46x off)
      val rows = (0 until 20000).map(i =>
        (i.toLong, if (i % 10 != 0) 7L else 100L + (i / 10) % 50))
      val df = rows.toDF("id", "v").repartitionByRange(4, col("id"))
      df.write.format("graft.sources.LakeSink").mode("append")
        .option("ndvColumns", "v").option("histogramColumns", "v")
        .save(s"$lake/hf")
      df.write.format("graft.sources.LakeSink").mode("append")
        .option("ndvColumns", "v").save(s"$lake/hc") // control: NDV only
      val cboKeys = Seq("spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "32768")
      val prev = cboKeys.map { case (k, _) =>
        k -> (if (org.apache.spark.sql.internal.SQLConf.get.contains(k))
          Some(spark.conf.get(k)) else None)
      }
      try {
        cboKeys.foreach { case (k, v) => spark.conf.set(k, v) }
        // the histogram reaches the optimizer's attributeStats
        val hstats = spark.table("graft.lake.hf")
          .queryExecution.optimizedPlan.stats.attributeStats
        assert(hstats.find(_._1.name == "v").exists(_._2.histogram.isDefined),
          s"histogram must surface in column stats: $hstats")
        def est(t: String, p: org.apache.spark.sql.Column): BigInt =
          spark.table(t).filter(p).queryExecution.optimizedPlan
            .stats.rowCount.getOrElse(BigInt(-1))
        // HOT-KEY equality: histogram within 2x of truth; NDV-only leg
        // estimates uniformly and lands >10x under
        val hHot = est("graft.lake.hf", col("v") === 7L)
        val cHot = est("graft.lake.hc", col("v") === 7L)
        assert(hHot >= 9000 && hHot <= 36000,
          s"histogram hot-key estimate $hHot vs truth 18000 (>2x off)")
        assert(cHot >= 0 && cHot < 1800,
          s"control must underestimate the hot key by >10x, got $cHot")
        // RANGE predicate: the cold region holds 2000 rows
        val hRange = est("graft.lake.hf", col("v") >= 100L)
        assert(hRange >= 1000 && hRange <= 4000,
          s"histogram range estimate $hRange vs truth 2000 (>2x off)")
        // HOT-KEY BROADCAST GUARD: joining the fact to its own hot-key
        // slice — the NDV-only leg underestimates the slice and WRONGLY
        // broadcasts 18000 rows; the histogram leg sizes it honestly and
        // keeps the sort-merge join. Both legs hermetically pinned.
        def joinPlan(t: String): String = {
          val fact = spark.table(t)
          val hot = spark.table(t).filter(col("v") === 7L)
            .withColumnRenamed("v", "v2")
          fact.join(hot, "id").queryExecution.executedPlan.toString
        }
        val guarded = joinPlan("graft.lake.hf")
        assert(!guarded.contains("BroadcastHashJoin"),
          s"histogram must keep the hot slice off the broadcast path:\n${guarded.take(1200)}")
        val misled = joinPlan("graft.lake.hc")
        assert(misled.contains("BroadcastHashJoin"),
          s"precondition: the NDV-only control should broadcast the " +
            s"underestimated slice:\n${misled.take(1200)}")
        // COMPACTION folds histograms (exact aligned-grid sum): the merged
        // file still estimates the hot key within 2x
        LakeMaintenance.compact(spark, s"$lake/hf")
        val hAfter = est("graft.lake.hf", col("v") === 7L)
        assert(hAfter >= 9000 && hAfter <= 36000,
          s"post-compaction hot-key estimate $hAfter (fold broke the histogram)")
        // a write declaring a histogram on a STRING column refuses loudly
        val e = intercept[Exception](Seq(("a", 1L)).toDF("s", "v")
          .write.format("graft.sources.LakeSink").mode("append")
          .option("histogramColumns", "s").save(s"$lake/hbad"))
        assert(e.getMessage.contains("numeric axis"), e.getMessage)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("min/max answer from per-file stats: pushed, typed, DML-safe") {
    withLake { _ =>
      import spark.implicits._
      (0 until 100).map(i => (i.toLong, i * 0.5, s"s${100 - i}")).toDF("id", "d", "s")
        .repartitionByRange(4, col("id"))
        .writeTo("graft.lake.mm").create()
      val agg = spark.table("graft.lake.mm").agg(
        min(col("id")).as("mn"), max(col("id")).as("mx"),
        min(col("d")).as("dmn"), max(col("d")).as("dmx"),
        max(col("s")).as("smx"), count(lit(1)).as("n"))
      assertAggPushed(agg)
      assert(agg.collect()(0).toSeq == Seq(0L, 99L, 0.0, 49.5, "s99", 100L))
      // a row-level DELETE is merge-on-read (r10): the file keeps its
      // recorded bounds but carries a delete VECTOR, so min/max must
      // FALL BACK to scanning (a pushed answer could name a deleted row)
      // — values stay exact either way
      spark.sql("DELETE FROM graft.lake.mm WHERE id >= 90")
      val agg2 = spark.table("graft.lake.mm").agg(
        min(col("id")).as("mn"), max(col("id")).as("mx"))
      assert(!agg2.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
        "min/max over a vectored file must not answer from stale bounds")
      assert(agg2.collect()(0).toSeq == Seq(0L, 89L))
      // compaction MATERIALIZES the vector: fresh stats, pushdown returns
      LakeMaintenance.compact(spark, s"${spark.conf.get("spark.sql.catalog.graft.lake")}/mm")
      val agg3 = spark.table("graft.lake.mm").agg(
        min(col("id")).as("mn"), max(col("id")).as("mx"))
      assertAggPushed(agg3)
      assert(agg3.collect()(0).toSeq == Seq(0L, 89L))
      // data filter present -> not answerable from metadata, still correct
      val mixed = spark.table("graft.lake.mm").filter(col("id") < 50)
        .agg(max(col("id")).as("mx"))
      assert(!mixed.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(mixed.collect()(0).getLong(0) == 49L)
    }
  }

  test("all-null columns record empty intervals: IsNotNull skips, min is a pushed NULL") {
    withLake { _ =>
      import spark.implicits._
      (0 until 20).map(i => (i.toLong, Option.empty[String])).toDF("id", "s")
        .repartitionByRange(2, col("id"))
        .writeTo("graft.lake.nl").create()
      val nn = spark.table("graft.lake.nl").filter(col("s").isNotNull)
      assert(skippedOf(ranPlan(nn)) == 2, "IsNotNull over all-null files must skip them all")
      assert(nn.count() == 0)
      val mn = spark.table("graft.lake.nl").agg(min(col("s")).as("mn"))
      assertAggPushed(mn)
      assert(mn.collect()(0).isNullAt(0))
    }
  }

  test("null counts: count(col) pushes completely; IS NULL skips zero-null files") {
    withLake { lake =>
      import spark.implicits._
      // 4 range-clustered files over id [0,100); nulls only in [0,25)
      (0 until 100).map(i =>
        (i.toLong, if (i < 25 && i % 5 == 0) null else s"v$i")).toDF("id", "s")
        .repartitionByRange(4, col("id"))
        .writeTo("graft.lake.nc").create()
      // count(DATA col) = Σ per file (rows − nulls), zero files opened
      val c = spark.table("graft.lake.nc").agg(count(col("s")).as("n"))
      assertAggPushed(c)
      assert(c.collect()(0).getLong(0) == 95L)
      // IS NULL opens only the one file that recorded nulls > 0
      val nulls = spark.table("graft.lake.nc").filter(col("s").isNull)
      val plan = ranPlan(nulls)
      assert(skippedOf(plan) == 3, s"expected 3 zero-null files skipped:\n$plan")
      assert(nulls.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(0L, 5L, 10L, 15L, 20L))
      // composes with the partition rollup machinery: per-group count(col)
      // still sums (rows − nulls) — and a deleted ledger degrades to a
      // full scan with identical answers, never a guess
      LakeRecords.stripFacts(s"$lake/nc", "stats")
      val c2 = spark.table("graft.lake.nc").agg(count(col("s")).as("n"))
      assert(!c2.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
        "no stats ledger -> count(col) must fall back to scanning")
      assert(c2.collect()(0).getLong(0) == 95L)
      val n2 = spark.table("graft.lake.nc").filter(col("s").isNull)
      assert(skippedOf(ranPlan(n2)) == 0)
      assert(n2.count() == 5L)
    }
  }

  test("deleting the stats ledger disables skipping and min/max, never correctness") {
    withLake { lake =>
      import spark.implicits._
      (0 until 40).map(i => (i.toLong, i.toString)).toDF("id", "v")
        .repartitionByRange(4, col("id"))
        .writeTo("graft.lake.fb").create()
      LakeRecords.stripFacts(s"$lake/fb", "stats")
      val q = spark.table("graft.lake.fb").filter(col("id") < 10)
      assert(skippedOf(ranPlan(q)) == 0, "no stats -> nothing skipped")
      assert(q.count() == 10)
      val mm = spark.table("graft.lake.fb").agg(min(col("id")).as("mn"))
      assert(!mm.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(mm.collect()(0).getLong(0) == 0L)
    }
  }

  test("compaction folds originals' intervals: skipping and min/max survive the merge") {
    withLake { lake =>
      import spark.implicits._
      val df = (0 until 120).map(i => (i.toLong, i % 3, s"w$i")).toDF("id", "p", "v")
      df.repartitionByRange(4, col("id")).writeTo("graft.lake.cm")
        .partitionedBy(col("p")).create()
      df.withColumn("id", col("id") + 1000)
        .repartitionByRange(4, col("id")).writeTo("graft.lake.cm").append()
      LakeMaintenance.compact(spark, s"$lake/cm")
      val mm = spark.table("graft.lake.cm").agg(
        min(col("id")).as("mn"), max(col("id")).as("mx"))
      assertAggPushed(mm)
      assert(mm.collect()(0).toSeq == Seq(0L, 1119L))
      // post-compaction: one file per partition; a tight range over the
      // merged intervals still answers correctly
      val q = spark.table("graft.lake.cm").filter(col("id").between(1000, 1009))
      assert(q.count() == 10)
    }
  }

  test("GROUP BY partition columns answers per-group count/min/max from metadata") {
    withLake { _ =>
      import spark.implicits._
      (0 until 90).map(i => (i.toLong, i % 3, s"g$i")).toDF("id", "p", "v")
        .writeTo("graft.lake.gb").partitionedBy(col("p")).create()
      val rollup = spark.table("graft.lake.gb").groupBy(col("p"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("id")).as("mx"))
        .orderBy(col("p"))
      assertAggPushed(rollup)
      val got = rollup.collect().map(_.toSeq)
      assert(got.map(_(0)).toSeq == Seq(0, 1, 2))
      assert(got.map(_(1)).toSeq == Seq(30L, 30L, 30L))
      assert(got.map(_(2)).toSeq == Seq(0L, 1L, 2L), "per-group min id")
      assert(got.map(_(3)).toSeq == Seq(87L, 88L, 89L), "per-group max id")
      // composes with partition pruning: one group survives the filter
      val one = spark.table("graft.lake.gb").filter(col("p") === 1)
        .groupBy(col("p")).agg(count(lit(1)).as("n"))
      assertAggPushed(one)
      assert(one.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 30L)))
      // group-by on a DATA column is not a metadata answer
      val dataGrp = spark.table("graft.lake.gb").groupBy(col("v"))
        .agg(count(lit(1)).as("n"))
      assert(!dataGrp.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(dataGrp.count() == 90)
      // min/max of the PARTITION column itself answers from directory
      // values — the "what range does this lake cover" dashboard query
      val pmm = spark.table("graft.lake.gb").agg(
        min(col("p")).as("pmn"), max(col("p")).as("pmx"), count(lit(1)).as("n"))
      assertAggPushed(pmm)
      assert(pmm.collect()(0).toSeq == Seq(0, 2, 90L))
    }
  }

  /** Find the lake BatchScan in an executed plan and report (runtime
    * filters seen, rows it emitted). */
  private def lakeScanStats(df: DataFrame): (Boolean, Long) = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    var sawRuntime = false
    var rows = -1L
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case b: BatchScanExec if b.scan.description.startsWith("graft-lake-scan") =>
          sawRuntime ||= b.runtimeFilters.nonEmpty
          rows = b.metrics("numOutputRows").value
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    (sawRuntime, rows)
  }

  test("runtime filtering (DPP): a dim join prunes lake partition dirs at execution") {
    withLake { _ =>
      import spark.implicits._
      // hermetic precondition: an EXPLICIT v2.bucketing setting leaked by
      // another suite/query would flip this scan into SPJ mode, whose
      // filterAttributes veto is exactly what this test must not see
      assert(!org.apache.spark.sql.internal.SQLConf.get
        .contains("spark.sql.sources.v2.bucketing.enabled"),
        "leaked explicit v2.bucketing.enabled=true — a prior test/query " +
          "failed to restore the UNSET state (see the t53 getOption lesson)")
      (0 until 1000).map(i => (i.toLong, i % 10)).toDF("id", "p")
        .writeTo("graft.lake.dpp").partitionedBy(col("p")).create()
      // the dim's selective predicate must SURVIVE to the optimizer (a
      // literal Seq constant-folds to a LocalRelation and DPP declines)
      val dimDir = TempLakes.dir("graft_dpp_dim")
      (0 until 10).map(i => (i, i % 5)).toDF("k", "m")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir).filter(col("m") === 2)  // k in {2, 7}
      val joined = spark.table("graft.lake.dpp")
        .join(dim.hint("broadcast"), col("p") === col("k"))
      assert(joined.collect().length == 200)
      val (sawRuntime, rows) = lakeScanStats(joined)
      assert(sawRuntime, "no runtime filter reached the lake scan:\n" +
        joined.queryExecution.executedPlan.toString.take(1200))
      assert(rows == 200, s"scan emitted $rows rows — runtime dir pruning did not happen")
    }
  }

  test("runtime filtering on a DATA column: the build side's values skip files via stats") {
    withLake { _ =>
      import spark.implicits._
      (0 until 800).map(i => (i.toLong, s"r$i")).toDF("id", "v")
        .repartitionByRange(8, col("id"))
        .writeTo("graft.lake.rts").create()
      val dimDir = TempLakes.dir("graft_rts_dim")
      (0 until 800).map(i => (i.toLong, i % 40)).toDF("k", "m")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir).filter(col("m") === 0 && col("k") < 100)
      val joined = spark.table("graft.lake.rts")
        .join(dim.hint("broadcast"), col("id") === col("k"))
      assert(joined.collect().length == 3, "k in {0, 40, 80}")
      val (sawRuntime, rows) = lakeScanStats(joined)
      assert(sawRuntime, "no runtime filter reached the lake scan:\n" +
        joined.queryExecution.executedPlan.toString.take(1200))
      // the IN {0,40,80} runtime filter's stats skip opens only the first
      // 100-row file of 8
      assert(rows == 100, s"scan emitted $rows rows — stats-driven runtime skip did not happen")
    }
  }

  /** Every one of `rels` (files of the table's latest record) still
    * carries the coverage the zorder specs write with: a 2048-bit bloom
    * on `id`, NDV registers on `x`, a histogram on `y`. */
  private def assertCoverage(path: String, rels: Seq[String]): Unit = {
    val snap = LakeSinkFiles.latest(path)
    assert(rels.nonEmpty)
    rels.foreach { rel =>
      val cs = snap.stats.get(rel).map(LakeSinkStats.decode(_, snap.schema))
        .getOrElse(fail(s"$rel: no recorded stats"))
      assert(cs.get("id").flatMap(_.bloom).map(_.length * 8).contains(2048),
        s"$rel: the rewrite must keep the 2048-bit bloom on id")
      assert(cs.get("x").exists(_.ndv.isDefined), s"$rel: the rewrite must keep x's NDV")
      assert(cs.get("y").exists(_.hist.isDefined), s"$rel: the rewrite must keep y's histogram")
    }
  }

  test("zorder clusters two dimensions: a box filter skips most files, rows unchanged") {
    withLake { lake =>
      import spark.implicits._
      // a 64x64 grid in row-major order: every one of the 8 range files
      // covers the FULL y range, so a y filter alone can skip nothing
      val grid = (0 until 4096).map { i => (i.toLong, (i / 64).toLong, (i % 64).toLong) }
        .toDF("id", "x", "y")
      // per-write stats coverage the rewrite must carry over
      grid.repartitionByRange(8, col("id")).writeTo("graft.lake.zo")
        .option("bloomFilterColumns", "id").option("bloomFilterBits", "2048")
        .option("ndvColumns", "x").option("histogramColumns", "y").create()
      val box = col("x").between(0, 15) && col("y").between(0, 15)
      val beforeRows = spark.table("graft.lake.zo").filter(box)
        .collect().map(_.toString).sorted.toSeq
      val preSkip = skippedOf(ranPlan(spark.table("graft.lake.zo").filter(col("y") < 16)))
      assert(preSkip == 0, s"precondition: row-major layout must not allow y-skips, got $preSkip")
      val all = spark.table("graft.lake.zo").collect().map(_.toString).sorted.toSeq

      val (fin, fout) = LakeMaintenance.zorder(spark, s"$lake/zo", Seq("x", "y"), 8)
      assert(fin == 8 && fout == 8, s"zorder rewrote $fin->$fout files")
      assertCoverage(s"$lake/zo", LakeSinkFiles.latest(s"$lake/zo").files)
      assert(spark.table("graft.lake.zo").collect().map(_.toString).sorted.toSeq == all,
        "zorder must not change a row")
      val q = spark.table("graft.lake.zo").filter(box)
      val plan = ranPlan(q)
      assert(skippedOf(plan) >= 4,
        s"z-ordered files must make the 1/16-area box skip most files:\n$plan")
      assert(q.collect().map(_.toString).sorted.toSeq == beforeRows)
      // pre-rewrite snapshot still readable (the rewrite retires, not deletes)
      val vs = graft.sources.LakeSinkFiles.listVersions(s"$lake/zo")
      assert(spark.sql(s"SELECT * FROM graft.lake.zo VERSION AS OF ${vs.init.last}")
        .count() == 4096)
    }
  }

  test("whole-table zorder on an evolved table: live and pre-zorder snapshot rows unchanged") {
    withLake { lake =>
      import spark.implicits._
      def canon(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
      val path = s"$lake/ze"
      (0 until 64).map(i => (i.toLong, (i / 8).toLong, (i % 8).toLong)).toDF("id", "x", "y")
        .repartitionByRange(4, col("id")).writeTo("graft.lake.ze").create()
      spark.sql("ALTER TABLE graft.lake.ze RENAME COLUMN y TO w")
      spark.sql("ALTER TABLE graft.lake.ze ADD COLUMN tag STRING DEFAULT 'old'")
      spark.sql("INSERT INTO graft.lake.ze VALUES (64, 8, 0, 'new'), (65, 8, 1, NULL)")
      val live = canon(spark.table("graft.lake.ze"))
      val vBefore = LakeSinkFiles.listVersions(path).last
      def atBefore = canon(spark.sql(s"SELECT * FROM graft.lake.ze VERSION AS OF $vBefore"))
      val snapBefore = atBefore
      assert(snapBefore == live)
      val nBefore = LakeSinkFiles.latest(path).files.size
      val (fin, fout) = LakeMaintenance.zorder(spark, path, Seq("x", "w"), 2)
      assert(fin == nBefore && fout == 2, s"zorder rewrote $fin->$fout files")
      assert(canon(spark.table("graft.lake.ze")) == live, "zorder must not change a live row")
      assert(atBefore == snapBefore, "the pre-zorder version must read as before")
      // the rewrite keeps the table's evolution state: the rename alias
      // and the default still serve the pre-rename snapshot and new writes
      val m = graft.sources.LakeManifest.read(path).get
      assert(m.renames.nonEmpty && m.defaults.map(_._1) == Seq("tag"), m.toString)
      val v1 = spark.sql("SELECT * FROM graft.lake.ze VERSION AS OF 1")
      assert(v1.columns.toSeq == Seq("id", "x", "y") && v1.count() == 64)
      spark.sql("INSERT INTO graft.lake.ze (id, x, w) VALUES (66, 9, 2)")
      assert(spark.table("graft.lake.ze").filter(col("id") === 66)
        .select("tag").collect().head.getString(0) == "old")
    }
  }

  test("partition-scoped zorder: only the named partition rewrites, its skip rate improves") {
    withLake { lake =>
      import spark.implicits._
      // two date-like partitions, each a 32x32 row-major grid across 4
      // range files — a y filter can skip nothing before the rewrite
      val grid = (0 until 2048).map { i =>
        val p = i % 2; val j = i / 2
        (p, j.toLong, (j / 32).toLong, (j % 32).toLong)
      }.toDF("p", "id", "x", "y")
      grid.repartitionByRange(8, col("p"), col("id"))
        .writeTo("graft.lake.zp").partitionedBy(col("p"))
        .option("distributionMode", "none")
        .option("bloomFilterColumns", "id").option("bloomFilterBits", "2048")
        .option("ndvColumns", "x").option("histogramColumns", "y").create()
      def files(p: Int): Seq[(String, Seq[Byte])] = {
        val d = java.nio.file.Paths.get(s"$lake/zp/p=$p")
        val it = Files.list(d).iterator()
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Byte])]
        while (it.hasNext) {
          val f = it.next()
          if (f.toString.endsWith(".json.gz"))
            out += ((f.getFileName.toString, Files.readAllBytes(f).toSeq))
        }
        out.sortBy(_._1).toSeq
      }
      val p0Before = files(0)
      assert(p0Before.size >= 2, s"precondition: several files per partition, got ${p0Before.size}")
      val all = spark.table("graft.lake.zp").collect().map(_.toString).sorted.toSeq
      def ySkips(p: Int): Int = skippedOf(ranPlan(
        spark.table("graft.lake.zp").filter(col("p") === p && col("y") < 8)))
      assert(ySkips(1) == 0, "precondition: row-major layout allows no y-skips")
      // z-order ONLY p=1 ("yesterday's partition")
      val (fin, fout) = LakeMaintenance.zorder(spark, s"$lake/zp",
        Seq("x", "y"), 4, Map("p" -> "1"))
      assert(fin >= 2 && fout >= 2, s"scope rewrote $fin->$fout files")
      assertCoverage(s"$lake/zp",
        LakeSinkFiles.latest(s"$lake/zp").files.filter(_.startsWith("p=1/")))
      // untouched partition: files BYTE-identical
      assert(files(0) == p0Before, "p=0 must survive bit-identically")
      // rows unchanged table-wide
      assert(spark.table("graft.lake.zp").collect().map(_.toString).sorted.toSeq == all)
      // the scoped partition now skips on the box; the untouched one still can't
      assert(ySkips(1) >= 2,
        "z-ordered partition must skip most of its files on a y filter")
      assert(ySkips(0) == 0)
      // count(*) still answers from metadata after the ledger handoff
      val c = spark.sql("SELECT count(*) AS n FROM graft.lake.zp")
      assert(c.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(c.collect()(0).getLong(0) == 2048L)
      // pre-rewrite snapshot of the scoped partition still readable
      val vs = graft.sources.LakeSinkFiles.listVersions(s"$lake/zp")
      assert(spark.sql(s"SELECT * FROM graft.lake.zp VERSION AS OF ${vs.init.last}")
        .count() == 2048)
      // identity partition column refused as a z dimension; unknown dir
      // key refused
      val e1 = intercept[IllegalArgumentException] {
        LakeMaintenance.zorder(spark, s"$lake/zp", Seq("p"), 4, Map("p" -> "1"))
      }
      assert(e1.getMessage.contains("identity partition column"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        LakeMaintenance.zorder(spark, s"$lake/zp", Seq("x"), 4, Map("nope" -> "1"))
      }
      assert(e2.getMessage.contains("not a partition dir key"), e2.getMessage)
    }
  }
}
