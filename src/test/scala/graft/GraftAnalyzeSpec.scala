package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TempLakes
import graft.sources.{GraftCatalog, LakeMaintenance, LakeManifest, LakeSinkFiles, LakeSinkStats}

/** ANALYZE stats backfill ([[graft.sources.LakeMaintenance.analyze]] and
  * its two SQL surfaces: the rerouted native `ANALYZE TABLE … COMPUTE
  * STATISTICS [FOR COLUMNS …]` and `CALL graft.system.analyze`).
  *
  * Assert-the-OUTCOME pins (the r12-r14 lesson): every test checks the
  * configured EFFECT — distinct-count estimates, plan flips, file
  * skipping, ledger parts — never just that the command ran. Covers: NDV
  * retrofit → CBO broadcast flip vs an un-analyzed control, idempotent
  * re-analyze, zero version commits, histogram/bloom backfill, coverage
  * UNION across analyze calls, legacy bounds/counts restoration,
  * FOR ALL COLUMNS partition-skip, the histogram conf gate, DEFAULT fill
  * visibility in backfilled bounds, and the refusal set
  * (NOSCAN / partition column / stored view / unknown column).
  */
class GraftAnalyzeSpec extends GraftSpec {

  private def withLake[T](body: String => T): T = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val lake = TempLakes.dir("graft_analyze_lake")
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    body(lake)
  }

  private def withCbo[T](threshold: String)(body: => T): T = {
    val keys = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> threshold)
    val prev = keys.map { case (k, _) =>
      k -> (if (org.apache.spark.sql.internal.SQLConf.get.contains(k))
        Some(spark.conf.get(k)) else None)
    }
    try { keys.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def ranPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def skippedOf(plan: String): Int = {
    val m = "skippedFiles=(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no skippedFiles marker in:\n${plan.take(900)}")
    m.get.group(1).toInt
  }

  /** Decoded live stats ledger of a lake table (current-name keys). */
  private def decodedLedger(path: String): Map[String, LakeSinkStats.FileStats] = {
    val m = LakeManifest.read(path).get
    val (schema, (aliases, _)) = (m.schema, m.evolution)
    LakeSinkStats.readBlobs(path).map { case (rel, blob) =>
      rel -> LakeSinkStats.decode(blob, schema, aliases)
    }
  }

  test("NDV retrofit: estimates within 10%, CBO flip vs control, idempotent, no commit") {
    withLake { lake =>
      import spark.implicits._
      val rows = (0 until 20000).map(i => (i.toLong % 4000, s"u${i % 800}", i * 0.5))
      val df = rows.toDF("k", "u", "d").repartitionByRange(8, col("k"))
      // BOTH tables written with ZERO stats options — the retrofit case
      df.write.format("graft.sources.LakeSink").mode("append").save(s"$lake/an")
      df.write.format("graft.sources.LakeSink").mode("append").save(s"$lake/ctl")
      val versionsBefore = LakeSinkFiles.listVersions(s"$lake/an")
      // first analyze covers every file; the repeat is a metadata no-op
      val (a1, s1) = LakeMaintenance.analyze(spark, s"$lake/an", Seq("k", "u", "d"))
      assert(a1 == 8 && s1 == 0, s"expected (8 analyzed, 0 skipped), got ($a1, $s1)")
      val (a2, s2) = LakeMaintenance.analyze(spark, s"$lake/an", Seq("k", "u", "d"))
      assert(a2 == 0 && s2 == 8, s"re-analyze must skip all, got ($a2, $s2)")
      // analyze is advisory metadata: it commits NO version
      assert(LakeSinkFiles.listVersions(s"$lake/an") == versionsBefore,
        "analyze must not create version records")
      withCbo("32768") {
        val stats = spark.table("graft.lake.an")
          .queryExecution.optimizedPlan.stats.attributeStats
        def ndvOf(name: String): Long = {
          val e = stats.find(_._1.name == name)
          assert(e.isDefined && e.get._2.distinctCount.isDefined,
            s"no retrofitted distinct count for $name: $stats")
          e.get._2.distinctCount.get.toLong
        }
        def within10(est: Long, truth: Long): Unit =
          assert(math.abs(est - truth).toDouble / truth <= 0.10,
            s"estimate $est vs truth $truth off by >10%")
        within10(ndvOf("k"), 4000L)
        within10(ndvOf("u"), 800L)
        within10(ndvOf("d"), 20000L)
        // the retrofitted ledger flips the filtered build side to
        // broadcast; the un-analyzed control keeps sort-merge
        def joinPlan(t: String): String = {
          val big = spark.table(t)
          val dim = spark.table(t).filter(col("u") === "u5")
            .groupBy(col("k")).agg(max(col("d")).as("md"))
          big.join(dim, "k").queryExecution.executedPlan.toString
        }
        val flipped = joinPlan("graft.lake.an")
        assert(flipped.contains("BroadcastHashJoin"),
          s"retrofitted ndv must flip to broadcast:\n${flipped.take(1200)}")
        val control = joinPlan("graft.lake.ctl")
        assert(!control.contains("BroadcastHashJoin") &&
          control.contains("SortMergeJoin"),
          s"un-analyzed control must stay sort-merge:\n${control.take(1200)}")
      }
    }
  }

  test("histogram + bloom backfill; coverage UNION across analyze calls") {
    withLake { lake =>
      import spark.implicits._
      // 90% hot key 7 — the histogram's reason to exist
      val rows = (0 until 20000).map(i =>
        (i.toLong, if (i % 10 != 0) 7L else 100L + (i / 10) % 50))
      rows.toDF("id", "v").repartitionByRange(4, col("id"))
        .write.format("graft.sources.LakeSink").mode("append").save(s"$lake/hf")
      // two SEPARATE analyze calls: the second must UNION, not replace
      LakeMaintenance.analyze(spark, s"$lake/hf", ndvColsIn = Seq("v"))
      LakeMaintenance.analyze(spark, s"$lake/hf", histColsIn = Seq("v"))
      decodedLedger(s"$lake/hf").foreach { case (rel, fs) =>
        val v = fs.get("v")
        assert(v.exists(_.ndv.isDefined), s"$rel lost its ndv part: $fs")
        assert(v.exists(_.hist.isDefined), s"$rel missing its hist part: $fs")
      }
      withCbo("32768") {
        val est = spark.table("graft.lake.hf").filter(col("v") === 7L)
          .queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
        assert(est >= 9000 && est <= 36000,
          s"backfilled histogram hot-key estimate $est vs truth 18000 (>2x off)")
      }
      // bloom backfill: interleaved ids — bounds alone can never skip
      (0 until 200).map(i => (i.toLong, i % 4)).toDF("id", "g")
        .repartitionByRange(4, col("g"))
        .write.format("graft.sources.LakeSink").mode("append").save(s"$lake/bl")
      val (ab, _) = LakeMaintenance.analyze(spark, s"$lake/bl",
        bloomColsIn = Seq("id"), bloomBits = 8192)
      assert(ab == 4, s"bloom backfill must cover all 4 files, got $ab")
      spark.conf.set("spark.sql.catalog.graft.lake", lake) // re-pin (withCbo ran)
      val q = spark.table("graft.lake.bl").filter(col("id") === 57L)
      val plan = ranPlan(q)
      assert(skippedOf(plan) == 3,
        s"backfilled bloom must open one file of four:\n$plan")
      assert(q.count() == 1L)
    }
  }

  test("legacy table: plain analyze restores bounds skipping and count pushdown") {
    withLake { lake =>
      import spark.implicits._
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id"))
        .writeTo("graft.lake.leg").create()
      // simulate a legacy table: strip the facts from its latest record
      LakeRecords.stripFacts(s"$lake/leg", "stats", "counts")
      // precondition: no skipping, count falls back to a scan
      val before = spark.table("graft.lake.leg").filter(col("id") < 25)
      assert(skippedOf(ranPlan(before)) == 0, "precondition: nothing to skip with")
      val cntBefore = spark.table("graft.lake.leg").agg(count(lit(1)))
      assert(!cntBefore.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
        "precondition: count must NOT be metadata-answered without the ledger")
      assert(cntBefore.collect()(0).getLong(0) == 100L)
      // one plain ANALYZE backfills bounds + nulls + row counts
      val (a, s) = LakeMaintenance.analyze(spark, s"$lake/leg")
      assert(a == 4 && s == 0, s"expected (4, 0), got ($a, $s)")
      val after = spark.table("graft.lake.leg").filter(col("id") < 25)
      val afterPlan = ranPlan(after)
      assert(skippedOf(afterPlan) == 3,
        s"backfilled bounds must skip 3 of 4 files:\n$afterPlan")
      assert(after.collect().map(_.getLong(0)).sorted.toSeq == (0L until 25L))
      val cnt = spark.table("graft.lake.leg").agg(count(lit(1)))
      val cntPlan = ranPlan(cnt)
      assert(cntPlan.contains("graft-lake-agg"),
        s"backfilled counts must answer count(*) from metadata:\n${cntPlan.take(900)}")
      assert(cnt.collect()(0).getLong(0) == 100L)
      // min/max pushdown answers from the backfilled bounds
      val mm = spark.table("graft.lake.leg").agg(min(col("id")), max(col("id")))
      val mmRow = mm.collect()(0)
      assert(mmRow.getLong(0) == 0L && mmRow.getLong(1) == 99L)
      assert(mm.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
        "min/max must push to the backfilled ledger")
    }
  }

  test("SQL surfaces: FOR COLUMNS, FOR ALL COLUMNS skips partition cols, hist conf gate") {
    withLake { lake =>
      import spark.implicits._
      (0 until 5000).map(i => (i.toLong % 500, i % 3, s"s${i % 50}", i * 1.0))
        .toDF("k", "p", "s", "d")
        .writeTo("graft.lake.sq").partitionedBy(col("p")).create()
      // FOR COLUMNS routes through the parser hook to the backfill engine
      spark.sql("ANALYZE TABLE graft.lake.sq COMPUTE STATISTICS FOR COLUMNS k")
      val led1 = decodedLedger(s"$lake/sq")
      assert(led1.nonEmpty && led1.values.forall(_.get("k").exists(_.ndv.isDefined)),
        s"FOR COLUMNS k must land ndv registers: $led1")
      assert(led1.values.forall(_.get("s").forall(_.ndv.isEmpty)),
        "un-named columns must stay uncovered")
      // FOR ALL COLUMNS: data columns covered, the partition column is
      // skipped (directory values already enumerate it), strings get ndv
      spark.sql("ANALYZE TABLE graft.lake.sq COMPUTE STATISTICS FOR ALL COLUMNS")
      val led2 = decodedLedger(s"$lake/sq")
      assert(led2.values.forall(fs => Seq("k", "s", "d")
        .forall(c => fs.get(c).exists(_.ndv.isDefined))),
        s"FOR ALL COLUMNS must cover every data column: $led2")
      assert(led2.values.forall(_.get("p").isEmpty),
        "partition columns carry no ledger entries")
      // histogram conf gate: OFF above (no hist), ON lands numeric hists
      assert(led2.values.forall(_.values.forall(_.hist.isEmpty)),
        "histograms must not appear while the conf is off")
      val hk = "spark.sql.statistics.histogram.enabled"
      val prevH = if (org.apache.spark.sql.internal.SQLConf.get.contains(hk))
        Some(spark.conf.get(hk)) else None
      try {
        spark.conf.set(hk, "true")
        spark.sql("ANALYZE TABLE graft.lake.sq COMPUTE STATISTICS FOR COLUMNS k, s")
        val led3 = decodedLedger(s"$lake/sq")
        assert(led3.values.forall(_.get("k").exists(_.hist.isDefined)),
          "conf-gated histogram must land on the numeric column")
        assert(led3.values.forall(_.get("s").forall(_.hist.isEmpty)),
          "no histogram on a string axis (no numeric grid)")
      } finally prevH match {
        case Some(v) => spark.conf.set(hk, v)
        case None    => spark.conf.unset(hk)
      }
      // plain COMPUTE STATISTICS (bounds-only backfill) is accepted and
      // idempotent here (bounds already present): CALL reports the skip
      spark.sql("ANALYZE TABLE graft.lake.sq COMPUTE STATISTICS")
      val call = spark.sql("CALL graft.system.analyze('sq')").collect()
      assert(call.length == 1 && call(0).getInt(0) == 0 && call(0).getInt(1) >= 3,
        s"covered table must skip everything via CALL, got ${call.mkString(";")}")
      // case-insensitive column resolution (the r13 case-variant lesson)
      spark.sql("CALL graft.system.analyze('sq', ndv_cols => 'K')")
    }
  }

  test("backfilled stats on pre-evolution files see the DEFAULT fill, not nulls") {
    withLake { lake =>
      import spark.implicits._
      (0 until 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
        .writeTo("graft.lake.ev").create() // files without 'tag'
      spark.sql("ALTER TABLE graft.lake.ev ADD COLUMN tag STRING DEFAULT 'legacy'")
      LakeMaintenance.analyze(spark, s"$lake/ev", ndvColsIn = Seq("tag"))
      val led = decodedLedger(s"$lake/ev")
      assert(led.nonEmpty)
      led.foreach { case (rel, fs) =>
        val tag = fs.get("tag")
        assert(tag.isDefined, s"$rel: no backfilled entry for the evolved column")
        assert(tag.get.nulls.contains(0L),
          s"$rel: the DEFAULT fill must count zero nulls, got ${tag.get.nulls}")
        val b = tag.get.bounds
        assert(b.exists(p => p._1.toString == "legacy" && p._2.toString == "legacy"),
          s"$rel: bounds must be the fill value, got $b")
      }
      // and the backfilled bounds actually PRUNE: a filter outside the
      // fill value skips every pre-evolution file
      val q = spark.table("graft.lake.ev").filter(col("tag") === "modern")
      val plan = ranPlan(q)
      assert(skippedOf(plan) >= 1 && q.count() == 0L,
        s"fill-value bounds must prune the miss:\n$plan")
    }
  }

  test("plain analyze backfills evolved-column bounds and counts-only loss (review r14)") {
    withLake { lake =>
      import spark.implicits._
      // post-evolution bounds: files written BEFORE the column exist get
      // their entry from a PLAIN analyze (no columns named) — the
      // convergent-tracker absence trigger
      (0 until 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
        .writeTo("graft.lake.pe").create()
      spark.sql("ALTER TABLE graft.lake.pe ADD COLUMN n INT DEFAULT 7")
      val (a1, s1) = LakeMaintenance.analyze(spark, s"$lake/pe")
      assert(a1 >= 1 && s1 == 0, s"evolved files must be needy, got ($a1, $s1)")
      decodedLedger(s"$lake/pe").foreach { case (rel, fs) =>
        val n = fs.get("n")
        assert(n.isDefined && n.get.nulls.contains(0L) &&
          n.get.bounds.exists(b => b._1 == 7 && b._2 == 7),
          s"$rel: plain analyze must record the DEFAULT-fill bounds, got $n")
      }
      // and it converges: the second plain analyze is a no-op
      val (a2, s2) = LakeMaintenance.analyze(spark, s"$lake/pe")
      assert(a2 == 0 && s2 >= 1, s"re-analyze must skip, got ($a2, $s2)")
      // counts-ONLY loss (stats ledger intact): plain analyze must still
      // treat the files as needy and restore count(*) pushdown
      (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .writeTo("graft.lake.co").create()
      LakeRecords.stripFacts(s"$lake/co", "counts")
      val cntBefore = spark.table("graft.lake.co").agg(count(lit(1)))
      assert(!cntBefore.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      assert(cntBefore.collect()(0).getLong(0) == 50L)
      val (a3, s3) = LakeMaintenance.analyze(spark, s"$lake/co")
      assert(a3 >= 1, s"counts-missing files must be needy, got ($a3, $s3)")
      val cnt = spark.table("graft.lake.co").agg(count(lit(1)))
      val cntPlan = ranPlan(cnt)
      assert(cntPlan.contains("graft-lake-agg"),
        s"counts backfill must restore the pushdown:\n${cntPlan.take(900)}")
      assert(cnt.collect()(0).getLong(0) == 50L)
    }
  }

  test("bloom re-analyze RESIZES: the sizing knob is never a silent no-op (review r14)") {
    withLake { lake =>
      import spark.implicits._
      (0 until 200).map(i => (i.toLong, i % 4)).toDF("id", "g")
        .repartitionByRange(4, col("g"))
        .write.format("graft.sources.LakeSink").mode("append").save(s"$lake/rs")
      val (a1, _) = LakeMaintenance.analyze(spark, s"$lake/rs",
        bloomColsIn = Seq("id"), bloomBits = 4096)
      assert(a1 == 4)
      def bloomBitsOf: Set[Int] = decodedLedger(s"$lake/rs").values
        .flatMap(_.get("id").flatMap(_.bloom).map(_.length * 8)).toSet
      assert(bloomBitsOf == Set(4096), s"expected 4096-bit filters: $bloomBitsOf")
      // a DIFFERENT requested size re-analyzes and replaces the filters
      val (a2, s2) = LakeMaintenance.analyze(spark, s"$lake/rs",
        bloomColsIn = Seq("id"), bloomBits = 16384)
      assert(a2 == 4 && s2 == 0,
        s"size change must re-analyze every file, got ($a2, $s2)")
      assert(bloomBitsOf == Set(16384), s"filters must resize: $bloomBitsOf")
      // the resized filter still answers needle lookups
      val q = spark.table("graft.lake.rs").filter(col("id") === 57L)
      assert(skippedOf(ranPlan(q)) == 3 && q.count() == 1L)
      // the SAME size converges to a no-op
      val (a3, s3) = LakeMaintenance.analyze(spark, s"$lake/rs",
        bloomColsIn = Seq("id"), bloomBits = 16384)
      assert(a3 == 0 && s3 == 4, s"same-size re-analyze must skip, got ($a3, $s3)")
    }
  }

  test("refusals: NOSCAN, partition column, stored view, unknown column, bad bits") {
    withLake { lake =>
      import spark.implicits._
      (0 until 10).map(i => (i.toLong, i % 2)).toDF("id", "p")
        .writeTo("graft.lake.rf").partitionedBy(col("p")).create()
      val noscan = intercept[Exception](
        spark.sql("ANALYZE TABLE graft.lake.rf COMPUTE STATISTICS NOSCAN"))
      assert(noscan.getMessage.contains("NOSCAN"), noscan.getMessage)
      val part = intercept[Exception](
        spark.sql("ANALYZE TABLE graft.lake.rf COMPUTE STATISTICS FOR COLUMNS p"))
      assert(part.getMessage.contains("partition column"), part.getMessage)
      val unk = intercept[Exception](
        spark.sql("ANALYZE TABLE graft.lake.rf COMPUTE STATISTICS FOR COLUMNS nope"))
      assert(unk.getMessage.contains("not in the table schema"), unk.getMessage)
      spark.sql("CREATE VIEW graft.lake.vw AS SELECT id FROM graft.lake.rf")
      val vw = intercept[Exception](
        spark.sql("ANALYZE TABLE graft.lake.vw COMPUTE STATISTICS FOR COLUMNS id"))
      assert(vw.getMessage.contains("VIEW"), vw.getMessage)
      val bits = intercept[Exception](LakeMaintenance.analyze(spark, s"$lake/rf",
        bloomColsIn = Seq("id"), bloomBits = 1000))
      assert(bits.getMessage.contains("power of 2"), bits.getMessage)
      val dbl = intercept[Exception](
        spark.sql("CALL graft.system.analyze('rf', bloom_cols => 'id', bloom_bits => 7)"))
      assert(dbl.getMessage.contains("power of 2"), dbl.getMessage)
      // only -1 means "default": zero is an invalid size, not a fallback
      val z = intercept[Exception](
        spark.sql("CALL graft.system.analyze('rf', bloom_cols => 'id', bloom_bits => 0)"))
      assert(z.getMessage.contains("power of 2"), z.getMessage)
      // a size with no bloom columns would configure nothing — refuse
      val nb = intercept[Exception](
        spark.sql("CALL graft.system.analyze('rf', bloom_bits => 65536)"))
      assert(nb.getMessage.contains("bloom_cols is empty"), nb.getMessage)
      // a no-lake-table name refuses through every surface
      val missing = intercept[Exception](
        spark.sql("ANALYZE TABLE graft.lake.ghost COMPUTE STATISTICS"))
      assert(missing.getMessage.contains("ghost"), missing.getMessage)
    }
  }
}
