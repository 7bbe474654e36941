package graft

import org.apache.spark.sql.functions._
import graft.operators.{Telemetry, TempLakes}
import graft.sources.LakeIO
import graft.streaming.StreamOps

class LakeIOSpec extends GraftSpec {

  test("CSV sink/scan round trip preserves the historical table (S6/S7)") {
    import spark.implicits._
    val hist = Telemetry.twin(spark)
      .select($"ts".as("timestamp"), $"machine_id".as("machineId"),
        $"temperature", $"vibration", $"is_anomaly")
    val dir = TempLakes.dir("graft-csv")
    LakeIO.writeCsv(hist, dir)
    val back = LakeIO.readCsv(spark, dir)
    assert(back.count() == 10000L)
    val a = hist.orderBy("timestamp").collect()
    val b = back.orderBy("timestamp").collect()
    assert(a.sameElements(b))
  }

  test("CSV scan drops malformed rows but keeps the load alive") {
    val dir = TempLakes.dir("graft-badcsv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "part.csv"),
      """timestamp,machineId,temperature,vibration,is_anomaly
        |2026-01-01 00:00:00+00:00,NC_Machine_AC,68.0,1.8,0
        |this row is not even csv-shaped
        |2026-01-01 00:01:00+00:00,NC_Machine_AC,85.0,3.5,1
        |""".stripMargin)
    // collect(), not count(): count() reads zero columns so the parser
    // never runs and DROPMALFORMED can't drop anything (documented Spark
    // CSV behavior)
    assert(LakeIO.readCsv(spark, dir).collect().length == 2)
  }

  test("partitioned lake write prunes partitions on read (S5 layout)") {
    import spark.implicits._
    val dir = TempLakes.dir("graft-lake")
    LakeIO.writePartitionedLake(Tables.events(spark, sfTiny), dir)
    val pruned = LakeIO.readLake(spark, dir)
      .filter($"date" === "2024-01-02")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(1200))
    val expected = Tables.events(spark, sfTiny)
      .filter(to_date($"ts") === "2024-01-02").count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    import spark.implicits._
    val dir = TempLakes.dir("graft-lake-dpp")
    LakeIO.writePartitionedLake(Tables.events(spark, sfTiny), dir)
    val fact = LakeIO.readLake(spark, dir)
    // dim carries the selective predicate; the fact's partition filter is
    // only knowable at runtime from the dim's surviving rows — exactly the
    // star-join shape DPP exists for (at 100 TB: skip whole date dirs)
    val dimDir = TempLakes.dir("graft-lake-dppdim")
    Tables.events(spark, sfTiny)
      .select(to_date($"ts").as("date")).distinct()
      .withColumn("flag", (dayofmonth($"date") <= 2).cast("int"))
      .write.mode("overwrite").parquet(dimDir)
    // the filter must survive to the optimizer (a LocalRelation dim would
    // constant-fold it away), so the dim goes through parquet
    val dim = spark.read.parquet(dimDir).filter($"flag" === 1)
    val joined = fact.join(dim.hint("broadcast"), Seq("date"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(1500))
    assert(joined.count() > 0)
  }

  test("bucketed tables join with zero shuffle exchanges (co-located join)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val dir = TempLakes.dir("graft-bucketed")
    val orders = Tables.orders(spark, sfTiny).select($"o_orderkey", $"o_totalprice")
    val lines = Tables.lineitem(spark, sfTiny).select($"l_orderkey", $"l_quantity")
    LakeIO.writeBucketed(orders, spark, "graft_b_orders", s"$dir/o", "o_orderkey", 4)
    LakeIO.writeBucketed(lines.withColumnRenamed("l_orderkey", "o_orderkey"),
      spark, "graft_b_lines", s"$dir/l", "o_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_b_orders")
        .join(spark.table("graft_b_lines"), "o_orderkey")
      joined.collect()
      var shuffles = 0
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        if (p.isInstanceOf[ShuffleExchangeLike]) shuffles += 1
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _ =>
        }
        p.children.foreach(walk)
      }
      walk(joined.queryExecution.executedPlan)
      assert(shuffles == 0, s"bucketed join must not shuffle, saw $shuffles")
      assert(joined.count() == Tables.lineitem(spark, sfTiny)
        .join(Tables.orders(spark, sfTiny), $"l_orderkey" === $"o_orderkey").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_lines")
    }
  }

  test("JSON error side channel splits good and bad records (P2/S5 errors)") {
    val dir = TempLakes.dir("graft-json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "data.json"),
      """{"machineId":"m1","temperature":67.0,"vibration":1.3,"timestamp":1754980000}
        |this is not json
        |{"machineId":"m2","temperature":90.0,"vibration":3.6,"timestamp":1754980001}
        |{"broken": true
        |""".stripMargin)
    val (good, bad) = LakeIO.readJsonWithErrorChannel(spark, dir, StreamOps.telemetrySchema)
    assert(good.count() == 2)
    assert(bad.count() == 2)
  }

  test("ORC sink/scan round trip with filter pushdown into the ORC scan") {
    import spark.implicits._
    val dir = TempLakes.dir("graft_orc")
    val src = graft.Tables.orders(spark, sfTiny)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    LakeIO.writeOrc(src, dir)
    val back = LakeIO.readOrc(spark, dir)
    // value-identical round trip
    assert(back.count() == src.count())
    assert(back.orderBy($"o_orderkey").collect()
      .sameElements(src.orderBy($"o_orderkey").collect()))
    // predicate reaches the ORC scan (same v2 pushdown path as parquet)
    val filtered = back.filter($"o_orderstatus" === "F")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("o_orderstatus"),
      s"no pushed filter in:\n$scan")
    assert(filtered.count() == src.filter($"o_orderstatus" === "F").count())
  }

  test("TelemetrySource DSv2 connector is bit-equal to the oracle-checked generator twin") {
    import spark.implicits._
    val dsv2 = spark.read.format("graft.sources.TelemetrySource").load()
    val twin = graft.operators.Telemetry.twin(spark)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // nullability differs by construction (CASE-derived twin columns are
    // nullable) — names and types are the contract
    assert(dsv2.schema.map(f => (f.name, f.dataType)) ==
      twin.schema.map(f => (f.name, f.dataType)),
      s"${dsv2.schema} vs ${twin.schema}")
    assert(canon(dsv2) == canon(twin),
      "DSv2 rows must equal the Column-expression twin bit-for-bit")
  }

  test("TelemetrySource splits the id range across the requested partitions") {
    import spark.implicits._
    val df = spark.read.format("graft.sources.TelemetrySource")
      .option("rows", "1000").option("partitions", "8").load()
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 1000L)
    // contiguous cover, no dup/gap
    assert(df.select($"id").distinct().count() == 1000L)
    assert(df.agg(org.apache.spark.sql.functions.min($"id"),
      org.apache.spark.sql.functions.max($"id")).collect()(0).toSeq == Seq(0L, 999L))
  }

  test("TelemetrySource pushes id-range filters into partition planning (handled, no residual)") {
    import spark.implicits._
    val df = spark.read.format("graft.sources.TelemetrySource").load()
      .filter($"id" >= 9990L)
    // the source reports range filters fully handled, so Spark does NOT
    // re-filter — correctness of the result IS the proof the source
    // applied the bound itself
    val got = df.collect().sortBy(_.getLong(0))
    assert(got.length == 10 && got.head.getLong(0) == 9990L &&
      got.last.getLong(0) == 9999L)
    val twin = graft.operators.Telemetry.twin(spark).filter($"id" >= 9990L)
      .collect().sortBy(_.getLong(0))
    assert(got.map(_.toString).toSeq == twin.map(_.toString).toSeq)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("range=[9990,10000)"), plan.take(800))
  }

  test("TelemetrySource prunes columns to the required fields") {
    import spark.implicits._
    val df = spark.read.format("graft.sources.TelemetrySource").load()
      .select($"id", $"temperature").filter($"id" < 100L)
    assert(df.schema.fieldNames.toSeq == Seq("id", "temperature"))
    val twin = graft.operators.Telemetry.twin(spark)
      .select($"id", $"temperature").filter($"id" < 100L)
    assert(df.collect().map(_.toString).sorted.toSeq ==
      twin.collect().map(_.toString).sorted.toSeq)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("range=[0,100)"), plan.take(800))
  }

  test("TelemetrySource streams in micro-batches and drains to the batch row set") {
    import spark.implicits._
    val out = TempLakes.dir("graft_tsrc_stream")
    val ckpt = TempLakes.dir("graft_tsrc_ckpt")
    val q = spark.readStream.format("graft.sources.TelemetrySource")
      .option("rows", "400").option("rowsPerBatch", "150").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 400L)
    assert(got.select($"id").distinct().count() == 400L)
    val batch = spark.read.format("graft.sources.TelemetrySource")
      .option("rows", "400").load()
    assert(got.collect().map(_.toString).sorted.toSeq ==
      batch.collect().map(_.toString).sorted.toSeq,
      "streamed rows must equal the batch scan's")
  }

  test("TelemetrySource offsets recover: kill/restart yields each id exactly once") {
    import spark.implicits._
    val out = TempLakes.dir("graft_tsrc_rec")
    val ckpt = TempLakes.dir("graft_tsrc_rec_ckpt")
    def start(avail: Long) = spark.readStream.format("graft.sources.TelemetrySource")
      .option("rows", avail.toString).option("rowsPerBatch", "100").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .outputMode("append").start()
    // Trigger.Once hands the source ReadLimit.allAvailable(), so each run
    // drains to the CURRENT availability horizon; growing the horizon
    // 100 ids per run with a kill between runs forces every restart to
    // resume from the checkpointed offset — the stitched stream must have
    // no dup and no gap
    (1 to 5).foreach { i => val q = start(i * 100L); q.awaitTermination() }
    val got = spark.read.parquet(out)
    assert(got.count() == 500L, s"got ${got.count()}")
    assert(got.select($"id").distinct().count() == 500L)
    assert(got.agg(min($"id"), max($"id")).collect()(0).toSeq == Seq(0L, 499L))
  }

  test("TelemetrySource pushes COUNT/MIN/MAX completely into the source (zero rows generated)") {
    import spark.implicits._
    val df = spark.read.format("graft.sources.TelemetrySource").load()
    val agg = df.agg(count(lit(1)).as("n"), min($"id").as("mn"), max($"id").as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), s"aggregate not pushed:\n${plan.take(800)}")
    // complete pushdown: no hash-aggregate over generated rows remains
    assert(!plan.contains("HashAggregate"), s"residual aggregation in:\n${plan.take(800)}")
    assert(agg.collect()(0).toSeq == Seq(10000L, 0L, 9999L))
    // composes with filter pushdown: the range narrows FIRST
    val filtered = df.filter($"id" >= 9990L).agg(count(lit(1)), min($"id"), max($"id"))
    assert(filtered.queryExecution.executedPlan.toString.contains("range=[9990,10000)"))
    assert(filtered.collect()(0).toSeq == Seq(10L, 9990L, 9999L))
    // empty range: count 0, NULL min/max
    val empty = df.filter($"id" >= 100000L).agg(count(lit(1)), min($"id"), max($"id"))
    assert(empty.collect()(0).toSeq == Seq(0L, null, null))
    // an unpushable aggregate (sum over a data column) still computes
    // correctly through the ordinary row scan
    val sumT = df.filter($"id" < 100L).agg(sum($"is_anomaly")).collect()(0).getLong(0)
    val twin = graft.operators.Telemetry.twin(spark).filter($"id" < 100L)
      .agg(sum($"is_anomaly")).collect()(0).getLong(0)
    assert(sumT == twin)
  }

  test("TelemetrySource pushes LIMIT completely into the scan range") {
    import spark.implicits._
    val df = spark.read.format("graft.sources.TelemetrySource").load()
    val limited = df.limit(7)
    val plan = limited.queryExecution.executedPlan.toString
    assert(plan.contains("range=[0,7)"), s"limit not pushed:\n${plan.take(800)}")
    assert(limited.collect().map(_.getLong(0)).sorted.toSeq == (0L to 6L))
    // composes with filter pushdown: range narrows to the filtered window
    val both = df.filter($"id" >= 9990L).limit(5)
    assert(both.queryExecution.executedPlan.toString.contains("range=[9990,9995)"),
      both.queryExecution.executedPlan.toString.take(800))
    assert(both.collect().map(_.getLong(0)).sorted.toSeq == (9990L to 9994L))
    // limit larger than the table: the whole range survives
    assert(df.limit(1000000).count() == 10000L)
  }

  test("TelemetrySource pushes ORDER BY id LIMIT n (TopN) completely — both directions") {
    import spark.implicits._
    val df = spark.read.format("graft.sources.TelemetrySource").load()
    val desc3 = df.orderBy($"id".desc).limit(3)
    val planD = desc3.queryExecution.executedPlan.toString
    assert(planD.contains("range=[9997,10000) desc"),
      s"TopN desc not pushed:\n${planD.take(800)}")
    // complete pushdown: Spark's own TakeOrdered is gone, the scan's
    // single reversed partition IS the sorted answer
    assert(!planD.contains("TakeOrderedAndProject"), planD.take(800))
    assert(desc3.collect().map(_.getLong(0)).toSeq == Seq(9999L, 9998L, 9997L))
    val asc4 = df.orderBy($"id").limit(4)
    val planA = asc4.queryExecution.executedPlan.toString
    assert(planA.contains("range=[0,4)"), s"TopN asc not pushed:\n${planA.take(800)}")
    assert(asc4.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    // a sort the source can't serve (data column) stays with Spark and
    // is still correct
    val byTemp = df.filter($"id" < 200L).orderBy($"temperature".desc).limit(2)
      .collect().map(_.getAs[Double]("temperature")).toSeq
    val twin = graft.operators.Telemetry.twin(spark).filter($"id" < 200L)
      .orderBy($"temperature".desc).limit(2)
      .collect().map(_.getAs[Double]("temperature")).toSeq
    assert(byTemp == twin)
  }

  test("TelemetrySource reports post-pushdown statistics: a small filtered scan auto-broadcasts") {
    import spark.implicits._
    // no broadcast() hint anywhere — Catalyst must pick BroadcastHashJoin
    // from SupportsReportStatistics' exact post-filter cardinality
    val dim = spark.read.format("graft.sources.TelemetrySource").load()
      .filter($"id" < 50L).select($"id", $"temperature")
    val fact = spark.range(0L, 200000L).select($"id")
    val joined = fact.join(dim, "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"stats did not drive a broadcast:\n${plan.take(1200)}")
    assert(joined.count() == 50L)
  }

  test("TelemetrySource daily mode: day column correct, partitions day-aligned") {
    import spark.implicits._
    val df = spark.read.format("graft.sources.TelemetrySource")
      .option("daily", "true").load()
    assert(df.schema.fieldNames.toSeq ==
      Seq("id", "ts", "machine_id", "is_anomaly", "temperature", "vibration", "day"))
    // day ≡ the UTC date of ts on every row
    assert(df.filter($"day" =!= to_date($"ts")).count() == 0)
    assert(df.count() == 10000L)
    // 10000 ids at 1440/day → 7 day-aligned partitions
    assert(df.rdd.getNumPartitions == 7)
    // the data columns are unchanged by the mode
    val twin = graft.operators.Telemetry.twin(spark)
    assert(df.drop("day").collect().map(_.toString).sorted.toSeq ==
      twin.collect().map(_.toString).sorted.toSeq)
  }

  test("TelemetrySource daily scans join and aggregate on day with ZERO shuffles (storage-partitioned join)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
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
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def daily = spark.read.format("graft.sources.TelemetrySource")
        .option("daily", "true").load()
      // two day-keyed rollups joined on the partition key: the scans
      // report KeyGroupedPartitioning(identity(day)) with day-aligned
      // input partitions, so BOTH aggregations and the join are satisfied
      // by the storage partitioning — no exchange anywhere in the plan
      val hot = daily.groupBy($"day").agg(avg($"temperature").as("t"))
      val vib = daily.groupBy($"day").agg(avg($"vibration").as("v"))
      val joined = hot.join(vib, "day")
      joined.collect()
      var shuffles = 0
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        if (p.isInstanceOf[ShuffleExchangeLike]) shuffles += 1
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _ =>
        }
        p.children.foreach(walk)
      }
      walk(joined.queryExecution.executedPlan)
      assert(shuffles == 0, s"storage-partitioned join must not shuffle, saw $shuffles:\n${
        joined.queryExecution.executedPlan.toString.take(1500)}")
      // and the co-partitioned result is the ordinary shuffled result
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val plain = daily.groupBy($"day").agg(avg($"temperature").as("t"))
        .join(daily.groupBy($"day").agg(avg($"vibration").as("v")), "day")
      assert(joined.collect().map(_.toString).sorted.toSeq ==
        plain.collect().map(_.toString).sorted.toSeq)
    } finally {
      prevB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
    }
  }

  test("TelemetrySource runtime filtering (DPP): a join's build side narrows the generated range at execution") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val fact = spark.read.format("graft.sources.TelemetrySource")
      .option("rows", "1000000").load()
    // selective dim with a SURVIVING Filter node (a literal Seq collapses
    // to a bare LocalRelation under constant folding and DPP sees no
    // selective predicate — measured): the broadcast build side becomes a
    // runtime IN-filter pushed into the scan via SupportsRuntimeFiltering
    val dim = spark.range(0L, 100000L)
      .select($"id".as("k"), ($"id" % 7).as("m")).filter($"m" === 3)
    val joined = fact.join(dim, fact("id") === dim("k"))
    // k ∈ {3, 10, …, 99997}: 14286 matches, all inside the fact range
    assert(joined.collect().length == 14286)
    var scanRows = -1L
    var sawRuntimeFilter = false
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case b: BatchScanExec if b.scan.description.startsWith("graft-telemetry") =>
          sawRuntimeFilter ||= b.runtimeFilters.nonEmpty
          scanRows = b.metrics("numOutputRows").value
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(joined.queryExecution.executedPlan)
    assert(sawRuntimeFilter, "no runtime filter reached the scan:\n" +
      joined.queryExecution.executedPlan.toString.take(1200))
    // the source narrowed to the [min, max+1) envelope of the build-side
    // ids ([3, 99998)): ~100k of the 1M rows were generated, not all
    assert(scanRows >= 14286L && scanRows <= 150000L,
      s"scan generated $scanRows rows — runtime narrowing did not happen")
  }

  test("TelemetrySource honors a NON-DEFAULT ReadLimit (maxRows / allAvailable / composite)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // perBatch (the constructor default) is 1000 — every limit below
    // differs from it, so passing any of these through latestOffset
    // proves the ARGUMENT is honored, not the default echoed back
    val mb = new graft.sources.TelemetryMicroBatch(10000L, 4, 1000L,
      graft.sources.TelemetrySource.Schema)
    def adv(startId: Long, lim: ReadLimit): Long =
      mb.latestOffset(graft.sources.TelemetryOffset(startId), lim)
        .asInstanceOf[graft.sources.TelemetryOffset].id
    assert(adv(0L, ReadLimit.maxRows(137L)) == 137L)
    assert(adv(9950L, ReadLimit.maxRows(137L)) == 10000L, "clamped to rows")
    assert(adv(42L, ReadLimit.allAvailable()) == 10000L,
      "ReadAllAvailable advances to the end of the stream")
    assert(adv(0L, ReadLimit.compositeLimit(
      Array(ReadLimit.maxRows(300L), ReadLimit.maxRows(80L)))) == 80L,
      "composite takes the most restrictive member")
    assert(adv(0L, ReadLimit.minRows(5L, 1000L)) == 1000L,
      "min-rows alone falls back to the default batch size")
  }

  test("TelemetrySource drains under Trigger.AvailableNow exactly once") {
    import spark.implicits._
    val out = TempLakes.dir("graft_tsrc_an")
    val ckpt = TempLakes.dir("graft_tsrc_an_ckpt")
    val q = spark.readStream.format("graft.sources.TelemetrySource")
      .option("rows", "450").option("rowsPerBatch", "200").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() == 450L && got.select($"id").distinct().count() == 450L)
    // SupportsTriggerAvailableNow: the drain must run in read-limit-sized
    // batches (ceil(450/200) = 3), not one unbounded fallback batch
    assert(q.lastProgress.batchId >= 2,
      s"expected >=3 micro-batches, saw batchId ${q.lastProgress.batchId}")
  }

  test("JSON-lines sink round-trips through the error-channel reader with zero errors") {
    import spark.implicits._
    val dir = TempLakes.dir("graft_jsonl")
    val src = spark.createDataFrame(Seq(
      ("m1", 67.3, 1.4, 1754980000L), ("m2", 88.0, 3.4, 1754980003L)))
      .toDF("machineId", "temperature", "vibration", "timestamp")
    LakeIO.writeJsonLines(src, dir)
    val (good, bad) = LakeIO.readJsonWithErrorChannel(spark, dir,
      StreamOps.telemetrySchema)
    assert(good.count() == 2 && bad.count() == 0)
  }
}
