package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.TempLakes
import graft.streaming.{Scored, StreamOps}

class StreamOpsSpec extends GraftSpec {
  import scala.language.implicitConversions


  test("parseWire drops malformed records and keeps the stream alive (P2/P3)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    in.addData(
      """{"machineId":"m1","temperature":67.3,"vibration":1.4,"timestamp":1754980000}""",
      """not json at all""",
      """{"machineId":"m1","vibration":1.4,"timestamp":1754980001}""", // missing temperature
      """{"machineId":"m1","temperature":"hot","vibration":1.4,"timestamp":1754980002}""", // bad type
      """{"machineId":"m2","temperature":88.0,"vibration":3.4,"timestamp":1754980003}""")
    val q = StreamOps.parseWire(in.toDF()).writeStream
      .format("memory").queryName("parsed").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("parsed").collect()
      assert(rows.length == 2, rows.mkString("; "))
    } finally q.stop()
  }

  /** parseWire as it read while it filtered on fields of the parsed
    * struct (one re-parse per predicate after optimization): the semantic
    * reference for the single-parse form. */
  private def parseWireRef(df: DataFrame): DataFrame =
    df.select(from_json(col("value"), StreamOps.telemetrySchema).as("p"))
      .filter(col("p").isNotNull &&
        col("p.temperature").isNotNull && col("p.vibration").isNotNull)
      .select(col("p.machineId").as("machineId"),
        col("p.temperature").as("temperature"),
        col("p.vibration").as("vibration"),
        timestamp_seconds(col("p.timestamp")).as("ts"))

  private val wireCorpus: Seq[String] = Seq(
    """{"machineId":"m0","temperature":67.3,"vibration":1.4,"timestamp":1754980000}""",
    // the benchmark generator's three malformed kinds
    "not json {",
    """{"machineId":"m1","vibration":1.3,"timestamp":1754980001}""",
    """{"machineId":"m1","temperature":66.1,"vibration":"high","timestamp":1754980001}""",
    null, "",
    """{"temperature":70.0,"vibration":1.3,"timestamp":1754980002}""", // no machineId: kept
    """{"machineId":"m3","temperature":70.0,"vibration":1.3}""", // no timestamp: kept, ts null
    """{"machineId":"m4","temperature":"hot","vibration":1.4,"timestamp":1754980004}""",
    """{"machineId":"m5","temperature":81,"vibration":3.2,"timestamp":1754980005,"fw":"1.2"}""",
    """{"machineId":"m6","temperature":70.0,"vibration":1.3,"timestamp":1754980006,"meta":{"zone":{"id":3}}}""",
    """{"machineId":{"id":"m7"},"temperature":70.0,"vibration":1.3,"timestamp":1754980007}""",
    """[{"machineId":"m8","temperature":70.0,"vibration":1.3,"timestamp":1754980008}]""",
    """[{"machineId":"m9","temperature":70.0,"vibration":1.3,"timestamp":1754980009},{"machineId":"m9"}]""")

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("parseWire keeps the reference's rows, in batch and through a streaming pass") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val batch = wireCorpus.toDF("value")
    val rows = StreamOps.parseWire(batch).collect()
    val got = rows.map(_.toString).toSeq.sorted
    assert(got == rowsOf(parseWireRef(batch)), got.mkString("; "))
    assert(rows.exists(_.isNullAt(0)), "a frame without machineId must be kept")
    assert(rows.exists(r => r.getString(0) == "m3" && r.isNullAt(3)),
      "a frame without timestamp must be kept with a null ts")
    assert(!rows.exists(r => Set("m1", "m4").contains(r.getString(0))))
    val in = MemoryStream[String]
    in.addData(wireCorpus)
    val qs = Seq("wire_new" -> StreamOps.parseWire _, "wire_ref" -> parseWireRef _).map {
      case (name, parse) => parse(in.toDF()).writeStream
        .format("memory").queryName(name).outputMode("append").start()
    }
    try {
      qs.foreach(_.processAllAvailable())
      assert(rowsOf(spark.table("wire_new")) == got)
      assert(rowsOf(spark.table("wire_ref")) == got)
    } finally qs.foreach(_.stop())
  }

  test("round trip: simulator batch → toWire → parseWire preserves records (P1)") {
    import spark.implicits._
    val batch = Seq(
      ("NC_Machine_AC", 67.5, 1.3, 1754980000L),
      ("NC_Machine_AC", 85.0, 3.5, 1754980001L))
      .toDF("machineId", "temperature", "vibration", "timestamp")
    val back = StreamOps.parseWire(StreamOps.toWire(batch)).collect()
    assert(back.length == 2)
    assert(back.map(_.getAs[Double]("temperature")).sorted.sameElements(Array(67.5, 85.0)))
  }

  test("wire round trip through a REAL file source (documented Kafka fallback)") {
    // The reference ingests over MQTT→Kinesis; the 1:1 Spark exercise
    // would be the kafka connector, but /opt/spark/jars ships no
    // spark-sql-kafka jar and the container has no broker/egress — so the
    // closest REAL network-shaped source is the file stream: toWire's
    // exact bytes land on disk, readStream.format("text") re-ingests them
    // byte-for-byte (the same opaque-payload contract a broker delivers),
    // and parseWire recovers the records. MemoryStream specs cover the
    // semantics; this covers a true external-source boundary.
    import spark.implicits._
    val batch = Seq(
      ("NC_Machine_AC", 67.5, 1.3, 1754980000L),
      ("NC_Machine_BD", 85.0, 3.5, 1754980001L))
      .toDF("machineId", "temperature", "vibration", "timestamp")
    val dir = TempLakes.dir("wire_files")
    StreamOps.toWire(batch).select($"value").write.mode("overwrite").text(dir)
    val in = spark.readStream.format("text").load(dir)
    val q = StreamOps.parseWire(in).writeStream
      .format("memory").queryName("wire_file").outputMode("append").start()
    try {
      q.processAllAvailable()
      val back = spark.table("wire_file").collect()
      assert(back.length == 2, back.mkString("; "))
      assert(back.map(_.getAs[Double]("temperature")).sorted
        .sameElements(Array(67.5, 85.0)))
      assert(back.map(_.getAs[String]("machineId")).sorted
        .sameElements(Array("NC_Machine_AC", "NC_Machine_BD")))
    } finally q.stop()
    // and the bytes on disk are exactly toWire's payloads (byte equality
    // of the wire format across the disk boundary)
    val disk = spark.read.text(dir).as[String].collect().sorted
    val wire = StreamOps.toWire(batch).select($"value").as[String].collect().sorted
    assert(disk.sameElements(wire))
  }

  test("dedupQos1 removes at-least-once duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Double, Double, Long)]
    in.addData(
      ("m1", 67.0, 1.3, 1000L), ("m1", 67.0, 1.3, 1000L), // dup
      ("m1", 68.0, 1.4, 1001L), ("m2", 69.0, 1.2, 1000L))
    val df = in.toDF().toDF("machineId", "temperature", "vibration", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = StreamOps.dedupQos1(df).writeStream
      .format("memory").queryName("deduped").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("deduped").count() == 3)
    } finally q.stop()
  }

  test("observed live-path counters: ingested = valid + malformed, valid = unique + duplicate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // seeded frames: reading k is machine k % 10 at second k / 10, so every
    // reading has its own dedup key; redeliveries of earlier readings and
    // the benchmark generator's three malformed kinds are mixed in
    val rng = new scala.util.Random(42L)
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    var malformed, dups = 0L
    def frames(n: Int): Seq[String] = Seq.fill(n) {
      val u = rng.nextDouble()
      if (u < 0.05 && sent.nonEmpty) { dups += 1; sent(rng.nextInt(sent.size)) }
      else if (u < 0.10) {
        malformed += 1
        val ts = 1754980000L + sent.size / 10
        rng.nextInt(3) match {
          case 0 => "not json {"
          case 1 => s"""{"machineId":"m${rng.nextInt(10)}","vibration":1.3,"timestamp":$ts}"""
          case _ => s"""{"machineId":"m${rng.nextInt(10)}","temperature":66.1,"vibration":"high","timestamp":$ts}"""
        }
      } else {
        val k = sent.size
        sent += s"""{"machineId":"m${k % 10}","temperature":${65 + rng.nextInt(20)}.5,""" +
          s""""vibration":1.${rng.nextInt(9)},"timestamp":${1754980000L + k / 10}}"""
        sent.last
      }
    }
    val in = MemoryStream[String]
    val parsed = StreamOps.parseWire(in.toDF().observe("ingested", count(lit(1)).as("rows")))
      .observe("valid", count(lit(1)).as("rows"))
    val q = StreamOps.dedupQos1(parsed).observe("unique", count(lit(1)).as("rows"))
      .writeStream.format("memory").queryName("live_counters").outputMode("append").start()
    try {
      for (_ <- 0 until 3) { in.addData(frames(200)); q.processAllAvailable() }
      def total(name: String): Long = q.recentProgress
        .flatMap(p => Option(p.observedMetrics.get(name))).map(_.getAs[Long]("rows")).sum
      val (ingested, valid, unique) = (total("ingested"), total("valid"), total("unique"))
      assert(malformed > 0 && dups > 0)
      assert(ingested == 600L)
      assert(ingested == valid + malformed, s"ingested $ingested, valid $valid, malformed $malformed")
      assert(valid == unique + dups, s"valid $valid, unique $unique, duplicates $dups")
      assert(unique == sent.size.toLong)
      assert(spark.table("live_counters").count() == unique)
    } finally q.stop()
  }

  test("dedupQos1Within drops broker redeliveries across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Double, Double, Long)]
    val df = in.toDF().toDF("machineId", "temperature", "vibration", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = StreamOps.dedupQos1Within(df).writeStream
      .format("memory").queryName("deduped_within").outputMode("append").start()
    try {
      in.addData(("m1", 67.0, 1.3, 1000L), ("m2", 69.0, 1.2, 1000L))
      q.processAllAvailable()
      // redelivery lands in a LATER micro-batch, well inside the 10-min
      // watermark delay of the original — must still be dropped
      in.addData(("m1", 67.0, 1.3, 1000L), ("m1", 68.0, 1.4, 1001L))
      q.processAllAvailable()
      assert(spark.table("deduped_within").count() == 3)
    } finally q.stop()
  }

  test("tumblingStats windows counts per machine (S5 window semantics)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Double, Double, Long)]
    // two 5-min windows: 0-300 (2 events), 300-600 (1 event)
    in.addData(("m1", 67.0, 1.3, 10L), ("m1", 70.0, 1.5, 200L), ("m1", 90.0, 3.6, 310L))
    val df = in.toDF().toDF("machineId", "temperature", "vibration", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = StreamOps.tumblingStats(df).writeStream
      .format("memory").queryName("tumbled").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tumbled").orderBy("window.start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n") == 2 && rows(1).getAs[Long]("n") == 1)
      assert(rows(1).getAs[Double]("max_vib") == 3.6)
    } finally q.stop()
  }

  test("alertTransitions suppresses consecutive identical severities") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Scored]
    in.addData(
      Scored("m1", new Timestamp(1000L), "NORMAL"),
      Scored("m1", new Timestamp(2000L), "NORMAL"),
      Scored("m1", new Timestamp(3000L), "ALERT"),
      Scored("m1", new Timestamp(4000L), "ALERT"),
      Scored("m1", new Timestamp(5000L), "NORMAL"),
      Scored("m2", new Timestamp(1000L), "ALERT"))
    val q = StreamOps.alertTransitions(in.toDS()).writeStream
      .format("memory").queryName("transitions").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("transitions").orderBy("machineId", "ts").collect()
      assert(rows.length == 4, rows.mkString("; "))
      val m1 = rows.filter(_.getString(0) == "m1").map(_.getAs[String]("severity"))
      assert(m1.sameElements(Array("NORMAL", "ALERT", "NORMAL")))
    } finally q.stop()
  }

  test("live rate-source simulator produces reference-shaped telemetry (S1)") {
    val q = StreamOps.simulatorStream(spark, rowsPerSecond = 200)
      .writeStream.format("memory").queryName("sim").outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("sim").count() < 50 && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
      }
      val rows = spark.table("sim").collect()
      assert(rows.length >= 50, s"only ${rows.length} rows")
      rows.foreach { r =>
        val t = r.getAs[Double]("temperature")
        val v = r.getAs[Double]("vibration")
        assert(r.getAs[String]("machineId") == "NC_Machine_AC")
        assert(t >= 65.0 && t <= 90.0, s"temp $t")   // U(65,70) + optional +15
        assert(v >= 1.2 && v <= 3.5, s"vib $v")      // U(1.2,1.5) + optional +2
      }
      // anomaly spike (+15, +2) appears in roughly 10% of records
      val anomalies = rows.count(_.getAs[Double]("temperature") > 70.0)
      assert(anomalies > 0, "no anomaly spikes observed")
    } finally q.stop()
  }

  test("foreachBatchCompact dedups within batch and appends with batch ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Double, Double, Long)]
    in.addData(("m1", 67.0, 1.3, 1000L), ("m1", 67.0, 1.3, 1000L), ("m2", 68.0, 1.4, 1001L))
    val df = in.toDF().toDF("machineId", "temperature", "vibration", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = TempLakes.dir("graft-compact")
    val q = StreamOps.foreachBatchCompact(df, out, TempLakes.dir("graft-compact-ckpt")).start()
    try {
      q.processAllAvailable()
      in.addData(("m1", 67.0, 1.3, 1000L), ("m3", 70.0, 1.5, 1002L)) // dup of batch 0 + new
      q.processAllAvailable()
    } finally q.stop()
    val lake = spark.read.parquet(out)
    assert(lake.count() == 4) // 2 (batch 0 deduped) + 2 (batch 1: cross-batch dup kept)
    assert(lake.select("batch_id").distinct().count() == 2)
  }

  test("enrichWithDim broadcast-joins the machine dimension (stream-static)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Double, Long)]
    in.addData(("m1", 67.0, 1754980000L), ("m2", 91.0, 1754980001L),
      ("m3", 70.0, 1754980002L))
    val stream = in.toDF().toDF("machineId", "temperature", "sec")
    val dim = Seq(("m1", "line-a"), ("m2", "line-b")).toDF("machineId", "prod_line")
    val q = StreamOps.enrichWithDim(stream, dim).writeStream
      .format("memory").queryName("enriched").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
      assert(rows.length == 3)
      val byId = rows.map(r => r.getAs[String]("machineId") ->
        Option(r.getAs[String]("prod_line"))).toMap
      assert(byId("m1").contains("line-a") && byId("m2").contains("line-b"))
      assert(byId("m3").isEmpty, "unknown machine keeps null dimension (left join)")
    } finally q.stop()
  }

  test("joinWithAlerts matches readings to trailing 5-minute alerts (stream-stream)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1754980000L
    val readings = MemoryStream[(String, Double, Long)]
    val alerts = MemoryStream[(String, String, Long)]
    readings.addData(
      ("m1", 67.0, base + 600), // alert 60 s earlier → joins
      ("m2", 70.0, base + 600)) // no alert within window
    alerts.addData(
      ("m1", "ALERT", base + 540),
      ("m2", "ALERT", base + 1200)) // 10 min AFTER the reading → excluded
    val rDf = readings.toDF().toDF("machineId", "temperature", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val aDf = alerts.toDF().toDF("machineId", "severity", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val q = StreamOps.joinWithAlerts(rDf, aDf).writeStream
      .format("memory").queryName("joined").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("joined").collect()
      assert(rows.length == 1, rows.mkString("; "))
      assert(rows(0).getAs[String]("machineId") == "m1")
      assert(rows(0).getAs[String]("severity") == "ALERT")
    } finally q.stop()
  }

  test("bufferedLakeSink writes gzip json under date/hour partitions (S5)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Double, Double, Long)]
    in.addData(("m1", 67.0, 1.3, 1754980000L), ("m1", 90.0, 3.7, 1754983600L))
    val df = in.toDF().toDF("machineId", "temperature", "vibration", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = TempLakes.dir("graft-lake")
    val q = StreamOps.bufferedLakeSink(df, out, TempLakes.dir("graft-ckpt"),
      Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var gz = 0; var partDirs = 0
    files.forEachRemaining { p =>
      val n = p.toString
      if (n.endsWith(".json.gz")) gz += 1
      if (n.contains("date=") && n.contains("hour=") && p.toFile.isDirectory) partDirs += 1
    }
    assert(gz >= 2, s"expected gzip part files, found $gz")
    assert(partDirs >= 2, s"expected date=/hour= partition dirs, found $partDirs")
  }

  test("end-to-end: wire JSON → parse → score → alert transitions (the full reference path)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    // one machine crossing NORMAL → ALERT → ALERT (suppressed) → NORMAL,
    // with a malformed frame in the middle that must not kill the stream
    in.addData(
      """{"machineId":"m1","temperature":67.0,"vibration":1.3,"timestamp":1754980000}""",
      """{"machineId":"m1","temperature":85.0,"vibration":3.5,"timestamp":1754980060}""",
      """garbage frame""",
      """{"machineId":"m1","temperature":86.0,"vibration":3.6,"timestamp":1754980120}""",
      """{"machineId":"m1","temperature":66.0,"vibration":1.2,"timestamp":1754980180}""")
    val scored = StreamOps.score(StreamOps.parseWire(in.toDF()))
      .select($"machineId", $"ts", $"severity").as[Scored]
    val q = StreamOps.alertTransitions(scored).writeStream
      .format("memory").queryName("e2e_alerts").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("e2e_alerts").orderBy("ts").collect()
      assert(rows.map(_.getAs[String]("severity")).toSeq ==
        Seq("NORMAL", "ALERT", "NORMAL"), rows.mkString("; "))
      assert(rows.map(_.getAs[String]("previous")).toSeq ==
        Seq("NONE", "NORMAL", "ALERT"))
    } finally q.stop()
  }

  test("latency pin: 300-s Firehose trigger configured; micro-batch keeps up at 1 msg/s") {
    // config pin — the reference's published "≤ 5 min to the lake" bound
    // (phase3-kinesis-s3.yaml IntervalInSeconds: 300)
    assert(StreamOps.FirehoseTrigger == Trigger.ProcessingTime("300 seconds"))

    // throughput pin: 300 s of reference traffic (1 msg/s,
    // IoTSimulator.java PUBLISH_INTERVAL_MS=1000) must clear one
    // parse→score micro-batch in far less than the 300-s buffer window —
    // i.e. the pipeline keeps up with the simulator with headroom.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val batch = (0 until 300).map(i =>
      s"""{"machineId":"m${i % 3}","temperature":${65.0 + i % 20},"vibration":${1.2 + (i % 30) / 10.0},"timestamp":${1754980000L + i}}""")
    in.addData(batch: _*)
    val q = StreamOps.score(StreamOps.parseWire(in.toDF())).writeStream
      .format("memory").queryName("latency_pin").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("latency_pin").count() == 300)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.nonEmpty)
      val worstMs = batches.map(_.durationMs.get("triggerExecution").toLong).max
      // generous CI bound: 30 s for a 300-row batch is still 10× inside
      // the 300-s budget; in practice this runs in well under a second
      assert(worstMs < 30000L, s"micro-batch took ${worstMs} ms for 300 rows")
    } finally q.stop()
  }

  test("streaming HLL sketch: state merges across batches, equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String)]
    val q = StreamOps.distinctSketch(in.toDS()).writeStream
      .format("memory").queryName("hll_sketch").outputMode("update").start()
    try {
      // two micro-batches with overlapping values: the second batch's
      // estimate must reflect state carried over from the first
      val batch1 = (0 until 400).map(i => ("k1", s"u${i % 120}"))
      val batch2 = (0 until 400).map(i => ("k1", s"u${60 + i % 120}")) // 60 new
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      val last = spark.table("hll_sketch").orderBy($"n_rows".desc).collect()(0)
      assert(last.getAs[Long]("n_rows") == 800L)
      // batch twin: fold ALL values through the same register math
      val regs = Array.fill[Byte](256)(0)
      (batch1 ++ batch2).foreach { case (_, v) => StreamOps.hllUpdate(regs, v) }
      val want = StreamOps.hllEstimate(regs)
      assert(last.getAs[Double]("estimate") == want,
        "streaming state must be bit-identical to the single-pass fold")
      // and the estimate is within the m=256 error envelope of truth (180
      // distinct; 3σ ≈ 19.5 %)
      assert(math.abs(want - 180.0) / 180.0 < 0.2, s"estimate $want vs 180")
    } finally q.stop()
  }

  test("observe(): in-flight quality metrics equal a direct aggregation (batch)") {
    val obs = org.apache.spark.sql.Observation("graft_quality_batch")
    val m = StreamOps.qualityMetrics
    val df = graft.operators.Telemetry.twin(spark).observe(obs, m.head, m.tail: _*)
    df.write.format("noop").mode("overwrite").save()
    val got = obs.get
    val want = graft.operators.Telemetry.twin(spark)
      .agg(m.head, m.tail: _*).collect()(0)
    assert(got("n_rows") == want.getAs[Long]("n_rows"))
    assert(got("n_out_of_range") == want.getAs[Long]("n_out_of_range"))
    assert(got("n_anomalies") == want.getAs[Long]("n_anomalies"))
    // the generator's exact-count anomaly scatter: 5 % of 10000
    assert(got("n_anomalies") == 500L)
  }

  test("observe(): quality metrics surface per micro-batch in streaming progress") {
    val src = spark.readStream.format("graft.sources.TelemetrySource")
      .option("rows", "400").option("rowsPerBatch", "400").load()
    val q = StreamOps.withQualityObservation(src)
      .writeStream.format("noop").outputMode("append").start()
    try {
      q.processAllAvailable()
      val om = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("graft_quality")))
      assert(om.nonEmpty, "no observed metrics in any progress report")
      // counters sum across micro-batches to the full stream's truth
      val rows = om.map(_.getAs[Long]("n_rows")).sum
      val anom = om.map(_.getAs[Long]("n_anomalies")).sum
      assert(rows == 400L, s"observed $rows rows")
      val want = spark.read.format("graft.sources.TelemetrySource")
        .option("rows", "400").load()
        .agg(sum(col("is_anomaly").cast("long"))).collect()(0).getLong(0)
      assert(anom == want, s"observed $anom anomalies vs batch $want")
    } finally q.stop()
  }
}
