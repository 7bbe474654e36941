package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TempLakes
import graft.sources.{LakeManifest, LakeSink, LakeSinkCommit, LakeSinkFiles, LakeSinkStreamingWrite}

/** The DSv2 WRITE-path contract ([[graft.sources.LakeSink]]): batch
  * commit, task/job abort leaving no partial files, truncate-on-overwrite,
  * streaming exactly-once across restart, and redelivered-epoch dedup —
  * the write-side mirror of StreamRecoverySpec.
  */
class LakeSinkSpec extends GraftSpec {

  private def partFiles(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val it = Files.list(d).iterator()
      var out = List.empty[String]
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.startsWith("part-") && n.endsWith(".json.gz")) out ::= n
      }
      out.sorted
    }
  }

  private def stagingFiles(dir: String): Seq[String] = {
    val d = LakeSinkFiles.stagingDir(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val it = Files.list(d).iterator()
      var out = List.empty[String]
      while (it.hasNext) out ::= it.next().getFileName.toString
      out.sorted
    }
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("batch commit: committed lake equals the input, staging drained, _SUCCESS written") {
    val out = TempLakes.dir("graft_sink_batch")
    val src = graft.operators.Telemetry.twin(spark).filter(col("id") < 1000L)
    src.write.format("graft.sources.LakeSink").mode("append").save(out)
    assert(Files.exists(Paths.get(out, "_SUCCESS")))
    assert(stagingFiles(out).isEmpty, s"staging not drained: ${stagingFiles(out)}")
    assert(partFiles(out).nonEmpty)
    val back = spark.read.schema(src.schema)
      .option("timestampFormat", LakeSink.TimestampFormat).json(out)
    assert(canon(back) == canon(src), "round trip must be value-exact")
  }

  test("mergeSchema append auto-adds new columns; a superset append without it refuses") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_merge")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.format("graft.sources.LakeSink").mode("append").save(out)
    // superset append WITHOUT the option: refused at commit, table intact
    val e = intercept[Exception] {
      Seq((3L, "c", 9.5)).toDF("id", "v", "w")
        .write.format("graft.sources.LakeSink").mode("append").save(out)
    }
    assert(e.getMessage != null)
    assert(spark.read.format("graft.sources.LakeSink").load(out)
      .columns.toSeq == Seq("id", "v"), "a refused append must not evolve")
    // WITH mergeSchema: the new column auto-ADDs (nullable), old files
    // null-fill on read — the Delta mergeSchema contract
    Seq((3L, "c", 9.5)).toDF("id", "v", "w")
      .write.format("graft.sources.LakeSink").mode("append")
      .option("mergeSchema", "true").save(out)
    val back = spark.read.format("graft.sources.LakeSink").load(out)
    assert(back.columns.toSeq == Seq("id", "v", "w"))
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq ==
      Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(9.5))))
    // a later SUBSET append still works against the evolved schema
    Seq((4L, "d")).toDF("id", "v")
      .write.format("graft.sources.LakeSink").mode("append").save(out)
    assert(spark.read.format("graft.sources.LakeSink").load(out).count() == 4)
  }

  test("overwrite truncates previously committed part files") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_trunc")
    Seq(1L, 2L, 3L).toDF("v").write.format("graft.sources.LakeSink")
      .mode("append").save(out)
    Seq(10L, 20L).toDF("v").write.format("graft.sources.LakeSink")
      .mode("overwrite").save(out)
    val back = spark.read.schema(StructType(Seq(StructField("v", LongType))))
      .json(out)
    assert(canon(back) == Seq("[10]", "[20]"),
      s"overwrite must replace, not accumulate: ${canon(back)}")
  }

  test("job abort leaves NO partial files: neither destination nor staging") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_abort")
    val poison = spark.range(1000).as[Long]
      .map { i => if (i == 777L) throw new RuntimeException("graft-poison"); i }
      .toDF("v")
    val err = intercept[Exception] {
      poison.write.format("graft.sources.LakeSink").mode("append").save(out)
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(err).exists(t => Option(t.getMessage).exists(_.contains("graft-poison"))))
    assert(partFiles(out).isEmpty, s"destination leaked: ${partFiles(out)}")
    assert(stagingFiles(out).isEmpty, s"staging leaked: ${stagingFiles(out)}")
    assert(!Files.exists(Paths.get(out, "_SUCCESS")))
  }

  test("unsupported column type fails at planning, before any task writes") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_badtype")
    val err = intercept[Exception] {
      Seq((1L, Seq(1, 2))).toDF("v", "arr").write
        .format("graft.sources.LakeSink").mode("append").save(out)
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(err).exists(t =>
      Option(t.getMessage).exists(_.contains("unsupported column type"))))
    assert(partFiles(out).isEmpty && stagingFiles(out).isEmpty)
  }

  test("speculative duplicate: two attempts of one (epoch, partition) leave exactly one file") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val out = TempLakes.dir("graft_sink_spec_dup")
    LakeSinkFiles.ensureDirs(out)
    val schema = StructType(Seq(StructField("v", LongType)))
    val factory = new graft.sources.LakeSinkStreamingWriterFactory(schema, out)
    def row(v: Long) = new GenericInternalRow(Array[Any](v))

    // (a) coordinator path: attempt 1 wins task commit, attempt 2 is told
    // to abort — its attempt-unique .inprogress must vanish, the winner's
    // bytes must be the staged file
    val a1 = factory.createWriter(0, 1L, 7L)
    val a2 = factory.createWriter(0, 2L, 7L)
    a1.write(row(11L)); a2.write(row(22L))
    val msg = a1.commit()
    a2.abort()
    val staged = stagingFiles(out)
    assert(staged == Seq("part-e7-0.json.gz"),
      s"expected exactly the winner's final name, got $staged")
    val sw = new LakeSinkStreamingWrite(schema, out)
    sw.commit(7L, Array(msg))
    assert(partFiles(out) == Seq("part-e7-0.json.gz"))
    val back = spark.read.schema(schema).json(out)
    assert(canon(back) == Seq("[11]"), s"winner's content must survive: ${canon(back)}")

    // (b) the raced double-commit (coordinator bypassed entirely): the
    // deterministic (epoch, partition) final name makes the second task
    // commit REPLACE the first, never duplicate — one complete file, no
    // .inprogress leak
    val b1 = factory.createWriter(0, 3L, 8L)
    val b2 = factory.createWriter(0, 4L, 8L)
    b1.write(row(33L)); b2.write(row(44L))
    val m1 = b1.commit()
    val m2 = b2.commit()
    assert(stagingFiles(out) == Seq("part-e8-0.json.gz"),
      s"raced commits must converge on ONE staged file: ${stagingFiles(out)}")
    // whichever message the driver processes, the promoted name is the same
    sw.commit(8L, Array(m1, m2))
    assert(partFiles(out).count(_ == "part-e8-0.json.gz") == 1)
    val back8 = spark.read.schema(schema).json(out)
      .filter(col("v") >= 30L)
    assert(back8.count() == 1L, "exactly one attempt's single row, never both")
  }

  test("streaming kill/restart through the sink is exactly-once (no dup, no gap)") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_stream")
    val ckpt = TempLakes.dir("graft_sink_stream_ckpt")
    // source horizon grows 100 ids per run with a kill between runs: each
    // restart must resume from the checkpointed offset AND must not
    // re-append epochs the sink already committed
    def run(avail: Long) = {
      val q = spark.readStream.format("graft.sources.TelemetrySource")
        .option("rows", avail.toString).option("rowsPerBatch", "100").load()
        .writeStream.format("graft.sources.LakeSink")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .outputMode("append").start()
      q.awaitTermination()
    }
    (1 to 5).foreach(i => run(i * 100L))
    val batch = spark.read.format("graft.sources.TelemetrySource")
      .option("rows", "500").load()
    val back = spark.read.schema(batch.schema)
      .option("timestampFormat", LakeSink.TimestampFormat).json(out)
    assert(back.count() == 500L)
    assert(back.select($"id").distinct().count() == 500L, "duplicate ids = replayed epoch leaked")
    assert(canon(back) == canon(batch), "stitched lake must equal the batch scan")
    assert(stagingFiles(out).isEmpty)
  }

  test("partitioned write: Hive k=v layout, partition cols excluded from rows, discovery round-trip") {
    val out = TempLakes.dir("graft_sink_part")
    val src = graft.operators.Telemetry.twin(spark).filter(col("id") < 2000L)
      .withColumn("hr", hour(col("ts")))
    src.write.format("graft.sources.LakeSink")
      .option("partitionCols", "hr").mode("append").save(out)
    // layout: no part files at the root, hr=N directories instead
    assert(partFiles(out).isEmpty, "partitioned write must not leave root-level part files")
    val it = Files.list(Paths.get(out)).iterator()
    var dirs = List.empty[String]
    while (it.hasNext) {
      val p = it.next()
      if (Files.isDirectory(p)) dirs ::= p.getFileName.toString
    }
    assert(dirs.count(_.startsWith("hr=")) > 1, s"expected hr= dirs, saw $dirs")
    // rows must EXCLUDE the partition column (it lives in the dir name)
    val oneDir = Paths.get(out, dirs.find(_.startsWith("hr=")).get)
    val rawLine = {
      val fIt = Files.list(oneDir).iterator()
      var f: java.nio.file.Path = null
      while (fIt.hasNext) { val p = fIt.next(); if (p.toString.endsWith(".json.gz")) f = p }
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(Files.newInputStream(f)), "UTF-8"))
      try in.readLine() finally in.close()
    }
    assert(!rawLine.contains("\"hr\""), s"partition col leaked into the rows: $rawLine")
    // round trip: partition discovery + user schema restores hr with its type
    val back = spark.read.schema(src.schema)
      .option("timestampFormat", LakeSink.TimestampFormat).json(out)
      .select(src.schema.fieldNames.map(col).toIndexedSeq: _*)
    assert(canon(back) == canon(src), "partitioned round trip must be value-exact")
    // and the layout actually prunes: a partition filter reaches the scan
    val pruned = back.filter(col("hr") === 5)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("hr"),
      s"no partition pruning in:\n${plan.take(600)}")
    assert(canon(pruned) == canon(src.filter(col("hr") === 5)))
  }

  test("partitioned writes request clustering: one file per partition dir per job") {
    import spark.implicits._
    val df = (0 until 240).map(i => (i.toLong, i % 3)).toDF("id", "p").repartition(8)
    // default: RequiresDistributionAndOrdering clusters by the partition
    // columns — 8 incoming tasks × 3 dirs would spray up to 24 small
    // files; the requested Exchange lands exactly one per directory
    val out = TempLakes.dir("graft_sink_cluster")
    df.write.format("graft.sources.LakeSink").option("partitionCols", "p")
      .mode("append").save(out)
    assert(graft.sources.LakeMaintenance.committedFileCount(out) == 3,
      "clustered append must write one file per partition dir")
    // opt-out restores task-parallel writes (the many-small-files shape)
    val out2 = TempLakes.dir("graft_sink_nocluster")
    df.write.format("graft.sources.LakeSink").option("partitionCols", "p")
      .option("distributionMode", "none").mode("append").save(out2)
    assert(graft.sources.LakeMaintenance.committedFileCount(out2) > 3,
      "distributionMode=none must keep the incoming task partitioning")
    // identical rows either way
    val back = spark.read.format("graft.sources.LakeSink").load(out)
    assert(back.count() == 240L &&
      canon(back) == canon(spark.read.format("graft.sources.LakeSink").load(out2)))
  }

  test("sortBy write option orders rows within each written file (stats-tight layout)") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_sortby")
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 400).toList).map(_.toLong).toDF("id").repartition(4)
      .write.format("graft.sources.LakeSink").option("sortBy", "id")
      .mode("append").save(out)
    val files = partFiles(out)
    assert(files.size > 1, "precondition: several task files")
    files.foreach { f =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(Files.newInputStream(Paths.get(out, f))), "UTF-8"))
      val ids = try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(l => l.replaceAll("[^0-9]", "").toLong).toList
      finally in.close()
      assert(ids == ids.sorted, s"$f not sorted by the requested ordering")
    }
  }

  test("partitioned job abort sweeps the nested staging tree") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_part_abort")
    val poison = spark.range(500).as[Long]
      .map { i => if (i == 321L) throw new RuntimeException("graft-poison"); i }
      .toDF("v").withColumn("g", pmod(col("v"), lit(4L)))
    intercept[Exception] {
      poison.write.format("graft.sources.LakeSink")
        .option("partitionCols", "g").mode("append").save(out)
    }
    // nothing staged, nothing promoted — recursively
    val walked = Files.walk(Paths.get(out)).iterator()
    var leaked = List.empty[String]
    while (walked.hasNext) {
      val p = walked.next()
      if (Files.isRegularFile(p) && p.toString.contains("part-")) leaked ::= p.toString
    }
    assert(leaked.isEmpty, s"abort leaked: $leaked")
  }

  test("NULL and path-unsafe partition values fail the task loudly") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_part_null")
    val withNull = Seq((1L, "a"), (2L, null)).toDF("v", "g")
    val err = intercept[Exception] {
      withNull.write.format("graft.sources.LakeSink")
        .option("partitionCols", "g").mode("append").save(out)
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(err).exists(t =>
      Option(t.getMessage).exists(_.contains("NULL partition value"))))
    val unsafe = Seq((1L, "a/b")).toDF("v", "g")
    val err2 = intercept[Exception] {
      unsafe.write.format("graft.sources.LakeSink")
        .option("partitionCols", "g").mode("append").save(out)
    }
    assert(chain(err2).exists(t =>
      Option(t.getMessage).exists(_.contains("not path-safe"))))
  }

  test("partitioned STREAMING write: exactly-once across restart with k=v layout intact") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_part_stream")
    val ckpt = TempLakes.dir("graft_sink_part_stream_ckpt")
    // the full reference-sink semantics through the connector: streaming
    // telemetry, hour-partitioned lake layout, kill/restart exactly-once
    def run(avail: Long) = {
      val q = spark.readStream.format("graft.sources.TelemetrySource")
        .option("rows", avail.toString).option("rowsPerBatch", "100").load()
        .withColumn("hr", hour(col("ts")))
        .writeStream.format("graft.sources.LakeSink")
        .option("path", out).option("partitionCols", "hr")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .outputMode("append").start()
      q.awaitTermination()
    }
    (1 to 4).foreach(i => run(i * 100L))
    val batch = spark.read.format("graft.sources.TelemetrySource")
      .option("rows", "400").load().withColumn("hr", hour(col("ts")))
    val back = spark.read.schema(batch.schema)
      .option("timestampFormat", LakeSink.TimestampFormat).json(out)
      .select(batch.schema.fieldNames.map(col).toIndexedSeq: _*)
    assert(back.count() == 400L && back.select($"id").distinct().count() == 400L)
    assert(canon(back) == canon(batch),
      "partitioned streamed lake must equal the batch scan exactly once")
    assert(partFiles(out).isEmpty, "rows must live under hr= dirs, not the root")
    // staging keeps (empty) k=v dirs after promote — only FILES may not remain
    val sIt = Files.walk(LakeSinkFiles.stagingDir(out)).iterator()
    var leftover = List.empty[String]
    while (sIt.hasNext) {
      val p = sIt.next()
      if (Files.isRegularFile(p)) leftover ::= p.toString
    }
    assert(leftover.isEmpty, s"staging leaked files: $leftover")
  }

  test("a SECOND streaming query (fresh checkpoint) appends instead of silently discarding") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_twoq")
    // two INDEPENDENT streaming queries write to one lake table; both
    // restart their epochs at 0 — with epoch-only commit markers the
    // second query's epoch 0 would match the first query's marker and be
    // silently DISCARDED (lost data); queryId-scoped markers keep each
    // query's exactly-once ledger separate
    def run(ckpt: String): Unit = {
      val q = spark.readStream.format("graft.sources.TelemetrySource")
        .option("rows", "100").option("rowsPerBatch", "100").load()
        .writeStream.format("graft.sources.LakeSink")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .outputMode("append").start()
      q.awaitTermination()
    }
    run(TempLakes.dir("graft_sink_twoq_c1"))
    run(TempLakes.dir("graft_sink_twoq_c2"))
    val batch = spark.read.format("graft.sources.TelemetrySource")
      .option("rows", "100").load()
    val back = spark.read.schema(batch.schema)
      .option("timestampFormat", LakeSink.TimestampFormat).json(out)
    assert(back.count() == 200L,
      "both queries' rows must land — 100 means the second query was discarded")
    assert(back.groupBy($"id").count().filter(col("count") =!= 2L).count() == 0L,
      "each id appears exactly once PER query")
    // the commit log holds two distinct query-scoped marker families
    val mIt = Files.list(LakeSinkFiles.commitsDir(out)).iterator()
    var tags = Set.empty[String]
    while (mIt.hasNext) tags += mIt.next().getFileName.toString.takeWhile(_ != '-')
    assert(tags.size == 2, s"expected two query marker families, saw $tags")
  }

  test("a REDELIVERED epoch is discarded by the commit log, not re-promoted") {
    val out = TempLakes.dir("graft_sink_redeliver")
    LakeSinkFiles.ensureDirs(out)
    val schema = StructType(Seq(StructField("v", LongType)))
    val sw = new LakeSinkStreamingWrite(schema, out)
    def stage(name: String, content: String): Unit =
      Files.write(LakeSinkFiles.stagingDir(out).resolve(name), content.getBytes)
    // first delivery of epoch 7
    stage("part-e7-0.json.gz", "first")
    sw.commit(7L, Array(LakeSinkCommit(Seq("part-e7-0.json.gz"))))
    assert(partFiles(out) == Seq("part-e7-0.json.gz"))
    assert(Files.exists(LakeSinkFiles.commitsDir(out).resolve("7")))
    // crash between sink commit and checkpoint write → engine re-runs
    // epoch 7 and re-delivers the commit: the marker must win
    stage("part-e7-0.json.gz", "second")
    sw.commit(7L, Array(LakeSinkCommit(Seq("part-e7-0.json.gz"))))
    assert(stagingFiles(out).isEmpty, "re-staged file must be discarded")
    assert(new String(Files.readAllBytes(Paths.get(out, "part-e7-0.json.gz"))) == "first",
      "the FIRST delivery's bytes must survive the redelivery")
  }

  test("streaming mergeSchema: a restarted query's new column evolves once, exactly-once held") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_sevolve")
    val ckpt = TempLakes.dir("graft_sink_sevolve_ckpt")
    // one long-lived pipeline: run 1 writes the narrow schema; the
    // upstream then gains a column and the RESTARTED run (same
    // checkpoint) carries it — with mergeSchema the first committed
    // epoch of the evolved run auto-ADD-COLUMNs through the same
    // manifest path batch appends use; later restarts replay bit-equal
    def run(avail: Long, wide: Boolean): Unit = {
      val base = spark.readStream.format("graft.sources.TelemetrySource")
        .option("rows", avail.toString).option("rowsPerBatch", "100").load()
      val proj =
        if (wide) base.select(col("id"), col("temperature"), col("vibration"))
        else base.select(col("id"), col("temperature"))
      val q = proj.writeStream.format("graft.sources.LakeSink")
        .option("path", out).option("checkpointLocation", ckpt)
        .option("mergeSchema", wide.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .outputMode("append").start()
      q.awaitTermination()
    }
    run(200L, wide = false)
    run(400L, wide = true) // the evolving run
    run(600L, wide = true) // restart INSIDE the evolved world
    val back = spark.read.format("graft.sources.LakeSink").load(out)
    assert(back.columns.toSeq == Seq("id", "temperature", "vibration"))
    assert(back.count() == 600L &&
      back.select($"id").distinct().count() == 600L,
      "evolution must not break exactly-once (no dup, no gap)")
    // pre-evolution rows null-fill; evolved rows carry real values
    assert(back.filter(col("id") < 200L && col("vibration").isNotNull).count() == 0L)
    assert(back.filter(col("id") >= 200L && col("vibration").isNull).count() == 0L)
    // values equal the batch source exactly on the shared columns
    val batch = spark.read.format("graft.sources.TelemetrySource")
      .option("rows", "600").load()
    assert(canon(back.filter(col("id") >= 200L)
        .select(col("id"), col("temperature"), col("vibration"))) ==
      canon(batch.filter(col("id") >= 200L)
        .select(col("id"), col("temperature"), col("vibration"))))
    // a wider stream WITHOUT the option still refuses at commit
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft.sources.TelemetrySource")
        .option("rows", "700").option("rowsPerBatch", "100").load()
        .select(col("id"), col("temperature"), col("vibration"),
          col("machine_id"))
        .writeStream.format("graft.sources.LakeSink")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .outputMode("append").start()
      q.awaitTermination()
    }
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(rootMsg(e).contains("not in the table schema"), rootMsg(e).take(300))
    assert(spark.read.format("graft.sources.LakeSink").load(out)
      .columns.toSeq == Seq("id", "temperature", "vibration"),
      "a refused stream must not evolve the manifest")
  }

  test("a REDELIVERED epoch never evolves the manifest; the next fresh epoch does") {
    val out = TempLakes.dir("graft_sink_sevolve_redeliver")
    LakeSinkFiles.ensureDirs(out)
    val narrow = StructType(Seq(StructField("v", LongType)))
    val swA = new LakeSinkStreamingWrite(narrow, out)
    def stage(name: String, content: String): Unit =
      Files.write(LakeSinkFiles.stagingDir(out).resolve(name), content.getBytes)
    stage("part-e7-0.json.gz", "first")
    swA.commit(7L, Array(LakeSinkCommit(Seq("part-e7-0.json.gz"))))
    assert(LakeManifest.read(out).get.schema.fieldNames.toSeq == Seq("v"))
    // the query restarts EVOLVED and re-delivers epoch 7 (crash between
    // sink commit and checkpoint write): the marker discards the data,
    // and the manifest must stay untouched — the discarded epoch's rows
    // landed under the OLD schema and remain the table's truth
    val wide = StructType(Seq(StructField("v", LongType), StructField("w", LongType)))
    val swB = new LakeSinkStreamingWrite(wide, out, mergeSchema = true)
    stage("part-e7-0.json.gz", "second")
    swB.commit(7L, Array(LakeSinkCommit(Seq("part-e7-0.json.gz"))))
    assert(LakeManifest.read(out).get.schema.fieldNames.toSeq == Seq("v"),
      "a redelivered epoch must not evolve the manifest")
    assert(new String(Files.readAllBytes(Paths.get(out, "part-e7-0.json.gz"))) == "first")
    // the next FRESH epoch carries the wider schema and evolves exactly once
    stage("part-e8-0.json.gz", "third")
    swB.commit(8L, Array(LakeSinkCommit(Seq("part-e8-0.json.gz"))))
    assert(LakeManifest.read(out).get.schema.fieldNames.toSeq == Seq("v", "w"))
  }

  test("txnAppId/txnVersion: replayed appends no-op; crash-before-marker converges") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_txn")
    def write(v: Long, rows: Seq[Long]): Unit =
      rows.toDF("id").repartition(2).write.format("graft.sources.LakeSink")
        .mode("append").option("txnAppId", "job_1")
        .option("txnVersion", v.toString).save(out)
    def count: Long =
      spark.read.format("graft.sources.LakeSink").load(out).count()
    write(1, 1L to 10L)
    val versionsAfter1 = LakeSinkFiles.listVersions(out).size
    // a FULL replay of the same (appId, version) pair must no-op: zero
    // duplicate rows AND no new version record (.history-observable)
    write(1, 1L to 10L)
    assert(count == 10L, "replayed txn append duplicated rows")
    assert(LakeSinkFiles.listVersions(out).size == versionsAfter1,
      "a no-op'd replay must not record a version")
    assert(stagingFiles(out).isEmpty, "the replay's staged files must drain")
    write(2, 11L to 15L)
    assert(count == 15L)
    // CRASH WINDOW: marker removed after a successful commit simulates a
    // crash between promote and marker — the replay's DETERMINISTIC file
    // names re-converge the promoted state instead of duplicating
    write(3, 16L to 20L)
    assert(count == 20L)
    val marker = LakeSinkFiles.commitsDir(out).resolve("txn-job_1-3")
    assert(Files.exists(marker), "txn commit must leave its marker")
    Files.delete(marker)
    write(3, 16L to 20L)
    assert(count == 20L,
      "crash-before-marker replay must converge on the same file names")
    assert(Files.exists(marker), "the converging replay re-writes the marker")
    // refusals: one option alone, bad appId, txn on truncate
    import spark.implicits._
    val e1 = intercept[Exception](Seq(1L).toDF("id")
      .write.format("graft.sources.LakeSink").mode("append")
      .option("txnAppId", "solo").save(out))
    assert(e1.getMessage.contains("together"), e1.getMessage)
    val e2 = intercept[Exception](Seq(1L).toDF("id")
      .write.format("graft.sources.LakeSink").mode("append")
      .option("txnAppId", "bad/app").option("txnVersion", "1").save(out))
    assert(e2.getMessage.contains("txnAppId"), e2.getMessage)
    val e3 = intercept[Exception](Seq(1L).toDF("id")
      .write.format("graft.sources.LakeSink").mode("overwrite")
      .option("txnAppId", "job_1").option("txnVersion", "9").save(out))
    assert(e3.getMessage.contains("append"), e3.getMessage)
    assert(count == 20L, "refused writes must not mutate the table")
  }

  test("txn hardening: negative versions refuse; prefix sweeps and repartitioned replays are safe") {
    import spark.implicits._
    val out = TempLakes.dir("graft_sink_txnh")
    def write(v: Long, parts: Int, rows: Seq[Long]): Unit =
      rows.toDF("id").repartition(parts).write.format("graft.sources.LakeSink")
        .mode("append").option("txnAppId", "loader")
        .option("txnVersion", v.toString).save(out)
    def count: Long =
      spark.read.format("graft.sources.LakeSink").load(out).count()
    // negative versions refuse (they would make txn-<app>-<v> ambiguous
    // against an appId ending in '-')
    val e1 = intercept[Exception](write(-1, 1, Seq(1L)))
    assert(e1.getMessage.contains("non-negative"), e1.getMessage)
    // PREFIX SAFETY: a replayed (loader, 1) no-op must not sweep a
    // concurrent (loader, 10)'s staged files (substring tags — review r14)
    write(1, 2, 1L to 10L)
    val staged10 = graft.sources.LakeSinkFiles.stagingDir(out)
      .resolve("part-txnloader-10-0.json.gz.txnloader-10-0-a9.inprogress")
    java.nio.file.Files.write(staged10, "x".getBytes)
    write(1, 2, 1L to 10L) // replay: discards ITS files, sweeps ITS tag
    assert(java.nio.file.Files.exists(staged10),
      "a replay of (loader,1) must not sweep (loader,10)'s staged files")
    java.nio.file.Files.delete(staged10)
    assert(count == 10L)
    // REPARTITIONED crash replay: marker removed (crash-before-marker),
    // the replay runs with FEWER partitions — index-orphans of the first
    // attempt must retire, not duplicate (review r14)
    write(2, 4, 11L to 30L)
    assert(count == 30L)
    java.nio.file.Files.delete(
      graft.sources.LakeSinkFiles.commitsDir(out).resolve("txn-loader-2"))
    write(2, 1, 11L to 30L) // same data, ONE partition
    assert(count == 30L,
      "a repartitioned replay must converge, not duplicate")
    // the orphaned wide-attempt files are retired, not live
    val live = graft.sources.LakeSinkFiles.listLive(out, Seq.empty)
      .map(_._1.getFileName.toString)
    assert(live.count(_.startsWith("part-txnloader-2-")) == 1,
      s"only the replay's single file may stay live: $live")
  }

  test("foreachBatch + txn: a crash between sink commit and checkpoint replays exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val out = TempLakes.dir("graft_sink_fbtxn")
    val ckpt = TempLakes.dir("graft_sink_fbtxn_ck")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    ms.addData(1L to 10L: _*)
    @volatile var planted = false
    def start() = ms.toDF().toDF("id").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.write.format("graft.sources.LakeSink").mode("append")
          .option("txnAppId", "fb").option("txnVersion", batchId.toString)
          .save(out)
        // crash AFTER the sink committed, BEFORE the checkpoint records
        // the batch — the restart MUST replay this batchId
        if (!planted) { planted = true; throw new RuntimeException("planted crash") }
        ()
      }.start()
    val q1 = start()
    intercept[Exception](q1.awaitTermination())
    assert(planted, "the crash must have fired after the sink commit")
    val mid = spark.read.format("graft.sources.LakeSink").load(out).count()
    assert(mid == 10L, s"first attempt committed before the crash ($mid)")
    val q2 = start() // replays batch 0 against the txn marker
    q2.awaitTermination()
    val fin = spark.read.format("graft.sources.LakeSink").load(out).count()
    assert(fin == 10L, s"replayed foreachBatch must no-op, got $fin rows")
    assert(LakeSinkFiles.listVersions(out).size == 1,
      ".history must show exactly one data commit")
  }

  test("streaming writes refuse txn options loudly (never silently dropped)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val out = TempLakes.dir("graft_sink_stxn")
    val ckpt = TempLakes.dir("graft_sink_stxn_ck")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    ms.addData(1L, 2L)
    val q = ms.toDF().toDF("id").writeStream
      .format("graft.sources.LakeSink")
      .option("checkpointLocation", ckpt)
      .option("txnAppId", "s").option("txnVersion", "0")
      .trigger(Trigger.AvailableNow())
      .start(out)
    val e = intercept[Exception](q.awaitTermination())
    assert(e.getMessage.contains("txnAppId") ||
      Option(e.getCause).exists(_.getMessage.contains("txnAppId")), e.getMessage)
  }

  test("streaming sortBy: explicit option refuses; inherited graft.sortBy stands down") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // EXPLICIT sortBy on a stream: loud refusal (epoch commits record no
    // sorted-ledger claims — the option's promise cannot hold)
    val out1 = TempLakes.dir("graft_sink_ssort")
    val ms1 = MemoryStream[Long]
    ms1.addData(3L, 1L, 2L)
    val q1 = ms1.toDF().toDF("id").writeStream
      .format("graft.sources.LakeSink")
      .option("checkpointLocation", TempLakes.dir("graft_sink_ssort_ck"))
      .option("sortBy", "id")
      .trigger(Trigger.AvailableNow())
      .start(out1)
    val e = intercept[Exception](q1.awaitTermination())
    assert(e.getMessage.contains("sortBy") ||
      Option(e.getCause).exists(_.getMessage.contains("sortBy")), e.getMessage)
    // INHERITED graft.sortBy: the table property adapts — the stream
    // lands (no refusal) and the configured-effect boundary is ASSERTED:
    // streamed files carry NO sorted claims (r13 lesson: assert the
    // outcome, not just execution success)
    val lake = TempLakes.dir("graft_sink_ssort_lake")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    spark.sql("""CREATE TABLE graft.lake.st (id BIGINT)
                 TBLPROPERTIES ('graft.sortBy'='id')""")
    // a BATCH append inherits the sort and claims its files
    Seq(5L, 3L, 4L).toDF("id").write.format("graft.sources.LakeSink")
      .mode("append").save(s"$lake/st")
    val batchClaims = LakeSinkFiles.readSorted(s"$lake/st")
    assert(batchClaims.nonEmpty && batchClaims.values.forall(_ == Seq("id")),
      s"batch appends must inherit the claim: $batchClaims")
    val ms2 = MemoryStream[Long]
    ms2.addData(9L, 7L, 8L)
    val q2 = ms2.toDF().toDF("id").writeStream
      .format("graft.sources.LakeSink")
      .option("checkpointLocation", TempLakes.dir("graft_sink_ssort_ck2"))
      .trigger(Trigger.AvailableNow())
      .start(s"$lake/st")
    q2.awaitTermination()
    assert(spark.read.format("graft.sources.LakeSink").load(s"$lake/st")
      .count() == 6L, "the inherited-default stream must land")
    val afterStream = LakeSinkFiles.readSorted(s"$lake/st")
    assert(afterStream == batchClaims,
      s"streamed files must NOT claim sortedness: $afterStream")
  }

  test("streaming abort discards staged files for the epoch") {
    val out = TempLakes.dir("graft_sink_sabort")
    LakeSinkFiles.ensureDirs(out)
    val schema = StructType(Seq(StructField("v", LongType)))
    val sw = new LakeSinkStreamingWrite(schema, out)
    Files.write(LakeSinkFiles.stagingDir(out).resolve("part-e3-0.json.gz"), "x".getBytes)
    Files.write(LakeSinkFiles.stagingDir(out)
      .resolve("part-e3-1.json.gz.e3-1-a42.inprogress"), "y".getBytes)
    sw.abort(3L, Array(LakeSinkCommit(Seq("part-e3-0.json.gz"))))
    assert(stagingFiles(out).isEmpty,
      "abort must remove both committed-message files and in-progress leftovers")
    assert(partFiles(out).isEmpty)
  }
}
