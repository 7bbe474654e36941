package graft

import java.util.Locale

import org.apache.spark.sql.functions._

/** One-off empirical probe of the lake METADATA tier at many-small-files
  * scale — the regime the commit-time ledgers exist for (a streaming
  * sink's one-object-per-epoch pathology): build a date-partitioned lake
  * table with thousands of committed gzip files (clustering deliberately
  * opted out), then measure the driver-side metadata answers a dashboard
  * would issue. Turns the "count(*) is O(#files) arithmetic at 100 TB"
  * plan-shape claims into wall-clock numbers. Not part of the driver
  * contract; run via `tools/lake_meta_probe.sh`; earlier results are
  * in `git show 0a8f65e:CLAUDE.md`. */
object LakeMetaProbe {
  def main(args: Array[String]): Unit = {
    val targetFiles = args.headOption.map(_.toInt).getOrElse(3000)
    val spark = Harness.session(Harness.cores)

    val days = 10
    val tasks = targetFiles / days // each task writes one file per day dir
    val root = graft.operators.TempLakes.dir("graft_meta_probe")
    spark.conf.set("spark.sql.catalog.graft_probe", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_probe.lake", root)

    spark.range(targetFiles.toLong * 20)
      .select(col("id"),
        date_add(lit(java.sql.Date.valueOf("2026-01-01")),
          (col("id") % days).cast("int")).as("d"),
        (col("id") % 1000).cast("double").as("v"))
      .repartition(tasks)
      .writeTo("graft_probe.lake.meta_probe")
      .option("distributionMode", "none") // deliberately many small files
      .partitionedBy(col("d"))
      .create()

    val nFiles = graft.sources.LakeMaintenance.committedFileCount(s"$root/meta_probe")

    def ms(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    def f1(v: Double): String = String.format(Locale.ROOT, "%.1f", Double.box(v))

    // warm the FS cache once, then measure each metadata answer
    spark.sql("SELECT count(*) FROM graft_probe.lake.meta_probe").collect()

    val tCount = ms {
      val df = spark.sql("SELECT count(*) AS n FROM graft_probe.lake.meta_probe")
      require(df.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      require(df.collect()(0).getLong(0) == targetFiles.toLong * 20)
    }
    val tRollup = ms {
      val df = spark.sql(
        """SELECT d, count(*) AS n, min(v) AS mn, max(v) AS mx
           FROM graft_probe.lake.meta_probe GROUP BY d""")
      require(df.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
      require(df.collect().length == days)
    }
    val tPrunedPlan = ms {
      // planning only: a one-day pruned scan over the full listing
      spark.table("graft_probe.lake.meta_probe")
        .filter(col("d") === lit(java.sql.Date.valueOf("2026-01-03")))
        .queryExecution.executedPlan.toString
    }
    val tFilesTable = ms {
      require(spark.sql("SELECT count(*) AS n FROM graft_probe.lake.meta_probe.files")
        .collect()(0).getLong(0) == nFiles.toLong)
    }
    val tSnapshot = ms {
      require(spark.sql("SELECT count(*) FROM graft_probe.lake.meta_probe VERSION AS OF 1")
        .collect()(0).getLong(0) == targetFiles.toLong * 20)
    }

    // --- bloom-ledger cost at many-small-files scale (r12) -----------------
    //
    // Bloom bits ride the stats blob, so a bloom'd table's needle lookup
    // pays ONE version-record read at planning; this measures that read against
    // the skip it buys and against the no-bloom control (which must open
    // every straddling file). Bits deliberately sized small (2^13) for
    // the many-tiny-files regime — the option's own guidance: size bits
    // to the file's row count, compact before blooming a spray of
    // epoch-files.
    val bloomFiles = math.max(targetFiles / 6, 100)
    val bRoot = graft.operators.TempLakes.dir("graft_bloom_probe")
    spark.range(bloomFiles.toLong * 20)
      .select(col("id"), (col("id") % 997).cast("double").as("v"))
      .repartition(bloomFiles)
      .write.format("graft.sources.LakeSink").mode("append")
      .option("distributionMode", "none")
      .option("bloomFilterColumns", "id")
      .option("bloomFilterBits", (1 << 13).toString)
      .save(bRoot)
    // the record every planning of the table reads (files, vectors, facts)
    val recordKb = java.nio.file.Files.size(graft.sources.LakeSinkFiles.versionsDir(bRoot)
      .resolve(graft.sources.LakeSinkFiles.versionName(
        graft.sources.LakeSinkFiles.listVersions(bRoot).last))) / 1024
    spark.read.format("graft.sources.LakeSink").load(bRoot)
      .filter(col("id") === 1L).collect() // warm
    val needle = bloomFiles.toLong * 20 / 2 + 1 // always inside the id range
    val tNeedle = ms {
      val q = spark.read.format("graft.sources.LakeSink").load(bRoot)
        .filter(col("id") === needle)
      require(q.collect().length == 1)
      val m = "skippedFiles=(\\d+)".r
        .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      require(m.exists(_.group(1).toInt >= bloomFiles - 2), s"skip ${m.map(_.group(1))}")
    }

    println(s"""{"files":$nFiles,"rows":${targetFiles * 20},""" +
      s""""count_pushed_ms":${f1(tCount)},"rollup_pushed_ms":${f1(tRollup)},""" +
      s""""pruned_plan_ms":${f1(tPrunedPlan)},"files_table_ms":${f1(tFilesTable)},""" +
      s""""snapshot_count_ms":${f1(tSnapshot)},""" +
      s""""bloom_files":$bloomFiles,"bloom_record_kb":$recordKb,""" +
      s""""bloom_needle_ms":${f1(tNeedle)}}""")
    spark.stop()
  }
}
