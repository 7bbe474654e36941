package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // median-of-REPS per query: this VM has episodic CPU steal that can
    // randomly inflate single-shot timings 5-30 s (measured r3: a uniform
    // ~1.4x drift on code-untouched queries) — the median of 3 independent
    // runs makes cross-round deltas attributable to code, not the VM
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // optional args = query keys to bench (default: all) — local iteration aid
    val selected = Harness.select(args)
    val spark = Harness.session(Harness.cores)
    // warmup: pay session/codegen/parquet-footer startup outside the timings
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    val results = selected.map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        // per-rep session hygiene, outside the timed region: drop cached
        // plans AND any persistent RDD blocks a previous run left behind
        // (MLlib training caches, localCheckpoint blocks) — without this,
        // leftover storage + deferred GC lands on whichever run comes next
        // and makes timings order-dependent.
        Harness.clean(spark)
        val t0 = System.nanoTime()
        // noop sink, not count(): count() lets Parquet count-star pushdown
        // and partial-agg collapse under-time scan-heavy shapes; the noop
        // write materializes every output row through the full plan
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          Console.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          -1.0 } // sentinel: a crashing run must not look like a fast one
      }
      val ok = times.filter(_ >= 0)
      // lower median of the successful reps (index (n-1)/2): for 3 reps the
      // true median, for 2 the min, for 1 itself; -1.0 if every rep crashed
      val sec = if (ok.isEmpty) -1.0 else ok.sorted.apply((ok.size - 1) / 2)
      name -> sec
    }
    import Harness.f3
    // 3-decimal rounding keeps the whole line short enough to survive the
    // driver's bounded tail capture (full-precision lines got truncated →
    // unparseable in r1/r2); Locale.ROOT so a comma-decimal default locale
    // can't emit invalid JSON
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val failedKeys = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    // failures are EXCLUDED from the headline total (a crash must not look
    // like a speedup when only totals are compared) and therefore reported
    // explicitly: a count always, the keys whenever there are any
    val total = results.values.filter(_ >= 0).sum
    val failuresField = "\"failures\":" + failedKeys.size +
      (if (failedKeys.nonEmpty) ",\"failed\":" + failedKeys.mkString("[", ",", "]") else "")
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec",$failuresField,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // ALSO persist the complete artifact: the driver's bounded tail capture
    // keeps only ~2 KB of stdout (75 of 250 per-query timings survive per
    // round), so the committed file is the only full per-query record.
    // Written only for full runs — a filtered local iteration must not
    // overwrite the committed full sweep.
    if (args.isEmpty) {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), line + "\n")
    }
    spark.stop()
  }
}
