package graft

/** The one session builder and key selector behind every entry point:
  * the session they build, and a typo'd key failing before any work. */
class HarnessSpec extends GraftSpec {

  test("the shared session: UTC, graft's extensions, one shuffle partition per core") {
    val s = Harness.session(4)
    assert(s eq spark, "the builder returns the active session, not a new one")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.sql.extensions") ==
      "graft.plans.GraftViewExtensions")
    assert(s.sparkContext.defaultParallelism == 4)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    // the checkpoint manager this session builds: LocalCheckpointSpec
  }

  test("select: every query when no key is given, exactly the named ones otherwise") {
    assert(Harness.select(Nil).keySet == SparkEntry.queries.keySet)
    assert(Harness.select(Seq("q23_stats_agg", "q01_pricing_summary")).keySet ==
      Set("q23_stats_agg", "q01_pricing_summary"))
  }

  test("a typo'd key fails every entry point up front, with Bench's message") {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_harness_never_written"
    val mains = Seq[(String, Array[String] => Unit)](
      "Bench" -> (a => Bench.main(a)),
      "Verify" -> (a => Verify.main(Array(sfTiny, out) ++ a)),
      "Profile" -> (a => Profile.main(sfTiny +: a)),
      "Explain" -> (a => Explain.main(sfTiny +: a)))
    val before = settledJobId
    mains.foreach { case (name, main) =>
      val e = intercept[IllegalArgumentException](main(Array("q23_stats_agg", "q23_stats_agx")))
      assert(e.getMessage == "requirement failed: unknown query keys: q23_stats_agx", name)
    }
    assert(settledJobId == before, "no entry point ran a job before failing")
    assert(!spark.sparkContext.isStopped)
  }
}
