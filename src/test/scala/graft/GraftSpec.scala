package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session; specs run
  * in one forked JVM per `Test / fork := true`).
  */
object GraftSpec {
  // view machinery only — NOT the umbrella GraftExtensions, whose
  // VectorKernelRule is A/B-tested per-spec via experimental
  lazy val spark: SparkSession = Harness.session(4)
  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"
}

abstract class GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSpec.spark
  def sfTiny: String = GraftSpec.sfTiny
  def sfSmall: String = GraftSpec.sfSmall

  /** Queries leave their intermediates cached until `Harness.clean`, so
    * each suite drops them before the next one shares the session. */
  override def afterAll(): Unit =
    try Harness.clean(spark) finally super.afterAll()

  /** The highest job id the session has started, once job-start events
    * have settled. They reach the status store asynchronously, so wait
    * until the value is stable across two polls. The MAX id, not the
    * id-list length: ids are globally monotone, while the status store
    * evicts entries past spark.ui.retainedJobs (a length once went
    * negative across the full suite). */
  protected def settledJobId: Int = {
    val tracker = spark.sparkContext.statusTracker
    def maxId: Int = tracker.getJobIdsForGroup(null).foldLeft(-1)(math.max)
    var prev = -2
    var cur = maxId
    while (cur != prev) { Thread.sleep(200); prev = cur; cur = maxId }
    cur
  }
}
