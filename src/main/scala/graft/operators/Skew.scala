package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._

/** Skew mitigation primitives (SURVEY.md: "salting for skew, AQE for
  * runtime re-plan").
  *
  * AQE's skew-join handles sort-merge skew automatically at runtime; the
  * manual salting here is for the cases AQE cannot split — e.g. a skewed
  * shuffle *aggregation* key, or a skewed join where one key dominates a
  * whole executor. Deterministic: the salt is a hash of stable columns,
  * never rand(), so results are reproducible and oracle-comparable.
  */
object Skew {

  /** Salted equi-join: fact side gets a deterministic salt in [0, salts)
    * from `saltFrom` (a stable high-cardinality fact column); the dim side
    * is replicated `salts`× . The shuffle key becomes (key, salt), so one
    * hot key spreads over `salts` reducers. Semantically identical to
    * `fact.join(dim, factKey === dimKey, "inner")`. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: Column,
    dimKey: Column, saltFrom: Column, salts: Int): DataFrame = {
    val salted = fact.withColumn("__salt", pmod(hash(saltFrom), lit(salts)))
    val replicated = dim
      .withColumn("__salt_arr", sequence(lit(0), lit(salts - 1)))
      .withColumn("__salt", explode(col("__salt_arr")))
      .drop("__salt_arr")
    salted.join(replicated,
      factKey === dimKey && salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** Two-phase (salted) aggregation for a skewed group key: partial
    * aggregate on (key, salt), then final aggregate on key. For algebraic
    * aggregates (sum/count/min/max) this is exactly what Catalyst's
    * partial+final HashAggregate already does map-side — this explicit
    * form exists for aggregates whose partial state must stay bounded per
    * reducer (e.g. collect-like or sketch merges) where one hot key would
    * otherwise overwhelm a single final task. */
  def saltedSum(df: DataFrame, key: Column, value: Column, salts: Int,
    saltFrom: Column): DataFrame = {
    df.withColumn("__salt", pmod(hash(saltFrom), lit(salts)))
      .groupBy(key.as("k"), col("__salt"))
      .agg(sum(value.cast("decimal(38,10)")).as("partial"))
      .groupBy(col("k"))
      .agg(sum(col("partial")).cast("double").as("total"))
  }

  /** Fan a partial aggregate's input out to the session's parallelism
    * when its scans have fewer splits than `numShufflePartitions`: the
    * partials (exact decimal moments, percentile buffers) then build on
    * every core instead of the few tasks a single small file gives. A
    * scan that already has that many splits builds them in parallel as
    * it is, so it gets no extra full-table exchange. Decided from the
    * input's physical plan, which planning lists but runs no job for. */
  def fanOut(df: DataFrame, key: Column): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (scanSplits(df) < n) df.repartition(n, key) else df
  }

  /** Input splits of the file scans `df` plans, counting at most one per
    * file: a parquet row group is read by the one split holding its
    * midpoint, so a single file cut into many byte ranges may still give
    * only one working task per row group. */
  private[graft] def scanSplits(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collectLeaves().collect {
      case f: FileSourceScanExec =>
        val parts = f.inputRDD.partitions
        val files = parts.iterator.collect { case p: FilePartition => p.files }
          .flatMap(_.iterator.map(_.filePath)).toSet.size
        math.min(parts.length, files)
    }.sum
}
