package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial-skew scale probe: the uniform [[ScaleProbe]] replicates the
  * corpus evenly, but real crawls are skewed — one dominant language and
  * corpus-spanning duplicate cliques. This probe rebuilds the ×f replicas
  * with (a) 90 % of documents forced into ONE language, and (b) 10 % of
  * documents/vectors pulled into 5 duplicate cliques whose text/embedding
  * is IDENTICAL across replicas, so each clique's size grows linearly
  * with f (a ×10 corpus has ×10-larger cliques, not 10 disjoint copies).
  * That is exactly the load the capped-bucket designs (BandBucketCap,
  * salted rankings) exist for; measuring d11/m01/e09/s04 under it turns
  * "the cap holds under skew" into a number. One-off diagnostic (earlier
  * results in `git show 0a8f65e:CLAUDE.md`), run via `tools/skew_probe.sh`.
  */
object SkewProbe {
  private val Offset = 10000000L

  private def replicateSkew(s: SparkSession, base: String, f: Int, out: String): Unit = {
    import s.implicits._
    val k = explode(sequence(lit(0), lit(f - 1))).as("k")
    // clique membership and id come from the PRE-offset doc_id, so the
    // same 5 clique texts recur in every replica (cliques span replicas);
    // non-members keep ScaleProbe's per-replica token prefix (disjoint)
    val isClique = pmod($"doc_id", lit(50L)) < 5
    val cliqueText = concat(lit("duplicate clique payload number "),
      pmod($"doc_id", lit(5L)).cast("string"),
      lit(" the quick brown fox jumps over the lazy dog and keeps running far beyond the fence line into the night"))
    val docs = s.read.parquet(s"$base/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source", k)
      .select(($"doc_id" + $"k" * Offset).as("new_id"),
        when(isClique, cliqueText)
          .when($"k" === 0, $"text")
          .otherwise(array_join(transform(split($"text", "\\s+"),
            t => concat(lit("r"), $"k", lit("_"), t)), " ")).as("text"),
        when(pmod($"doc_id", lit(10L)) < 9, lit("en")).otherwise($"lang").as("lang"),
        $"source")
      .withColumnRenamed("new_id", "doc_id")
      .withColumn("n_chars", length($"text"))
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")
    // embedding cliques: 10 % of vectors collapse onto 5 constant vectors
    // (identical across replicas) — every member of a clique lands in the
    // same hyperplane bucket / LSH bucket with cosine exactly 1
    val isVClique = pmod($"vec_id", lit(50L)) < 5
    val cliqueVec = transform(sequence(lit(0), lit(63)),
      j => cos(j.cast("double") * (pmod($"vec_id", lit(5L)).cast("double") + 1.0)))
    val emb = s.read.parquet(s"$base/embeddings.parquet")
      .select($"vec_id", $"embedding", $"label", k)
      .select(($"vec_id" + $"k" * Offset).as("vec_id"),
        when(isVClique, cliqueVec)
          .otherwise($"embedding".cast("array<double>")).as("embedding"),
        $"label")
    emb.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = "/tmp/graft_skew"
    val spark = Harness.session(Harness.cores)

    val queries: Seq[(String, Seq[Int], Harness.Query)] = Seq(
      ("m01_minhash_pairs", Seq(1, 4), operators.DedupLsh.m01MinHashPairs),
      ("d11_lsh_clusters", Seq(1, 4), operators.Corpus.d11LshClusters),
      ("e09_neardup_ann", Seq(1, 4), operators.Similarity.e09NearDupAnn),
      ("s04_balanced_sample", Seq(1, 4, 10), operators.Advanced.s04BalancedSample),
      // r6 additions riding the same capped candidate machinery: d51/d53
      // verify over lshCandidatePairs, x10 has its own FrameDfCap —
      // duplicate cliques are exactly the load those caps bound
      ("d51_edit_dedup", Seq(1, 4), operators.DedupLsh.d51EditDedup),
      ("d53_neardup_leakage", Seq(1, 4), operators.DedupLsh.d53NeardupLeakage),
      ("x10_frame_overlap", Seq(1, 4), operators.Multimodal.x10FrameOverlap),
      // d54: the per-prefix-block sort puts each block on ONE task and the
      // clique corpus shares one 40-char prefix — the hot-block case SNM
      // is known weak on; measured to decide whether the multi-pass
      // remedy is needed
      ("d54_sorted_neighborhood", Seq(1, 4), operators.TextOps.d54SortedNeighborhood),
      // r11: winnowing's fingerprint-fan-out cap (WinFpCap=64) — clique
      // members share entire fingerprint SETS, the exact load the cap
      // drops before the pair join
      ("d59_winnowing", Seq(1, 4), operators.TextOps.d59Winnowing),
      // r12: exact-substring report — NO pair join by design (per-doc
      // spans, the Lee et al. removal shape); clique replicas add linear
      // gram volume, so the slope should sit near the scan-linear band
      ("d60_exact_substrings", Seq(1, 4), operators.TextOps.d60ExactSubstrings))

    // optional args beyond the base dir = query-name filter (local iteration)
    Harness.slopes(spark, queries, args.drop(1).toSet, out)(replicateSkew(spark, base, _, _))
    spark.stop()
  }
}
