package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off empirical scale probe for the headline heavy queries: blow the
  * sf0.1 documents/embeddings tables up by replication factors, time the
  * queries at each factor, and report fitted scaling exponents
  * (ln(t_f/t_1)/ln(f)) — turning the "linear at 100 TB" plan-shape claims
  * into measured slopes. Not part of the driver contract; run via
  * `tools/scale_probe.sh`; earlier results are in `git show 0a8f65e:CLAUDE.md`.
  *
  * Replica construction keeps the per-replica structure of the base
  * corpus while keeping replicas DISJOINT, so the workload grows the way
  * a bigger crawl would instead of degenerating into duplicate cliques:
  * document tokens are prefixed per replica (`r<k>_…`, so no shingle
  * crosses replicas and the near-dup pair graph is exactly f disjoint
  * copies), ids are offset per replica, and embeddings replicate
  * verbatim under new vec_ids (bucket/list densities grow linearly, as
  * corpus growth would).
  */
object ScaleProbe {
  private val Offset = 10000000L

  private def replicate(s: SparkSession, base: String, f: Int, out: String): Unit = {
    import s.implicits._
    val k = explode(sequence(lit(0), lit(f - 1))).as("k")
    val docs = s.read.parquet(s"$base/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source", k)
      .select(($"doc_id" + $"k" * Offset).as("doc_id"),
        when($"k" === 0, $"text").otherwise(
          array_join(transform(split($"text", "\\s+"),
            t => concat(lit("r"), $"k", lit("_"), t)), " ")).as("text"),
        $"lang", $"source")
      .withColumn("n_chars", length($"text"))
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = s.read.parquet(s"$base/embeddings.parquet")
      .select($"vec_id", $"embedding", $"label", k)
      .select(($"vec_id" + $"k" * Offset).as("vec_id"), $"embedding", $"label")
    emb.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = "/tmp/graft_scale"
    val spark = Harness.session(Harness.cores)

    // factor lists per query: d09's edge source is the DOCUMENTED
    // quadratic d05 baseline, so it gets smaller factors (the probe is
    // expected to MEASURE that quadratic, not hide it); the declared
    // scale paths get the full 1/4/10 ladder.
    val queries: Seq[(String, Seq[Int], Harness.Query)] = Seq(
      // current probe set: the audit pair — d55's truth graph is (r11)
      // EXACT WITHIN a per-lang hash-rank stratum of ≤400 docs, so its
      // quadratic member is FLAT in corpus size (pre-r11 it was the
      // full-block graph, measured slope 3.30); d56's adaptive sample
      // pays ~budget² at any N. The probe verifies both stay flat.
      // (Earlier sweeps' results — e08 0.85, d23 0.58, d11 0.62, d09
      // 3.40 quadratic-by-design, e14 0.20, d26 0.70, e15 0.78, d25
      // 0.79, e16 0.91, ml07 −0.13, ml08 0.27, d32 0.45, d31 0.88,
      // s04 0.05, e31 0.89, ml27 0.21 — are in `git show 0a8f65e:CLAUDE.md`.)
      ("d55_snm_audit", Seq(1, 4), operators.TextOps.d55SnmAudit _),
      ("d56_snm_audit_sample", Seq(1, 4), operators.TextOps.d56SnmAuditSample _),
      // r13: the tokenizer pair — the replicate token-RENAMES words per
      // replica, so the distinct-word vocabulary grows ×f; the expected
      // slope is ~1 (the sequential EM/merge loops are vocabulary-sized
      // by design — corpus-scale work is only the distributed word count)
      ("d57_unigram_train", Seq(1, 4), operators.TextOps.d57UnigramTrain _),
      ("d61_unigram_fertility", Seq(1, 4), operators.TextOps.d61UnigramFertility _),
      // r14: the epoch reshuffle (group-bounded windows — expected ~1:
      // corpus-linear hash + pack, no global sort) and the ECDF/rank
      // pair tests (value axis grows with the token-renamed vocabulary's
      // token counts? no — x is the per-doc token COUNT, whose distinct
      // axis is bounded; the |sources|² pair grid is constant, so the
      // expected slope is ~1 from the count pass alone)
      ("s07_epoch_reshuffle", Seq(1, 4), operators.Advanced.s07EpochReshuffle _),
      ("q116_dunn_posthoc", Seq(1, 4), operators.Analytics.q116DunnPosthoc _),
      ("q117_cramer_von_mises", Seq(1, 4), operators.Analytics.q117CramerVonMises _))

    // optional extra args narrow the probe to named queries
    Harness.slopes(spark, queries, args.drop(1).toSet, out)(replicate(spark, base, _, _))
    spark.stop()
  }
}
