package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.llm.Dedup

/** What one call returned, consumed on the driver. */
final case class Outcome(schema: StructType, rows: Seq[Row]) {
  /** Order-insensitive digest of the values, to compare repeated calls. */
  lazy val digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.simpleString.getBytes("UTF-8"))
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

object Outcome {
  def of(df: DataFrame): Outcome = Outcome(df.schema, df.collect().toSeq)
}

/** One timed call into a layer of the engine. `rowsIn` is the number of
  * input rows (events or documents) the call reads. */
final case class Op(name: String, layer: String, rowsIn: Long, run: () => Outcome)

object Workloads {
  def apply(name: String, spark: SparkSession, data: String,
      seed: Long, rows: Map[String, Long]): Registry = name match {
    case "analysis_session" => new Registry(spark, data, Some(seed),
      AnalysisOps, rows("events"), minRounds = 2)
    case "curation_batch" => new Registry(spark, data, None,
      CurationOps, rows("documents"), minRounds = 1) {
        override def wasteRatios(): Map[String, Double] =
          Map("llm.neardup.verified_per_candidate" -> neardupYield(spark, data))
      }
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // Registry calls of the interactive session, with the layer (module under
  // src/main/scala/graft/) that implements each. TraceQueries is split by
  // operator: trace store and DSP -> traces, moment estimators -> vibration,
  // fits and pulse models -> calib. Variants of a listed call (the binned
  // percentile cut, the cut-spec round trip, approximate and auto-limit
  // histograms, k12/k15) are left out so two rounds fit in about 45 s.
  val AnalysisOps: Seq[(String, String)] =
    Seq("f3_named_cut", "f7_global_filter", "f10_trigger_class")
      .map(_ -> "core") ++
    Seq("t1_value_cut", "t2_percentile_cut", "t3_sigma_cut",
      "t4_estimation_conditioned", "t5_time_interval_cut",
      "t6_binned_sigma_cut", "t7_rate_cut", "master_combined_cut")
      .map(_ -> "cuts") ++
    Seq("a1_count_groupby", "a2_mean_std", "a3_min_max",
      "a4_percentile_exact", "a6_sigma_iqr", "a7_hist1d", "a8_hist2d",
      "a9_time_binned_count", "a10_passage_fraction", "a11_passfrac_matrix",
      "a12_distinct_sorted", "w2_equal_count_bins", "w3_amplitude_bins",
      "w6_quantile_sketch").map(_ -> "stats") ++
    Seq("s5_trace_fetch_window", "w4_rechunk", "k1_psd", "k3_lowpass")
      .map(_ -> "traces") ++
    Seq("vib_moments_sweep", "k11_tf_estimators").map(_ -> "vibration") ++
    Seq("k5_spectrum_models", "k6_line_fit", "k8_dpdi_deconvolution",
      "k9_crosstalk", "k13_template_metrics", "k14_energy_resolution")
      .map(_ -> "calib")

  /** Calls that build their input in memory and read no table. */
  val NoInput: Set[String] =
    Set("k5_spectrum_models", "k8_dpdi_deconvolution", "k13_template_metrics")

  /** Near-dup verification yield: pairs whose shingle Jaccard reaches the
    * dedup threshold (0.8) per LSH candidate pair, with the parameters of
    * `llm_neardup_dedup` (64 hashes in 16 bands of 4). */
  def neardupYield(spark: SparkSession, data: String): Double = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 64)
    val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 16, rows = 4).cache()
    val n = cands.count()
    val verified = Dedup.verifyJaccard(cands, docs, "text", "doc_id")
      .filter(col("jaccard") >= 0.8).count()
    spark.catalog.clearCache()
    if (n == 0) 0.0 else verified.toDouble / n
  }

  /** In the order a curation job runs them: dedup, span removal and
    * decontamination, cleaning, then graph and retrieval scoring. */
  val CurationOps: Seq[(String, String)] =
    Seq("llm_dedup_exact", "llm_minhash_neardup", "llm_neardup_dedup",
      "llm_suffix_dedup", "llm_dup_spans", "llm_decontaminate_spans",
      "llm_c4_clean", "llm_hits", "llm_hybrid_rrf").map(_ -> "llm")
}

/** A workload: registry calls by name in rounds, each round one pass over
  * the call set, in a seeded order, or in the listed order without a seed
  * (a batch job runs its pipelines in a fixed order). Every run makes at
  * least `minRounds` rounds, however long they take. */
class Registry(spark: SparkSession, data: String, seed: Option[Long],
    ops: Seq[(String, String)], tableRows: Long, val minRounds: Int) {
  private val rng = seed.map(new Random(_))
  private val rounds = scala.collection.mutable.ArrayBuffer(Seq.empty[Op])
  private val calls = ops.map { case (name, layer) =>
    val rowsIn = if (Workloads.NoInput(name)) 0L else tableRows
    Op(name, layer, rowsIn, () => Outcome.of(SparkEntry.queries(name)(spark, data)))
  }

  /** Useful-outcome ratios of layers that can waste work, by metric name. */
  def wasteRatios(): Map[String, Double] = Map.empty

  /** Calls of round `r`, counting from 1. */
  def round(r: Int): Seq[Op] = {
    while (rounds.size <= r) rounds += rng.fold(calls)(_.shuffle(calls))
    rounds(r)
  }
}
