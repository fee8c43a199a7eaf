package graft.queries

import java.util.concurrent.Executors
import scala.util.Try
import org.apache.spark.sql.SparkSession
import graft.er.WeightType

/**
 * Builds every cross-query memoized artifact and runs once each query whose
 * first run pays a one-time cost (codegen, a standing index, stream
 * checkpoint setup), so Bench's per-query times measure the operator, not
 * first-touch construction.
 *
 *  - The memo call graph is the dependency graph. A step is a memo accessor
 *    or a driver query run once, and reads its inputs through the same
 *    [[graft.util.Memo]]s: an input another step is building is awaited on
 *    its completion cell, a missing one is built in place. A cell exists
 *    only while its builder runs, so no step waits on a queued one and the
 *    bounded pool cannot deadlock.
 *  - Steps start in list order on one fixed pool of
 *    `min(2 * defaultParallelism, MaxThreads)` threads. The blocking and
 *    cleaning spine comes first (cleaned blocks, ground truth, pair graph,
 *    profile stats, features, weighted graphs, pruning, entities), so its
 *    steps are dequeued first; then the roots of the chains that do not
 *    read it (BLAST, the train caches, incremental and 3-source WNP,
 *    bucketed layouts); then the first-touch queries.
 *  - Every step runs even when another fails, and each failure is logged by
 *    name. `run` returns only after every step has finished, then rethrows
 *    the first failure in list order.
 *
 * The first-touch queries are those whose run1 was a multiple of their
 * steady time in r5-r9 (er_cep_js_dirty 130.9 s vs 3.3 s in r5); the list
 * has not been re-measured since. Pool size, from warmup wall times at
 * `local[4]`: 8 threads beat 4 and 2 (medians 86.8, 91.8 and 110.7 s); a
 * step that waits on a cell or plans on the driver holds a thread but no
 * core. `MaxThreads` caps the pool at the largest size measured: 13
 * steps at once slowed a 32-core driver's warmup from 56.7 s to 129.1 s in
 * r11, and no size between 8 and 32 has been measured.
 */
object Warmup {
  /** Per-step wall times of the latest run, reported by Bench as
   * `warmup_steps`. Steps overlap, so they do not add up to the wall time. */
  private val timings = scala.collection.concurrent.TrieMap.empty[String, Double]
  def lastTimings: Map[String, Double] = timings.toMap

  private[queries] val MaxThreads = 8

  /** A named step; `query` names the driver query it runs, if any. */
  private[queries] final case class Step(name: String, run: () => Any, query: Option[String] = None)

  def run(s: SparkSession, d: String): Unit =
    runSteps(steps(s, d), math.min(2 * s.sparkContext.defaultParallelism, MaxThreads))

  /** Memo accessors, then first-touch queries. Building the list runs nothing. */
  private[queries] def steps(s: SparkSession, d: String): Seq[Step] = {
    def b(name: String)(f: => Any) = Step(name, () => f)
    Seq(
      b("cleaned_dirty")(ErQueries.cleaned(s, d, clean = false)),
      b("gt_convert")(ErQueries.gtConverted(s, d)),
      b("cleaned_clean")(ErQueries.cleaned(s, d, clean = true)),
      b("pairs_dirty")(ErQueries.cachedPairs(s, d, clean = false)),
      b("pstats_dirty")(ErQueries.cachedProfileStats(s, d, clean = false)),
      b("features")(SupQueries.features(s, d)),
      b("pairs_clean")(ErQueries.cachedPairs(s, d, clean = true)),
      b("pstats_clean")(ErQueries.cachedProfileStats(s, d, clean = true)),
      b("features_clean")(SupQueries.featuresClean(s, d)),
      b("scored")(SupQueries.scored(s, d)),
      b("wide_dirty")(ErQueries.wideWeighted(s, d, clean = false)),
      b("self_weights")(ErQueries.selfWeightsCached(s, d, WeightType.CBS)),
      b("wide_clean")(ErQueries.wideWeighted(s, d, clean = true)),
      b("ml_scored")(SupQueries.mlScored(s, d)),
      b("positives")(SupQueries.positives(s, d)),
      b("wnp_cbs")(ErQueries.wnpCbsAvgOrDirty(s, d)),
      b("wnp_cbs_clean")(ErQueries.wnpCbsAvgOrClean(s, d)),
      b("directed_cbs_clean")(ErQueries.directedCbsClean(s, d)),
      b("entities")(ErQueries.entities(s, d)),
      b("blast_chain/clusters")(SupQueries.clusters(s, d)),
      b("blast_chain/weighted")(SupQueries.blastWeighted(s, d)),
      b("train/embeddings")(TrainQueries.warmEmbeddings(s, d)),
      b("train/fingerprints")(TrainQueries.warmFingerprints(s, d)),
      b("train/text")(TrainQueries.warmText(s, d)),
      b("train/lsh")(TrainQueries.warmLshIndex(s, d)),
      b("incr_wnp")(ErQueries.incrementalWnpCbs(s, d)),
      b("wnp_3src")(ErQueries.all("er_wnp_cbs_3src")(s, d)),
      b("bucketed_layout")(Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
        .foreach { case (t, k) => graft.sources.Bucketed.table(s, d, t, k) })
    ) ++ Seq(
      "first/sup_cnp" -> "sup_cnp",
      "first/wnp_js_max2" -> "er_wnp_js_max2_or_dirty",
      "first/cep_js" -> "er_cep_js_dirty",
      "first/cep_cbs" -> "er_cep_cbs_dirty",
      "first/cep_cbs_clean" -> "er_cep_cbs_clean",
      "first/wnp_cbs_and" -> "er_wnp_cbs_avg_and_dirty",
      "entities/first_triangles" -> "er_triangles",
      "first/blast_keys" -> "blast_keys_nodefault",
      "wnp_3src/first_blocks" -> "er_blocks_3src",
      "incr_wnp/first_js" -> "er_incremental_js",
      "train/first_decon_spans_stream" -> "txt_decon_spans_stream",
      "train/first_qgate_stream" -> "txt_quality_filter_stream",
      "train/first_mm_neardup_stream" -> "mm_neardup_stream",
      "train/first_neardup_hi" -> "ann_cos_neardup_hi",
      "train/first_pq_stream" -> "ann_pq_stream",
      "train/first_lsh_stream" -> "dedup_lsh_stream",
      "train/first_lsh_recall" -> "dedup_lsh_recall",
      "first/gspsn" -> "prog_gspsn",
      "first/gspsn_clean" -> "prog_gspsn_clean",
      "first/txt_repetition" -> "txt_repetition",
      "first/mm_chunks" -> "mm_chunks",
      "first/mm_resize" -> "mm_resize",
      "first/er_tokens_stream" -> "er_tokens_stream",
      "first/txt_decon_bloom" -> "txt_decon_bloom",
      "first/txt_boilerplate" -> "txt_boilerplate",
      "first/txt_substr" -> "txt_substr_dedup",
      "first/txt_substr_apply" -> "txt_substr_apply",
      "first/txt_substr_stream" -> "txt_substr_stream",
      "first/txt_spans" -> "txt_span_dedup",
      "first/txt_span_apply" -> "txt_span_apply",
      "first/txt_dsir" -> "txt_dsir_weights",
      "first/txt_dsir_select" -> "txt_dsir_select",
      "first/txt_dsir_stream" -> "txt_dsir_stream",
      "first/txt_vocab" -> "txt_vocab",
      "first/ann_brute" -> "ann_brute_topk",
      "first/snb" -> "er_snb_pairs",
      "first/er_tokens_sw" -> "er_tokens_sw",
      "first/ppjoin" -> "dedup_ppjoin",
      "first/dbscan" -> "ann_dbscan",
      "first/merge_stream" -> "evt_merge_stream",
      "first/bpe" -> "txt_bpe_merges",
      "first/burst_stream" -> "evt_burst_stream",
      "first/sessions_stream" -> "evt_sessions_stream",
      "first/funnel_stream" -> "evt_funnel_join_stream",
      "first/removal_audit" -> "txt_removal_audit",
      "first/asof_stream" -> "evt_asof_stream"
    ).map { case (name, q) =>
      Step(name, () => graft.SparkEntry.queries(q)(s, d).count(), Some(q))
    }
  }

  /** Runs `steps` in list order on `threads` threads, as the contract above says. */
  private[queries] def runSteps(steps: Seq[Step], threads: Int): Unit = {
    timings.clear()
    val pool = Executors.newFixedThreadPool(threads)
    val pending = steps.map(st => pool.submit[Unit] { () =>
      val t0 = System.nanoTime()
      try st.run() catch { case e: Throwable =>
        System.err.println(s"[warmup] step ${st.name} FAILED: $e"); throw e }
      timings(st.name) = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[warmup] ${st.name} ${timings(st.name)}%.2fs")
    })
    pool.shutdown() // takes no new steps; the queued ones still run
    // get() wraps a step's failure in an ExecutionException
    pending.flatMap(f => Try(f.get()).failed.toOption).headOption.foreach(e => throw e.getCause)
  }
}
