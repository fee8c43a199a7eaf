package graft.er

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edge-weighting schemes of the meta-blocking graph
 * (python/sparker/pruning_utils.py:1-10). */
object WeightType extends Enumeration {
  val CBS, JS, ECBS, ARCS, ChiSquare, EJS = Value
}

/** Local-threshold flavors (python/sparker/pruning_utils.py:13-18). */
object ThresholdType extends Enumeration {
  val AVG, MaxFract2 = Value
}

/** Reciprocal (AND) vs non-reciprocal (OR) node pruning
 * (python/sparker/pruning_utils.py:21-26). */
object ComparisonType extends Enumeration {
  val AND, OR = Value
}

/**
 * Graph-based meta-blocking, Spark-native: the comparison graph is never
 * materialized on the driver (the reference broadcasts the whole block index,
 * scala/.../Experiments/Main.scala:116-118 — its scalability cliff). Here the
 * graph IS a DataFrame: a self-join of block members on the blocking key,
 * hash-aggregated to (p1, p2, cbs, ...) by Tungsten, with every weight scheme
 * a column expression over per-profile / global aggregates joined back in
 * (broadcast when small, shuffle otherwise — Catalyst/AQE decide).
 *
 * Weighting has one body per graph: the pair graph and the dirty-ER self
 * edges each get one builder that computes the columns of exactly the
 * schemes its caller asks for, all from the one formula [[weightColumn]]
 * (applied in both endpoint orientations for pairs). The one-scheme
 * ([[weightedPairs]], [[selfWeights]]) and all-scheme ([[weightedPairsAll]],
 * [[selfWeightsAll]]) entry points are views over those builders, so they
 * agree bit for bit; only a scheme set that contains EJS joins the degree
 * aggregate and the edge total.
 *
 * Weight semantics follow the (normative) Python reference
 * python/sparker/common_node_pruning.py, including its quirks:
 *  - ARCS divides CBS by the product of the comparison counts of *all* the
 *    profile's blocks (not only shared ones), making it asymmetric
 *    (common_node_pruning.py:185-201);
 *  - EJS parenthesizes differently with/without entropy
 *    (common_node_pruning.py:217-248);
 *  - with entropy, ARCS multiplies the shared-entropy sum once per block of
 *    the profile (common_node_pruning.py:196-199).
 * Documented divergences: the reference's compute_statistics carries a
 * partition-order-dependent reset bug (common_node_pruning.py:86-90 resets
 * positions instead of ids) — we compute exact distinct-neighbor degrees;
 * top-k and tie selections use deterministic (weight desc, id asc) order
 * where the reference inherits partition order.
 */
object MetaBlocking {

  /** Epsilon used by EJS when a profile is missing from the edge index
   * (common_node_pruning.py:218,230). */
  val EjsEps = 0.00000000001

  /**
   * Enumerate the undirected comparison graph of a (cleaned) block
   * collection with the raw CBS weight: number of blocks shared by the two
   * profiles (python/sparker/common_node_pruning.py:104-146). p1 < p2; for
   * clean ER only cross-source pairs are neighbors
   * (python/sparker/pruning_utils.py:29-53).
   *
   * members: (key, profile_id, source_id); optional per-block entropies
   * (key, entropy) are summed over shared blocks (calc_cbs accumulation,
   * common_node_pruning.py:133-142).
   */
  def cbsPairs(members: DataFrame, clean: Boolean,
               blockEntropies: Option[DataFrame] = None): DataFrame = {
    val src = blockEntropies.fold(members)(ent => members.join(ent, Seq("key"), "left")
      .withColumn("entropy", coalesce(col("entropy"), lit(0.0))))
    val a = src.select(Seq(col("key"), col("profile_id").as("p1"), col("source_id").as("s1")) ++
      blockEntropies.map(_ => col("entropy")): _*)
    val b = src.select(col("key"), col("profile_id").as("p2"), col("source_id").as("s2"))
    val cond = if (clean) col("p1") < col("p2") && col("s1") =!= col("s2")
               else col("p1") < col("p2")
    val grouped = a.join(b, Seq("key")).filter(cond).groupBy("p1", "p2")
    blockEntropies match {
      case Some(_) =>
        grouped.agg(count(lit(1)).as("cbs"),
          // deterministic (sorted sequential) double sum only in verify
          // mode; plain codegen'd sum otherwise (Det doc)
          graft.util.Det.sumD(graft.util.Det.exactSums(members.sparkSession), "entropy")
            .as("entropy_sum"))
      case None =>
        // no entropy requested: keep the hot self-join a pure codegen'd
        // count aggregate (a collect_list here costs real memory/CPU on
        // the O(co-occurrence) intermediate — 225s -> 80s at sf0.1)
        grouped.agg(count(lit(1)).as("cbs")).withColumn("entropy_sum", lit(0.0))
    }
  }

  /**
   * Per-profile statistics needed by the weight schemes:
   *  - bp: number of blocks of the profile in the *filtered* profile-block
   *    index (len(pb.blocks) — includes blocks that later became invalid,
   *    a faithful reference detail: profile_blocks_size_index is built from
   *    profile_blocks_filtered, see notebooks / wnp.py:265);
   *  - nb_valid: number of the profile's blocks present in the valid block
   *    index (used by ARCS and its entropy exponent);
   *  - arcs_denom: deterministic (sorted, sequential) product of
   *    arcs_comparisons over those valid blocks.
   *
   * filteredProfileBlocks: (profile_id, key[, comparisons]) after filtering;
   * validStats: blockStats of the regenerated (valid) blocks.
   */
  def profileStats(filteredProfileBlocks: DataFrame, validStats: DataFrame): DataFrame = {
    val bp = filteredProfileBlocks.groupBy("profile_id")
      .agg(count(lit(1)).as("bp"))
    val valid = filteredProfileBlocks.select("profile_id", "key")
      .join(validStats.select("key", "arcs_comparisons"), Seq("key"))
      .groupBy("profile_id")
      .agg(count(lit(1)).as("nb_valid"),
        expr("aggregate(array_sort(collect_list(arcs_comparisons)), cast(1.0 as double), (acc, x) -> acc * x)")
          .as("arcs_denom"))
    bp.join(valid, Seq("profile_id"), "left")
      .na.fill(Map("nb_valid" -> 0L, "arcs_denom" -> 1.0))
  }

  /** Exact distinct-neighbor degree per profile and the global number of
   * distinct edges, for EJS (replaces the reference's buggy
   * compute_statistics, see class doc). Returns (degrees, 1-row totals). */
  def edgeStatistics(pairs: DataFrame): (DataFrame, DataFrame) = {
    val directed = pairs.select(col("p1").as("p")).union(pairs.select(col("p2").as("p")))
    val degrees = directed.groupBy("p").agg(count(lit(1)).as("degree"))
    val total = pairs.agg(count(lit(1)).cast("double").as("number_of_edges"))
    (degrees, total)
  }

  private def chiSquare(cbs: Column, bpN: Column, bpP: Column, nb: Column): Column = {
    // python/sparker/common_node_pruning.py:6-35 — 2x2 contingency table
    // chi-square with margins bpN (neighbor blocks), bpP (profile blocks),
    // nb (total blocks). Term order kept identical for bit-stable doubles.
    val c00 = cbs
    val c01 = bpN - cbs
    val c10 = bpP - cbs
    val c11 = nb - (bpN + bpP - cbs)
    val r0 = bpN            // c_mat[0][2]
    val r1 = nb - bpN       // c_mat[1][2]
    val k0 = bpP            // c_mat[2][0]
    val k1 = nb - bpP       // c_mat[2][1]
    def term(obs: Column, rowSum: Column, colSum: Column): Column = {
      val e = (rowSum * colSum) / nb
      pow(obs - e, 2.0) / e
    }
    term(c00, r0, k0) + term(c01, r0, k1) + term(c10, r1, k0) + term(c11, r1, k1)
  }

  /**
   * Directed weight of edge (a -> b) computed "from a's perspective", the
   * orientation the reference uses in both its thresholds pass (all incident
   * edges) and pruning pass (a = smaller id). `a` and `b` are the column
   * suffixes of the two endpoints: ("a", "b") weighs a pair from p1's side,
   * ("b", "a") from p2's. Expects columns: cbs, entropy_sum, bp_<a>, bp_<b>,
   * nb_valid_<a>, arcs_denom_<a>, number_of_blocks and, for EJS only,
   * degree_<a>, degree_<b>, number_of_edges.
   */
  def weightColumn(wt: WeightType.Value, useEntropy: Boolean,
                   a: String = "a", b: String = "b"): Column = {
    val cbs = col("cbs").cast("double")
    val bpA = col(s"bp_$a").cast("double")
    val bpB = col(s"bp_$b").cast("double")
    val nb = col("number_of_blocks").cast("double")
    val ent = col("entropy_sum")
    wt match {
      case WeightType.CBS =>
        cbs // entropy intentionally ignored (calc_weights has no CBS branch)
      case WeightType.JS =>
        val js = cbs / (bpA + bpB - cbs)
        if (useEntropy) js * ent else js
      case WeightType.ECBS =>
        val e = cbs * log10(nb / bpA) * log10(nb / bpB)
        if (useEntropy) e * ent else e
      case WeightType.ChiSquare =>
        val chi = chiSquare(cbs, bpB, bpA, nb)
        if (useEntropy) chi * ent else chi
      case WeightType.ARCS =>
        val w = cbs / col(s"arcs_denom_$a")
        if (useEntropy) w * pow(ent, col(s"nb_valid_$a").cast("double")) else w
      case WeightType.EJS =>
        val js = cbs / (bpA + bpB - cbs)
        val e = col("number_of_edges")
        val degB = col(s"degree_$b").cast("double")
        val epA = col(s"degree_$a").cast("double") + lit(EjsEps)
        val inner = log10(e / epA)
        val raw =
          if (useEntropy) (js * ent) * log10(e / degB * inner)
          else js * log10(e / (degB * inner))
        // reference returns 0 on math domain / zero-division errors
        // (try/except pass, common_node_pruning.py:236-247)
        when(e <= 0.0 || inner <= 0.0, lit(0.0)).otherwise(raw)
    }
  }

  /** Lower-case column suffix for a weight scheme in the weighted graphs:
   * w1_cbs, w2_ejs, w_js, ... */
  def schemeName(wt: WeightType.Value): String = wt.toString.toLowerCase

  /**
   * The weighted comparison graph for `schemes`, in one pass over the pair
   * graph: one stats join per endpoint and, only when EJS is among the
   * schemes, the degree aggregate and the edge total; then every weight
   * column in a single codegen'd projection — (p1, p2, cbs, entropy_sum,
   * w1_<s>, w2_<s>, ...). `w1` is the weight from p1's perspective (the one
   * the reference's pruning pass uses), `w2` from p2's (only needed by the
   * thresholds pass for asymmetric schemes).
   */
  private def weigh(pairs: DataFrame, profStats: DataFrame, numberOfBlocks: DataFrame,
                    schemes: Seq[WeightType.Value], useEntropy: Boolean): DataFrame = {
    def side(p: String, s: String) = profStats.select(col("profile_id").as(p),
      col("bp").as(s"bp_$s"), col("nb_valid").as(s"nb_valid_$s"),
      col("arcs_denom").as(s"arcs_denom_$s"))
    val df = pairs.join(side("p1", "a"), Seq("p1")).join(side("p2", "b"), Seq("p2"))
      .crossJoin(numberOfBlocks)
    val withDegrees =
      if (!schemes.contains(WeightType.EJS)) df
      else {
        val (degrees, total) = edgeStatistics(pairs)
        df.join(degrees.select(col("p").as("p1"), col("degree").as("degree_a")), Seq("p1"))
          .join(degrees.select(col("p").as("p2"), col("degree").as("degree_b")), Seq("p2"))
          .crossJoin(total)
      }
    val wCols = schemes.flatMap(wt => Seq(
      weightColumn(wt, useEntropy).as(s"w1_${schemeName(wt)}"),
      weightColumn(wt, useEntropy, "b", "a").as(s"w2_${schemeName(wt)}")))
    withDegrees.select(Seq(col("p1"), col("p2"), col("cbs"), col("entropy_sum")) ++ wCols: _*)
  }

  /** One scheme's weighted graph (p1, p2, cbs, entropy_sum, w1, w2). */
  def weightedPairs(pairs: DataFrame, profStats: DataFrame,
                    numberOfBlocks: DataFrame, // 1-row (number_of_blocks)
                    wt: WeightType.Value, useEntropy: Boolean = false): DataFrame =
    schemeView(weigh(pairs, profStats, numberOfBlocks, Seq(wt), useEntropy), wt)

  /** The WIDE weighted graph: all six schemes from one pass. At 100 TB that
   * is one shuffle over the O(edges) pair graph instead of six, and
   * deriving a scheme is a column select on the materialized result
   * ([[schemeView]]), bit-identical to [[weightedPairs]]. */
  def weightedPairsAll(pairs: DataFrame, profStats: DataFrame, numberOfBlocks: DataFrame,
                       useEntropy: Boolean = false): DataFrame =
    weigh(pairs, profStats, numberOfBlocks, WeightType.values.toSeq, useEntropy)

  /** One scheme's (p1, p2, cbs, entropy_sum, w1, w2) view of a wide
   * weighted graph such as [[weightedPairsAll]]. */
  def schemeView(wide: DataFrame, wt: WeightType.Value): DataFrame = {
    val n = schemeName(wt)
    wide.select(col("p1"), col("p2"), col("cbs"), col("entropy_sum"),
      col(s"w1_$n").as("w1"), col(s"w2_$n").as("w2"))
  }

  /** Directed view of the weighted graph: each undirected pair contributes
   * both (p1 -> p2, w1) and (p2 -> p1, w2) — what the reference's
   * first_step=True passes enumerate. */
  def directedEdges(weighted: DataFrame): DataFrame =
    weighted.select(col("p1").as("a"), col("p2").as("b"), col("w1").as("w"))
      .union(weighted.select(col("p2").as("a"), col("p1").as("b"), col("w2").as("w")))

  /** The self-weight body for `schemes`: (profile_id, w_<s>, ...), see
   * [[selfWeights]]. Joins the EJS degrees only when EJS is requested. */
  private def weighSelf(profStats: DataFrame, numberOfBlocks: DataFrame,
                        schemes: Seq[WeightType.Value], useEntropy: Boolean,
                        selfEntropies: Option[DataFrame], pairs: Option[DataFrame]): DataFrame = {
    val df = profStats.filter(col("nb_valid") > 0)
      .select(col("profile_id"),
        col("nb_valid").as("cbs"),
        col("bp").as("bp_a"), col("bp").as("bp_b"),
        col("nb_valid").as("nb_valid_a"), col("arcs_denom").as("arcs_denom_a"))
      .crossJoin(numberOfBlocks)
    val withEntropy = selfEntropies match {
      case Some(ent) => df.join(ent, Seq("profile_id"), "left")
        .withColumn("entropy_sum", coalesce(col("entropy_sum"), lit(0.0)))
      case None => df.withColumn("entropy_sum", lit(0.0))
    }
    val withDegrees =
      if (!schemes.contains(WeightType.EJS)) withEntropy
      else {
        val (degrees, total) = edgeStatistics(pairs.getOrElse(
          sys.error("EJS self weights need the pair graph for degrees")))
        withEntropy.join(degrees.select(col("p").as("profile_id"),
            col("degree").as("degree_a"), col("degree").as("degree_b")), Seq("profile_id"))
          .crossJoin(total)
      }
    withDegrees.select(col("profile_id") +: schemes.map(wt =>
      weightColumn(wt, useEntropy).as(s"w_${schemeName(wt)}")): _*)
  }

  /**
   * Self-comparison weights — a faithful DIRTY-ER reference quirk: every
   * first_step=True pass (WNP thresholds, WEP's global weight sum
   * wep.py:122-128, CNP's retention lists cnp.py:159) enumerates the
   * profile ITSELF as a neighbor, because calc_cbs admits profile_id ==
   * neighbor_id when first_step is set (common_node_pruning.py:139). The
   * self edge has CBS = the number of the profile's valid filtered blocks
   * and gets the full weight-scheme formula like any other edge, so it
   * shifts AVG/MAX thresholds, the WEP global mean, and consumes CNP top-k
   * slots. Clean ER is unaffected: get_all_neighbors returns only
   * other-source profiles (pruning_utils.py:29-53), which excludes self.
   *
   * Returns (profile_id, w) computed via the SAME [[weightColumn]] as real
   * edges (bit-identical arithmetic): cbs = nb_valid, both endpoint
   * block counts = bp, degrees = the profile's own degree. `selfEntropies`
   * supplies entropy_sum (sum of the profile's valid-block entropies) for
   * useEntropy schemes; EJS additionally needs `pairs` for the degrees.
   */
  def selfWeights(profStats: DataFrame, numberOfBlocks: DataFrame, wt: WeightType.Value,
                  useEntropy: Boolean = false,
                  selfEntropies: Option[DataFrame] = None,
                  pairs: Option[DataFrame] = None): DataFrame =
    selfSchemeView(weighSelf(profStats, numberOfBlocks, Seq(wt), useEntropy,
      selfEntropies, pairs), wt)

  /** Every scheme's self weights in one pass: (profile_id, w_cbs, ..., w_ejs). */
  def selfWeightsAll(profStats: DataFrame, numberOfBlocks: DataFrame, pairs: DataFrame,
                     useEntropy: Boolean = false,
                     selfEntropies: Option[DataFrame] = None): DataFrame =
    weighSelf(profStats, numberOfBlocks, WeightType.values.toSeq, useEntropy,
      selfEntropies, Some(pairs))

  /** One scheme's (profile_id, w) view of [[selfWeightsAll]]. */
  def selfSchemeView(wide: DataFrame, wt: WeightType.Value): DataFrame =
    wide.select(col("profile_id"), col(s"w_${schemeName(wt)}").as("w"))

  /** [[directedEdges]] plus, when `selfW` is given (dirty ER), each
   * profile's self edge as an (a, a, w) row: the neighbors every
   * first_step=True pass enumerates (see [[selfWeights]]). */
  private def directedWithSelf(weighted: DataFrame, selfW: Option[DataFrame]): DataFrame =
    selfW.foldLeft(directedEdges(weighted))((d, sw) =>
      d.union(sw.select(col("profile_id").as("a"), col("profile_id").as("b"), col("w"))))

  /** Per-profile local thresholds (python/sparker/wnp.py:192-229): AVG =
   * mean of incident directed weights, MaxFract2 = max / 2. `selfW` (dirty
   * ER): the reference's thresholds pass counts the profile itself as a
   * neighbor — see [[selfWeights]]. */
  def localThresholds(weighted: DataFrame, tt: ThresholdType.Value,
                      selfW: Option[DataFrame] = None): DataFrame = {
    val agg = tt match {
      case ThresholdType.AVG => (sum(col("w")) / count(lit(1))).as("theta")
      case ThresholdType.MaxFract2 => (max(col("w")) / 2.0).as("theta")
    }
    directedWithSelf(weighted, selfW).groupBy(col("a").as("profile_id")).agg(agg)
  }

  /**
   * Weighted Node Pruning (python/sparker/wnp.py:231-298). Keeps edge
   * (p1, p2) — weighted from p1's perspective — when w >= theta(p2) OR/AND
   * w >= theta(p1); for chi-square weights, when
   * w >= sqrt(theta(p1)^2 + theta(p2)^2) / chi2divider (the BLAST rule,
   * wnp.py:47-60). `eps` relaxes the >= for fractional weight schemes whose
   * thresholds are order-dependent double sums (0 for exact weights).
   */
  /** `thOpt`: pre-materialized [[localThresholds]] for (weighted, tt,
   * selfW) — an O(profiles) standing statistic (the directedEdges
   * two-scan + aggregate over the O(edges) graph is most of a WNP
   * evaluation's non-join cost); callers evaluating several WNP variants
   * over one weighted graph should materialize it once and pass it here
   * (the cnp `directedOpt` posture). */
  def wnp(weighted: DataFrame, tt: ThresholdType.Value, ct: ComparisonType.Value,
          wt: WeightType.Value, chi2divider: Double = 2.0, eps: Double = 0.0,
          selfW: Option[DataFrame] = None,
          thOpt: Option[DataFrame] = None): DataFrame = {
    val th = thOpt.getOrElse(localThresholds(weighted, tt, selfW))
    val j = weighted
      .join(th.select(col("profile_id").as("p1"), col("theta").as("t1")), Seq("p1"))
      .join(th.select(col("profile_id").as("p2"), col("theta").as("t2")), Seq("p2"))
    val keep =
      if (wt == WeightType.ChiSquare)
        col("w1") >= sqrt(pow(col("t1"), 2.0) + pow(col("t2"), 2.0)) / chi2divider - eps
      else ct match {
        case ComparisonType.OR => col("w1") >= col("t2") - eps || col("w1") >= col("t1") - eps
        case ComparisonType.AND => col("w1") >= col("t2") - eps && col("w1") >= col("t1") - eps
      }
    j.filter(keep).select(col("p1"), col("p2"), col("w1").as("w"))
  }

  /** Weighted Edge Pruning (python/sparker/wep.py): keep edges with weight >=
   * the mean over all directed incident weights — including, for dirty ER,
   * each profile's self edge (wep.py:122-128 runs calc_cbs with
   * first_step=True): threshold = (sum w + sum w_self) / (2E + N). */
  def wep(weighted: DataFrame, eps: Double = 0.0,
          selfW: Option[DataFrame] = None): DataFrame = {
    val thr = directedWithSelf(weighted, selfW).agg((sum(col("w")) / count(lit(1))).as("gthr"))
    weighted.crossJoin(thr).filter(col("w1") >= col("gthr") - eps)
      .select(col("p1"), col("p2"), col("w1").as("w"))
  }

  /**
   * Cardinality Edge Pruning (python/sparker/cep.py): global top-K edges,
   * K = floor(sum of valid block sizes / 2). Keeps every edge with weight >
   * the K-th level and fills the remainder with threshold-level ties in
   * deterministic (p1, p2) order (the reference fills them in partition
   * order, cep.py:230-260 — documented divergence). Fully distributed: the
   * histogram walk and the tie quotas use the two-phase range-partitioned
   * prefix sum ([[graft.util.Prefix]]) — no single-partition window even
   * for fractional weight schemes where every weight level is distinct
   * (O(edges) levels), and no O(edges) driver structure.
   */
  def cep(weighted: DataFrame, validStats: DataFrame): DataFrame = {
    // The threshold level and its tie quota are TWO SCALARS derived from
    // the weight histogram; resolve them eagerly (the cnp-k precedent)
    // instead of crossJoining 1-row subplans — each crossJoin re-executed
    // the whole histogram + distributed-prefix chain per consumer (3
    // executions), and a literal threshold lets the two retained-edge
    // scans push `w1 > thr` / `w1 = thr` into the parquet scan's
    // row-group pruning. The cumulative histogram has one row per
    // DISTINCT weight level (bounded for integer schemes, <= edges for
    // fractional ones — never wider than the input) and exactly one
    // reader (the scalar aggregate below), so it stays lazy.
    val kRow = validStats.agg(floor(sum(col("size")) / 2.0).cast("double").as("k")).first()
    if (kRow.isNullAt(0))
      return weighted.filter(lit(false))
        .select(col("p1"), col("p2"), col("w1").as("w"))
    val k = kRow.getDouble(0)
    val hist = weighted.groupBy(col("w1").as("wl")).agg(count(lit(1)).cast("double").as("freq"))
    val cum = graft.util.Prefix.runningSum(hist, Seq(col("wl").desc), col("freq"), "cum")
    // first level (walking desc) whose cumulative count reaches K; if the
    // total never reaches K, the lowest level. The threshold level AND its
    // (freq, cum) row are resolved in ONE aggregate via max_by/min_by
    // (ordering keys are distinct weight levels, null ordering rows are
    // skipped) — previously this was two driver actions plus a parquet
    // snapshot of the cumulative histogram between them; with a single
    // reader the snapshot is pure overhead, so both jobs and the write
    // round-trip collapse into this one aggregation.
    val thrRow = cum.agg(
      max(when(col("cum") >= k, col("wl"))).as("thr_hit"),
      min(col("wl")).as("thr_min"),
      max_by(struct(col("freq"), col("cum")), when(col("cum") >= k, col("wl"))).as("hit_s"),
      min_by(struct(col("freq"), col("cum")), col("wl")).as("min_s")).first()
    if (thrRow.isNullAt(1)) // empty edge set
      return weighted.filter(lit(false))
        .select(col("p1"), col("p2"), col("w1").as("w"))
    val hit = !thrRow.isNullAt(0)
    val thr = if (hit) thrRow.get(0) else thrRow.get(1)
    val s = thrRow.getStruct(if (hit) 2 else 3)
    val remaining = s.getDouble(0) - (s.getDouble(1) - k)
    // ONE scan of the O(edges) weighted graph for the whole emission: the
    // literal `w1 >= thr` filter is pushed into the weighted scan and the
    // retained rows (~K + ties — the RESULT size, far smaller than the
    // edge set) are snapshot once; the above-set and the two tie-quota
    // consumers below read that snapshot instead of re-scanning the
    // weighted graph three times (guide §2 — remove passes; the literal
    // filters still push into the snapshot's parquet scan).
    val kept = graft.util.Snapshot(weighted.filter(col("w1") >= lit(thr))
      .select(col("p1"), col("p2"), col("w1")))
    val above = kept.filter(col("w1") > lit(thr))
      .select(col("p1"), col("p2"), col("w1").as("w"))
    // ties: per-profile quotas consumed in ascending (p1, p2) order
    val ties = kept.filter(col("w1") === lit(thr))
    val perProf = graft.util.Prefix.runningSum(
        ties.groupBy("p1").agg(count(lit(1)).as("cnt")),
        Seq(col("p1").asc), col("cnt").cast("double"), "cumc")
      .withColumn("prev", col("cumc") - col("cnt"))
    val tiesKept = ties
      .join(perProf, Seq("p1"))
      .withColumn("quota", greatest(least(lit(remaining) - col("prev"), col("cnt").cast("double")), lit(0.0)))
      .withColumn("rn", row_number().over(Window.partitionBy("p1").orderBy("p2")))
      .filter(col("rn") <= col("quota"))
      .select(col("p1"), col("p2"), col("w1").as("w"))
    above.union(tiesKept)
  }

  /**
   * Cardinality Node Pruning (python/sparker/cnp.py): per-profile top-k
   * neighbors by directed weight, k = floor(sum of valid block sizes /
   * number_of_profiles - 1) (cnp.py:250-260); an edge survives when either
   * (OR) or both (AND) endpoints retained it. Top-k ties break
   * deterministically by neighbor id (divergence: np.argpartition order).
   *
   * `kOverride` pins k instead of deriving it from the block stats — the
   * reference formula yields k=0 on sparse collections (every edge dropped),
   * so fixtures/tests pin a positive k while production keeps the default.
   *
   * `directedOpt`: a pre-materialized [[directedEdges]] view (PLUS the self
   * edges if dirty — caller's responsibility). The retention pass scans the
   * directed graph once and the wide-snapshot union twice; callers running
   * many pruning variants over one spine should snapshot the directed view
   * once and pass it here.
   */
  def cnp(weighted: DataFrame, validStats: DataFrame, numberOfProfiles: Long,
          ct: ComparisonType.Value, kOverride: Option[Long] = None,
          selfW: Option[DataFrame] = None,
          directedOpt: Option[DataFrame] = None): DataFrame = {
    // k as a driver-side LITERAL (one 1-row aggregate): a literal
    // row_number bound lets Spark plan WindowGroupLimit — partial top-k
    // per group BEFORE the exchange; `rn <= col(k)` from a crossJoin
    // defeats that pushdown and sorts every group fully
    val k = kOverride.getOrElse {
      val row = validStats.agg(
        floor(sum(col("size")).cast("double") / numberOfProfiles - 1.0).cast("long").as("k"))
        .first()
      if (row.isNullAt(0)) 0L else row.getLong(0) // empty stats -> k=0 -> empty result
    }
    // dirty ER: the reference's retention pass (cnp.py:159, first_step=True)
    // ranks the profile's SELF edge among its neighbors, so a high self
    // weight consumes one of the k slots (see selfWeights); the (p, p) row
    // can never match a real p1<p2 edge in the retention join below.
    val retained = directedOpt.getOrElse(directedWithSelf(weighted, selfW))
      .withColumn("rn", row_number().over(Window.partitionBy("a").orderBy(col("w").desc, col("b").asc)))
      .filter(col("rn") <= lit(k))
      .select(col("a"), col("b"))
    // Survivor pairs derived from the SMALL retained relation alone (<= k
    // rows per node), then ONE semi-join back onto the O(edges) weighted
    // graph — instead of two consecutive left joins over it (guide §3;
    // the reciprocalBestMatch posture). The directed view holds both orientations
    // of every p1<p2 edge (plus a==b self rows that can never match a real
    // edge), so OR-survival is the canonicalized distinct of retained and
    // AND-survival is a retained-with-its-swap intersection.
    val kept = ct match {
      case ComparisonType.OR => retained
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("p1"),
          greatest(col("a"), col("b")).as("p2"))
        .distinct()
      case ComparisonType.AND => retained
        .join(retained.select(col("b").as("a"), col("a").as("b")),
          Seq("a", "b"), "left_semi")
        .filter(col("a") < col("b"))
        .select(col("a").as("p1"), col("b").as("p2"))
    }
    weighted.select("p1", "p2", "w1")
      .join(kept, Seq("p1", "p2"), "left_semi")
      .select(col("p1"), col("p2"), col("w1").as("w"))
  }

  /**
   * Deterministic parallel canopy blocking over the CBS pair graph
   * (McCallum/Nigam/Ungar KDD'00, re-expressed without the sequential
   * center draw). The classic algorithm pops centers one at a time from a
   * shared pool — inherently serial. This variant replaces the draw order
   * with a fixed total order (profile id) and makes the center set an
   * independent-set condition that every partition can evaluate locally:
   *
   *  - center: a profile with NO tight neighbor (shared-block count >=
   *    `tight`) of smaller id — exactly the profiles the sequential
   *    algorithm would have popped had it drawn in id order (the classic
   *    T2-removal), decided with one symmetric scan of the pair graph;
   *  - membership: (center, profile) for every loose edge (cbs >= `loose`,
   *    loose <= tight), plus the center itself — the classic T1 gather.
   *
   * Input `pairs` is the purged+filtered CBS graph (p1 < p2, cbs), so the
   * canopies compose with the same spine as every weighting scheme; the
   * node universe is the graph's nodes (isolated profiles never canopy —
   * they have no candidates at all). One distinct + one anti-join + one
   * equi-join, all on the pair graph, nothing quadratic.
   */
  def canopy(pairs: DataFrame, tight: Long, loose: Long): DataFrame = {
    require(loose <= tight, s"canopy: loose ($loose) must be <= tight ($tight)")
    val sym = pairs.select(col("p1").as("p"), col("p2").as("q"), col("cbs"))
      .union(pairs.select(col("p2").as("p"), col("p1").as("q"), col("cbs")))
    val dominated = sym.filter(col("cbs") >= tight && col("q") < col("p"))
      .select("p").distinct()
    val centers = sym.select("p").distinct()
      .join(dominated, Seq("p"), "left_anti")
    val members = sym.filter(col("cbs") >= loose)
      .join(centers, Seq("p"))
      .select(col("p").as("canopy_id"), col("q").as("member_id"),
        col("cbs").as("shared"))
    members.unionByName(centers.select(col("p").as("canopy_id"),
      col("p").as("member_id"), lit(0L).as("shared")))
  }
}
