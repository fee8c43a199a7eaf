package graft.er

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Snapshot

/**
 * One-call entity resolution: the configurable facade a reference user
 * reaches for first — blocking → purging/filtering → weighting → pruning
 * → matching → clustering as a single `run(attrs, config)`, each stage
 * selected by the config and delegating to the standalone operators (the
 * composition is EXACTLY the one the oracle-checked queries wire by
 * hand, which is what ErPipelineSpec asserts).
 *
 * Input is the long attribute layout `(profile_id, source_id, attribute,
 * value)` — the shape every loader in [[graft.sources.Wrappers]]
 * produces. A stage is Snapshot-materialized only when it is returned or
 * read by two or more later queries: those stages chain from parquet and
 * are never recomputed, while a stage read once stays lazy and runs inside
 * its reader's job. Only the configured weight scheme is computed.
 */
object ErPipeline {

  case class Config(
      blocking: String = "token",              // token | ngram | suffix
      ngramN: Int = 4,
      suffixMinLen: Int = 4,
      clean: Boolean = false,                  // dirty vs record-linkage
      smoothFactor: Double = 1.005,
      filterR: Double = 0.8,
      weight: WeightType.Value = WeightType.CBS,
      pruning: String = "wnp",                 // wnp | wep
      thresholdType: ThresholdType.Value = ThresholdType.AVG,
      comparisonType: ComparisonType.Value = ComparisonType.OR,
      matcher: String = "levenshtein",         // levenshtein | jaro-winkler | none
      matchAttribute: String = "name",
      matchThreshold: Double = 0.5)

  /** candidates: pruned pair graph (p1, p2, w); matches: scored pairs at
   * or above the matcher threshold (p1, p2, sim) — candidates verbatim
   * when matcher == "none"; entities: (profile_id, entity_id) for every
   * input profile, connected components over the matches. */
  case class Result(candidates: DataFrame, matches: DataFrame, entities: DataFrame)

  def run(attrs: DataFrame, config: Config = Config()): Result = {
    val keys = config.blocking match {
      case "token" => Blocking.tokenKeys(attrs)
      case "ngram" => Blocking.ngramKeys(attrs, config.ngramN)
      case "suffix" => Blocking.suffixKeys(attrs, config.suffixMinLen)
      case other => throw new IllegalArgumentException(
        s"unknown blocking '$other' (token | ngram | suffix)")
    }
    val cb = Pipeline.cleanBlocks(keys, config.clean,
      config.smoothFactor, config.filterR, stage = Snapshot.apply)
    // EJS reads the pair graph again for degrees and the edge total, in
    // both weightings; every other scheme reads it once, when weighting
    val pairs =
      if (config.weight == WeightType.EJS) Snapshot(cb.pairs()) else cb.pairs()
    val pstats = Snapshot(cb.profileStats)
    val weighted = Snapshot(MetaBlocking.weightedPairs(pairs, pstats,
      cb.numberOfBlocks, config.weight))
    // the dirty self-edge quirk (reference first_step=True) only exists
    // in single-source ER
    val selfW =
      if (config.clean) None
      else Some(MetaBlocking.selfWeights(pstats, cb.numberOfBlocks,
        config.weight, pairs = Some(pairs)))
    val candidates = Snapshot(config.pruning match {
      case "wnp" => MetaBlocking.wnp(weighted, config.thresholdType,
        config.comparisonType, config.weight, selfW = selfW)
        .select("p1", "p2", "w")
      case "wep" => MetaBlocking.wep(weighted, selfW = selfW)
        .select("p1", "p2", "w")
      case other => throw new IllegalArgumentException(
        s"unknown pruning '$other' (wnp | wep)")
    })
    val matches =
      if (config.matcher == "none") candidates
      else Snapshot(score(attrs, candidates, config))
    // minLabel already returns a snapshot reader; every matched endpoint
    // is a profile_id of attrs (its contract)
    val entities = graft.util.ConnectedComponents.minLabel(
      attrs.select(col("profile_id")).distinct(), matches,
      idCol = "profile_id", srcCol = "p1", dstCol = "p2", labelCol = "entity_id")
    Result(candidates, matches, entities)
  }

  /** The comparison stage: one attribute's values per profile, the chosen
   * string comparator over the candidate pairs, thresholded on the
   * 9-dp-rounded score. */
  private def score(attrs: DataFrame, candidates: DataFrame,
                    config: Config): DataFrame = {
    val vals = attrs
      .filter(col("attribute") === config.matchAttribute)
      .select(col("profile_id"), lower(col("value")).as("nm"))
    val paired = candidates.select("p1", "p2")
      .join(vals.select(col("profile_id").as("p1"), col("nm").as("nm1")), Seq("p1"))
      .join(vals.select(col("profile_id").as("p2"), col("nm").as("nm2")), Seq("p2"))
    val sim = config.matcher match {
      case "levenshtein" =>
        lit(1.0) - levenshtein(col("nm1"), col("nm2")).cast("double") /
          greatest(length(col("nm1")), length(col("nm2"))).cast("double")
      case "jaro-winkler" => graft.functions.JaroWinkler.jw(col("nm1"), col("nm2"))
      case other => throw new IllegalArgumentException(
        s"unknown matcher '$other' (levenshtein | jaro-winkler | none)")
    }
    paired
      .withColumn("sim", graft.functions.FastRound.round(sim, 9))
      .filter(col("sim") >= config.matchThreshold)
      .select("p1", "p2", "sim")
  }
}
