package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.er.{Blocking, ErPipeline, MetaBlocking, Pipeline, WeightType}
import graft.util.{ConnectedComponents, Snapshot}

/** The one-call facade must compose the standalone operators EXACTLY —
 * asserted by equality with the hand-wired oracle-checked chain. */
class ErPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("default config reproduces the hand-wired dirty chain end to end") {
    val r = ErPipeline.run(
      graft.queries.ErQueries.partAttrs(spark, sf, twoSources = false))
    assert(rows(r.matches) ==
      rows(graft.queries.ErQueries.matchedPairs(spark, sf)))
    assert(rows(r.entities) ==
      rows(graft.queries.ErQueries.entities(spark, sf)))
    assert(r.candidates.count() > r.matches.count())
  }

  test("clean config runs record linkage; stage knobs change the result") {
    val attrs = graft.queries.ErQueries.partAttrs(spark, sf, twoSources = true)
    val base = ErPipeline.run(attrs, ErPipeline.Config(clean = true))
    assert(base.matches.count() > 0)
    // every match crosses sources (parity split): p1 and p2 differ mod 2
    assert(base.matches.filter("p1 % 2 = p2 % 2").count() == 0)
    val js = ErPipeline.run(attrs,
      ErPipeline.Config(clean = true, weight = WeightType.JS))
    assert(js.candidates.count() != base.candidates.count())
    val jw = ErPipeline.run(attrs, ErPipeline.Config(clean = true,
      matcher = "jaro-winkler", matchThreshold = 0.8))
    assert(jw.matches.columns.toSeq == Seq("p1", "p2", "sim"))
  }

  test("matcher none passes candidates through; bad knobs throw") {
    val attrs = graft.queries.ErQueries.partAttrs(spark, sf, twoSources = false)
    val r = ErPipeline.run(attrs, ErPipeline.Config(matcher = "none"))
    assert(rows(r.matches) == rows(r.candidates))
    intercept[IllegalArgumentException](
      ErPipeline.run(attrs, ErPipeline.Config(blocking = "sorted")))
    intercept[IllegalArgumentException](
      ErPipeline.run(attrs, ErPipeline.Config(pruning = "cnp")))
  }

  /** ErPipeline.run wired the way the benchmark's traced run composes it:
   * every stage snapshotted, all six weight schemes computed wide and the
   * configured one selected by view, the Levenshtein matcher. */
  private def wideRun(attrs: DataFrame, c: ErPipeline.Config): ErPipeline.Result = {
    val cb = Pipeline.cleanBlocks(Blocking.tokenKeys(attrs), c.clean,
      c.smoothFactor, c.filterR, stage = Snapshot.apply)
    val pairs = Snapshot(cb.pairs())
    val pstats = Snapshot(cb.profileStats)
    val weighted = MetaBlocking.schemeView(Snapshot(
      MetaBlocking.weightedPairsAll(pairs, pstats, cb.numberOfBlocks)), c.weight)
    val selfW =
      if (c.clean) None
      else Some(MetaBlocking.selfSchemeView(Snapshot(
        MetaBlocking.selfWeightsAll(pstats, cb.numberOfBlocks, pairs)), c.weight))
    val pruned =
      if (c.pruning == "wep") MetaBlocking.wep(weighted, selfW = selfW)
      else MetaBlocking.wnp(weighted, c.thresholdType, c.comparisonType,
        c.weight, selfW = selfW)
    val candidates = Snapshot(pruned.select("p1", "p2", "w"))
    val names = attrs.filter(col("attribute") === c.matchAttribute)
      .select(col("profile_id"), lower(col("value")).as("nm"))
    val sim = lit(1.0) - levenshtein(col("nm1"), col("nm2")).cast("double") /
      greatest(length(col("nm1")), length(col("nm2"))).cast("double")
    val matches = Snapshot(candidates.select("p1", "p2")
      .join(names.select(col("profile_id").as("p1"), col("nm").as("nm1")), Seq("p1"))
      .join(names.select(col("profile_id").as("p2"), col("nm").as("nm2")), Seq("p2"))
      .withColumn("sim", graft.functions.FastRound.round(sim, 9))
      .filter(col("sim") >= c.matchThreshold)
      .select("p1", "p2", "sim"))
    val entities = Snapshot(ConnectedComponents.minLabel(
      Snapshot(attrs.select(col("profile_id")).distinct()), matches,
      idCol = "profile_id", srcCol = "p1", dstCol = "p2", labelCol = "entity_id"))
    ErPipeline.Result(candidates, matches, entities)
  }

  test("run equals the wide all-scheme composition; keyless profiles get an entity") {
    // profile 999999's only value is punctuation: it yields no blocking key
    val keyless = 999999L
    val dirty = graft.queries.ErQueries.partAttrs(spark, sf, twoSources = false)
      .union(Seq((keyless, 0, "name", "-- !! ..")).toDF(
        "profile_id", "source_id", "attribute", "value"))
    assert(Blocking.tokenKeys(dirty).filter(col("profile_id") === keyless).isEmpty)
    val clean = graft.queries.ErQueries.partAttrs(spark, sf, twoSources = true)
    val cases =
      WeightType.values.toSeq.map(wt => dirty -> ErPipeline.Config(weight = wt)) ++
        Seq(dirty -> ErPipeline.Config(pruning = "wep", weight = WeightType.ARCS),
          clean -> ErPipeline.Config(clean = true, weight = WeightType.EJS))
    for ((attrs, c) <- cases) {
      val got = ErPipeline.run(attrs, c)
      val want = wideRun(attrs, c)
      val tag = s"${c.weight}/${c.pruning}/clean=${c.clean}"
      assert(rows(got.candidates) == rows(want.candidates), s"$tag candidates")
      assert(rows(got.matches) == rows(want.matches), s"$tag matches")
      assert(rows(got.entities) == rows(want.entities), s"$tag entities")
      if (!c.clean)
        assert(rows(got.entities.filter(col("profile_id") === keyless)) ==
          Seq(s"[$keyless,$keyless]"), s"$tag: keyless profile lost its entity")
    }
  }
}
