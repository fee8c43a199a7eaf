package erbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.er._
import graft.util.Snapshot

/** Names of the per-layer metrics, shared by the workloads so
 * every traced run reports the same set (0 for a layer the workload does
 * not run). */
object Layers {
  val ErStages = Seq("keys", "blocks", "purge", "filter", "revalidate",
    "pair_graph", "profile_stats", "weighted", "self_weights", "pruned", "matched", "entities")
  val Families = Seq("er", "sup", "txt", "evt", "sql", "ann", "dedup", "mm")
  val Mb = 1048576.0

  /** The order in which Pipeline.cleanBlocks calls its `stage` hook:
   * members0, stats0 | purged stats | filtered profile blocks | members2,
   * stats2. */
  val CleanBlocksHook = Array("blocks", "blocks", "purge", "filter", "revalidate", "revalidate")

  val StageMetrics = Seq("s", "rows", "task_cpu_s", "shuffle_mb", "snapshot_mb")
  val StageCounts = Seq("blocks.comparisons", "purge.comparisons", "filter.comparisons",
    "pair_graph.pc", "pair_graph.pq", "pruned.pc", "pruned.pq")
  val FamilyMetrics = Seq("first_s", "steady_s", "task_cpu_s", "driver_s", "shuffle_mb")
  val WarmupMetrics = Seq("warmup.s", "warmup.task_cpu_s", "warmup.driver_s")

  /** 0 for each metric of a layer the workload does not run. */
  def absent(names: Seq[String]): Map[String, Double] = names.map(_ -> 0.0).toMap
  def stageNames: Seq[String] = ErStages.flatMap(s => StageMetrics.map(m => s"$s.$m")) ++ StageCounts
  def familyNames: Seq[String] = Families.flatMap(f => FamilyMetrics.map(m => s"$f.$m"))

  /** Per-operation means of each stage span over `ops` steady traced
   * operations; rows as counted on the last one. */
  def erStages(t: Trace, ops: Int, rows: Map[String, Long]): Map[String, Double] =
    ErStages.flatMap { s =>
      def per(f: t.Acc => Double) = t.get(s).fold(0.0)(f) / ops
      Seq(s"$s.s" -> per(_.wallS),
        s"$s.rows" -> rows.getOrElse(s, 0L).toDouble,
        s"$s.task_cpu_s" -> per(_.cpuNs / 1e9),
        s"$s.shuffle_mb" -> per(_.shuffleBytes / Mb),
        s"$s.snapshot_mb" -> per(_.outputBytes / Mb))
    }.toMap

  /** Per-pass means of each family's spans over `ops` steady traced
   * passes; first_s from the first pass. */
  def families(t: Trace, ops: Int): Map[String, Double] =
    Families.flatMap { f =>
      def per(g: t.Acc => Double) = t.get(f).fold(0.0)(g) / ops
      Seq(s"$f.first_s" -> t.get(s"first/$f").fold(0.0)(_.wallS),
        s"$f.steady_s" -> per(_.wallS),
        s"$f.task_cpu_s" -> per(_.cpuNs / 1e9),
        s"$f.driver_s" -> t.driverS(f) / ops,
        s"$f.shuffle_mb" -> per(_.shuffleBytes / Mb))
    }.toMap

  def warmup(t: Trace): Map[String, Double] = {
    val a = t.get("warmup")
    Map("warmup.s" -> a.fold(0.0)(_.wallS),
      "warmup.task_cpu_s" -> a.fold(0.0)(_.cpuNs / 1e9),
      "warmup.driver_s" -> t.driverS("warmup"))
  }
}

/**
 * er_dirty: dirty ER over a generated planted-duplicate corpus through
 * ErPipeline.run (token blocking, CBS weights, WNP, Jaro-Winkler on
 * `surname`, connected components). Traced operations compose the same
 * layer calls by hand, each in its own span, and must reproduce
 * ErPipeline.run's fingerprints.
 */
final class ErDirtyWorkload(o: Main.Opts) extends Workload {
  import ErDirtyWorkload._
  /** The largest corpus the run budget allows. */
  val Profiles = 6000
  /** The reference's dirty-dataset parameters (purging 1.025, filtering
   * 0.8, CBS, WNP AVG OR). */
  val Config = ErPipeline.Config(blocking = "token", smoothFactor = 1.025,
    weight = WeightType.CBS, pruning = "wnp", matcher = "jaro-winkler",
    matchAttribute = "surname", matchThreshold = 0.9)

  private var data: Corpus.Data = _
  private val gt = new java.util.HashSet[java.lang.Long]()
  private var attrs: DataFrame = _
  private var gtDf: DataFrame = _
  private def corpusFile = o.work.resolve("corpus.csv")
  private def gtFile = o.work.resolve("gt.csv")

  /** Generates the corpus and writes it as CSV without Spark, so that no
   * Spark work runs before the set-up is timed. Values hold only
   * letters, digits and spaces. */
  def generate(): Unit = {
    data = Corpus.dirty(o.seed, Profiles, dupShare = 0.2)
    data.gt.foreach { case (a, b) => gt.add(Pairs.pack(a, b)) }
    System.err.println(s"[erbench] corpus profiles=${data.profiles} rows=${data.rows.length} " +
      s"gt_pairs=${data.gt.length} raw_comparisons=${data.rawComparisons}")
    writeLines(corpusFile, data.rows.iterator.map(r => s"${r.profileId},0,${r.attribute},${r.value}"))
    writeLines(gtFile, data.gt.iterator.map { case (a, b) => s"$a,$b" })
  }

  private def writeLines(path: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(path)
    try lines.foreach { l => w.write(l); w.newLine() }
    finally w.close()
  }

  def load(spark: SparkSession): Unit = {
    attrs = spark.read.schema("profile_id LONG, source_id INT, attribute STRING, value STRING")
      .csv(corpusFile.toString)
    gtDf = spark.read.schema("p1 LONG, p2 LONG").csv(gtFile.toString)
    attrs.count(); gtDf.count()
  }

  private var reference: Option[Seq[String]] = None
  private var lastQuality = Map.empty[String, Double]
  private var lastRows = Map.empty[String, Long]

  def op(spark: SparkSession, trace: Option[Trace], first: Boolean): (Double, Int) =
    trace match {
      case None =>
        val t0 = System.nanoTime()
        val r = ErPipeline.run(attrs, Config)
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, check(Out(r.candidates, r.matches, r.entities), Nil))
      case Some(t) =>
        val t0 = System.nanoTime()
        val st = compose(t, if (first) "first/" else "")
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, check(st.out, stageChecks(st)))
    }

  /** ErPipeline.run as individual layer calls, each inside a span. The
   * six `stage` calls of Pipeline.cleanBlocks map to four spans. */
  private def compose(t: Trace, prefix: String): Staged = {
    val outputs = mutable.LinkedHashMap.empty[String, DataFrame]
    def kept(name: String)(f: => DataFrame): DataFrame = {
      val df = t.span(prefix + name)(Snapshot(f))
      outputs.getOrElseUpdate(name, df)
      df
    }
    var hook = 0
    val stage = (df: DataFrame) => {
      val name = Layers.CleanBlocksHook(hook); hook += 1
      kept(name)(df)
    }
    val keys = kept("keys")(Blocking.tokenKeys(attrs))
    val cb = Pipeline.cleanBlocks(keys, clean = false, Config.smoothFactor, Config.filterR,
      stage = stage)
    val pairs = kept("pair_graph")(cb.pairs())
    val pstats = kept("profile_stats")(cb.profileStats)
    val wide = kept("weighted")(MetaBlocking.weightedPairsAll(pairs, pstats, cb.numberOfBlocks))
    val selfWide = kept("self_weights")(
      MetaBlocking.selfWeightsAll(pstats, cb.numberOfBlocks, pairs))
    val candidates = kept("pruned")(MetaBlocking.wnp(
      MetaBlocking.schemeView(wide, Config.weight), Config.thresholdType,
      Config.comparisonType, Config.weight,
      selfW = Some(MetaBlocking.selfSchemeView(selfWide, Config.weight))).select("p1", "p2", "w"))
    val matches = kept("matched")(score(candidates))
    val entities = kept("entities")(graft.util.ConnectedComponents.minLabel(
      attrs.select(col("profile_id")).distinct(), matches,
      idCol = "profile_id", srcCol = "p1", dstCol = "p2", labelCol = "entity_id"))
    Staged(Out(candidates, matches, entities), outputs.toMap, cb, pairs)
  }

  /** ErPipeline's comparison stage for the Jaro-Winkler matcher, from the
   * same public functions. */
  private def score(candidates: DataFrame): DataFrame = {
    val vals = attrs.filter(col("attribute") === Config.matchAttribute)
      .select(col("profile_id"), lower(col("value")).as("nm"))
    candidates.select("p1", "p2")
      .join(vals.select(col("profile_id").as("p1"), col("nm").as("nm1")), Seq("p1"))
      .join(vals.select(col("profile_id").as("p2"), col("nm").as("nm2")), Seq("p2"))
      .withColumn("sim", graft.functions.FastRound.round(
        graft.functions.JaroWinkler.jw(col("nm1"), col("nm2")), 9))
      .filter(col("sim") >= Config.matchThreshold)
      .select("p1", "p2", "sim")
  }

  /** Row counts, comparison counts and pair-graph recall of a traced
   * operation (kept for its per-layer metrics), and its stage checks:
   * purging and filtering never add comparisons, and every pruned pair
   * is in the pair graph. */
  private def stageChecks(st: Staged): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    val rows = mutable.HashMap.empty[String, Long]
    st.outputs.foreach { case (name, df) => rows(name) = df.count() }
    def comparisons(stats: DataFrame): Long =
      stats.agg(sum(col("comparisons"))).head().getLong(0)
    val c = Seq(st.cb.stats0, st.cb.stats1, st.cb.stats2).map(comparisons)
    rows("blocks.comparisons") = c(0)
    rows("purge.comparisons") = c(1)
    rows("filter.comparisons") = c(2)
    if (c(1) > c(0)) failures += s"purging added comparisons: ${c(0)} -> ${c(1)}"
    if (c(2) > c(1)) failures += s"filtering added comparisons: ${c(1)} -> ${c(2)}"
    val norm = (df: DataFrame) =>
      df.select(least(col("p1"), col("p2")).as("p1"), greatest(col("p1"), col("p2")).as("p2"))
    if (!norm(st.out.candidates).except(norm(st.pairs)).isEmpty)
      failures += "pruned pairs outside the pair graph"
    rows("pair_graph.hits") = norm(st.pairs).join(broadcast(gtDf), Seq("p1", "p2")).count()
    lastRows = rows.toMap
    failures.toSeq
  }

  /** Output checks of one operation; returns the number that failed. The
   * first operation's fingerprints are the reference: in a traced run the
   * first operation is the traced composition, so every later untraced
   * ErPipeline.run is checked against it. */
  private def check(out: Out, stageFailures: Seq[String]): Int = {
    val failures = mutable.ArrayBuffer.empty[String]
    failures ++= stageFailures
    val cand = Pairs.collect(out.candidates)
    val matchRows = out.matches.select("p1", "p2", "sim").collect()
      .map(r => (Pairs.pack(r.getLong(0), r.getLong(1)), r.getDouble(2))).sortBy(_._1)
    val ent = out.entities.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val fps = Seq(Pairs.fingerprintPairs(cand),
      Pairs.fingerprint(matchRows.iterator.map { case (p, s) => s"$p:$s" }),
      Pairs.fingerprint(ent.iterator.map { case (p, e) => s"$p:$e" }))
    reference match {
      case None => reference = Some(fps)
      case Some(ref) => if (ref != fps) failures += s"fingerprints $fps differ from $ref"
    }
    val matchSet = matchRows.map(_._1)
    val candSet = cand.toSet
    if (!matchSet.forall(candSet)) failures += "matches outside the candidates"
    val label = ent.toMap
    if (ent.length != data.profiles) failures += s"${ent.length} entity rows for ${data.profiles} profiles"
    if (!matchSet.forall(p => label.get(p >>> 32) == label.get(p & 0xffffffffL)))
      failures += "a match spans two entities"
    val (pc, pq, _) = Pairs.quality(cand, gt)
    val (_, _, f1) = Pairs.quality(matchSet, gt)
    if (pc < 0.9) failures += f"pair completeness $pc%.4f below 0.9"
    lastQuality = Map("pc" -> pc, "pq" -> pq, "match_f1" -> f1)
    failures.foreach(f => System.err.println(s"[erbench] check failed: $f"))
    failures.length
  }

  def layers(t: Trace, tracedOps: Int): Map[String, Double] = {
    val rows = lastRows
    val hits = rows("pair_graph.hits").toDouble
    Layers.erStages(t, tracedOps, rows) ++
      Seq("blocks", "purge", "filter").map(s => s"$s.comparisons" -> rows(s"$s.comparisons").toDouble) ++
      Map("pair_graph.pc" -> hits / gt.size(),
        "pair_graph.pq" -> hits / math.max(rows("pair_graph"), 1L),
        "pruned.pc" -> lastQuality("pc"),
        "pruned.pq" -> lastQuality("pq")) ++
      lastQuality ++
      Layers.absent(Layers.familyNames ++ Layers.WarmupMetrics)
  }
}

object ErDirtyWorkload {
  final case class Out(candidates: DataFrame, matches: DataFrame, entities: DataFrame)

  /** A composed run's stage outputs, kept for the traced run's counts. */
  final case class Staged(out: Out, outputs: Map[String, DataFrame],
                          cb: CleanedBlocks, pairs: DataFrame)
}

/**
 * The driver-query suite: a fixed sample of SparkEntry.queries, one per
 * family, over the bundled driver tables. The first pass builds the
 * memoized artifacts the sample reads (keys, cleaned blocks, pair graphs,
 * attribute clusters, indexes); later passes read them. Traced runs also
 * time Warmup.run on a cold copy of the tables.
 */
final class SuiteWorkload(o: Main.Opts) extends Workload {
  val Sample = Seq("er_wnp_cbs_avg_or_dirty", "attr_clusters", "txt_clean",
    "evt_zscore_stream", "sql_rollup_agg", "ann_brute_topk", "dedup_simhash", "mm_metadata")

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case "sup" | "prog" | "attr" | "blast" => "sup"
    case f => f
  }

  private def dataDir = o.work.resolve("tables")
  private def coldDir = o.work.resolve("tables_cold")

  def generate(): Unit = {
    val missing = Sample.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: $missing")
    copyTables(dataDir)
    if (o.trace) copyTables(coldDir)
  }

  private def copyTables(to: Path): Unit = {
    Files.createDirectories(to)
    val tables = Files.list(o.suiteData)
    try tables.forEach(p => Files.copy(p, to.resolve(p.getFileName.toString)))
    finally tables.close()
  }

  def load(spark: SparkSession): Unit = {
    val tables = Files.list(dataDir)
    try tables.forEach(p => spark.read.parquet(p.toString).count())
    finally tables.close()
  }

  override def attemptsPerOp: Int = Sample.length
  /** A steady pass costs ~2 s, so five of them are cheap and steady the
   * per-query medians. */
  override def minSteady: Int = 5

  private val firstRows = mutable.LinkedHashMap.empty[String, Long]
  /** Per-query seconds of the steady untraced passes. */
  private val steadyTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Sum over the sample of each query's median steady time: one slow
   * query in one pass does not move it. */
  override def steady(opSeconds: Seq[Double]): Double =
    steadyTimes.valuesIterator.map(ts => Runner.median(ts.toSeq)).sum

  def op(spark: SparkSession, trace: Option[Trace], first: Boolean): (Double, Int) = {
    var bad = 0
    var seconds = 0.0
    Sample.foreach { q =>
      val name = (if (first) "first/" else "") + family(q)
      try {
        val t0 = System.nanoTime()
        val n = trace.fold(count(spark, q))(_.span(name)(count(spark, q)))
        val dt = (System.nanoTime() - t0) / 1e9
        seconds += dt
        if (first) System.err.println(f"[erbench] first pass $q $dt%.2fs")
        else if (trace.isEmpty) steadyTimes.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += dt
        firstRows.get(q) match {
          case None => firstRows(q) = n
          case Some(r) if r != n =>
            System.err.println(s"[erbench] check failed: $q returned $n rows, first pass $r")
            bad += 1
          case _ =>
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[erbench] $q failed: $e")
        bad += 1
      }
    }
    (seconds, bad)
  }

  private def count(spark: SparkSession, q: String): Long =
    graft.SparkEntry.queries(q)(spark, dataDir.toString).count()

  override def afterLoop(spark: SparkSession, t: Trace): Unit =
    t.span("warmup")(graft.queries.Warmup.run(spark, coldDir.toString))

  def layers(t: Trace, tracedOps: Int): Map[String, Double] =
    Layers.absent(Layers.stageNames ++ Seq("pc", "pq", "match_f1")) ++
      Layers.families(t, tracedOps) ++ Layers.warmup(t)
}
