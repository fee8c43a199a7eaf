package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.er._

/**
 * Structural invariants of the meta-blocking operators (SURVEY.md §5),
 * checked over several seeded random block collections — properties that
 * must hold for ANY input, complementing the fixed-fixture specs and the
 * DuckDB value oracle:
 *
 *  - purging keep-set grows monotonically with the smooth factor;
 *  - filtering keeps a subset, never empties a profile, always keeps the
 *    profile's cheapest block;
 *  - WNP(AND) ⊆ WNP(OR) ⊆ edges;
 *  - CNP(AND) ⊆ CNP(OR) ⊆ edges, and AND retains ≤ k edges per profile;
 *  - WEP keeps a non-empty subset (max ≥ mean);
 *  - CEP keeps exactly min(K, |edges|) edges (tie quotas fill K exactly);
 *  - symmetric weight schemes produce w1 == w2 on every edge;
 *  - the narrow one-scheme weights equal the wide all-scheme views.
 */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** Seeded random (profile, key) incidence: ~nProfiles profiles over
   * ~nKeys keys with zipf-ish popular keys, always distinct rows. Sparse
   * enough that no profile lands in EVERY valid block: a row-margin of
   * zero makes the chi-square expected count 0/0 — an input the Python
   * reference itself crashes on (ZeroDivisionError in calc_chi_square),
   * i.e. outside the operator's domain, not a property to test. */
  private def genKeys(seed: Int, nProfiles: Int = 60, nKeys: Int = 40): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = for {
      p <- 0 until nProfiles
      k <- 0 until nKeys
      // popular low-numbered keys: membership prob decays with k
      if rnd.nextDouble() < 0.5 / (1 + k % 11)
    } yield (s"k$k", p.toLong, 0)
    rows.distinct.toDF("key", "profile_id", "source_id")
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("p1", "p2").as[(Long, Long)].collect().toSet

  test("purging keep-set is monotone in the smooth factor") {
    for (seed <- 1 to 3) {
      val stats = Blocking.blockStats(
        Blocking.validBlocks(genKeys(seed), clean = false), clean = false)
      val kept = Seq(1.0, 1.005, 1.05, 1.3).map { s =>
        BlockCleaning.purge(stats, s).select("key").as[String].collect().toSet
      }
      kept.sliding(2).foreach { case Seq(lo, hi) =>
        assert(lo.subsetOf(hi), s"seed $seed: purge not monotone")
      }
    }
  }

  test("filtering keeps a subset, never empties a profile, keeps the cheapest block") {
    for (seed <- 1 to 3) {
      val keys = genKeys(seed)
      val members = Blocking.validBlocks(keys, clean = false)
      val stats = Blocking.blockStats(members, clean = false)
      val pb = members.join(stats.select("key", "comparisons"), Seq("key"))
        .select("profile_id", "key", "comparisons")
      val kept = BlockCleaning.filterProfileBlocks(pb, 0.6)
      // subset
      assert(kept.exceptAll(pb).isEmpty)
      // no profile emptied; cheapest block survives
      val minBlocks = pb.withColumn("_m", min(struct(col("comparisons"), col("key")))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("profile_id")))
        .filter(struct(col("comparisons"), col("key")) === col("_m")).drop("_m")
      assert(minBlocks.join(kept, Seq("profile_id", "key"), "left_anti").isEmpty,
        s"seed $seed: a profile's cheapest block was dropped")
    }
  }

  test("WNP(AND) ⊆ WNP(OR) ⊆ edges; WEP non-empty subset") {
    for (seed <- 1 to 3) {
      val cb = Pipeline.cleanBlocks(genKeys(seed), clean = false)
      val weighted = graft.util.Snapshot(cb.weighted(WeightType.CBS))
      val edges = pairsOf(weighted)
      val or = pairsOf(MetaBlocking.wnp(weighted, ThresholdType.AVG, ComparisonType.OR, WeightType.CBS))
      val and = pairsOf(MetaBlocking.wnp(weighted, ThresholdType.AVG, ComparisonType.AND, WeightType.CBS))
      assert(and.subsetOf(or) && or.subsetOf(edges), s"seed $seed: WNP inclusion broken")
      val wep = pairsOf(MetaBlocking.wep(weighted))
      assert(wep.nonEmpty && wep.subsetOf(edges), s"seed $seed: WEP not a non-empty subset")
    }
  }

  test("CNP(AND) ⊆ CNP(OR) ⊆ edges; AND retains ≤ k edges per profile") {
    val k = 3L
    for (seed <- 1 to 3) {
      val cb = Pipeline.cleanBlocks(genKeys(seed), clean = false)
      val weighted = graft.util.Snapshot(cb.weighted(WeightType.CBS))
      val edges = pairsOf(weighted)
      val or = pairsOf(MetaBlocking.cnp(weighted, cb.stats2, 60L, ComparisonType.OR, kOverride = Some(k)))
      val and = pairsOf(MetaBlocking.cnp(weighted, cb.stats2, 60L, ComparisonType.AND, kOverride = Some(k)))
      assert(and.subsetOf(or) && or.subsetOf(edges), s"seed $seed: CNP inclusion broken")
      val perProfile = and.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size)
      assert(perProfile.values.forall(_ <= k),
        s"seed $seed: reciprocal CNP kept more than k=$k edges for a profile")
    }
  }

  test("CEP keeps exactly min(K, |edges|) edges") {
    for (seed <- 1 to 3) {
      val cb = Pipeline.cleanBlocks(genKeys(seed), clean = false)
      val weighted = graft.util.Snapshot(cb.weighted(WeightType.CBS))
      val k = cb.stats2.agg(floor(sum(col("size")) / 2.0).cast("long")).as[Long].head()
      val total = weighted.count()
      val cep = MetaBlocking.cep(weighted, cb.stats2)
      assert(cep.count() == math.min(k, total),
        s"seed $seed: CEP kept ${cep.count()} of expected ${math.min(k, total)}")
      // and it is a subset of the graph
      assert(cep.select("p1", "p2").exceptAll(weighted.select("p1", "p2")).isEmpty)
    }
  }

  test("symmetric weight schemes have w1 == w2 on every edge") {
    var arcsDiff = 0L
    for (seed <- 1 to 4) {
      val cb = Pipeline.cleanBlocks(genKeys(seed), clean = false)
      val wide = graft.util.Snapshot(MetaBlocking.weightedPairsAll(
        graft.util.Snapshot(cb.pairs()), cb.profileStats, cb.numberOfBlocks))
      for (wt <- Seq(WeightType.CBS, WeightType.JS, WeightType.ECBS, WeightType.ChiSquare)) {
        val n = MetaBlocking.schemeName(wt)
        val bad = wide.filter(col(s"w1_$n") =!= col(s"w2_$n")).count()
        assert(bad == 0, s"seed $seed: $wt asymmetric on $bad edges")
      }
      // ARCS is asymmetric BY DESIGN (per-profile denominator,
      // common_node_pruning.py:185-201); accumulate over seeds — a single
      // fixture can coincidentally balance the denominators
      arcsDiff += wide.filter(col("w1_arcs") =!= col("w2_arcs")).count()
    }
    assert(arcsDiff > 0,
      "ARCS symmetric on every seed - the asymmetry canary lost its teeth")
  }

  /** Rows sorted, every double as its bit pattern: equality is exact. */
  private def exactRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.mkString(","))

  test("narrow weightedPairs / selfWeights equal the wide views bit for bit") {
    for (seed <- 1 to 3; useEntropy <- Seq(false, true)) {
      val cb = Pipeline.cleanBlocks(genKeys(seed), clean = false)
      // seeded block entropies in (0, 2]; a profile's self entropy is the
      // sum over its valid blocks
      val blockEnt = if (!useEntropy) None else Some(graft.util.Snapshot(
        cb.stats2.select(col("key"),
          ((abs(hash(col("key"), lit(seed))) % 100 + 1) / 50.0).as("entropy"))))
      val selfEnt = blockEnt.map(be => graft.util.Snapshot(cb.members2
        .join(be, Seq("key")).groupBy("profile_id").agg(sum("entropy").as("entropy_sum"))))
      val pairs = graft.util.Snapshot(cb.pairs(blockEnt))
      val pstats = graft.util.Snapshot(cb.profileStats)
      val wide = graft.util.Snapshot(
        MetaBlocking.weightedPairsAll(pairs, pstats, cb.numberOfBlocks, useEntropy))
      val selfWide = graft.util.Snapshot(
        MetaBlocking.selfWeightsAll(pstats, cb.numberOfBlocks, pairs, useEntropy, selfEnt))
      // the same pairs with the endpoints swapped: its w1 is p2's view of
      // the original edge, so it must equal the original w2
      val flipped = pairs.select(col("p2").as("p1"), col("p1").as("p2"),
        col("cbs"), col("entropy_sum"))
      val tag = s"seed $seed, useEntropy $useEntropy"
      for (wt <- WeightType.values.toSeq) {
        val narrow = exactRows(MetaBlocking.weightedPairs(pairs, pstats,
          cb.numberOfBlocks, wt, useEntropy))
        assert(narrow.nonEmpty)
        assert(narrow == exactRows(MetaBlocking.schemeView(wide, wt)),
          s"$tag: $wt weightedPairs differs from its wide view")
        val p2View = exactRows(MetaBlocking.weightedPairs(flipped, pstats,
          cb.numberOfBlocks, wt, useEntropy).select(col("p2").as("p1"), col("p1").as("p2"),
          col("w1").as("w2")))
        assert(p2View == exactRows(MetaBlocking.schemeView(wide, wt).select("p1", "p2", "w2")),
          s"$tag: $wt w2 differs from w1 of the swapped pair")
        val self = exactRows(MetaBlocking.selfWeights(pstats,
          cb.numberOfBlocks, wt, useEntropy, selfEnt, pairs = Some(pairs)))
        assert(self.nonEmpty)
        assert(self == exactRows(MetaBlocking.selfSchemeView(selfWide, wt)),
          s"$tag: $wt selfWeights differs from its wide view")
      }
    }
  }

  test("one-scheme weights join the EJS degree aggregate only for EJS") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val cb = Pipeline.cleanBlocks(genKeys(1), clean = false)
    val pairs = graft.util.Snapshot(cb.pairs())
    val pstats = graft.util.Snapshot(cb.profileStats)
    val nb = graft.util.Snapshot(cb.numberOfBlocks)
    // over snapshot inputs, every join and aggregate left in the plan is
    // the weighting's own
    def shape(df: DataFrame): (Int, Seq[String]) = {
      val plan = df.queryExecution.optimizedPlan
      (plan.collect { case j: Join => j }.size,
        plan.collect { case a: Aggregate => a }.flatMap(_.aggregateExpressions.map(_.name)))
    }
    for (wt <- WeightType.values.toSeq; useEntropy <- Seq(false, true)) {
      val (joins, aggs) = shape(MetaBlocking.weightedPairs(pairs, pstats, nb, wt, useEntropy))
      val (selfJoins, selfAggs) = shape(MetaBlocking.selfWeights(pstats, nb, wt, useEntropy,
        pairs = Some(pairs)))
      if (wt == WeightType.EJS) {
        // the optimizer names the degree aggregate after its join alias
        assert(joins == 6 && aggs.exists(_.startsWith("degree")) &&
          aggs.contains("number_of_edges"), s"EJS: $joins joins, aggregates $aggs")
        assert(selfJoins == 3 && selfAggs.exists(_.startsWith("degree")),
          s"EJS self: $selfJoins joins, aggregates $selfAggs")
      } else {
        // two stats joins and the number_of_blocks cross join
        assert(joins == 3 && aggs.isEmpty, s"$wt: $joins joins, aggregates $aggs")
        assert(selfJoins == 1 && selfAggs.isEmpty, s"$wt self: $selfJoins joins, $selfAggs")
      }
    }
  }

  test("winnowing guarantee: any shared substring of length k+w-1 yields a shared fingerprint") {
    // seeded random docs with a planted shared block of EXACTLY the
    // guarantee length t = k + w - 1 at random offsets: for every seed,
    // the two docs must share at least one selected fingerprint hash —
    // the SIGMOD'03 correctness property at the production parameters
    import graft.text.TextAnalysis
    val t = TextAnalysis.WinnowK + TextAnalysis.WinnowW - 1
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      def rndStr(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val block = rndStr(t)
      val d1 = rndStr(rnd.nextInt(40)) + block + rndStr(rnd.nextInt(40))
      val d2 = rndStr(rnd.nextInt(40)) + block + rndStr(rnd.nextInt(40))
      val sets = TextAnalysis.winnow(Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"))
        .select("doc_id", "gram_hash").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
      assert((sets(1L) intersect sets(2L)).nonEmpty,
        s"seed $seed: no shared fingerprint for a planted $t-char match")
    }
  }

  /** Seeded random corpus with a planted 12-token phrase in every third
   * document (guaranteed duplicated L=10 spans at random offsets) plus
   * unique-vocab filler (tokens carry the doc id, so filler never
   * duplicates across docs). */
  private def genDocs(seed: Int, nDocs: Int = 30): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val phrase = (1 to 12).map("p" + _)
    (0 until nDocs).map { i =>
      def filler(n: Int) = (1 to n).map(_ => s"f${i}_${rnd.nextInt(1000)}")
      val toks =
        if (i % 3 == 0) filler(rnd.nextInt(15)) ++ phrase ++ filler(rnd.nextInt(15))
        else filler(5 + rnd.nextInt(30))
      (i.toLong, toks.mkString(" "))
    }
  }

  test("dupSpans invariants: bounds, min length, disjoint, window counts") {
    for (seed <- 1 to 3) {
      val rows = genDocs(seed)
      val lens = rows.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
      val L = 10
      val spans = graft.text.Curation.dupSpans(rows.toDF("doc_id", "text"), L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(spans.nonEmpty, s"seed $seed: tiny vocab must produce duplicates")
      spans.foreach { case (id, s0, e0, tk, nw) =>
        assert(s0 >= 0 && e0 <= lens(id), s"seed $seed: span out of doc bounds")
        assert(tk == e0 - s0 && tk >= L, s"seed $seed: span shorter than L")
        assert(nw >= 1 && nw <= tk - L + 1, s"seed $seed: window count impossible")
      }
      // spans of one doc are disjoint AND non-adjacent (maximality: a gap
      // of <= L windows would have merged)
      spans.groupBy(_._1).foreach { case (_, ss) =>
        val sorted = ss.sortBy(_._2)
        sorted.sliding(2).foreach {
          case Array((_, _, e1, _, _), (_, s2, _, _, _)) => assert(s2 - e1 > 0)
          case _ =>
        }
      }
    }
  }

  test("substrDupSpans == brute force on random low-alphabet strings") {
    // exhaustive in-memory reference: every L-window, global canonical
    // election by the fused key, island merge on gap <= L — any
    // distributed shortcut (the broadcastable repeat-window join, the
    // memoized prefix) must be invisible in the result
    val L = 6
    def brute(rows: Seq[(Long, String)]): Set[(Long, Long, Long, Long, Long)] = {
      val occ = for {
        (id, t) <- rows if t.length >= L
        p <- 0 to t.length - L
      } yield (id, p.toLong, t.substring(p, p + L))
      val byS = occ.groupBy(_._3)
      val marked = occ.filter { case (id, p, s) =>
        val g = byS(s)
        g.size >= 2 && id * 1000000L + p != g.map(o => o._1 * 1000000L + o._2).min
      }.map(o => (o._1, o._2))
      marked.groupBy(_._1).flatMap { case (id, ps) =>
        val islands = scala.collection.mutable.ArrayBuffer
          .empty[scala.collection.mutable.ArrayBuffer[Long]]
        for (p <- ps.map(_._2).sorted) {
          if (islands.nonEmpty && p - islands.last.last <= L) islands.last += p
          else islands += scala.collection.mutable.ArrayBuffer(p)
        }
        islands.map(i => (id, i.head, i.last + L, i.last + L - i.head, i.size.toLong))
      }.toSet
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // 2-letter alphabet forces plenty of repeats and self-overlaps
      val rows = (0L until 14L).map(id =>
        id -> Array.fill(5 + rnd.nextInt(55))("ab" (rnd.nextInt(2))).mkString)
      val got = graft.text.Curation.substrDupSpans(rows.toDF("doc_id", "text"), L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(got == brute(rows), s"seed $seed")
      // apply conservation: cleaned length == original - removed, and the
      // canonical (globally first) copy of every repeated window survives
      val applied = graft.text.Curation.substrDedupApply(rows.toDF("doc_id", "text"), L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val lens = rows.toMap
      applied.foreach { case (id, rm, clean) =>
        assert(clean.length == lens(id).length - rm, s"seed $seed doc $id")
      }
    }
  }

  test("WindowHashes64: rolled digests equal the direct per-window fold") {
    // the O(n) roll must be bit-identical to hashing each window from
    // scratch — the ring-mod-2^64 identity ExactSubstr's candidate
    // nomination rests on (equal windows MUST collide; no false negatives)
    import org.apache.spark.sql.functions.col
    def direct(s: String, l: Int): Seq[Long] =
      (0 to s.length - l).map { p =>
        var h = 0L
        (p until p + l).foreach(j =>
          h = h * graft.functions.WindowHashes64.Base + s.charAt(j))
        h
      }
    val rnd = new scala.util.Random(11)
    for (seed <- 1 to 20) {
      val s = Array.fill(3 + rnd.nextInt(200))(('a' + rnd.nextInt(3)).toChar).mkString
      val l = 1 + rnd.nextInt(12)
      val got = Seq(s).toDF("text")
        .select(graft.functions.WindowHashes64(col("text"), l).as("hs"))
        .first().getSeq[Long](0)
      val want = if (s.length < l) Seq.empty[Long] else direct(s, l)
      assert(got == want, s"seed $seed l=$l len=${s.length}")
    }
  }

  test("WindowHashes64: positions are CODE POINTS — supplementary-plane parity") {
    // every consumer re-slices by Spark substr/length, which count code
    // points; hashing UTF-16 units would misalign everything after the
    // first astral char (emoji). Direct code-point fold == kernel, count
    // == Spark length() - L + 1, and the hash at position p equals the
    // kernel run on Spark's own substr(p+1, L) — the consumer's re-slice.
    import org.apache.spark.sql.functions.{col, length, substring}
    def direct(s: String, l: Int): Seq[Long] = {
      val cps = s.codePoints.toArray
      (0 to cps.length - l).map { p =>
        var h = 0L
        (p until p + l).foreach(j =>
          h = h * graft.functions.WindowHashes64.Base + cps(j))
        h
      }
    }
    val astral = Array("😀", "🍕", "a", "b", "🚀")
    val rnd = new scala.util.Random(19)
    for (seed <- 1 to 12) {
      val s = Array.fill(2 + rnd.nextInt(60))(
        astral(rnd.nextInt(astral.length))).mkString
      val l = 1 + rnd.nextInt(6)
      val cpCount = s.codePointCount(0, s.length)
      val row = Seq(s).toDF("text").select(
        graft.functions.WindowHashes64(col("text"), l).as("hs"),
        length(col("text")).as("n")).first()
      assert(row.getInt(1) == cpCount, "Spark length() must count code points")
      val got = row.getSeq[Long](0)
      val want = if (cpCount < l) Seq.empty[Long] else direct(s, l)
      assert(got == want, s"seed $seed l=$l")
      if (got.nonEmpty) {
        val p = rnd.nextInt(got.size)
        val re = Seq(s).toDF("text")
          .select(graft.functions.WindowHashes64(
            substring(col("text"), p + 1, l), l).as("hs"))
          .first().getSeq[Long](0)
        assert(re == Seq(got(p)), s"seed $seed: position $p misaligned " +
          "with Spark substr — consumers would verify the wrong window")
      }
    }
  }

  test("ExactSubstr end-to-end across astral chars: spans land on code-point offsets") {
    val L = 8
    val dup = "DUPLICAT"
    val d0 = "😀😀" + dup + "xyz" // canonical copy, doc 0
    val d1 = "🍕abc" + dup + "🚀tail"
    val docs = Seq((0L, d0), (1L, d1)).toDF("doc_id", "text")
    val spans = graft.text.Curation.substrDupSpans(docs, L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1's copy sits after 4 CODE POINTS (one emoji + abc), not 5
    // UTF-16 units — the pre-fix kernel missed this duplicate entirely
    assert(spans == Set((1L, 4L, 12L)), s"got $spans")
    val applied = graft.text.Curation.substrDedupApply(docs, L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(applied(0L) == d0)
    assert(applied(1L) == "🍕abc🚀tail")
  }

  test("ExactSubstr occurrence snapshot is fixed-width — no window strings on disk") {
    // VERDICT r8 #2: the occurrence table used to materialize the L-char
    // window STRING per position (~L× the corpus text written to scratch
    // and carried as the shuffle key). Hash-first carries (doc_id, pos, h)
    // at 24 fixed bytes/row; this pins both the schema (no string column
    // can reappear) and the on-disk volume (below what the string column
    // ALONE would need at nRows × L bytes).
    val rnd = new scala.util.Random(7)
    val L = 60
    val rows = (0L until 50L).map(id =>
      id -> Array.fill(500)(('a' + rnd.nextInt(26)).toChar).mkString)
    val (path, occ) = graft.text.Curation.substrOcc(
      rows.toDF("doc_id", "text"), L, "text", "doc_id")
    assert(occ.schema.fields.forall(_.dataType !=
        org.apache.spark.sql.types.StringType),
      s"window strings back in the occurrence snapshot: ${occ.schema}")
    val nRows = occ.count()
    assert(nRows == 50L * (500 - L + 1))
    val dirBytes = new java.io.File(path).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(dirBytes < nRows * L,
      s"occurrence snapshot $dirBytes B for $nRows rows — the L-char " +
        s"window strings (~${nRows * L} B) are being materialized again")
  }

  test("dupSpansRemove conservation: kept + removed spans cover every token once") {
    for (seed <- 4 to 6) {
      val rows = genDocs(seed)
      val df = rows.toDF("doc_id", "text")
      val kept = graft.text.Curation.dupSpansRemove(df, L = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every surviving doc's text_clean token count == kept_tokens, and
      // kept_tokens never exceeds the original length
      val lens = rows.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
      kept.foreach { case (id, k) =>
        assert(k >= 1 && k <= lens(id), s"seed $seed: kept tokens out of range")
      }
      // a doc with no duplicated spans survives in full
      val spanned = graft.text.Curation.dupSpans(df, L = 10)
        .collect().map(_.getLong(0)).toSet
      rows.foreach { case (id, t) =>
        if (!spanned.contains(id))
          assert(kept.get(id).contains(lens(id)), s"seed $seed: untouched doc truncated")
      }
    }
  }
}
