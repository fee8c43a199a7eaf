package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Triangles, ZOrder}
import graft.similarity.ProductQuantization

/** Unit fixtures for the round-6 graph/layout/compression operators:
 * triangle counting, z-order clustering, product quantization. */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def edges(rows: (Long, Long)*): DataFrame = rows.toDF("p1", "p2")

  test("triangles: single triangle counts every corner once") {
    val r = Triangles.perNode(edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // 4 is in no triangle
  }

  test("triangles: shared edge yields two triangles, middle nodes count both") {
    val r = Triangles.perNode(
        edges((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)))
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangles: triangle-free and empty graphs yield no rows") {
    assert(Triangles.perNode(edges((1L, 2L), (2L, 3L))).count() == 0)
    assert(Triangles.perNode(edges()).count() == 0)
  }

  private def z(x: Long, y: Long): Long =
    Seq((x, y)).toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y"))).as[Long].collect().head

  test("zValue interleaves bits (x even positions, y odd)") {
    assert(z(1L, 0L) == 1L)
    assert(z(0L, 1L) == 2L)
    assert(z(3L, 3L) == 15L)
    assert(z(65535L, 0L) == 0x55555555L)
    assert(z(0L, 65535L) == 0xAAAAAAAAL)
    // only the low 16 bits of each dimension participate
    assert(z(65536L, 0L) == 0L)
    assert(z(65537L, 0L) == 1L)
  }

  test("zValue locality: adjacent codes stay in a tight (x, y) box") {
    // the z >> 2 bucket of any code covers at most a 2x2 rectangle
    val pts = for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y)
    val boxes = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zValue(col("x"), col("y")).as("zv"))
      .groupBy((col("zv") / 4).cast("long").as("b"))
      .agg((max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"))
      .as[(Long, Long, Long)].collect()
    assert(boxes.nonEmpty && boxes.forall { case (_, dx, dy) => dx <= 1 && dy <= 1 })
  }

  test("zOrderBy plans one range exchange + in-partition sort on z") {
    val df = graft.util.Snapshot(
      (0L until 64L).map(i => (i % 8, i / 8)).toDF("x", "y"))
    val out = ZOrder.zOrderBy(df, col("x"), col("y"))
    out.collect()
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.toLowerCase.contains("rangepartitioning"), s"no range exchange in:\n$p")
    assert(p.contains("Sort"), s"no sort in:\n$p")
  }

  test("suffixKeys emits every token suffix of length >= minLen, distinct") {
    val attrs = Seq((1L, 0L, "name", "Abcde abcd e"), (2L, 0L, "name", "bcde"))
      .toDF("profile_id", "source_id", "attribute", "value")
    val r = graft.er.Blocking.suffixKeys(attrs, minLen = 4)
      .select("profile_id", "key").as[(Long, String)].collect().toSet
    // abcde -> abcde, bcde; abcd -> abcd; e -> (too short); bcde -> bcde
    assert(r == Set((1L, "abcde"), (1L, "bcde"), (1L, "abcd"), (2L, "bcde")))
  }

  test("jaro-winkler matches the reference values bit-for-bit") {
    // expected values taken from DuckDB's jaro_winkler_similarity (the
    // oracle function) on the same inputs
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("duane", "dwayne", 0.8400000000000001),
      ("crate", "trace", 0.7333333333333334),
      ("prefix", "prefixxxx", 0.9333333333333333),
      ("aXXXXXX", "aYYYYYY", 0.42857142857142855), // jaro < 0.7: no boost
      ("abcdef", "badcfe", 0.8333333333333334),    // transpositions
      ("ab", "ba", 0.0),                           // window 0
      ("", "abc", 0.0), ("", "", 0.0), ("abc", "abc", 1.0))
    cases.foreach { case (a, b, want) =>
      assert(graft.functions.JaroWinklerImpl.compute(a, b) == want,
        s"jw($a, $b)")
    }
    // the Column path evaluates the same expression
    val viaCol = Seq(("martha", "marhta")).toDF("a", "b")
      .select(graft.functions.JaroWinkler.jw(col("a"), col("b")))
      .as[Double].collect().head
    assert(viaCol == 0.9611111111111111)
  }

  test("dbscan: core / border / noise roles and min-label clusters") {
    val ids = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L)).toDF("vec_id")
    // triangle {1,2,3} is dense; 4 hangs off core 3; 10-11 is an
    // isolated edge (both degree 1 -> noise at minPts 3)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("v1", "v2")
    val r = graft.similarity.Dbscan.cluster(ids, pairs, minPts = 3)
      .as[(Long, Long, String)].collect().toSet
    assert(r == Set(
      (1L, 1L, "core"), (2L, 1L, "core"), (3L, 1L, "core"),
      (4L, 1L, "border"),
      (5L, -1L, "noise"), (10L, -1L, "noise"), (11L, -1L, "noise")))
  }

  test("ppjoin is lossless: equals the naive exact-jaccard join") {
    // 's' is a stop-shingle shared by every doc — the skew case the
    // capped jaccardPairs handles by dropping postings (losing recall);
    // the prefix filter handles it with zero loss
    val sh = Seq(
      (1L, "a"), (1L, "b"), (1L, "s"),
      (2L, "a"), (2L, "b"), (2L, "s"),
      (3L, "c"), (3L, "s"),
      (4L, "d"), (4L, "e"), (4L, "f"), (4L, "s"))
      .toDF("doc_id", "shingle")
    val pp = graft.dedup.Dedup.ppjoinPairs(
        graft.dedup.Dedup.ppjoinIndex(sh, 0.5), 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val naive = graft.dedup.Dedup.jaccardPairs(sh, 0.5,
        maxShingleFreq = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(pp == naive)
    assert(pp == Set((1L, 2L, 1.0)))
  }

  /** Two well-separated groups in both subspaces; ids alternate so the
   * lowest-id kmeans init seeds one centroid in each group. */
  private def pqFixture: DataFrame = Seq(
    (0L, Array(10.0f, 10.0f, 10.0f, 10.0f)),
    (1L, Array(-10.0f, -10.0f, -10.0f, -10.0f)),
    (2L, Array(10.2f, 9.8f, 10.2f, 9.8f)),
    (3L, Array(-10.2f, -9.8f, -10.2f, -9.8f)),
    (4L, Array(9.9f, 10.1f, 9.9f, 10.1f)),
    (5L, Array(-9.9f, -10.1f, -9.9f, -10.1f))
  ).toDF("vec_id", "embedding")

  test("pq: codebooks carry m*k centroids of subDim width") {
    val books = ProductQuantization.codebooks(pqFixture, m = 2, subDim = 2,
      k = 2, iters = 1)
    val rows = books.select(col("j"), col("cluster"), size(col("centroid")))
      .as[(Int, Long, Int)].collect()
    assert(rows.length == 4)
    assert(rows.forall(_._3 == 2))
    assert(rows.map(r => (r._1, r._2)).toSet ==
      Set((0, 0L), (0, 1L), (1, 0L), (1, 1L)))
  }

  test("pq: group members share codes; codes address the codebook") {
    val books = ProductQuantization.codebooks(pqFixture, m = 2, subDim = 2,
      k = 2, iters = 1)
    val codes = ProductQuantization.encode(pqFixture, books, m = 2, subDim = 2)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(codes.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(codes.values.forall(_.length == 2))
    assert(codes(0L) == codes(2L) && codes(2L) == codes(4L))
    assert(codes(1L) == codes(3L) && codes(3L) == codes(5L))
    assert(codes(0L) != codes(1L))
  }

  test("pq encode is a pure projection: zero exchanges in the plan") {
    val books = ProductQuantization.codebooks(pqFixture, m = 2, subDim = 2,
      k = 2, iters = 1)
    val out = ProductQuantization.encode(graft.util.Snapshot(pqFixture),
      books, m = 2, subDim = 2)
    out.collect()
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"unexpected exchange in:\n$p")
  }

  test("ivfpq: nProbe=1 restricts candidates to the query's own list") {
    val books = ProductQuantization.codebooks(pqFixture, m = 2, subDim = 2,
      k = 2, iters = 1)
    val index = ProductQuantization.encode(pqFixture, books, m = 2, subDim = 2)
    val coarse = graft.similarity.KMeans.centroids(pqFixture, k = 2, iters = 1)
      .select(col("cluster").as("cid"), col("centroid"))
    val r = ProductQuantization.ivfpqTopK(pqFixture,
        pqFixture.filter(col("vec_id") === 0L), coarse, index, books,
        m = 2, subDim = 2, k = 2, nProbe = 1, topK = 5)
      .orderBy("rn").as[(Long, Long, Double, Int)].collect()
    // the negative group's list is never probed: only 2 and 4 surface
    assert(r.map(_._2).toSeq == Seq(2L, 4L))
    assert(r.map(_._4).toSeq == Seq(1, 2))
  }

  test("pq adc: same-group candidates rank first, ties break on id") {
    val books = ProductQuantization.codebooks(pqFixture, m = 2, subDim = 2,
      k = 2, iters = 1)
    val index = ProductQuantization.encode(pqFixture, books, m = 2, subDim = 2)
    val r = ProductQuantization.adcTopK(index,
        pqFixture.filter(col("vec_id") === 0L), books,
        m = 2, subDim = 2, k = 2, topK = 3)
      .orderBy("rn").as[(Long, Long, Double, Int)].collect()
    // 2 and 4 share q's codes (identical ADC score) -> id ascending;
    // the negative group scores below them, smallest id (1) third
    assert(r.map(_._2).toSeq == Seq(2L, 4L, 1L))
    assert(r(0)._3 == r(1)._3 && r(1)._3 > r(2)._3)
    assert(r.map(_._4).toSeq == Seq(1, 2, 3))
  }

  test("spearman: monotone +/-1, tie-averaged ranks on hand fixture") {
    val df = Seq(
      ("up", 1.0, 10L), ("up", 2.0, 20L), ("up", 3.0, 30L),
      ("dn", 1.0, 30L), ("dn", 2.0, 20L), ("dn", 3.0, 10L),
      ("tie", 1.0, 5L), ("tie", 1.0, 7L), ("tie", 2.0, 6L))
      .toDF("g", "x", "y")
    val r = graft.operators.Stats.spearman(df, "g", "x", "y")
      .collect().map(row => row.getString(0) -> ((row.getLong(1), row.getDouble(2)))).toMap
    assert(r("up") == ((3L, 1.0)) && r("dn") == ((3L, -1.0)))
    // tie group: rank2(x) = (3,3,6); rank2(y) = (2,6,4) -> same formula
    val (n, rx, ry) = (3.0, Seq(3L, 3L, 6L), Seq(2L, 6L, 4L))
    val (sx, sy) = (rx.sum.toDouble, ry.sum.toDouble)
    val (sxx, syy) = (rx.map(v => v * v).sum.toDouble, ry.map(v => v * v).sum.toDouble)
    val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum.toDouble
    val rho = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val rho9 = math.floor(rho * 1e9 + 0.5) / 1e9
    assert(r("tie")._1 == 3L && math.abs(r("tie")._2 - rho9) < 1e-12)
  }

  test("quantileBins: exact boundaries, ties share a bin, clamp at n-1") {
    // 10 rows, quartiles: rows-before * 4 / 10 -> bins 0,0,0,1,1,2,2,2,3,3
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("g", "x")
    val bins = graft.operators.Stats.quantileBins(df, "g", "x", n = 4)
      .collect().map(r => r.getDouble(1) -> r.getLong(2)).toMap
    assert((1 to 10).map(i => bins(i.toDouble)) ==
      Seq(0L, 0L, 0L, 1L, 1L, 2L, 2L, 2L, 3L, 3L))
    // all-tied input: single bin 0
    val tied = (1 to 8).map(_ => ("g", 5.0)).toDF("g", "x")
    val tb = graft.operators.Stats.quantileBins(tied, "g", "x", n = 4).collect()
    assert(tb.length == 1 && tb.head.getLong(2) == 0L)
  }

  test("exactPercentiles == buffering percentile() bit-for-bit on random groups") {
    // seeded random groups with heavy ties, single-element groups, and
    // awkward percentiles — the rewrite (VERDICT r6 #3) must reproduce
    // Spark's percentile() (== DuckDB quantile_cont) to the last ulp,
    // since six oracle hashes depend on it
    val ps = Seq("p00" -> 0.0, "p17" -> 0.17, "p25" -> 0.25, "p50" -> 0.5,
      "p83" -> 0.83, "p95" -> 0.95, "p100" -> 1.0)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 500).map { i =>
        val g = s"g${rnd.nextInt(7)}"
        // ties on purpose: values drawn from a small lattice, plus noise
        val x = if (rnd.nextBoolean()) rnd.nextInt(10).toDouble
                else math.round(rnd.nextDouble() * 1000) / 64.0
        (g, x)
      } :+ (("solo", 42.5)) // single-element group
      val df = rows.toDF("g", "x").repartition(7)
      val got = graft.operators.Stats
        .exactPercentiles(df, Seq("g"), "x", ps, countCol = Some("n"))
        .collect().map(r => r.getString(0) ->
          (ps.indices.map(i => r.getDouble(1 + i)), r.getLong(1 + ps.size))).toMap
      val want = df.groupBy("g")
        .agg(expr(s"percentile(x, array(${ps.map(_._2).mkString(",")}))").as("q"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) ->
          (r.getSeq[Double](1), r.getLong(2))).toMap
      assert(got.keySet == want.keySet, s"seed $seed group sets differ")
      for (g <- got.keySet; i <- ps.indices) {
        // bit-equality, not tolerance: same doubles or the rewrite drifts
        assert(got(g)._1(i) == want(g)._1(i),
          s"seed $seed group $g ${ps(i)._1}: ${got(g)._1(i)} != ${want(g)._1(i)}")
      }
      for (g <- got.keySet)
        assert(got(g)._2 == want(g)._2, s"seed $seed group $g count")
    }
  }

  test("exactPercentiles weighted over a value-count table == raw rows bit-for-bit") {
    // the evt_mad_zscore rewrite feeds a pre-aggregated (group, value, cnt)
    // table with weight = col(cnt); the rank prefix must sum the same
    // integer counts as the expanded raw rows, so every percentile —
    // including interpolated ones landing between tied values — is the
    // same double. n (countCol) must report the weighted row count.
    val ps = Seq("p00" -> 0.0, "p33" -> 0.33, "p50" -> 0.5, "p90" -> 0.9,
      "p100" -> 1.0)
    for (seed <- 4 to 6) {
      val rnd = new scala.util.Random(seed)
      val raw = (0 until 400).map { _ =>
        (s"g${rnd.nextInt(5)}", rnd.nextInt(12).toDouble / 8.0)
      } :+ (("solo", 3.25))
      val rawDf = raw.toDF("g", "x").repartition(5)
      val vc = rawDf.groupBy("g", "x").agg(count(lit(1)).as("cnt"))
      val read = (df: DataFrame) => df.collect().map(r => r.getString(0) ->
        (ps.indices.map(i => r.getDouble(1 + i)), r.getLong(1 + ps.size))).toMap
      val viaRaw = read(graft.operators.Stats
        .exactPercentiles(rawDf, Seq("g"), "x", ps, countCol = Some("n")))
      val viaVc = read(graft.operators.Stats
        .exactPercentiles(vc, Seq("g"), "x", ps, countCol = Some("n"),
          weight = col("cnt")))
      assert(viaVc.keySet == viaRaw.keySet, s"seed $seed group sets differ")
      for (g <- viaRaw.keySet) {
        for (i <- ps.indices)
          assert(viaVc(g)._1(i) == viaRaw(g)._1(i),
            s"seed $seed group $g ${ps(i)._1}: ${viaVc(g)._1(i)} != ${viaRaw(g)._1(i)}")
        assert(viaVc(g)._2 == viaRaw(g)._2, s"seed $seed group $g weighted count")
      }
    }
  }

  test("exactPercentilesDisc picks the value at rank ceil(p*n)-1 (quantile_disc)") {
    val ps = Seq("p05" -> 0.05, "p25" -> 0.25, "p50" -> 0.5,
      "p75" -> 0.75, "p95" -> 0.95, "p100" -> 1.0)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 300).map(_ =>
        (s"g${rnd.nextInt(5)}", rnd.nextInt(20).toLong)) :+ (("solo", 7L))
      val df = rows.toDF("g", "x").repartition(5)
      val got = graft.operators.Stats
        .exactPercentilesDisc(df, Seq("g"), "x", ps, countCol = Some("n"))
        .collect().map(r => r.getString(0) ->
          (ps.indices.map(i => r.getLong(1 + i)), r.getLong(1 + ps.size))).toMap
      val grouped = rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).sorted }
      assert(got.keySet == grouped.keySet)
      for ((g, vals) <- grouped) {
        for (((nm, p), i) <- ps.zipWithIndex) {
          val k = math.max(1L, math.ceil(p * vals.size).toLong).toInt
          assert(got(g)._1(i) == vals(k - 1), s"seed $seed group $g $nm")
        }
        assert(got(g)._2 == vals.size.toLong, s"seed $seed group $g count")
      }
    }
  }

  test("weightedQuantilesDisc places thresholds by weight mass, not row count") {
    // W=10; cum: 1.0→1, 2.0→2, 3.0→10. p=0.1 → cum≥1 → 1.0;
    // p=0.2 → cum≥2 → 2.0; p=0.5 → cum≥5 → 3.0 (the heavy value
    // dominates — a row-count median would say 2.0)
    val df = Seq(("g", 1.0, 1L), ("g", 2.0, 1L), ("g", 3.0, 8L))
      .toDF("g", "x", "w").repartition(3)
    val r = graft.operators.Stats.weightedQuantilesDisc(df, Seq("g"), "x", "w",
      Seq("q10" -> 0.1, "q20" -> 0.2, "q50" -> 0.5),
      totalCol = Some("tw")).collect().head
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == 2.0
      && r.getDouble(3) == 3.0 && r.getLong(4) == 10L)
  }

  test("spearman is invariant to repartitioning (bit-identical rho)") {
    val df = (1 to 200).map(i => ("g", (i % 17).toDouble, (i % 23).toLong))
      .toDF("g", "x", "y")
    val a = graft.operators.Stats.spearman(df, "g", "x", "y")
      .collect().head.getDouble(2)
    val b = graft.operators.Stats.spearman(df.repartition(13), "g", "x", "y")
      .collect().head.getDouble(2)
    assert(a == b)
  }

  // ---- custom AsOfJoinExec (graft.plans.AsOfJoinPlan) ----

  private def asofFixture(probe: Seq[(Long, Long, Long)],
                          ref: Seq[(Long, Long, Long)]): DataFrame = {
    // parquet round-trip so the plan shape matches production (and the
    // fixture is not a LocalRelation special case); columns (key, ts, id)
    val p = graft.util.Snapshot(probe.toDF("k", "t", "pid"))
    val r = graft.util.Snapshot(ref.toDF("k", "t", "rid")
      .select(col("k"), col("t"), col("rid"), (col("rid") * 10).as("rval")))
    graft.operators.AsOf.join(p, r, "k", "t", "rid")
  }

  test("asof join: backward match, exact ts inclusive, no-prior gives null") {
    val out = asofFixture(
      probe = Seq((1L, 15L, 900L), (1L, 10L, 901L), (1L, 5L, 902L), (2L, 9L, 903L)),
      ref = Seq((1L, 10L, 100L), (1L, 20L, 102L)))
      .select("pid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(out(900L).contains(100L)) // latest at-or-before 15 is ts=10
    assert(out(901L).contains(100L)) // exact match counts
    assert(out(902L).isEmpty)        // nothing at-or-before 5
    assert(out(903L).isEmpty)        // key 2 has no reference rows
  }

  test("asof join: tie on (key, ts) resolves to the max tie-break id") {
    val out = asofFixture(
      probe = Seq((1L, 15L, 900L)),
      ref = Seq((1L, 10L, 100L), (1L, 10L, 101L)))
      .select("pid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(out(900L).contains(101L))
  }

  test("asof join: result is identical under adversarial partitioning") {
    val probe = (0L until 200L).map(i => (i % 7, i * 3 % 50, 1000L + i))
    val ref = (0L until 100L).map(i => (i % 7, i * 5 % 50, i))
    val expect = {
      // independent oracle: per probe row, scan all reference rows
      val byKey = ref.groupBy(_._1)
      probe.map { case (k, t, pid) =>
        val c = byKey.getOrElse(k, Nil).filter(_._2 <= t)
        pid -> (if (c.isEmpty) None
                else Some(c.maxBy(r => (r._2, r._3))._3))
      }.toMap
    }
    val out = asofFixture(probe, ref)
      .select("pid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(out == expect)
  }

  private def asofDir(probe: Seq[(Long, Long, Long)], ref: Seq[(Long, Long, Long)],
                      direction: String, tolerance: Long = Long.MaxValue): Map[Long, Option[Long]] = {
    val p = graft.util.Snapshot(probe.toDF("k", "t", "pid"))
    val r = graft.util.Snapshot(ref.toDF("k", "t", "rid"))
    graft.operators.AsOf.joinMulti(p, r, Seq("k"), "t", Seq("k"), "t", "rid",
        direction = direction, tolerance = tolerance)
      .select("pid", "rid").as[(Long, Option[Long])].collect().toMap
  }

  test("asof forward: first at-or-after, exact inclusive, min id on ties, no-later null") {
    val out = asofDir(
      probe = Seq((1L, 15L, 900L), (1L, 10L, 901L), (1L, 25L, 902L), (2L, 9L, 903L)),
      ref = Seq((1L, 10L, 100L), (1L, 20L, 102L), (1L, 20L, 101L)),
      direction = "forward")
    assert(out(900L).contains(101L)) // first at-or-after 15 is ts=20, MIN id wins the tie
    assert(out(901L).contains(100L)) // exact match counts
    assert(out(902L).isEmpty)        // nothing at-or-after 25
    assert(out(903L).isEmpty)        // key 2 empty
  }

  test("asof nearest: closer side wins, equal gap resolves backward, tolerance nulls") {
    val ref = Seq((1L, 10L, 100L), (1L, 20L, 101L))
    assert(asofDir(Seq((1L, 13L, 900L)), ref, "nearest")(900L).contains(100L)) // gap 3 < 7
    assert(asofDir(Seq((1L, 18L, 900L)), ref, "nearest")(900L).contains(101L)) // gap 2 < 8
    assert(asofDir(Seq((1L, 15L, 900L)), ref, "nearest")(900L).contains(100L)) // tie -> backward
    assert(asofDir(Seq((1L, 16L, 900L)), ref, "nearest", tolerance = 3L)(900L)
      .isEmpty) // both gaps (6, 4) beyond tol 3
    assert(asofDir(Seq((1L, 16L, 900L)), ref, "nearest", tolerance = 4L)(900L)
      .contains(101L)) // only forward within tol
  }

  test("asof: Long.MinValue sentinel times saturate to no-match, never overflow") {
    // a "missing" sentinel reference time makes the true gap exceed Long
    // range; the mathematically right answer is "farther than any
    // tolerance" — the join must return the other candidate (or null),
    // not flip the sign or abort the job
    val ref = Seq((1L, Long.MinValue, 100L), (1L, 20L, 101L))
    assert(asofDir(Seq((1L, 15L, 900L)), ref, "nearest")(900L)
      .contains(101L)) // sentinel backward gap saturates; forward (gap 5) wins
    assert(asofDir(Seq((1L, 15L, 900L)), ref, "backward", tolerance = 100L)(900L)
      .isEmpty)        // only the sentinel is at-or-before: beyond any tol
    // an UN-toleranced backward join still matches the sentinel — it is
    // simply the latest at-or-before row (merge_asof semantics); the
    // saturation only keeps tolerance and nearest comparisons correct
    assert(asofDir(Seq((1L, 15L, 900L)), Seq((1L, Long.MinValue, 100L)),
      "backward")(900L).contains(100L))
  }

  test("asof backward tolerance: candidate beyond the gap is discarded") {
    val out = asofDir(
      probe = Seq((1L, 15L, 900L), (1L, 30L, 901L)),
      ref = Seq((1L, 10L, 100L)), direction = "backward", tolerance = 5L)
    assert(out(900L).contains(100L)) // gap 5 inclusive
    assert(out(901L).isEmpty)        // gap 20 > 5
  }

  test("asof directions+tolerance identical under adversarial partitioning") {
    val probe = (0L until 200L).map(i => (i % 7, i * 3 % 50, 1000L + i))
    val ref = (0L until 100L).map(i => (i % 7, i * 5 % 50, i))
    val byKey = ref.groupBy(_._1)
    for (dir <- Seq("backward", "forward", "nearest"); tol <- Seq(Long.MaxValue, 7L)) {
      val expect = probe.map { case (k, t, pid) =>
        val rows = byKey.getOrElse(k, Nil)
        val back = rows.filter(r => r._2 <= t && t - r._2 <= tol)
          .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
        val fwd = rows.filter(r => r._2 >= t && r._2 - t <= tol)
          .sortBy(r => (r._2, r._3)).headOption.map(_._3)
        val backGap = rows.filter(_._2 <= t).map(r => t - r._2).sorted.headOption
        val fwdGap = rows.filter(_._2 >= t).map(r => r._2 - t).sorted.headOption
        val want = dir match {
          case "backward" => back
          case "forward"  => fwd
          case "nearest"  => (back, fwd) match {
            case (Some(_), Some(_)) =>
              if (backGap.get <= fwdGap.get) back else fwd
            case (b, f) => b.orElse(f)
          }
        }
        pid -> want
      }.toMap
      val out = asofDir(probe.map { case (k, t, p) => (k, t, p) },
        ref, dir, tol)
      assert(out == expect, s"direction $dir tol $tol mismatch")
    }
  }

  test("asof rejects mixed-width key types (would hash-cluster apart)") {
    val p = graft.util.Snapshot(Seq((1, 1L, 1L)).toDF("k", "t", "pid"))
    val r = graft.util.Snapshot(Seq((1L, 1L, 1L)).toDF("k", "t", "rid"))
    val e = intercept[Exception] {
      graft.operators.AsOf.joinMulti(p, r, Seq("k"), "t", Seq("k"), "t", "rid").collect()
    }
    assert(e.getMessage.contains("type mismatch"), e.getMessage)
  }

  test("asof forward/nearest honor composite key vectors") {
    val p = graft.util.Snapshot(Seq(
      (1L, 1L, 15L, 900L), (1L, 2L, 15L, 901L), (2L, 1L, 15L, 902L))
      .toDF("k1", "k2", "t", "pid"))
    val r = graft.util.Snapshot(Seq(
      (1L, 1L, 20L, 100L), (1L, 2L, 10L, 101L), (2L, 2L, 16L, 102L))
      .toDF("k1", "k2", "t", "rid"))
    val fwd = graft.operators.AsOf.joinMulti(p, r,
        Seq("k1", "k2"), "t", Seq("k1", "k2"), "t", "rid", direction = "forward")
      .select("pid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(fwd(900L).contains(100L)) // (1,1): next at-or-after 15 is t=20
    assert(fwd(901L).isEmpty)        // (1,2): only t=10, before the probe
    assert(fwd(902L).isEmpty)        // (2,1) must NOT see (2,2)'s t=16
    val near = graft.operators.AsOf.joinMulti(p, r,
        Seq("k1", "k2"), "t", Seq("k1", "k2"), "t", "rid", direction = "nearest")
      .select("pid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(near(900L).contains(100L)) // only a forward candidate (gap 5)
    assert(near(901L).contains(101L)) // only a backward candidate (gap 5)
    assert(near(902L).isEmpty)        // no same-vector reference at all
  }

  test("asof join: composite key matches per key VECTOR, never across") {
    val p = graft.util.Snapshot(Seq(
      (1L, 1L, 15L, 900L), (1L, 2L, 15L, 901L), (2L, 1L, 15L, 902L))
      .toDF("k1", "k2", "t", "pid"))
    val r = graft.util.Snapshot(Seq(
      (1L, 1L, 10L, 100L), (1L, 2L, 12L, 101L), (2L, 2L, 5L, 102L))
      .toDF("k1", "k2", "t", "rid"))
    val out = graft.operators.AsOf.joinMulti(p, r,
        Seq("k1", "k2"), "t", Seq("k1", "k2"), "t", "rid")
      .select("pid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(out(900L).contains(100L))
    assert(out(901L).contains(101L))
    assert(out(902L).isEmpty) // (2,1) must NOT match (2,2) or (1,*)
  }

  test("asof join plans as AsOfJoinExec with the two clustering exchanges") {
    val df = asofFixture(Seq((1L, 1L, 1L)), Seq((1L, 1L, 1L)))
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("AsOfJoin"), s"custom exec missing in:\n$p")
    val ex = "Exchange hashpartitioning\\(k".r.findAllIn(p).size
    assert(ex == 2, s"want the two co-clustered exchanges, got $ex in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"fallback join appeared next to the custom exec:\n$p")
  }

  /** StructType.asNullable, which Spark keeps private: every field,
   * array element and map value made nullable, recursively. */
  private def nullable(t: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
  }

  test("Snapshot reader: the frame's schema made nullable, the frame's rows") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("l", LongType, nullable = false)
      .add("i", IntegerType)
      .add("d", DoubleType, nullable = false)
      .add("dec", DecimalType(12, 2))
      .add("s", StringType)
      .add("b", BooleanType)
      .add("dt", DateType)
      .add("ts", TimestampType)
      .add("bin", BinaryType)
      .add("arr", ArrayType(LongType, containsNull = false))
      .add("m", MapType(StringType, DoubleType, valueContainsNull = false))
      .add("st", new StructType().add("x", IntegerType, nullable = false)
        .add("y", StringType), nullable = false)
      .add("vec", org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
    val rows = Seq(
      Row(1L, 7, 0.1, new java.math.BigDecimal("12.34"), "a", true,
        java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"),
        Array[Byte](0, 1, -1), Seq(1L, 2L), Map("k" -> 1.5), Row(3, "y"),
        org.apache.spark.ml.linalg.Vectors.dense(1.0, -2.0)),
      Row(2L, null, -0.0, null, null, null, null, null, null, Seq.empty[Long],
        Map.empty[String, Double], Row(4, null),
        org.apache.spark.ml.linalg.Vectors.sparse(3, Array(1), Array(5.0))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val snap = graft.util.Snapshot(df)
    assert(snap.schema == nullable(df.schema))
    assert(snap.orderBy("l").collect().toSeq == df.orderBy("l").collect().toSeq)
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val emptySnap = graft.util.Snapshot(empty)
    assert(emptySnap.schema == nullable(schema))
    assert(emptySnap.count() == 0L)
  }

  test("Snapshot runs one Spark job, the write: no schema-inference job") {
    val jobs = TestSpark.jobsDuring(
      graft.util.Snapshot(Seq((1L, "a")).toDF("k", "v"))) // one partition
    assert(jobs == 1, s"Snapshot started $jobs jobs")
  }


  // --- r10 optimization pins: Snapshot.observed fuses the convergence /
  // count action into the materialization job. These tests pin (a) the
  // metric values, (b) that the implementation does NOT go through the
  // Observation API, whose first use initializes the session's lazy
  // NON-transient, non-serializable observationManager and permanently
  // breaks serialization of any closure that captures the session (the
  // Spark-ML scoring closure does) — the ml_scored Task-not-serializable
  // regression this round debugged.

  test("Snapshot.observed: metrics ride the write job and match the data") {
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val (reader, m) = graft.util.Snapshot.observed(df,
      count(lit(1)).as("n"), sum(col("v")).as("s"))
    assert(reader.count() == 3L)
    assert(m("n") == 3L && m("s") == 60L)
  }

  test("Snapshot.observed rejects an empty metrics list up front") {
    val df = Seq((1L, 1L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      graft.util.Snapshot.observed(df)
    }
    assert(e.getMessage.contains("at least one metric"))
  }

  test("Snapshot.observed leaves the SparkSession serializable") {
    val df = Seq((1L, 1L)).toDF("k", "v")
    graft.util.Snapshot.observed(df, count(lit(1)).as("n"))
    // java-serialize the session like a captured closure would: must not
    // throw NotSerializableException(ObservationManager)
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
    out.writeObject(spark)
    out.close()
  }

  test("minLabel converges with the fused change check (ring + isolate)") {
    // ring 1-2-3-4-1 plus isolate 9: min label propagates around the ring;
    // the vertices come as a local frame and as a lazy distinct over
    // duplicated ids, which only the first iteration evaluates
    val es = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    for (vs <- Seq(Seq(1L, 2L, 3L, 4L, 9L).toDF("id"),
        Seq(9L, 1L, 2L, 9L, 3L, 4L, 1L, 2L).toDF("id").distinct())) {
      val r = graft.util.ConnectedComponents.minLabel(vs, es,
          idCol = "id", srcCol = "p1", dstCol = "p2", labelCol = "lbl")
        .as[(Long, Long)].collect().toSeq
      assert(r.sorted == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
    }
  }

  test("minLabel still throws when maxIter is below the diameter") {
    val vs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val chain = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    withoutBroadcast {
      assertThrows[IllegalStateException] {
        graft.util.ConnectedComponents.minLabel(vs, chain,
          idCol = "id", srcCol = "p1", dstCol = "p2", labelCol = "lbl",
          maxIter = 2)
      }
    }
  }

  /** `body` with the broadcast threshold off: minLabel runs its loop. */
  private def withoutBroadcast[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def cc(vs: DataFrame, es: DataFrame): DataFrame =
    graft.util.ConnectedComponents.minLabel(vs, es,
      idCol = "id", srcCol = "p1", dstCol = "p2", labelCol = "lbl")

  /** minLabel's (id, lbl) rows on the small-graph path, after checking
   * that the loop gives the same label to every vertex id. */
  private def sameBothWays(vs: DataFrame, es: DataFrame): Seq[(Any, Any)] = {
    def rows(df: DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1))).toSeq.sortBy(_.toString)
    val ids = vs.collect().map(_.get(0)).toSet
    val small = rows(cc(vs, es))
    // the loop also labels endpoints missing from the vertices
    val loop = withoutBroadcast(rows(cc(vs, es))).filter(r => ids(r._1))
    assert(small.size == ids.size && small.map(_._1).toSet == ids,
      "one row per id")
    assert(small == loop)
    small
  }

  test("minLabel: the small-graph path labels like the hash-min loop") {
    val ring = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val want = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L)
    // ring plus isolate, and the same vertices duplicated
    assert(sameBothWays(Seq(1L, 2L, 3L, 4L, 9L).toDF("id"), ring) == want)
    assert(sameBothWays(Seq(9L, 1L, 2L, 9L, 3L, 4L, 1L, 2L).toDF("id"), ring) == want)
    // a null endpoint connects nothing
    val withNull = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(3L), None), (None, Some(4L)))
      .toDF("p1", "p2")
    assert(sameBothWays(Seq(1L, 2L, 3L, 4L).toDF("id"), withNull) ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    // U+FFFD sorts before U+1F600 in UTF-8 (Spark's min) but after its
    // surrogate pair in UTF-16 (String.compareTo)
    val (rc, smile) = ("\uFFFD", "\uD83D\uDE00")
    assert(smile.compareTo(rc) < 0)
    assert(sameBothWays(Seq(smile, rc, "a").toDF("id"),
        Seq(smile -> rc).toDF("p1", "p2")) ==
      Seq("a" -> "a", smile -> rc, rc -> rc).sortBy(_.toString))
  }

  test("minLabel: the small-graph path is exact where the loop hits maxIter") {
    val vs = (1L to 60L).toDF("id")
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("p1", "p2")
    assert(cc(vs, chain).as[(Long, Long)].collect().sorted.toSeq ==
      (1L to 60L).map(_ -> 1L))
    withoutBroadcast(assertThrows[IllegalStateException](cc(vs, chain)))
  }

  test("minLabel on a small graph starts at most 4 Spark jobs") {
    val ring = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val jobs = TestSpark.jobsDuring(
      cc(Seq(1L, 2L, 3L, 4L, 9L).toDF("id"), ring))
    assert(jobs <= 4, s"minLabel started $jobs jobs")
  }

  test("Snapshot of a snapshot reader: the same dir, no Spark job") {
    val (path, reader) =
      graft.util.Snapshot.materialize(Seq((1L, "a")).toDF("k", "v"))
    var again: (String, DataFrame) = null
    val jobs = TestSpark.jobsDuring {
      again = graft.util.Snapshot.materialize(reader)
    }
    assert(jobs == 0, s"re-snapshot started $jobs jobs")
    assert(again._1 == s"file:$path")
    assert(again._2.collect().toSeq == reader.collect().toSeq)
  }

  test("kCore peels with the fused count (triangle + pendant chain)") {
    // triangle 1-2-3 is the 2-core; 3-4-5 chain peels away over 2 rounds
    val r = graft.operators.KCore.kCore(
        edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)), k = 2)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }
}
