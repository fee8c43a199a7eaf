package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.er._

/** Shared local SparkSession for all specs. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft-warehouse-${System.nanoTime()}")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // naive parquet timestamps read as TIMESTAMP, not NTZ (see Verify)
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .getOrCreate()

  /** Spark jobs started while `body` runs, counted with a SparkListener. */
  def jobsDuring(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    // the listener bus is asynchronous but ordered: once a marker job's
    // start has arrived, every job started before it has been counted
    def mark(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains(tag) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(started.contains(tag), s"marker job $tag never reached the listener")
    }
    val tag = s"jobs-${System.nanoTime()}"
    sc.addSparkListener(listener)
    try {
      mark(s"$tag-begin")
      body
      mark(s"$tag-end")
    } finally sc.removeSparkListener(listener)
    val seen = started.toArray(Array.empty[String]).toSeq
    seen.indexOf(s"$tag-end") - seen.indexOf(s"$tag-begin") - 1
  }
}

class ErCoreSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def attrs(rows: (Long, Int, String, String)*): DataFrame =
    rows.toDF("profile_id", "source_id", "attribute", "value")

  test("tokenKeys lowercases, splits on non-word, distincts per profile") {
    val df = attrs((1L, 0, "name", "Alpha-Beta alpha"), (2L, 0, "name", "beta!!gamma"))
    val keys = Blocking.tokenKeys(df).as[(Long, Int, String)].collect().toSet
    assert(keys == Set((1L, 0, "alpha"), (1L, 0, "beta"), (2L, 0, "beta"), (2L, 0, "gamma")))
  }

  test("tokenKeys attribute-qualified + exclusions") {
    val df = attrs((1L, 0, "name", "x y"), (1L, 0, "brand", "x"))
    val keys = Blocking.tokenKeys(df, attributesToExclude = Seq("brand"),
      keysToExclude = Seq("y"), attrQualified = true)
      .select("key").as[String].collect().toSet
    assert(keys == Set("name_x"))
  }

  test("ngramKeys pads with _ and slides (reference utils.get_ngrams)") {
    // token "ab", n=3 -> padded "__ab__" -> __a, _ab, ab_, b__
    val df = attrs((1L, 0, "name", "ab"))
    val keys = Blocking.ngramKeys(df, n = 3).select("key").as[String].collect().toSet
    assert(keys == Set("__a", "_ab", "ab_", "b__"))
  }

  test("validBlocks dirty keeps tokens with >=2 profiles; clean needs 2 sources") {
    val keys = Seq((1L, 0, "t"), (2L, 0, "t"), (3L, 0, "solo"),
      (4L, 0, "u"), (5L, 0, "u")).toDF("profile_id", "source_id", "key")
    val dirty = Blocking.validBlocks(keys, clean = false)
      .select("key").distinct().as[String].collect().toSet
    assert(dirty == Set("t", "u"))
    val keys2 = Seq((1L, 0, "t"), (2L, 0, "t"), (3L, 0, "u"), (4L, 1, "u"))
      .toDF("profile_id", "source_id", "key")
    val clean = Blocking.validBlocks(keys2, clean = true)
      .select("key").distinct().as[String].collect().toSet
    assert(clean == Set("u"))
  }

  test("incrementalPairs: only new-touching pairs, oversized keys purged") {
    // keys: "t" shared by old 1,2 and new 10 -> pairs (1,10),(2,10), never (1,2);
    // "n" shared by new 10,11 -> new-new pair (10,11) with n_new=2;
    // "big" shared by 4 profiles incl. a new one -> purged at maxBlockSize=3
    val oldK = Seq((1L, "t"), (2L, "t"), (3L, "big"), (4L, "big"), (5L, "big"))
      .toDF("profile_id", "key")
    val newK = Seq((10L, "t"), (10L, "n"), (11L, "n"), (12L, "big"))
      .toDF("profile_id", "key")
    val r = Blocking.incrementalPairs(oldK, newK, maxBlockSize = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(r == Set((1L, 10L, 1), (2L, 10L, 1), (10L, 11L, 2)))
  }

  test("incrementalWnp: batch-local mean thresholds, OR across new endpoints") {
    val oldK = Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("profile_id", "key")
    val newK = Seq((10L, "a"), (10L, "b"), (10L, "c"), (11L, "c"))
      .toDF("profile_id", "key")
    val r = Blocking.incrementalWnp(oldK, newK)
      .select("p1", "p2", "cbs", "n_new")
      .as[(Long, Long, Long, Int)].collect().toSet
    // src 10's edges: cbs 2 (to 1), 1 (to 2), 1 (to 11); mean 4/3 -> only
    // (1,10) meets it. src 11's single edge has mean 1 -> (10,11) survives
    // through 11's threshold (the OR), though 10's own threshold pruned it.
    assert(r == Set((1L, 10L, 2L, 1), (10L, 11L, 1L, 2)))
  }

  test("incrementalWnp JS: Jaccard of capped key sets, fractional mean threshold") {
    // old A=1 {x,y}, B=2 {x,z}; new C=10 {x,y}: edges from C only —
    // w(C,A) = 2/(2+2-2) = 1.0, w(C,B) = 1/(2+2-1) = 1/3; theta(C) = 2/3
    // -> only (1,10) survives, with exact JS weights surfaced
    val oldK = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "z"))
      .toDF("profile_id", "key")
    val newK = Seq((10L, "x"), (10L, "y")).toDF("profile_id", "key")
    val r = Blocking.incrementalWnp(oldK, newK, weight = WeightType.JS)
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    assert(r == Set((1L, 10L, 2L, 1.0, 1)))
  }

  test("incremental cap drop counts are observable (no silent recall loss)") {
    // "big" spans 4 profiles > maxBlockSize 3 -> its 4 postings drop and
    // the CollectMetrics node must report exactly that
    val oldK = Seq((1L, "t"), (2L, "t"), (3L, "big"), (4L, "big"), (5L, "big"))
      .toDF("profile_id", "key")
    val newK = Seq((10L, "t"), (12L, "big")).toDF("profile_id", "key")
    val pairs = Blocking.incrementalPairs(oldK, newK, maxBlockSize = 3)
    pairs.collect()
    // plan-local read: the observe node is in the collected plan
    assert(graft.util.CapMetrics.lastDrops(pairs, "incremental_pairs_cap")
      .contains((4L, 7L)))
    // incrementalWnp materializes the capped frame through its internal
    // snapshot, so its metric fires on that write -> session listener path
    val rec = new graft.util.CapMetrics.Recorder
    spark.listenerManager.register(rec)
    try {
      Blocking.incrementalWnp(oldK, newK, maxBlockSize = 3).collect()
      assert(rec.await("incremental_wnp_cap").contains((4L, 7L)))
    } finally spark.listenerManager.unregister(rec)
  }

  test("blockStats comparisons: dirty n*(n-1), clean sum of cross products") {
    val dirtyMembers = Seq((1L, 0, "t"), (2L, 0, "t"), (3L, 0, "t"))
      .toDF("profile_id", "source_id", "key")
      .select("key", "profile_id", "source_id")
    val d = Blocking.blockStats(dirtyMembers, clean = false)
      .as[(String, Long, Long, Double)].collect().head
    assert(d == (("t", 3L, 6L, 6.0)))
    // clean: sources sizes 2 and 1 -> comparisons 2*1 = 2, arcs product 1*2=2
    val cleanMembers = Seq((1L, 0, "t"), (2L, 0, "t"), (3L, 1, "t"))
      .toDF("profile_id", "source_id", "key")
      .select("key", "profile_id", "source_id")
    val c = Blocking.blockStats(cleanMembers, clean = true)
      .as[(String, Long, Long, Double)].collect().head
    assert(c == (("t", 3L, 2L, 2.0)))
  }

  test("purgingThreshold mirrors filters.py scan") {
    // levels: comparisons 2 (x2 blocks), 6, 90. With smooth=1.005 the large
    // level should be cut. Fixture: block sizes chosen so the scan fires.
    val stats = Seq(("a", 2L, 2L), ("b", 2L, 2L), ("c", 3L, 6L), ("d", 10L, 90L))
      .toDF("key", "size", "comparisons")
    val thr = BlockCleaning.purgingThreshold(stats, 1.005)
      .as[Double].collect().head
    // manual: levels asc (2: cc=4 bc=4), (6: cc=10 bc=7), (90: cc=100 bc=17)
    // scan i from top: check bc(i)*cc(i+1) < smooth*cc(i)*bc(i+1) for i = n-2..:
    // i=6-level: bc=7, cc_next=100 -> 700 < 1.005*10*17=170.85? no
    // i=2-level: bc=4, cc_next=10 -> 40 < 1.005*4*7=28.14? no
    // no hit -> second-smallest level = 6
    assert(thr == 6.0)
  }

  test("filterProfileBlocks keeps round(n*r) smallest, ties kept") {
    // profile 1 has blocks with comparisons 1,2,2,9; r=0.5 -> k=round(2.0)=2
    // cutoff = comparisons at position 2 = 2 -> keep 1,2,2 (tie at cutoff)
    val pb = Seq((1L, 0, "a", 1L), (1L, 0, "b", 2L), (1L, 0, "c", 2L), (1L, 0, "d", 9L))
      .toDF("profile_id", "source_id", "key", "comparisons")
    val kept = BlockCleaning.filterProfileBlocks(pb, 0.5)
      .select("key").as[String].collect().toSet
    assert(kept == Set("a", "b", "c"))
  }

  test("cbsPairs dirty: shared-block counts, p1<p2") {
    val m = Seq(("x", 1L, 0), ("x", 2L, 0), ("y", 1L, 0), ("y", 2L, 0), ("y", 3L, 0))
      .toDF("key", "profile_id", "source_id")
    val pairs = MetaBlocking.cbsPairs(m, clean = false)
      .select("p1", "p2", "cbs").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("cbsPairs clean: only cross-source pairs") {
    val m = Seq(("x", 1L, 0), ("x", 2L, 0), ("x", 3L, 1))
      .toDF("key", "profile_id", "source_id")
    val pairs = MetaBlocking.cbsPairs(m, clean = true)
      .select("p1", "p2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L), (2L, 3L)))
  }

  test("JS weight = cbs / (bp1 + bp2 - cbs)") {
    val m = Seq(("x", 1L, 0), ("x", 2L, 0), ("y", 1L, 0), ("y", 2L, 0), ("z", 1L, 0), ("z", 3L, 0))
      .toDF("key", "profile_id", "source_id")
    val pbf = m.select(col("profile_id"), col("source_id"), col("key"))
    val stats = Blocking.blockStats(m, clean = false)
    val pairs = MetaBlocking.cbsPairs(m, clean = false)
    val pstats = MetaBlocking.profileStats(pbf, stats)
    val nb = stats.agg(count(lit(1)).as("number_of_blocks"))
    val w = MetaBlocking.weightedPairs(pairs, pstats, nb, WeightType.JS)
      .select("p1", "p2", "w1").as[(Long, Long, Double)].collect()
      .map { case (p1, p2, wv) => (p1, p2) -> wv }.toMap
    // pair (1,2): cbs=2, bp1=3, bp2=2 -> 2/(3+2-2) = 2/3
    assert(math.abs(w((1L, 2L)) - 2.0 / 3.0) < 1e-12)
    // pair (1,3): cbs=1, bp1=3, bp2=1 -> 1/3
    assert(math.abs(w((1L, 3L)) - 1.0 / 3.0) < 1e-12)
  }

  test("WNP AVG/OR keeps edges >= a local mean; AND subset of OR") {
    val weighted = Seq(
      (1L, 2L, 3.0, 3.0), (1L, 3L, 1.0, 1.0), (2L, 3L, 2.0, 2.0))
      .toDF("p1", "p2", "w1", "w2")
    val or = MetaBlocking.wnp(weighted, ThresholdType.AVG, ComparisonType.OR, WeightType.CBS)
      .select("p1", "p2").as[(Long, Long)].collect().toSet
    val and = MetaBlocking.wnp(weighted, ThresholdType.AVG, ComparisonType.AND, WeightType.CBS)
      .select("p1", "p2").as[(Long, Long)].collect().toSet
    // thresholds: t(1)=(3+1)/2=2, t(2)=(3+2)/2=2.5, t(3)=(1+2)/2=1.5
    // (1,2): w=3 >= t1 or t2 -> keep (both) ; (1,3): 1 < 2, 1 < 1.5 -> drop
    // (2,3): 2 < 2.5, 2 >= 1.5 -> OR keeps, AND drops
    assert(or == Set((1L, 2L), (2L, 3L)))
    assert(and == Set((1L, 2L)))
    assert(and.subsetOf(or))
  }

  test("WEP keeps edges >= global mean of directed weights") {
    val weighted = Seq((1L, 2L, 4.0, 4.0), (1L, 3L, 1.0, 1.0), (2L, 3L, 1.0, 1.0))
      .toDF("p1", "p2", "w1", "w2")
    // mean = (4+1+1)*2 / 6 = 2
    val kept = MetaBlocking.wep(weighted).select("p1", "p2")
      .as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 2L)))
  }

  test("CEP keeps global top-K with per-profile tie quotas") {
    val weighted = Seq(
      (1L, 2L, 5.0, 5.0), (1L, 3L, 3.0, 3.0), (2L, 3L, 3.0, 3.0), (4L, 5L, 1.0, 1.0))
      .toDF("p1", "p2", "w1", "w2")
    // valid stats: sum(size) = 4 -> K = 2: keep (1,2) then one tie at 3.0
    val stats = Seq(("b1", 4L)).toDF("key", "size")
    val kept = MetaBlocking.cep(weighted, stats).select("p1", "p2")
      .as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 2L), (1L, 3L)))
  }

  test("CNP per-profile top-k, OR vs AND") {
    val weighted = Seq(
      (1L, 2L, 5.0, 5.0), (1L, 3L, 3.0, 3.0), (2L, 3L, 4.0, 4.0))
      .toDF("p1", "p2", "w1", "w2")
    // k = floor(6/3 - 1) = 1: top-1 of 1 -> 2; of 2 -> 1; of 3 -> 2
    val stats = Seq(("b1", 6L)).toDF("key", "size")
    val or = MetaBlocking.cnp(weighted, stats, 3L, ComparisonType.OR)
      .select("p1", "p2").as[(Long, Long)].collect().toSet
    val and = MetaBlocking.cnp(weighted, stats, 3L, ComparisonType.AND)
      .select("p1", "p2").as[(Long, Long)].collect().toSet
    assert(or == Set((1L, 2L), (2L, 3L)))
    assert(and == Set((1L, 2L)))
  }

  test("pcPq computes recall / precision / f1") {
    val cand = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("p1", "p2")
    val gt = Seq((1L, 2L), (4L, 5L), (6L, 7L)).toDF("p1", "p2")
    val r = Evaluation.pcPq(cand, gt)
      .select("num_candidates", "num_matches", "num_gt", "pc", "pq")
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(r._1 == 4L && r._2 == 2L && r._3 == 3L)
    assert(math.abs(r._4 - 2.0 / 3.0) < 1e-12 && math.abs(r._5 - 0.5) < 1e-12)
  }

  test("convertGroundTruth maps original ids, orders least/greatest, drops missing") {
    val profiles = Seq((10L, "a"), (20L, "b"), (30L, "c"))
      .toDF("profile_id", "original_id")
    val gt = Seq(("b", "a"), ("c", "zzz")).toDF("id1", "id2")
    val out = Evaluation.convertGroundTruth(gt, profiles, profiles)
      .as[(Long, Long)].collect().toSet
    assert(out == Set((10L, 20L)))
  }

  test("pcPqOriginalIds evaluates candidates against the raw original-id GT") {
    val profiles = Seq((10L, "a"), (20L, "b"), (30L, "c"))
      .toDF("profile_id", "original_id")
    // candidates (10,20) -> (a,b) is a GT match; (10,30) -> (a,c) is not
    val cand = Seq((10L, 20L), (10L, 30L)).toDF("p1", "p2")
    val gt = Seq(("b", "a"), ("c", "zzz")).toDF("id1", "id2")
    val r = Evaluation.pcPqOriginalIds(cand, profiles, gt)
      .select("num_candidates", "num_matches", "num_gt", "pc", "pq")
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(r._1 == 2L && r._2 == 1L && r._3 == 2L)
    assert(math.abs(r._4 - 0.5) < 1e-12 && math.abs(r._5 - 0.5) < 1e-12)
  }

  test("tokenBlockingStreaming drains the same pairs as batch token blocking") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.EventStreams.tokenBlockingStreaming(
      spark, dir, p => graft.queries.ErQueries.partAttrsOf(p, twoSources = false))
    val batch = graft.queries.ErQueries.keys(spark, dir, twoSources = false)
      .select("profile_id", "key")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("incrementalBlockingStreaming equals the batch new-vs-capped-corpus join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.EventStreams.incrementalBlockingStreaming(
      spark, dir, p => graft.queries.ErQueries.partAttrsOf(p, twoSources = false))
    val toks = graft.queries.ErQueries.keys(spark, dir, twoSources = false)
    val nk = toks.filter(col("profile_id") % 10 === 0)
      .select(col("key"), col("profile_id").as("n"))
    val ok = toks.filter(col("profile_id") % 10 =!= 0)
      .select(col("key"), col("profile_id").as("o"))
      .withColumn("_c", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("key")))
      .filter(col("_c") <= 1000).drop("_c")
    val batch = nk.join(ok, Seq("key"))
      .select(least(col("n"), col("o")).as("p1"),
        greatest(col("n"), col("o")).as("p2")).distinct()
    val got = streamed.select("p1", "p2")
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("sortedNeighborhood window=2: exactly the adjacent pairs in sort order") {
    val k = Seq((5L, "c"), (1L, "a"), (3L, "b")).toDF("profile_id", "sort_key")
    val r = Blocking.sortedNeighborhood(k, window = 2)
      .as[(Long, Long, Long)].collect().toSet
    // sort order a < b < c -> 1, 3, 5; only rank distance 1 qualifies
    assert(r == Set((1L, 3L, 1L), (3L, 5L, 1L)))
  }

  test("sortedNeighborhood input smaller than window: all pairs, no phantom ranks") {
    val k = Seq((2L, "b"), (9L, "a")).toDF("profile_id", "sort_key")
    val r = Blocking.sortedNeighborhood(k, window = 7)
      .as[(Long, Long, Long)].collect().toSet
    assert(r == Set((9L, 2L, 1L)))
    val single = Seq((1L, "x")).toDF("profile_id", "sort_key")
    assert(Blocking.sortedNeighborhood(single, window = 7).isEmpty)
  }

  test("sortedNeighborhood all-tied sort keys: profile_id breaks ties totally") {
    val k = Seq((4L, "t"), (2L, "t"), (3L, "t"), (1L, "t"))
      .toDF("profile_id", "sort_key")
    val r = Blocking.sortedNeighborhood(k, window = 3)
      .as[(Long, Long, Long)].collect().toSet
    // total order by (sort_key, profile_id) = 1,2,3,4; distances 1..2
    assert(r == Set((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (1L, 3L, 2L), (2L, 4L, 2L)))
  }

  test("sortedNeighborhood empty input emits nothing") {
    val k = Seq.empty[(Long, String)].toDF("profile_id", "sort_key")
    assert(Blocking.sortedNeighborhood(k, window = 4).isEmpty)
  }

  test("PageRank: hand-computed fixed-point ranks on a 3-node path") {
    // path 1-2-3: deg(1)=deg(3)=1, deg(2)=2; two iterations by hand:
    // i1: r1=r3=round(.15e9+.85*round(1e9/2))=5.75e8, r2=.15e9+.85*2e9=1.85e9
    // i2: r1=r3=.15e9+.85*round(1.85e9/2)=936250000, r2=.15e9+.85*1.15e9=1127500000
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("p1", "p2")
    val r = graft.operators.PageRank.run(pairs, iters = 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r == Map(1L -> ((1L, 0.93625)), 2L -> ((2L, 1.1275)),
      3L -> ((1L, 0.93625))))
    // partitioning must not change a single bit (exact integer sums)
    val r8 = graft.operators.PageRank.run(pairs.repartition(8), iters = 2)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r8 == r)
  }

  test("canopy: id-order centers, tight suppression, loose gather, singleton selfs") {
    import spark.implicits._
    // edges: (1,2,5) tight; (2,3,2) loose-only; (4,5,1) sub-loose; (5,6,3) tight
    val pairs = Seq((1L, 2L, 5L), (2L, 3L, 2L), (4L, 5L, 1L), (5L, 6L, 3L))
      .toDF("p1", "p2", "cbs")
    val got = graft.er.MetaBlocking.canopy(pairs, tight = 3L, loose = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 2 dominated by 1 (cbs 5 >= tight), 6 by 5; centers = {1,3,4,5};
    // loose members: 1->2, 3->2, 5->6; every center also self-joins
    assert(got == Set(
      (1L, 2L, 5L), (3L, 2L, 2L), (5L, 6L, 3L),
      (1L, 1L, 0L), (3L, 3L, 0L), (4L, 4L, 0L), (5L, 5L, 0L)))
  }

  test("canopy rejects loose > tight") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 5L)).toDF("p1", "p2", "cbs")
    intercept[IllegalArgumentException] {
      graft.er.MetaBlocking.canopy(pairs, tight = 2L, loose = 3L)
    }
  }

  override def afterAll(): Unit = () // keep shared session for other specs
}
