package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{ErQueries, SupQueries}
import graft.util.Memo

/** The [[graft.util.Memo]] contract, its use by the query layer, and a
 * guard that no other memo idiom comes back. */
class MemoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** Starts `n` calls of `f`, each on its own thread, and hands their
   * futures to `check`. */
  private def onThreads[A](n: Int)(f: => A)(check: Seq[Future[A]] => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try check(Seq.fill(n)(Future(f))) finally pool.shutdownNow()
  }

  private def snapshotDir(df: DataFrame): Set[String] =
    df.inputFiles.map(f => Paths.get(new java.net.URI(f)).getParent.toString).toSet

  test("same-key race: the builder runs once and every caller gets its path") {
    val memo = new Memo[String, Memo.Frame]
    val builds = new AtomicInteger
    val arrived = new CountDownLatch(8)
    val release = new CountDownLatch(1)
    onThreads(8) {
      arrived.countDown()
      memo.frame(spark, "k") {
        builds.incrementAndGet()
        assert(release.await(60, TimeUnit.SECONDS))
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }
    } { fs =>
      assert(arrived.await(60, TimeUnit.SECONDS))
      Thread.sleep(200) // let every caller reach the memo while the build is held
      release.countDown()
      val frames = fs.map(Await.result(_, 2.minutes))
      assert(builds.get == 1)
      assert(frames.map(snapshotDir).distinct.size == 1)
      assert(frames.forall(_.as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "b"))))
    }
  }

  test("failed build: every waiting caller sees the error and the next call builds again") {
    val memo = new Memo[String, Int]
    val builds = new AtomicInteger
    val arrived = new CountDownLatch(4)
    val release = new CountDownLatch(1)
    onThreads(4) {
      arrived.countDown()
      try Right(memo("k") {
        builds.incrementAndGet()
        assert(release.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("build failed")
      })
      catch { case e: IllegalStateException => Left(e.getMessage) }
    } { fs =>
      assert(arrived.await(60, TimeUnit.SECONDS))
      Thread.sleep(200) // let every caller wait on the held build
      release.countDown()
      assert(fs.map(Await.result(_, 2.minutes)) == Seq.fill(4)(Left("build failed")))
    }
    assert(builds.get == 1)
    assert(memo("k") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get == 2)
    assert(memo("k")(fail("a built key must not build again")) == 7)
  }

  test("nested key: a builder may request another key of the same memo") {
    val memo = new Memo[String, Int]
    val a = Future(memo("a")(memo("b")(1) + 1))(ExecutionContext.global)
    assert(Await.result(a, 1.minute) == 2)
    assert(memo("b")(fail("b was built by a's builder")) == 1)
  }

  test("zero-job read: a built frame artifact is re-read without a Spark job") {
    val memo = new Memo[String, Memo.Frame]
    val df = Seq((1L, 2.5, "x")).toDF("id", "w", "s")
    val built = memo.frame(spark, "k")(df)
    var again: DataFrame = null
    val jobs = TestSpark.jobsDuring {
      again = memo.frame(spark, "k")(fail("a built key must not build again"))
    }
    assert(jobs == 0, s"re-reading a memoized frame started $jobs jobs")
    assert(again.schema == built.schema)
    assert(again.collect().toSeq == df.collect().toSeq)
  }

  /** A fresh copy of the repository's bundled sf0.001 tables, so memo
   * keys (the dir) are new to this JVM. */
  private def freshTables(): String = {
    val src = Paths.get("erbench/data/sf0.001")
    val dst = Files.createTempDirectory("graft_memo_sf_")
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    dst.toString
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def snapshotCount(base: Path): Int =
    Files.list(base).iterator().asScala
      .count(_.getFileName.toString.startsWith("graft-snap-"))

  /** A session whose snapshots land in their own fresh directory. */
  private def sessionWithSnapshotBase(): (SparkSession, Path) = {
    val base = Files.createTempDirectory("graft_memo_snaps_")
    val s = spark.newSession()
    s.conf.set("spark.graft.checkpoint.dir", base.toString)
    (s, base)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("racing query-layer builds write one snapshot per artifact") {
    def build(s: SparkSession, d: String): (Seq[String], Seq[String]) =
      (rows(ErQueries.gtConverted(s, d)), rows(SupQueries.clusters(s, d)))
    val (seqSession, seqBase) = sessionWithSnapshotBase()
    val (raceSession, raceBase) = sessionWithSnapshotBase()
    val seqDir = freshTables()
    val raceDir = freshTables()
    try {
      val expected = build(seqSession, seqDir)
      val perArtifact = snapshotCount(seqBase)
      onThreads(4)(build(raceSession, raceDir)) { fs =>
        val results = fs.map(Await.result(_, 5.minutes))
        assert(snapshotCount(raceBase) == perArtifact,
          s"4 racers wrote ${snapshotCount(raceBase)} snapshots, one build writes $perArtifact")
        assert(results.forall(_ == expected))
      }
    } finally Seq(seqBase, raceBase, Paths.get(seqDir), Paths.get(raceDir)).foreach(deleteTree)
  }

  test("a memoized frame is read in the caller's session") {
    val d = freshTables()
    try {
      val a = spark
      val fromA = ErQueries.cachedPairs(a, d, clean = false)
      val b = a.newSession()
      val fromB = ErQueries.cachedPairs(b, d, clean = false)
      assert(fromA.sparkSession eq a)
      assert(fromB.sparkSession eq b)
      assert(rows(fromB) == rows(fromA))
    } finally deleteTree(Paths.get(d))
  }

  test("src/main/scala memoizes only through graft.util.Memo") {
    val idioms = Seq("TrieMap.empty", ".computeIfAbsent(", ".getOrElseUpdate(")
    // tables of measurements, not memos: the latest warmup's step times
    // and CapMetrics' session-wide drop recorder
    val allowed = Set("Warmup.timings", "Recorder.m")
    val owner = """\b(?:object|class|trait)\s+(\w+)""".r
    val valName = """\bval\s+(\w+)""".r
    val root = Paths.get("src/main/scala")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft/util/Memo.scala")))
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.filter(i => idioms.exists(lines(i).contains)).map { i =>
          val in = (i to 0 by -1).iterator
            .flatMap(j => owner.findFirstMatchIn(lines(j)).map(_.group(1)))
            .nextOption().getOrElse("")
          val name = valName.findFirstMatchIn(lines(i)).map(_.group(1)).getOrElse("")
          (s"$in.$name", s"${root.relativize(f)}:${i + 1}")
        }
      }.toSeq
    val offending = hits.filterNot(h => allowed(h._1)).map(_._2)
    assert(offending.isEmpty,
      s"memoize through graft.util.Memo, not: ${offending.mkString(", ")}")
  }
}
