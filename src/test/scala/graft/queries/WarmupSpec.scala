package graft.queries

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}
import graft.util.Memo
import Warmup.Step

/** [[Warmup]]'s step runner on fake steps, and its fixed step list. */
class WarmupSpec extends AnyFunSuite {
  private def step(name: String)(f: => Any) = Step(name, () => f)

  /** `runSteps` on its own thread, so a hang fails the test instead of the suite. */
  private def runSteps(steps: Seq[Step], threads: Int): Unit =
    Await.result(Future(Warmup.runSteps(steps, threads))(ExecutionContext.global), 2.minutes)

  test("a failing step stops no other; run rethrows the first-listed failure once all finish") {
    val finished = new ConcurrentLinkedQueue[String]()
    def slow(name: String) = step(name) { Thread.sleep(300); finished.add(name) }
    // 5 threads: both failing steps start at once, the later-listed one
    // fails first, and "d" and "e" are still queued when it does
    val steps = Seq(slow("a"), step("late_fail") { Thread.sleep(100); sys.error("late") },
      slow("b"), step("early_fail")(throw new IllegalStateException("early")), slow("c"),
      slow("d"), slow("e"))
    val e = intercept[RuntimeException](runSteps(steps, threads = 5))
    assert(e.getMessage == "late")
    assert(finished.asScala.toSet == Set("a", "b", "c", "d", "e"))
    assert(Warmup.lastTimings.keySet == Set("a", "b", "c", "d", "e"))
  }

  test("no Spark job starts after run returns, even after a step failed") {
    val spark = TestSpark.spark
    def job(name: String, delayMs: Long) =
      step(name) { Thread.sleep(delayMs); spark.sparkContext.parallelize(Seq(1), 1).count() }
    val steps = Seq(step("fail")(sys.error("boom")), job("j1", 500), job("j2", 800), job("j3", 0))
    var thrown: Option[Throwable] = None
    val jobs = TestSpark.jobsDuring {
      thrown = scala.util.Try(runSteps(steps, threads = 4)).failed.toOption
    }
    assert(thrown.map(_.getMessage).contains("boom"))
    assert(jobs == 3, s"$jobs of the 3 step jobs started before run returned")
  }

  test("no more steps run at once than the pool size") {
    val running = new AtomicInteger
    val peak = new AtomicInteger
    val steps = (1 to 12).map(i => step(s"s$i") {
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(100)
      running.decrementAndGet()
    })
    runSteps(steps, threads = 3)
    assert(peak.get == 3)
  }

  test("steps that share memo keys build each once on a pool smaller than the waiters") {
    val memo = new Memo[String, Int]
    val builds = new AtomicInteger
    def x = memo("x") { builds.incrementAndGet(); Thread.sleep(300); 1 }
    def y = memo("y") { builds.incrementAndGet(); x + 1 }
    // y1 builds y and, inside it, x; step "x" waits on x's cell, and the
    // y steps queued behind them find y built
    val steps = Seq(step("y1")(y), step("x")(x), step("y2")(y), step("y3")(y))
    runSteps(steps, threads = 2)
    assert(builds.get == 2)
    assert(memo("y")(fail("y was built by a step")) == 2)
  }

  test("the step list: unique names, every query step names a driver query") {
    val steps = Warmup.steps(TestSpark.spark, "/nonexistent")
    val names = steps.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate step names: ${names.diff(names.distinct).mkString(", ")}")
    val unknown = steps.flatMap(_.query).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    assert(names.take(3) == Seq("cleaned_dirty", "gt_convert", "cleaned_clean"))
  }
}
