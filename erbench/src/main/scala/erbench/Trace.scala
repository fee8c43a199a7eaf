package erbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/**
 * Per-span accounting for traced runs. The harness names a span before it
 * calls into a layer ([[Trace.span]]); every Spark job started inside the
 * call carries the name as a local property (inherited by threads the
 * layer starts), and a listener sums the task metrics of those jobs'
 * stages under it. Spans are kept in memory and read after
 * [[Trace.drain]].
 */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  final class Acc {
    var wallS = 0.0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]   // span [start, end) ms
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)] // task [launch, finish) ms
  }

  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private def acc(name: String): Acc = accs.synchronized(accs.getOrElseUpdate(name, new Acc))

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { s =>
      stageSpan.synchronized(e.stageIds.foreach(stageSpan(_) = s))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.synchronized(stageSpan.get(e.stageId)).foreach { s =>
      val a = acc(s)
      a.synchronized {
        a.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Run `f` as (part of) span `name`: wall time, and the task metrics of
   * every job it starts. */
  def span[A](name: String)(f: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f
    finally {
      val a = acc(name)
      a.synchronized {
        a.wallS += (System.nanoTime() - n0) / 1e9
        a.windows += ((t0, System.currentTimeMillis()))
      }
      sc.setLocalProperty(Key, prev)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ErbenchBus.drain(sc)

  def close(): Unit = sc.removeSparkListener(this)

  def get(name: String): Option[Acc] = accs.synchronized(accs.get(name))

  /** Wall seconds inside the span's windows during which none of its
   * tasks ran: driver-side work (planning, codegen, scheduling, result
   * handling). */
  def driverS(name: String): Double = get(name).fold(0.0) { a =>
    a.windows.map { case (w0, w1) =>
      val busy = union(a.taskSpans.iterator
        .map { case (s, e) => (math.max(s, w0), math.min(e, w1)) }
        .filter { case (s, e) => e > s }.toSeq)
      (w1 - w0 - busy) / 1000.0
    }.sum.max(0.0)
  }
}

object Trace {
  val Key = "erbench.span"

  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
