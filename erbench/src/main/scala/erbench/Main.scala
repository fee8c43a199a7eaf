package erbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Benchmark entry point: one workload, one closed-loop client, one
 * operation at a time.
 *
 *   erbench.Main --workload W --seed N --seconds S --trace 0|1
 *                --work DIR --suite-data DIR
 *
 * Prints one JSON line with every metric the run measured (end-to-end and
 * per-layer) plus `correct`, `attempted` and `failed`; `run.py` selects
 * the set the trace flag asks for.
 */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, suiteData: Path)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")), Paths.get(kv("suite-data")))
    val w: Workload = o.workload match {
      case "er_dirty" => new ErDirtyWorkload(o)
      case "query_suite" => new SuiteWorkload(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = Runner.run(w, o)
    println(out)
    System.exit(0)
  }
}

/** What a workload gives the runner. */
trait Workload {
  /** Make and write the inputs (not part of setup_s). Runs before any
   * session. */
  def generate(): Unit
  /** Make the inputs readable in this session (part of setup_s). */
  def load(spark: SparkSession): Unit
  /** One operation: its seconds (checks excluded) and the number of its
   * failed checks. `trace` is set on traced operations. */
  def op(spark: SparkSession, trace: Option[Trace], first: Boolean): (Double, Int)
  /** Least number of steady untraced operations per run. */
  def minSteady: Int = 2
  /** Attempts in one operation (the suite counts query executions). */
  def attemptsPerOp: Int = 1
  /** Per-layer metrics out of a traced run's spans; `tracedOps` steady
   * traced operations ran. */
  def layers(t: Trace, tracedOps: Int): Map[String, Double]
  /** Extra traced work after the timed loop (the suite's warmup). */
  def afterLoop(spark: SparkSession, t: Trace): Unit = ()
  /** steady_s out of the steady untraced operations' seconds. */
  def steady(opSeconds: Seq[Double]): Double = Runner.median(opSeconds)
}

object Runner {
  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def run(w: Workload, o: Main.Opts): String = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val g0 = System.nanoTime()
    w.generate()
    val genS = since(g0)
    // set-up runs from JVM start; generating and writing the inputs is
    // excluded
    val spark = graft.util.LocalSession.create()
    w.load(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0 - genS
    System.err.println(f"[erbench] generate ${genS}%.2fs setup ${setupS}%.2fs")

    var attempted = 0
    var failed = 0
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val trace = if (o.trace) Some(new Trace(spark.sparkContext)) else None
    def once(t: Option[Trace], first: Boolean = false): Double = {
      val t0 = System.nanoTime()
      val (dt, bad) =
        try w.op(spark, t, first)
        catch { case NonFatal(e) =>
          System.err.println(s"[erbench] operation failed: $e")
          (since(t0), w.attemptsPerOp)
        }
      attempted += w.attemptsPerOp
      failed += math.min(bad, w.attemptsPerOp)
      System.err.println(f"[erbench] op ${if (t.isDefined) "traced" else "untraced"} $dt%.3fs")
      dt
    }

    // closed loop: the first operation is first_s; then operations until
    // `seconds` have passed and minSteady untraced ones ran. Traced runs
    // trace the first operation, then interleave untraced and traced ones
    // as U T T U U T T U ... (at least two traced), so that the JIT's
    // warm-up favours neither side of trace_overhead_s.
    val loop0 = System.nanoTime()
    val first = once(trace, first = true)
    var k = 0
    while (since(loop0) < o.seconds || untraced.length < w.minSteady ||
        (o.trace && traced.length < 2)) {
      if (o.trace && (k % 4 == 1 || k % 4 == 2)) traced += once(trace) else untraced += once(None)
      k += 1
    }
    val scratchMb = Scratch.snapshotMb(spark)

    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "first_s" -> first,
      "steady_s" -> w.steady(untraced.toSeq),
      "scratch_mb_end" -> scratchMb)
    trace.foreach { t =>
      w.afterLoop(spark, t)
      t.drain()
      metrics ++= w.layers(t, traced.length)
      metrics("trace_overhead_s") = median(traced.toSeq) - median(untraced.toSeq)
      t.close()
    }
    metrics("fail_ratio") = failed.toDouble / attempted
    spark.stop()

    val body = metrics.map { case (k, v) => "\"" + k + "\":" + Json.num(v) }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** Bytes the engine's snapshots hold on disk, read from the file system
 * (not from the engine): every `graft-snap-*` directory under the
 * session's local dir. */
object Scratch {
  def snapshotMb(spark: SparkSession): Double = {
    val base = Paths.get(spark.conf.get("spark.local.dir"))
    if (!Files.isDirectory(base)) 0.0
    else {
      val tops = Files.list(base)
      try {
        var bytes = 0L
        tops.filter(_.getFileName.toString.startsWith("graft-snap-")).forEach { d =>
          val all = Files.walk(d)
          try all.filter(Files.isRegularFile(_)).forEach(f => bytes += Files.size(f))
          finally all.close()
        }
        bytes / 1048576.0
      } finally tops.close()
    }
  }
}

/** Pair-set helpers: pairs are packed (min << 32 | max). */
object Pairs {
  def pack(a: Long, b: Long): Long = (math.min(a, b) << 32) | math.max(a, b)

  def collect(df: DataFrame): Array[Long] =
    df.select("p1", "p2").collect().map(r => pack(r.getLong(0), r.getLong(1))).sorted

  /** Hex SHA-256 over the sorted rows' bytes. */
  def fingerprint(rows: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def fingerprintPairs(p: Array[Long]): String = fingerprint(p.iterator.map(_.toString))

  /** (pc, pq, f1) of a candidate set against a ground truth. */
  def quality(cand: Array[Long], gt: java.util.HashSet[java.lang.Long]): (Double, Double, Double) = {
    val hits = cand.count(p => gt.contains(p)).toDouble
    val pc = if (gt.isEmpty) 0.0 else hits / gt.size
    val pq = if (cand.isEmpty) 0.0 else hits / cand.length
    val f1 = if (pc + pq == 0) 0.0 else 2 * pc * pq / (pc + pq)
    (pc, pq, f1)
  }
}
