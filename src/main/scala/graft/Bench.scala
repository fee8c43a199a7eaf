package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.LocalSession.create()
    // shared memoized caches built up front as their own timed entry, so
    // per-query numbers are steady-state (r1 misattributed the whole
    // supervised pipeline to whichever query ran first)
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val w0 = System.nanoTime()
    try queries.Warmup.run(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: $e")
      failed("warmup_caches") = e.toString.take(300)
    }
    val warmupSec = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[bench] warmup_caches $warmupSec%.2fs")
    // each query 1+3 times: run1 = what a first consumer pays after warmup
    // (plan + codegen + execute); then three steady passes whose per-query
    // median is `queries_steady` — regressions are attributable to plan
    // cost or steady state, and single-run host-noise spikes are filtered.
    // Failures are recorded EXPLICITLY (name -> error in "failed", rc = 1),
    // never folded into a plausible-looking fast time.
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); () }
      catch { case e: Throwable =>
        if (!failed.contains(name)) failed(name) = e.toString.take(300)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val run1 = SparkEntry.queries.map { case (name, fn) =>
      val dt = timeOne(name, fn)
      System.err.println(f"[bench] $name $dt%.2fs")
      name -> dt
    }
    // three steady passes, report the per-query MEDIAN: this host's CPU
    // noise produced one-off 5x spikes (r4: er_cep_cbs_clean 22.8s vs
    // 2.8s steady) that a single steady run couldn't distinguish from a
    // real regression — the median of three can.
    val steadyRuns = Seq.fill(3)(
      SparkEntry.queries.map { case (name, fn) => name -> timeOne(name, fn) })
    val steadyMedian = SparkEntry.queries.keys.map { name =>
      name -> steadyRuns.map(_(name)).sorted.apply(1)
    }
    // per-query MIN of the same three runs (zero extra cost): makes the
    // artifact self-adjudicating — an apparent run1 cliff with
    // steady_min ≪ steady_median is host noise in the capture, a cliff
    // with min ≈ median is real first-touch cost, no re-run needed
    val steadyMin = SparkEntry.queries.keys.map { name =>
      name -> steadyRuns.map(_(name)).min
    }
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val queriesJson = jmap(run1 ++ Map("warmup_caches" -> warmupSec))
    val steadyJson = jmap(steadyMedian)
    val warmupJson = jmap(queries.Warmup.lastTimings)
    val failedJson = failed
      .map { case (k, v) => "\"" + k + "\":\"" + v.replaceAll("[\"\\\\\n\r\t]", " ") + "\"" }
      .mkString("{", ",", "}")
    val total = run1.values.sum + warmupSec
    val rc = if (failed.isEmpty) 0 else 1
    // ONE final JSON line carrying the full contract: the driver parses the
    // LAST JSON line on stdout, so the headline sums are folded into the same
    // line as the per-query maps (r8-r10 printed a second abbreviated summary
    // line after this one, which silently emptied the driver's per-query
    // comparison for two rounds).
    val steadySum = steadyMedian.map(_._2).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$queriesJson,"queries_steady":$steadyJson,"queries_steady_min":${jmap(steadyMin)},"warmup_steps":$warmupJson,"steady_sum":$steadySum,"run1_sum":${run1.values.sum},"warmup_sum":$warmupSec,"n":${run1.size},"failed":$failedJson,"rc":$rc,"sf":"$sfDir"}"""
    // Persist to files BEFORE printing: the driver captures only the tail of
    // sbt output, and 236 per-query entries overflow it (BENCH_r06.json came
    // back "parsed": null). BENCH_LATEST.json sits at the repo root (NOT
    // gitignored) so the end-of-round auto-commit preserves every round's
    // full per-query maps without a judge re-run. Paths resolve against an
    // explicit base (env override, else the launch dir — sbt runs from the
    // repo root), and only non-fatal write errors are swallowed.
    val base = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props.getOrElse("user.dir", ".")))
    for (p <- Seq("target/bench.json", "BENCH_LATEST.json")) {
      try java.nio.file.Files.writeString(base.resolve(p), json)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] write ${base.resolve(p)} failed: $e") }
    }
    println(json)
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
