package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * Materialize a DataFrame by round-tripping it through parquet and return a
 * reader over it. Serves the same two purposes as localCheckpoint — caching
 * the rows and truncating the logical plan — without MemoryStore unrolling:
 * with local[32], 32 tasks unrolling a cached dataset contend on the
 * global memory-manager lock per element batch, which showed up as >80%
 * SYSTEM cpu in the sf0.1 bench. Parquet writes/readers use their own
 * buffers, compress columnar, and re-read vectorized inside codegen. The
 * reader carries the written frame's schema (made nullable, as parquet
 * stores it), so a snapshot runs exactly one Spark job: the write.
 *
 * Storage location: `spark.graft.checkpoint.dir` — REQUIRED on a real
 * cluster, where it must point at shared storage (HDFS/S3/NFS) reachable
 * by every executor. Only in `local[*]` mode does it default to
 * spark.local.dir / tmpdir; an executor-local path on a multi-node cluster
 * would write shards on different disks that no reader could reassemble,
 * so that fallback is refused outside local mode.
 */
object Snapshot {
  def apply(df: DataFrame): DataFrame = materialize(df)._2

  /** Materialize like [[apply]] while computing observed metrics ON the
   * write pass (Dataset.observe — the CapMetrics idiom): returns the
   * parquet-backed reader plus the metric values. Iterative operators
   * (ConnectedComponents, KCore) use this to fuse their per-iteration
   * convergence check into the materialization job itself instead of
   * paying a second action (join + count / count) over the freshly
   * written output — one job per iteration instead of two, and one
   * fewer O(rows) pass at any scale.
   *
   * Deliberately NOT the `Observation` API: `Dataset.observe(Observation,
   * ...)` initializes the session's `observationManager` — a LAZY,
   * non-transient, non-serializable SparkSession field (Spark 4.1), so
   * the first Observation permanently breaks serialization of every
   * later closure that transitively captures the session (e.g. a Spark
   * ML model whose training summary holds one). A name-keyed
   * CollectMetrics node plus a one-shot QueryExecutionListener (which
   * lives in the TRANSIENT sessionState) reads the same metrics without
   * touching that field. */
  def observed(df: DataFrame, metrics: org.apache.spark.sql.Column*)
      : (DataFrame, Map[String, Any]) = {
    require(metrics.nonEmpty, "Snapshot.observed needs at least one metric")
    val name = s"snap_obs_${java.util.UUID.randomUUID().toString.take(12)}"
    val spark = df.sparkSession
    val latch = new java.util.concurrent.CountDownLatch(1)
    @volatile var row: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach { r =>
          row = Some(r); latch.countDown()
        }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val reader =
        materialize(df.observe(name, metrics.head, metrics.tail: _*))._2
      // the listener bus delivers asynchronously — wait for this write's
      // metrics (name is unique per call, so other queries can't match).
      // If the bounded listener queue dropped or badly delayed the event
      // (possible under concurrent warmup load), recompute the same
      // aggregates over the just-written parquet instead of aborting: the
      // observe node passes every column of `df` through to the write, so
      // reader.agg(metrics...) aggregates the identical rows. One extra
      // O(output) job on a path that otherwise threw mid-operator.
      val r =
        if (latch.await(60, java.util.concurrent.TimeUnit.SECONDS)) row.get
        else reader.agg(metrics.head, metrics.tail: _*).collect().head
      (reader, r.schema.fieldNames.zipWithIndex
        .map { case (f, i) => f -> r.get(i) }.toMap)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Like [[apply]], also returning the written path — for callers that
   * share the MATERIALIZATION across sessions by re-reading the path from
   * the current session ([[Memo]]). A frame that already is a bare scan of
   * one snapshot dir (e.g. [[ConnectedComponents.minLabel]]'s result)
   * keeps that dir: no write, no Spark job. */
  def materialize(df: DataFrame): (String, DataFrame) = {
    val dir = existing(df).getOrElse(write(df))
    // read back with the frame's own schema: inferring it from the footers
    // costs a one-task Spark job per snapshot, and the file source makes
    // the given schema nullable exactly as the writer stored it
    (dir, df.sparkSession.read.schema(df.schema).parquet(dir))
  }

  /** The dir of `df` when its plan is only a scan of one `graft-snap-*`
   * dir with the frame's own schema. */
  private def existing(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation if fs.partitionSchema.isEmpty &&
            fs.dataSchema == df.schema && fs.location.rootPaths.size == 1 &&
            fs.location.rootPaths.head.getName.startsWith("graft-snap-") =>
          Some(fs.location.rootPaths.head.toString)
        case _ => None
      }
      case _ => None
    }

  /** Writes `df` to a fresh `graft-snap-*` dir and returns the dir. */
  private def write(df: DataFrame): String = {
    val spark = df.sparkSession
    val explicit = spark.conf.getOption("spark.graft.checkpoint.dir")
    val base = explicit.getOrElse {
      require(spark.sparkContext.isLocal,
        "Snapshot: set spark.graft.checkpoint.dir to a shared-storage path " +
          "(HDFS/S3/NFS) when running on a cluster; local-disk fallback is " +
          "only valid in local[*] mode")
      Cleanup.localDir(spark)
    }
    val dir = s"$base/graft-snap-${java.util.UUID.randomUUID()}"
    // only the implicit tmpfs fallback is cleaned on exit; an explicitly
    // configured checkpoint dir is the operator's to manage
    if (explicit.isEmpty) Cleanup.onExitDelete(dir)
    // local tmpfs snapshots skip compression: the codec is pure CPU spent
    // on RAM-backed files re-read seconds later. An explicit (cluster)
    // checkpoint dir keeps the session default codec — there the bytes
    // cross the network and live longer.
    val w = df.write.mode("overwrite")
    (if (explicit.isEmpty) w.option("compression", "none") else w).parquet(dir)
    dir
  }
}
