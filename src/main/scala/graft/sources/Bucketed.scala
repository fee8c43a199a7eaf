package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Memoized bucketed layouts of the warehouse fact tables — the
 * query-facing side of [[Wrappers.writeBucketed]]. `bucketBy(n, key)`
 * writes a table hash-partitioned on the join key at WRITE time, so a
 * later equi-join on that key reads both sides already co-partitioned
 * and Spark elides BOTH shuffle exchanges: the scans feed SortMergeJoin
 * directly (pinned by PlanSpec). At 100 TB this converts the dominant
 * fact⋈fact shuffle — rewriting the whole input over the network on
 * every query — into a one-time layout cost that every subsequent join
 * amortizes, the same contract as Hive bucketing or Iceberg's bucket
 * partition transform.
 *
 * Registration is memoized per (session, dir, table): the first call
 * pays the write, later calls return the catalog reader. Table names
 * carry a hash of the source dir so sf0.01 and sf0.1 coexist in one
 * catalog.
 *
 * Bucket count is fixed small (8) for the local bench; on a cluster
 * size it so one bucket ≈ one healthy partition per executor core
 * (e.g. 4096 for a 100 TB fact), and keep it EQUAL across tables that
 * join together.
 */
object Bucketed {
  val NumBuckets = 8

  private val registered = new graft.util.Memo[(SparkSession, String, String), Unit]

  /** Bucketed view of `dir/name.parquet`, hash-bucketed and sorted on
   * `key`. First call per (session, dir, name) writes the layout; safe
   * to call concurrently. */
  def table(s: SparkSession, dir: String, name: String, key: String): DataFrame = {
    val tag = Integer.toHexString(dir.hashCode & 0x7fffffff)
    val tbl = s"graft_${name}_b$tag"
    registered((s, dir, tbl)) {
      // one file per bucket: pre-partition on the bucket key (same
      // Murmur3 hash the bucket spec uses) so each writer task emits
      // exactly its own bucket file, and the sorted-bucket scan can
      // skip the per-query Sort under the join
      val src = s.read.parquet(s"$dir/$name.parquet")
        .repartition(NumBuckets, col(key))
      // EXTERNAL table under the checkpoint base, not a managed one: a
      // managed saveAsTable refuses a leftover warehouse directory from
      // an earlier session (LOCATION_ALREADY_EXISTS — the catalog is
      // per-session, the filesystem is not), while an external overwrite
      // replaces both data and catalog entry idempotently
      val base = s.conf.getOption("spark.graft.checkpoint.dir").getOrElse {
        require(s.sparkContext.isLocal,
          "Bucketed: set spark.graft.checkpoint.dir to shared storage on a cluster")
        graft.util.Cleanup.localDir(s)
      }
      val path = s"$base/graft-bucketed/$tbl"
      graft.util.Cleanup.onExitDelete(path)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      src.write.format("parquet")
        .bucketBy(NumBuckets, key).sortBy(key)
        .option("path", path)
        .mode("overwrite").saveAsTable(tbl)
    }
    s.table(tbl)
  }
}
