package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Density-based clustering (DBSCAN, Ester et al. KDD'96) over a
 * precomputed eps-neighbor pair list — the "find the dense regions of
 * embedding space" pass a curation pipeline runs to discover template
 * families and spam clusters that pairwise near-dup thresholds treat as
 * isolated edges.
 *
 * The eps-neighborhood graph comes in as (v1, v2) pairs — here the
 * banded-SRP [[Similarity.cosineNearDupPairs]] output, so neighbor
 * discovery is the same bucketed join the near-dup operator already
 * bounds (never all-pairs). On top of it, DBSCAN is pure relational
 * algebra:
 *  - core points: |neighbors| >= minPts - 1 (minPts counts the point
 *    itself) — one degree aggregate;
 *  - clusters: connected components over core-core edges
 *    ([[graft.util.ConnectedComponents]]; both endpoints are cores),
 *    labeled by the smallest reachable core id;
 *  - border points: non-core with a core neighbor, assigned the MIN
 *    cluster label among their core neighbors (classic DBSCAN leaves
 *    border assignment scan-order-dependent; MIN makes it
 *    deterministic, which the oracle reproduces);
 *  - everything else is noise (cluster_id -1).
 *
 * Every stage shuffles on a vertex or edge key — degree, CC iteration,
 * border join are all O(edges) aggregates; only a core-edge set under
 * the broadcast threshold is labeled on the driver.
 */
object Dbscan {

  /** Cluster `allIds` (vec_id) given eps-neighbor `pairs` (v1, v2, one
   * row per unordered pair). Returns (vec_id, cluster_id, role) with
   * role in {core, border, noise}; noise gets cluster_id -1.
   *
   * Pass `materialized = true` when `pairs0` is already a parquet-backed
   * snapshot (the memoized eps-graph): re-referencing a scan is cheap,
   * and skipping the redundant re-write saves a full pairs round-trip
   * per call. */
  def cluster(allIds: DataFrame, pairs0: DataFrame, minPts: Int,
              materialized: Boolean = false): DataFrame = {
    // materialize the eps-graph first: the degree aggregate, core-edge
    // join, CC iterations and border join all re-reference it — without
    // the snapshot each reference re-runs the whole neighbor discovery
    // (the r6 pre-bench measured 9.9s steady; ~1.5s materialized)
    val sel = pairs0.select("v1", "v2")
    val pairs = if (materialized) sel else graft.util.Snapshot(sel)
    val und = pairs.select(col("v1").as("u"), col("v2").as("v"))
      .unionByName(pairs.select(col("v2").as("u"), col("v1").as("v")))
    val core = und.groupBy("u").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= minPts - 1).select("u")
    val coreEdges = und
      .join(core.select(col("u")), Seq("u"))
      .join(core.select(col("u").as("v")), Seq("v"))
      .filter(col("u") < col("v"))
      .select(col("u").as("p1"), col("v").as("p2"))
      .distinct()
    val cores = graft.util.ConnectedComponents.minLabel(
      core.select(col("u").as("vec_id")), coreEdges,
      idCol = "vec_id", srcCol = "p1", dstCol = "p2",
      labelCol = "cluster_id")
    val borders = und
      .join(core.select(col("u")), Seq("u"), "left_anti")
      .join(cores.select(col("vec_id").as("v"), col("cluster_id")), Seq("v"))
      .groupBy(col("u").as("vec_id"))
      .agg(min("cluster_id").as("cluster_id"))
    val assigned = cores.withColumn("role", lit("core"))
      .unionByName(borders.withColumn("role", lit("border")))
    val noise = allIds.select("vec_id")
      .join(assigned.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(-1L).as("cluster_id"),
        lit("noise").as("role"))
    assigned.unionByName(noise)
  }
}
