package graft.util

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Connected components: label(v) = smallest vertex id reachable from v,
 * for integral or string ids (long document ids, string attribute names),
 * in the order Spark's `min` uses (strings by UTF-8 byte order).
 *
 * Two ways of running, chosen by the size of the edge set:
 *
 *  - Small graph: Spark's own size estimate of `edges` is within
 *    `spark.sql.autoBroadcastJoinThreshold`, the rule the planner uses to
 *    ship a relation through the driver to every executor (`-1` turns it
 *    off). The pairs are collected once and union-find runs on the driver;
 *    the (id, label) table of the non-root ids is broadcast-joined to the
 *    vertices and written as one Snapshot. A few Spark jobs, whatever the
 *    graph's diameter.
 *  - Otherwise, iterative min-label (hash-min) propagation. Each round is
 *    one O(|E|) equi-join + one hash-min aggregate; the loop runs until
 *    fixpoint, bounded by the graph diameter. Every iteration is
 *    Snapshot-materialized — without truncation the loop's plan contains
 *    the previous iteration's plan twice (propagation + union), i.e.
 *    exponential lineage growth, the classic iterative-graph pitfall GraphX
 *    solves with checkpointing. The initial labels are a lazy projection of
 *    `vertices`: iteration 1 evaluates it inside its own write job, and the
 *    labels returned are always the last iteration's parquet reader.
 *
 * Contract: every edge endpoint is in `vertices`. Both ways then return
 * one row per vertex id. (The loop also labels endpoints missing from
 * `vertices`; the small-graph way does not.) Pairs with a null endpoint
 * connect nothing.
 *
 * Shared by ER entity assignment, attribute clustering (tiny vertex set,
 * string ids), dedup cluster assignment (document cardinality, long ids)
 * and DBSCAN's core clusters.
 */
object ConnectedComponents {

  /**
   * vertices: 1-column frame of ids (column `idCol`); edges: (srcCol,
   * dstCol) undirected pairs. Returns (idCol, labelCol). If the loop meets
   * a component whose diameter exceeds `maxIter` the labels are only upper
   * bounds, and a downstream consumer (e.g. Dedup.clusters' survivor set)
   * would silently be wrong — so non-convergence THROWS: the cap is far
   * above any expected near-dup/attribute graph diameter, and hitting it
   * signals a real anomaly (e.g. a chain-shaped near-dup graph), not a
   * tuning knob to ignore. The small-graph way has no rounds and is exact
   * at any diameter.
   */
  def minLabel(vertices: DataFrame, edges: DataFrame,
               idCol: String, srcCol: String, dstCol: String,
               labelCol: String, maxIter: Int = 50): DataFrame = {
    val idType = vertices.schema(idCol).dataType
    val orderable = idType match {
      case StringType | ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (orderable && edges.queryExecution.optimizedPlan.stats.sizeInBytes <=
        edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
      onDriver(vertices, edges, idCol, srcCol, dstCol, labelCol, idType)
    else hashMin(vertices, edges, idCol, srcCol, dstCol, labelCol, maxIter)
  }

  /** The small-graph way (see the object doc). */
  private def onDriver(vertices: DataFrame, edges: DataFrame,
                       idCol: String, srcCol: String, dstCol: String,
                       labelCol: String, idType: DataType): DataFrame = {
    // strings compare as UTF8String (Spark's byte order, not
    // String.compareTo's UTF-16 order); integral ids as longs
    val keyType = if (idType == StringType) StringType else LongType
    val pairs = edges
      .select(col(srcCol).cast(idType).cast(keyType),
        col(dstCol).cast(idType).cast(keyType))
      .na.drop().collect()
    val rows =
      if (keyType == StringType)
        roots(pairs.map(r => (UTF8String.fromString(r.getString(0)),
          UTF8String.fromString(r.getString(1)))))
          .map { case (v, r) => Row(v.toString, r.toString) }
      else roots(pairs.map(r => (r.getLong(0), r.getLong(1))))
          .map { case (v, r) => Row(v, r) }
    val labels = edges.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        new StructType().add("_v", keyType).add("_root", keyType))
      .select(col("_v").cast(idType).as(idCol),
        col("_root").cast(idType).as("_root"))
    Snapshot(vertices.select(col(idCol)).distinct()
      .join(broadcast(labels), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_root"), col(idCol)).as(labelCol)))
  }

  /** Union-find over `pairs` with every root the smallest id of its
   * component: returns (id, root) for each id that is not a root. */
  private def roots[K](pairs: Array[(K, K)])(implicit ord: Ordering[K]): Seq[(K, K)] = {
    val slot = mutable.HashMap.empty[K, Int]
    val ids = mutable.ArrayBuffer.empty[K]
    val parent = mutable.ArrayBuffer.empty[Int]
    def index(v: K): Int = slot.get(v) match {
      case Some(i) => i
      case None =>
        slot(v) = ids.size; parent += ids.size; ids += v; ids.size - 1
    }
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(index(a)), find(index(b)))
      if (ra != rb) {
        if (ord.lt(ids(rb), ids(ra))) parent(ra) = rb else parent(rb) = ra
      }
    }
    for (i <- ids.indices; r = find(i) if r != i) yield (ids(i), ids(r))
  }

  /** The hash-min loop (see the object doc). */
  private def hashMin(vertices: DataFrame, edges: DataFrame,
                      idCol: String, srcCol: String, dstCol: String,
                      labelCol: String, maxIter: Int): DataFrame = {
    // the initial labels stay lazy: only iteration 1 reads them, inside
    // its own materialization job
    var labels = vertices.select(col(idCol), col(idCol).as(labelCol))
    val und = Snapshot(
      edges.select(col(srcCol).as("_u"), col(dstCol).as("_v"))
        .union(edges.select(col(dstCol).as("_u"), col(srcCol).as("_v"))))
    val lblType = labels.schema(labelCol).dataType
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      // Propagated rows carry a null `_prev`; each vertex's own row carries
      // its current label. min() skips nulls and `labels` has exactly one
      // row per id, so after the hash-min aggregate `_prev` IS the previous
      // label — the convergence check (any label =!= _prev) rides the
      // materialization job as an observed metric instead of a second
      // action (join + count) over the freshly written labels: one job and
      // one O(V) pass per iteration instead of two.
      val via = und
        .join(labels.select(col(idCol).as("_u"), col(labelCol)), Seq("_u"))
        .select(col("_v").as(idCol), col(labelCol),
          lit(null).cast(lblType).as("_prev"))
      val (next, m) = Snapshot.observed(
        labels.select(col(idCol), col(labelCol), col(labelCol).as("_prev"))
          .union(via)
          .groupBy(idCol).agg(min(col(labelCol)).as(labelCol),
            min(col("_prev")).as("_prev")),
        sum(when(col(labelCol) =!= col("_prev"), 1L).otherwise(0L))
          .as("n_changed"))
      changed = Option(m("n_changed")).exists(_.asInstanceOf[Long] > 0L)
      labels = next.select(col(idCol), col(labelCol))
      iter += 1
    }
    if (changed)
      throw new IllegalStateException(s"ConnectedComponents.minLabel did " +
        s"NOT converge within $maxIter iterations - labels would only be " +
        s"upper bounds; raise maxIter (component diameter exceeds the cap)")
    labels
  }
}
