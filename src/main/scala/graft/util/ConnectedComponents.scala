package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Connected components by iterative min-label (hash-min) propagation:
 * label(v) = smallest vertex id reachable from v, for any orderable id
 * type (string attribute names, long document ids).
 *
 * Each round is one O(|E|) equi-join + one hash-min aggregate; the loop
 * runs until fixpoint, bounded by the graph diameter. Every iteration is
 * Snapshot-materialized — without truncation the loop's plan contains the
 * previous iteration's plan twice (propagation + union), i.e. exponential
 * lineage growth, the classic iterative-graph pitfall GraphX solves with
 * checkpointing. The initial labels are a lazy projection of `vertices`:
 * iteration 1 evaluates it inside its own write job, and the labels
 * returned are always the last iteration's parquet reader.
 *
 * Shared by attribute clustering (tiny vertex set, string ids) and dedup
 * cluster assignment (document cardinality, long ids).
 */
object ConnectedComponents {

  /**
   * vertices: 1-column frame of ids (column `idCol`); edges: (srcCol,
   * dstCol) undirected pairs. Returns (idCol, labelCol). If the graph has
   * a component whose diameter exceeds `maxIter` the labels are only upper
   * bounds, and a downstream consumer (e.g. Dedup.clusters' survivor set)
   * would silently be wrong — so non-convergence THROWS: the cap is far
   * above any expected near-dup/attribute graph diameter, and hitting it
   * signals a real anomaly (e.g. a chain-shaped near-dup graph), not a
   * tuning knob to ignore.
   */
  def minLabel(vertices: DataFrame, edges: DataFrame,
               idCol: String, srcCol: String, dstCol: String,
               labelCol: String, maxIter: Int = 50): DataFrame = {
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
