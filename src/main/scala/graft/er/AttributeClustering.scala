package graft.er

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * LSH-based attribute clustering (the BLAST loose-schema alignment):
 * python/sparker/attribute_clustering.py:95-328, scala LSH.scala:93-369.
 *
 * Per (source, attribute): token set -> MinHash signature (k hash
 * functions over deterministic token hashes) -> band buckets -> cross-source
 * candidate pairs scored by signature similarity (fraction of equal
 * positions) -> per-attribute best edges (>= max * maxFactor) -> connected
 * components -> KeysCluster ids + optional per-cluster mean token entropy.
 *
 * Spark-native notes: the attribute universe is tiny (|sources| x
 * |attributes|), so the signature/bucket stages run as DataFrames (the same
 * minhash arithmetic as graft.dedup.Dedup, shared constants) and connected
 * components run through [[graft.util.ConnectedComponents.minLabel]] —
 * no GraphX dependency, deterministic, and still distributed if the
 * attribute graph ever outgrows the broadcast threshold. Divergence
 * (documented): the reference hashes tokens to dense ids via zipWithIndex
 * (arrival order); we use the deterministic polynomial hash so results
 * are stable and SQL-reproducible.
 */
object AttributeClustering {

  import graft.dedup.Dedup.{strHash, Mod, hashA, hashB}

  /** Qualified attribute name, the clustering unit: "<source>_<attr>". */
  def qualify(sourceId: org.apache.spark.sql.Column, attribute: org.apache.spark.sql.Column,
              sep: String = "_"): org.apache.spark.sql.Column =
    concat(sourceId.cast("string"), lit(sep), attribute)

  /** Distinct (qattr, token) pairs from the long attribute layout
   * (profile_id, source_id, attribute, value). */
  def attrTokens(attrs: DataFrame, keysToExclude: Seq[String] = Nil): DataFrame = {
    val base = attrs
      .filter(col("attribute").isNotNull && col("value").isNotNull)
      .select(qualify(col("source_id"), col("attribute")).as("qattr"),
        explode(split(lower(col("value")), Blocking.TokenSplitRe)).as("token"))
      .filter(length(col("token")) > 0)
    (if (keysToExclude.isEmpty) base
     else base.filter(!col("token").isin(keysToExclude: _*)))
      .distinct()
  }

  /** MinHash signatures per qualified attribute: (qattr, i, sig), i < k. */
  def signatures(tokens: DataFrame, k: Int): DataFrame =
    tokens.select(col("qattr"), strHash(col("token")).as("x"))
      .select(col("qattr"), col("x"), explode(sequence(lit(0), lit(k - 1))).as("i"))
      .select(col("qattr"), col("i"),
        pmod(hashA(col("i")) * col("x") + hashB(col("i")), lit(Mod)).as("hx"))
      .groupBy("qattr", "i").agg(min(col("hx")).as("sig"))

  /**
   * Cross-source candidate pairs from band buckets, scored by the fraction
   * of equal signature positions (attribute_clustering.py:214-227).
   * Sources differ when the qualified prefixes differ.
   */
  def candidatePairs(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0)
    val s = sig.transform(graft.util.Snapshot.apply)
    val bandKeys = s
      .withColumn("band", (col("i") / lit(k / bands)).cast("int"))
      .groupBy("qattr", "band")
      .agg(concat_ws(",", array_sort(collect_list(
        concat(col("i"), lit(":"), col("sig"))))).as("band_key"))
    val a = bandKeys.select(col("band"), col("band_key"), col("qattr").as("a1"))
    val b = bandKeys.select(col("band"), col("band_key"), col("qattr").as("a2"))
    val cand = a.join(b, Seq("band", "band_key"))
      .filter(col("a1") < col("a2") &&
        split(col("a1"), "_").getItem(0) =!= split(col("a2"), "_").getItem(0))
      .select("a1", "a2").distinct()
    val s1 = s.select(col("qattr").as("a1"), col("i"), col("sig").as("sig1"))
    val s2 = s.select(col("qattr").as("a2"), col("i"), col("sig").as("sig2"))
    cand.join(s1, Seq("a1")).join(s2, Seq("a2", "i"))
      .groupBy("a1", "a2")
      .agg((sum(when(col("sig1") === col("sig2"), 1).otherwise(0)).cast("double") / k)
        .as("sim"))
  }

  /** Keep, per attribute, edges with sim >= max(sim of that attribute) *
   * maxFactor (attribute_clustering.py:229-237); an edge survives if either
   * endpoint retains it. */
  def bestEdges(pairs: DataFrame, maxFactor: Double): DataFrame = {
    val directed = pairs.select(col("a1").as("a"), col("a2").as("b"), col("sim"))
      .union(pairs.select(col("a2").as("a"), col("a1").as("b"), col("sim")))
    val maxes = directed.groupBy("a").agg(max(col("sim")).as("mx"))
    directed.join(maxes, Seq("a"))
      .filter(col("sim") >= col("mx") * maxFactor - 1e-12)
      .select(least(col("a"), col("b")).as("a1"),
        greatest(col("a"), col("b")).as("a2"), col("sim"))
      .distinct()
  }

  /**
   * Connected components: label(v) = min qattr (Spark's string order)
   * reachable. `vertices` must hold every edge endpoint. The attribute
   * graph has at most |sources|*|attrs| vertices, so it stays under the
   * broadcast threshold and minLabel labels it on the driver in a few
   * tiny jobs.
   */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame =
    graft.util.ConnectedComponents.minLabel(
      vertices.select("qattr"), edges,
      idCol = "qattr", srcCol = "a1", dstCol = "a2", labelCol = "lbl")

  /**
   * Full clustering: returns (qattr, cluster_id, entropy, is_default).
   * Clustered components get ids 0..n-1 ordered by their min attribute
   * name; unclustered attributes fall into the default cluster (id = n,
   * is_default = true), like the reference's leftover cluster. Entropy (if
   * computed) is the mean Shannon entropy (log2) of the token
   * distributions of the cluster's attributes
   * (attribute_clustering.py:263-313); `normalizeEntropy` divides each
   * attribute's entropy by log2(total token occurrences of the attribute)
   * before the cluster mean (attribute_clustering.py:276-279).
   */
  def clusterAttributes(attrs: DataFrame, k: Int = 16, bands: Int = 4,
                        maxFactor: Double = 0.8,
                        computeEntropy: Boolean = true,
                        normalizeEntropy: Boolean = false): DataFrame = {
    val allAssigned = assignments(attrs, k, bands, maxFactor)
    if (!computeEntropy) allAssigned.withColumn("entropy", lit(1.0))
      .select("qattr", "cluster_id", "entropy", "is_default")
    else withClusterEntropy(allAssigned, attributeEntropy(attrs), normalizeEntropy)
  }

  /**
   * Cluster assignments without entropy: (qattr, cluster_id, is_default).
   * Split out from [[clusterAttributes]] because the assignment chain
   * (token scan -> signatures -> banding -> CC) is identical for the raw-
   * and normalized-entropy variants — callers running both snapshot this
   * once and pay the LSH chain a single time.
   */
  def assignments(attrs: DataFrame, k: Int = 16, bands: Int = 4,
                  maxFactor: Double = 0.8): DataFrame = {
    val tokens = attrTokens(attrs).transform(graft.util.Snapshot.apply)
    val sig = signatures(tokens, k)
    val cand = candidatePairs(sig, k, bands)
    val kept = bestEdges(cand, maxFactor).transform(graft.util.Snapshot.apply)
    val vertices = tokens.select("qattr").distinct().transform(graft.util.Snapshot.apply)
    val inEdges = kept.select(col("a1").as("qattr"))
      .union(kept.select(col("a2").as("qattr"))).distinct()
    val clusteredLabels = connectedComponents(inEdges, kept)
    // dense cluster ids by component label order
    val ids = clusteredLabels.select("lbl").distinct()
      .withColumn("cluster_id", (row_number().over(Window.orderBy("lbl")) - 1).cast("int"))
    val nClusters = ids.count().toInt
    val assigned = clusteredLabels.join(ids, Seq("lbl")).select("qattr", "cluster_id")
    vertices.join(assigned, Seq("qattr"), "left")
      .na.fill(Map("cluster_id" -> nClusters))
      .withColumn("is_default", col("cluster_id") === lit(nClusters))
  }

  /**
   * Per-attribute Shannon entropy over token occurrences (non-distinct):
   * (qattr, tot, attr_entropy) with attr_entropy = -sum(p*log2 p) as a
   * sorted sequential fold (double-sum order must match the SQL oracle).
   * `tot` is carried so normalization can be applied downstream without
   * rescanning: normalized = attr_entropy / log2(tot) — the same operand
   * order as computing it inside the aggregate.
   */
  def attributeEntropy(attrs: DataFrame): DataFrame = {
    val occurrences = attrs
      .filter(col("attribute").isNotNull && col("value").isNotNull)
      .select(qualify(col("source_id"), col("attribute")).as("qattr"),
        explode(split(lower(col("value")), Blocking.TokenSplitRe)).as("token"))
      .filter(length(col("token")) > 0)
    val tokenCounts = occurrences.groupBy("qattr", "token").agg(count(lit(1)).as("c"))
    val attrTotals = tokenCounts.groupBy("qattr").agg(sum(col("c")).as("tot"))
    val rawEntropy =
      -expr("aggregate(array_sort(collect_list(term)), cast(0.0 as double), (acc, x) -> acc + x)")
    tokenCounts.join(attrTotals, Seq("qattr"))
      .withColumn("p", col("c").cast("double") / col("tot"))
      .withColumn("term", col("p") * log2(col("p")))
      .groupBy(col("qattr"), col("tot"))
      .agg(rawEntropy.as("attr_entropy"))
      .select("qattr", "tot", "attr_entropy")
  }

  /** Cluster-mean entropy over assignments: joins [[attributeEntropy]]
   * onto [[assignments]] output and averages per cluster (sorted fold).
   * Returns (qattr, cluster_id, entropy, is_default). */
  def withClusterEntropy(assigned: DataFrame, attrEnt: DataFrame,
                         normalizeEntropy: Boolean = false): DataFrame = {
    val perAttr =
      if (normalizeEntropy)
        attrEnt.select(col("qattr"),
          (col("attr_entropy") / log2(col("tot").cast("double"))).as("attr_entropy"))
      else attrEnt.select("qattr", "attr_entropy")
    val clusterEntropy = assigned.join(perAttr, Seq("qattr"), "left")
      .na.fill(Map("attr_entropy" -> 0.0))
      .groupBy("cluster_id")
      .agg((expr("aggregate(array_sort(collect_list(attr_entropy)), cast(0.0 as double), (acc, x) -> acc + x)")
        / count(lit(1))).as("entropy"))
    assigned.join(clusterEntropy, Seq("cluster_id"))
      .select("qattr", "cluster_id", "entropy", "is_default")
  }

  /**
   * Cluster-qualified blocking keys (Blocking.create_blocks_clusters,
   * python/sparker/blockers.py:8-79): token keys suffixed with the LSH
   * cluster id of their source-qualified attribute; the block inherits the
   * cluster entropy. clusters: (qattr, cluster_id, entropy[, is_default])
   * — broadcast joined (tiny). `excludeDefaultCluster` drops keys of the
   * leftover cluster (ref TokenBlocking.scala:223-229 filters blocks whose
   * key ends with the default cluster id — same result, applied at the key
   * source).
   */
  def clusterKeys(attrs: DataFrame, clusters: DataFrame,
                  excludeDefaultCluster: Boolean = false): DataFrame = {
    val cl =
      if (!excludeDefaultCluster) clusters
      else {
        require(clusters.columns.contains("is_default"),
          "excludeDefaultCluster needs the is_default column from clusterAttributes")
        clusters.filter(!col("is_default"))
      }
    val toks = attrs
      .filter(col("attribute").isNotNull && col("value").isNotNull)
      .select(col("profile_id"), col("source_id"),
        qualify(col("source_id"), col("attribute")).as("qattr"),
        explode(split(lower(col("value")), Blocking.TokenSplitRe)).as("token"))
      .filter(length(col("token")) > 0)
    toks.join(broadcast(cl), Seq("qattr"))
      .select(col("profile_id"), col("source_id"),
        concat(col("token"), lit("_"), col("cluster_id")).as("key"),
        col("entropy"))
      .distinct()
  }
}
