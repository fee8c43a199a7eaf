package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document deduplication for training-data pipelines, Spark-native:
 *
 *  - exact: hash-groupBy on normalized text (one shuffle on the hash);
 *  - n-gram (shingle) Jaccard: inverted shingle index -> candidate pairs
 *    -> exact Jaccard — the same blocking/meta-blocking shape as the ER
 *    core, reused here on documents;
 *  - MinHash + LSH banding: constant-size signatures replace the shingle
 *    sets, band buckets replace the full inverted index — the 100 TB path
 *    (signature size is O(k) per doc regardless of doc length, candidate
 *    generation is an equi-join on band keys);
 *  - SimHash: 64-bit fingerprints (four 16-bit affine lanes), banded for
 *    candidate generation, exact Hamming verification via xor/bit_count.
 *
 * Everything is hash arithmetic in Column expressions (codegen-friendly,
 * no UDFs) with fixed constants so the DuckDB oracle reproduces results
 * bit-for-bit. At production scale the polynomial string hash would be
 * xxhash64; the explicit form keeps cross-engine verifiability.
 */
object Dedup {

  /** 2^31-1, the modulus for all hash arithmetic here: intermediate
   * products stay under 2^63 (a * x with a,x < 2^31). */
  val Mod = 2147483647L

  /** Sequential polynomial hash of a string: fold h = (h*31 + char) % Mod —
   * a codegen'd primitive loop (graft.functions.PolyHash31); the
   * equivalent transform/sequence/ascii/aggregate HOF fold runs
   * interpreted (CodegenFallback) and dominated the sf0.1 bench. */
  def strHash(s: Column): Column = graft.functions.PolyHash31(s)

  /** Normalized text: lowercase, collapse whitespace runs, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /**
   * Exact dedup: group by the normalized-text hash, keep the smallest id as
   * the cluster representative. Returns (doc_id, rep_id); doc_id == rep_id
   * marks the survivor.
   *
   * The representative election is an AGGREGATION joined back, not a
   * window: a web crawl guarantees degenerate hashes (hundreds of millions
   * of empty/boilerplate documents share one h), and `min().over(
   * partitionBy(h))` would stream every one of them through a single
   * window task — no map-side partials, and AQE skew-splits joins, not
   * windows. The groupBy collapses the hot hash to one row per input
   * partition before the shuffle, and the join-back is skew-splittable.
   */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // snapshot the (doc_id, h) projection: both the election and the
    // join-back consume it, and without the materialization each side
    // would re-run the full text scan + polynomial hash (2x the whole
    // operator's cost, measured 0.09s -> 0.56s at sf0.1)
    val h = graft.util.Snapshot(
      docs.select(col(idCol).as("doc_id"), strHash(normalize(col(textCol))).as("h")))
    val reps = h.groupBy("h").agg(min(col("doc_id")).as("rep_id"))
    h.join(reps, Seq("h")).select("doc_id", "rep_id")
  }

  /** Distinct word n-gram shingles per document: (doc_id, shingle). */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(n >= 1)
    docs.select(col(idCol).as("doc_id"),
        filter(split(normalize(col(textCol)), " "), t => length(t) > 0).as("toks"))
      // sequence(1, 0) DESCENDS in Spark (auto step -1): a doc with fewer
      // than n tokens needs an explicit empty array (slice would throw on
      // start 0), matching the oracle's empty generate_series(1, 0)
      .select(col("doc_id"), explode(expr(
        s"if(size(toks) < $n, array(), " +
          s"transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> array_join(slice(toks, i, $n), ' ')))")).as("shingle"))
      .distinct()
  }

  /**
   * Exact n-gram Jaccard near-dup pairs: inverted index on the shingle,
   * candidate pairs from co-occurrence, |A∩B| from the pair count,
   * Jaccard = common / (|A| + |B| - common) >= threshold. The self-join
   * shuffles on the shingle — frequency skew is the scale risk, so shingles
   * shared by more than `maxShingleFreq` docs are dropped (stopword-shingle
   * purging, same rationale as ER block purging). The cap costs recall
   * (dropped postings no longer count toward |A∩B|), so the drop count is
   * observable: metrics node `jaccard_pairs_cap`
   * ([[graft.util.CapMetrics]]).
   */
  def jaccardPairs(sh0: DataFrame, threshold: Double,
                   maxShingleFreq: Int = 1000,
                   materialized: Boolean = false): DataFrame = {
    // read by the index (twice, self-join) + sizes; parquet snapshot, not
    // MemoryStore (lock contention at local[32]). `materialized = true`
    // is a CALLER PROMISE that sh0 is already file-backed (the per-dir
    // shingle memo): re-referencing a scan is cheap, re-writing it per
    // run is not. Passing true with a lazy or non-deterministic plan
    // would evaluate each self-join side independently — only ever pass
    // it for a Snapshot/parquet-backed input.
    val sh = if (materialized) sh0 else graft.util.Snapshot(sh0)
    val freqOk = graft.util.CapMetrics.dropHotKeys(sh, "shingle", maxShingleFreq, "jaccard_pairs_cap")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = freqOk.select(col("shingle"), col("doc_id").as("d1"))
    val b = freqOk.select(col("shingle"), col("doc_id").as("d2"))
    a.join(b, Seq("shingle")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), Seq("d2"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz1") + col("sz2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), graft.functions.FastRound.round(col("jaccard"), 9).as("jaccard"))
  }

  /**
   * Directed exact CONTAINMENT pairs: C(src→dst) = |src ∩ dst| / |src|
   * >= threshold — the asymmetric twin of [[jaccardPairs]]. Jaccard
   * misses sub-document duplication (a paragraph pasted into a much
   * larger page scores near zero), containment is exactly that detector:
   * a high C(src→dst) with small |src| means src lives inside dst, the
   * quote-farm / boilerplate-wrapper case a curation pipeline must
   * catch. Same inverted-index shape and observable frequency cap
   * (metrics node `containment_pairs_cap`); the symmetric co-occurrence
   * count is computed ONCE per unordered pair and emitted in both
   * directions, each scored against its own source size.
   */
  def containmentPairs(sh0: DataFrame, threshold: Double,
                       maxShingleFreq: Int = 1000,
                       materialized: Boolean = false): DataFrame = {
    val sh = if (materialized) sh0 else graft.util.Snapshot(sh0) // see jaccardPairs
    val freqOk = graft.util.CapMetrics.dropHotKeys(sh, "shingle", maxShingleFreq, "containment_pairs_cap")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = freqOk.select(col("shingle"), col("doc_id").as("d1"))
    val b = freqOk.select(col("shingle"), col("doc_id").as("d2"))
    val common = a.join(b, Seq("shingle")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
    val directed = common.select(col("d1").as("src"), col("d2").as("dst"), col("common"))
      .union(common.select(col("d2").as("src"), col("d1").as("dst"), col("common")))
    directed
      .join(sizes.select(col("doc_id").as("src"), col("sz")), Seq("src"))
      .withColumn("containment", col("common").cast("double") / col("sz").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("src"), col("dst"),
        graft.functions.FastRound.round(col("containment"), 9).as("containment"))
  }

  /**
   * Prefix-filtered exact Jaccard join (the SSJoin/PPJoin prefix
   * principle — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): two
   * shingle sets with Jaccard >= t must share a token within each set's
   * first L = |x| - ceil(t·|x|) + 1 tokens under ANY total order both
   * sides use, so candidate pairs are generated from prefix tokens only
   * and then verified exactly. LOSSLESS — the result equals the naive
   * all-pairs join (which is exactly what the DuckDB oracle computes),
   * unlike [[jaccardPairs]] whose frequency cap trades recall for skew
   * safety; the prefix filter is how the same skew is tamed with NO
   * recall loss: a stop-shingle shared by half the corpus almost never
   * appears in anyone's rare-first prefix.
   *
   * Order: ascending (df, shingle), rarest first — the order that
   * minimizes prefix posting lists. No global rank is materialized:
   * each document sorts ITS OWN tokens with the shared (df, shingle)
   * comparator (array_sort over structs), so the only corpus-global
   * statistic is the df aggregate, one map-side-combinable shuffle.
   * Verification is row-local: each candidate pair joins the two
   * pre-sorted shingle arrays and intersects them in place
   * (array_intersect) — no posting re-explosion. The ceil gets a 1e-9
   * guard so float rounding can only LENGTHEN a prefix (still lossless),
   * never shorten one (which could drop a true pair).
   */
  /** 62-bit shingle fingerprint: strHash(s)·2³¹ + strHash(reverse(s)) —
   * two independent polynomial folds, so a collision needs both to
   * collide at once (~2⁻⁶² per pair). The PPJoin verify intersects THESE
   * instead of the strings: 8-byte fixed-width elements make the
   * candidate⋈index join shuffle ~8× smaller and the per-pair intersect
   * integer-cheap, and the string-level naive-join oracle doubles as the
   * proof that the fingerprinting loses nothing on real corpora. */
  def shingleFp(s: Column): Column =
    strHash(s) * lit(2147483648L) + strHash(reverse(s))

  /** The PPJoin index for [[ppjoinPairs]]: per doc, its shingle
   * FINGERPRINTS ([[shingleFp]]) sorted rarest-first by the shared
   * (df, shingle) comparator, plus the set size and prefix length for
   * `threshold`. This is a STANDING structure — build (and
   * [[graft.util.Snapshot]]) it once per corpus, probe it per join; an
   * arriving batch only needs the df statistics to sort itself the same
   * way. */
  def ppjoinIndex(sh: DataFrame, threshold: Double): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("shingle"))
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(
          struct(col("df"), col("shingle"), shingleFp(col("shingle")).as("fp")))),
        x => x.getField("fp")).as("toks"))
      .withColumn("sz", size(col("toks")))
      .withColumn("plen",
        (col("sz") - ceil(col("sz") * threshold - 1e-9) + 1).cast("int"))
  }

  def ppjoinPairs(index: DataFrame, threshold: Double): DataFrame = {
    val docs = index
    val pre = docs.select(col("doc_id"), col("sz"),
      explode(slice(col("toks"), lit(1), col("plen"))).as("shingle"))
    // candidates: shared prefix token + the PPJoin LENGTH filter
    // (jaccard >= t forces t·max(|x|,|y|) <= min(|x|,|y|)) — both prune
    // only pairs the exact verification would reject, so the join stays
    // lossless
    val cand = pre.select(col("shingle"), col("doc_id").as("d1"), col("sz").as("psz1"))
      .join(pre.select(col("shingle"), col("doc_id").as("d2"), col("sz").as("psz2")),
        Seq("shingle"))
      .filter(col("d1") < col("d2"))
      .filter(least(col("psz1"), col("psz2")).cast("double") >=
        greatest(col("psz1"), col("psz2")) * threshold - 1e-9)
      .select("d1", "d2").distinct()
    cand
      .join(docs.select(col("doc_id").as("d1"), col("toks").as("t1"),
        col("sz").as("sz1")), Seq("d1"))
      .join(docs.select(col("doc_id").as("d2"), col("toks").as("t2"),
        col("sz").as("sz2")), Seq("d2"))
      .withColumn("common", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz1") + col("sz2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"),
        graft.functions.FastRound.round(col("jaccard"), 9).as("jaccard"))
  }

  /**
   * Benchmark decontamination: for every training document, the count
   * and fraction of a benchmark document's shingles it contains — the
   * train/test-overlap pass published LLM pipelines run before
   * training. Pairs sharing at least `minShared` shingles survive;
   * `containment` is shared / |bench shingles| (1.0 = the benchmark doc
   * is fully contained in the training doc).
   *
   * The join shuffles on the shingle, but the benchmark side is tiny by
   * nature (eval sets, not corpora), so at scale Catalyst broadcasts it
   * and the pass costs one corpus scan; output is bounded by
   * |bench shingle occurrences| x per-shingle train frequency, and the
   * HAVING-style minShared filter sits directly on the aggregate.
   */
  def containment(trainShingles: DataFrame, benchShingles: DataFrame,
                  minShared: Long): DataFrame = {
    val bench = benchShingles.select(col("doc_id").as("bench_id"), col("shingle"))
    val benchSizes = bench.groupBy("bench_id").agg(count(lit(1)).as("bench_n"))
    trainShingles.join(bench, Seq("shingle"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(benchSizes, Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"), col("n_shared"),
        (col("n_shared").cast("double") / col("bench_n")).as("containment"))
  }

  /**
   * Bloom-accelerated [[containment]]: same result, with a Bloom-filter
   * pre-filter on the corpus side before the shingle join — the runtime
   * row-level filtering pattern, expressed in Column arithmetic.
   *
   * The bench side's shingle hashes set `kProbes` positions each in an
   * `mBits`-bit filter, packed into a one-row map(word -> 64-bit word)
   * that Catalyst BROADCASTS (the engine's standard 1-row cross-join
   * pattern). Every corpus shingle tests its probes with element_at +
   * shiftright + AND — O(1) per probe, whole-stage codegen, no UDF —
   * and only surviving rows enter the exact containment join.
   *
   * Losslessness: a corpus shingle equal to a bench shingle has the same
   * hash, hence the same probe positions, hence passes the filter — so
   * the exact join sees every true match, and its equality predicate
   * removes the false positives. The oracle is therefore the NAIVE
   * containment SQL (the lossless-rewrite rule, same as RangeJoin).
   *
   * At 100 TB this is the difference between shuffling every corpus
   * shingle into the join and shuffling ~the true-match set: the filter
   * is a few KB broadcast once, and the corpus scan discards non-matches
   * at the scan stage. With |bench| shingles n and mBits/n >= 16 bits
   * per element the false-positive rate at k=3 stays ~1e-2.
   */
  def containmentBloom(trainShingles: DataFrame, benchShingles: DataFrame,
                       minShared: Long, mBits: Int = 1 << 16,
                       kProbes: Int = 3): DataFrame = {
    require(mBits % 64 == 0 && kProbes >= 1)
    val aConst = (0 until kProbes).map(j => (1103515245L * (j + 1) + 12345L) % Mod)
    val bConst = (0 until kProbes).map(j => (2654435761L * (j + 1)) % Mod)
    def posSql(j: Int, h: String) = s"(pmod(${aConst(j)}L * $h + ${bConst(j)}L, ${Mod}L) % $mBits)"
    val mask = benchShingles
      .select(strHash(col("shingle")).as("_h")).distinct()
      .select(explode(array((0 until kProbes).map(j => expr(posSql(j, "_h"))): _*)).as("pos"))
      .select(expr("cast(pos div 64 as int)").as("w"), expr("shiftleft(1L, cast(pos % 64 as int))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))
      .groupBy().agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("_bloom"))
    val hitSql = (0 until kProbes).map { j =>
      val p = posSql(j, "_h")
      s"((shiftright(coalesce(element_at(_bloom, cast($p div 64 as int)), 0L), cast($p % 64 as int)) & 1) = 1)"
    }.mkString(" AND ")
    val prefiltered = trainShingles
      .withColumn("_h", strHash(col("shingle")))
      .crossJoin(broadcast(mask))
      .filter(expr(hitSql))
      .drop("_h", "_bloom")
    containment(prefiltered, benchShingles, minShared)
  }

  /**
   * Dedup cluster assignment: connected components of a near-dup pair
   * graph ([[graft.util.ConnectedComponents.minLabel]]) — every doc gets
   * the smallest doc_id reachable in its component as `cluster_rep`;
   * docs in no pair are their own representative. The survivor set of a
   * dedup pass is `cluster_rep = doc_id`. Every pair endpoint must be a
   * doc of `docs`.
   *
   * Scale shape: a pair graph under the broadcast threshold is labeled by
   * union-find on the driver in a few jobs. A larger one runs hash-min
   * rounds of one O(|E|) equi-join + one hash-min aggregate; near-dup
   * components are quasi-cliques (tiny diameter), so it converges in a
   * few rounds, and `maxIter` caps them.
   */
  def clusters(docs: DataFrame, pairs: DataFrame, maxIter: Int = 50,
               idCol: String = "doc_id"): DataFrame =
    graft.util.ConnectedComponents.minLabel(
      docs.select(col(idCol).as("doc_id")).distinct(),
      pairs, idCol = "doc_id", srcCol = "d1", dstCol = "d2",
      labelCol = "cluster_rep", maxIter = maxIter)

  /**
   * Quality-aware survivor selection: within each near-dup cluster keep
   * the single BEST document (highest score, smallest doc_id on ties)
   * instead of [[clusters]]' min-id convention — the production
   * survivorship rule ("keep the most complete copy"), with the score
   * column left to the caller (token count, quality score, recency…).
   *
   * Scale shape: one equi-join (clusters × scores) and one top-1 window.
   * The literal rank-1 filter plans as WindowGroupLimit — each input
   * partition pre-reduces to its local best per cluster before the
   * shuffle, so the exchange carries O(clusters), not O(docs).
   * Returns (cluster_rep, survivor_id, score-named column).
   */
  def survivors(clustered: DataFrame, scored: DataFrame,
                scoreCol: String = "n_tokens"): DataFrame =
    clustered.join(scored, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster_rep")
          .orderBy(col(scoreCol).desc, col("doc_id").asc)))
      .filter(col("rn") === 1)
      .select(col("cluster_rep"), col("doc_id").as("survivor_id"), col(scoreCol))

  /**
   * Golden-record consolidation: for each near-dup cluster, elect one
   * canonical value per attribute — the MODE over the cluster's members,
   * ties broken by the smallest value (a deterministic total order, where
   * classic MDM survivorship leaves ties to arrival order). The standard
   * "merge" step after ER/dedup: [[clusters]] decides WHICH records are
   * the same entity; this decides what the merged entity looks like.
   *
   * Scale shape: ONE equi-join (clusters x attributes) and ONE hash
   * aggregate — every attribute's mode is a `mode(attr, deterministic =
   * true)` aggregate column (most frequent value, LOWEST value on
   * frequency ties: exactly this operator's tie rule, evaluated as a
   * per-group value-count map with map-side partial merge), so the member
   * rows cross the wire once regardless of attribute count. The previous
   * shape — per-attribute count aggregate + top-1 window + join — paid k
   * aggregates, k windows, and k joins at k attributes; MDM-typical widths
   * (20+ attrs) made that 20+ shuffles where this is one.
   *
   * NULL semantics: `mode` ignores NULL members (a NULL can no longer be
   * elected golden; all-NULL clusters get NULL) — the standard aggregate
   * contract, and strictly more useful than the windowed form's
   * nulls-first accident. Returns (cluster_rep, n_members,
   * <attr>_golden...).
   */
  def goldenRecord(clustered: DataFrame, records: DataFrame,
                   attrCols: Seq[String],
                   idCol: String = "doc_id"): DataFrame = {
    require(attrCols.nonEmpty)
    val joined = clustered.select(col(idCol).as(idCol), col("cluster_rep"))
      .join(records.select(col(idCol).as(idCol) +: attrCols.map(col): _*), Seq(idCol))
    joined.groupBy("cluster_rep").agg(
      count(lit(1)).as("n_members"),
      attrCols.map(c => mode(col(c), deterministic = true).as(s"${c}_golden")): _*)
  }

  /** Deterministic MinHash permutation constants, reproducible in SQL:
   * a_i = (1103515245*(i+1) + 12345) % Mod, b_i = (2654435761*(i+1)) % Mod. */
  def hashA(i: Column): Column = pmod(lit(1103515245L) * (i + 1) + 12345L, lit(Mod))
  def hashB(i: Column): Column = pmod(lit(2654435761L) * (i + 1), lit(Mod))

  /**
   * MinHash signatures: k hash functions h_i(x) = (a_i*x + b_i) % Mod over
   * the shingle hashes; signature position i is the min. Returns
   * (doc_id, i, sig). Uses explode(sequence) + groupBy — partial (map-side)
   * min aggregation keeps the shuffle at k rows per doc.
   */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame =
    sh.select(col("doc_id"), strHash(col("shingle")).as("x"))
      .select(col("doc_id"), col("x"), explode(sequence(lit(0), lit(k - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        pmod(hashA(col("i")) * col("x") + hashB(col("i")), lit(Mod)).as("hx"))
      .groupBy("doc_id", "i").agg(min(col("hx")).as("sig"))

  /**
   * LSH banding: group signature positions into `bands` bands of k/bands
   * rows; docs sharing any full band form candidate pairs. Candidate
   * generation is a groupBy on the band key — an equi-join-shaped shuffle,
   * no quadratic scan. Emits distinct (d1, d2) with the estimated Jaccard
   * (fraction of equal signature positions).
   */
  def minhashLsh(sh: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0)
    val sig = graft.util.Snapshot(minhashSignatures(sh, k))
    val bandKeys = sig
      .withColumn("band", (col("i") / lit(k / bands)).cast("int"))
      .groupBy("doc_id", "band")
      .agg(concat_ws(",", array_sort(collect_list(
        concat(col("i"), lit(":"), col("sig"))))).as("band_key"))
    val a = bandKeys.select(col("band"), col("band_key"), col("doc_id").as("d1"))
    val b = bandKeys.select(col("band"), col("band_key"), col("doc_id").as("d2"))
    val cand = a.join(b, Seq("band", "band_key")).filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val s1 = sig.select(col("doc_id").as("d1"), col("i"), col("sig").as("sig1"))
    val s2 = sig.select(col("doc_id").as("d2"), col("i"), col("sig").as("sig2"))
    cand.join(s1, Seq("d1")).join(s2, Seq("d2", "i"))
      .groupBy("d1", "d2")
      .agg((sum(when(col("sig1") === col("sig2"), 1).otherwise(0)).cast("double") / k)
        .as("est_jaccard"))
      .select(col("d1"), col("d2"), graft.functions.FastRound.round(col("est_jaccard"), 9).as("est_jaccard"))
  }

  /**
   * ROW-WISE MinHash band keys: the same (doc_id, band, band_val)
   * assignment [[minhashLsh]] derives from the exploded shingle index,
   * computed entirely inside one row — tokens, distinct n-gram shingles,
   * k permutation minima, and the per-band signature string are array
   * expressions over the text column, so the operator is a pure
   * projection: no explode, no shuffle, no state.
   *
   * That shape is what makes LSH *streamable*: a document's band keys
   * depend on nothing but the document, so a Structured Stream can
   * compute them statelessly and equi-join the standing corpus index
   * ([[graft.streaming.EventStreams.lshIngestStreaming]]). It is also
   * the right batch shape at 100 TB when only the keys are needed — the
   * per-doc cost is identical to the exploded form, but nothing ever
   * leaves the row until the band explode (`bands` rows per doc, vs one
   * row per shingle x k/bands).
   *
   * Band values are the comma-joined signature minima in position order,
   * identical in content to [[minhashLsh]]'s sorted "i:sig" band key
   * (positions within a band are consecutive, so position order = sorted
   * order). Docs with no shingle (< n tokens) have no key — same as the
   * exploded form, where they produce no index row.
   */
  def minhashBandKeys(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1 && k % bands == 0)
    val r = k / bands
    val aConst = (0 until k).map(i => (1103515245L * (i + 1) + 12345L) % Mod)
    val bConst = (0 until k).map(i => (2654435761L * (i + 1)) % Mod)
    val base = docs
      .select(col(idCol).as("doc_id"),
        filter(split(normalize(col(textCol)), " "), t => length(t) > 0).as("_toks"))
      .withColumn("_shs", expr(
        s"if(size(_toks) < $n, array(), " +
          s"array_distinct(transform(sequence(1, size(_toks) - ${n - 1}), " +
          s"i -> array_join(slice(_toks, i, $n), ' '))))"))
      .filter(size(col("_shs")) > 0)
      .withColumn("_xs", transform(col("_shs"), s => strHash(s)))
    val sigCols = (0 until k).map { i =>
      array_min(transform(col("_xs"),
        x => pmod(lit(aConst(i)) * x + lit(bConst(i)), lit(Mod)))).cast("string")
    }
    val bandVals = (0 until bands).map(b => concat_ws(",", sigCols.slice(b * r, b * r + r): _*))
    base.select(col("doc_id"), posexplode(array(bandVals: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
  }

  /**
   * 64-bit SimHash fingerprints: per distinct token, hash; per bit k,
   * +1/-1 vote by bit value; fingerprint bit = majority (> 0). Returns
   * (doc_id, simhash).
   *
   * The 31-bit token hash only carries 31 independent bits, so the 64
   * fingerprint bits are drawn from four affine lane hashes
   * h_j = (hashA(j)*h + hashB(j)) % Mod (the MinHash permutation family):
   * fingerprint bit k comes from bit (k%16) of lane k/16. Each 16-bit
   * band of the fingerprint therefore has a full 65,536-value range —
   * this is what keeps [[simhashPairs]]' band buckets O(N/65536) instead
   * of O(N/256) as corpus size grows (the 32-bit/8-bit-band version was
   * the one O(N^2)-ish self-join left at 100x scale).
   *
   * The 64 votes are 64 bit-count aggregate COLUMNS in a single groupBy —
   * no 64-way row explode (r1 shipped token-rows x32 through the shuffle:
   * 59s at sf0.1 for this query alone). The +1/-1 vote sum for bit k
   * equals 2*count(bit set) - n(tokens), so per doc the shuffle carries
   * one row of 65 longs, all inside whole-stage codegen. Bit 63 makes the
   * fingerprint negative in two's-complement; band extraction masks after
   * the arithmetic shift, so signedness never leaks.
   */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(filter(split(normalize(col(textCol)), " "), t => length(t) > 0)).as("tok"))
      .distinct()
      .select(col("doc_id"), strHash(col("tok")).as("h"))
    val lanes = toks.select(
      col("doc_id") +: (0 until 4).map(j =>
        pmod(hashA(lit(j)) * col("h") + hashB(lit(j)), lit(Mod)).as(s"_l$j")): _*)
    val bitCounts = (0 until 64).map(k =>
      sum(expr(s"shiftright(_l${k / 16}, ${k % 16}) & 1")).as(s"_c$k"))
    val fingerprint = (0 until 64).map { k =>
      // vote sum = 2*c_k - n; bit set on strict majority (> 0)
      when(lit(2) * col(s"_c$k") - col("_n") > 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
    lanes.groupBy("doc_id")
      .agg(count(lit(1)).as("_n"), bitCounts: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** The four 16-bit bands of the 64-bit fingerprint column `hash`: one
   * row per (input row, band), with `band` (0-3) and `band_val` appended.
   * The band keys of [[simhashPairs]] and of the streaming banded ingest
   * gates ([[graft.streaming.EventStreams.dhashIngestStreaming]]). */
  def simhashBands(fp: DataFrame, hash: String): DataFrame =
    fp.select(col("*"), explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_val",
        expr(s"shiftright($hash, cast(band * 16 as int)) & 65535"))

  /**
   * SimHash near-dup pairs with Hamming distance <= maxDist: candidates
   * share at least one of four 16-bit bands (pigeonhole guarantees recall
   * for maxDist <= 3), verified with bit_count(xor). 65,536 values per
   * band keep bucket population ~N/65536 — the band self-join stays
   * equi-join-shaped at 100x corpus scale.
   */
  def simhashPairs(fp0: DataFrame, maxDist: Int = 3,
                   materialized: Boolean = false): DataFrame = {
    // both sides of the band self-join read it; `materialized = true` when
    // fp0 is already parquet-backed (the per-dir fingerprint memos)
    val fp = if (materialized) fp0 else graft.util.Snapshot(fp0)
    val banded = simhashBands(fp.select("doc_id", "simhash"), "simhash")
    val a = banded.select(col("band"), col("band_val"),
      col("doc_id").as("d1"), col("simhash").as("f1"))
    val b = banded.select(col("band"), col("band_val"),
      col("doc_id").as("d2"), col("simhash").as("f2"))
    a.join(b, Seq("band", "band_val")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("f1").bitwiseXOR(col("f2"))).as("hamming"))
      // verify (cheap xor/bit_count) BEFORE the distinct: far fewer rows
      // through the dedup shuffle when band buckets are skewed
      .filter(col("hamming") <= maxDist)
      .distinct()
  }
}
