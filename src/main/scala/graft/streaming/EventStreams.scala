package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}
import graft.multimodal.Multimodal
import graft.util.Memo

/**
 * Structured Streaming surface over the engine's tables. The reference has
 * no streaming operators (SURVEY.md §2.11); this is the engine's forward
 * surface for incremental pipelines: the same windowed aggregations a
 * batch query computes, expressed as a stream with watermarks so state is
 * bounded and late data is handled, runnable with Trigger.AvailableNow for
 * deterministic batch-equivalent results (which is also how the DuckDB
 * oracle checks them).
 *
 * Every `*Streaming` drain opens its source through [[streamSource]], so
 * the source contract is stated here once:
 *  - the stream runs in one cached clone of the caller's session per
 *    SparkContext, with [[StreamPartitions]] shuffle/state partitions;
 *  - the declared schema is the table's parquet schema, read once per path;
 *  - the file-stream source reads a temp dir that symlinks the table;
 *  - `spark.graft.stream.maxFilesPerTrigger`, when set on the caller's
 *    session, bounds the files per micro-batch, so an AvailableNow drain
 *    of a pre-split table runs several batches (MultiBatchStreamSpec);
 *  - a `ts` stored as TIMESTAMP(NANOS) is rebuilt as a microsecond
 *    timestamp by [[microTs]], the conversion [[loadEvents]] also uses.
 * With every file in one micro-batch, a drain's result equals its batch
 * twin, which is the DuckDB oracle.
 *
 * `oneBatch` drains ignore the files-per-trigger bound and read the whole
 * table in one micro-batch, because their batch equality needs it:
 *  - [[dedupWithinWatermarkStreaming]]: expiry uses the previous batch's
 *    watermark, so only one batch drops every in-table duplicate;
 *  - [[funnelJoinStreaming]] (stream-stream join) and
 *    [[sessionWindowStreaming]] (session windows): rows of a later batch
 *    behind the watermark would be dropped as late data;
 *  - [[sessionizeStreaming]]: its 1-second watermark and end-of-data
 *    sentinel are only sound when the table and the sentinel arrive
 *    together;
 *  - the ingest gates [[tokenBlockingStreaming]],
 *    [[incrementalBlockingStreaming]] and [[pqEncodeStreaming]], whose
 *    oracle checks are stated for one batch.
 * Every other drain is stateless or merges its state across batches.
 */
object EventStreams {

  /** Load the events table, `ts` rebuilt by [[microTs]]. */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    microTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** The driver writes TIMESTAMP(NANOS) parquet, which Spark only reads via
   * the nanosAsLong legacy conf — so a `ts` read as long nanos is rebuilt
   * as a microsecond timestamp with INTEGER division (`div`; `/` would go
   * through double and lose precision above 2^53 ns). Source ns values
   * are whole microseconds, so this is exact. */
  private def microTs(df: DataFrame): DataFrame =
    if (nanosTs(df.schema)) df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df

  /** Whether the table stores `ts` as long nanos (read under nanosAsLong). */
  private def nanosTs(schema: StructType): Boolean =
    schema.exists(f => f.name == "ts" && f.dataType == LongType)

  /** Shuffle/state partitions of every streaming query: stateful streaming
   * cost scales with the partition count — one state store, commit, and
   * task per partition per micro-batch — and the batch engine's
   * wide-cluster default (32 here) is pure fixed overhead for the drain
   * harness. */
  private val StreamPartitions = 8

  private val streamSessions = new Memo[org.apache.spark.SparkContext, SparkSession]

  /** ONE cached clone per SparkContext: building a fresh SessionState —
   * analyzer, catalog, extensions — per drain is pure overhead. The clone
   * is never changed after construction (the files-per-trigger bound is a
   * reader option taken from the caller's session per drain), so
   * concurrent drains can share it; sink names are unique and streaming
   * queries are independent. */
  private def streamSession(spark: SparkSession): SparkSession =
    streamSessions(spark.sparkContext) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", StreamPartitions.toString)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s
    }

  /** Parquet schema per table path, cached after the first read: every
   * drain needs the batch schema to declare its readStream source, and
   * re-inferring it per run re-lists the directory and re-reads a footer
   * on the driver. Pure metadata — the driver's tables are immutable for
   * a session, and nothing about query RESULTS is cached here. */
  private val schemas = new Memo[String, StructType]
  private def tableSchema(spark: SparkSession, path: String) =
    schemas(path)(spark.read.parquet(path).schema)

  /** Standing corpus indexes and trained models of the streaming gates,
   * keyed by (artifact name, dir, parameters). Each is a property of the
   * standing tables, built once and re-read by every cloned streaming
   * session (see [[graft.util.Memo]]). */
  private val indexes = new Memo[Product, Memo.Frame]

  /** Temp dir holding a symlink to `<dir>/<table>.parquet` — the
   * file-stream source only accepts directories. Recursively deleted on
   * JVM exit (deleteOnExit would silently no-op: the dir is never empty). */
  private def streamDirFor(dir: String, table: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val file = s"$table.parquet"
    val d = Files.createTempDirectory(s"${table}_stream_")
    val src = Paths.get(s"$dir/$file")
    if (Files.isDirectory(src)) {
      // a pre-split table (the multi-batch spec): the file-stream source
      // doesn't descend into a symlinked subdirectory, so link each data
      // file flat — their own mtimes drive the source's batch order
      Files.list(src).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => Files.createSymbolicLink(d.resolve(p.getFileName.toString), p))
    } else Files.createSymbolicLink(d.resolve(file), src)
    graft.util.Cleanup.onExitDelete(d.toString)
    d.toString
  }

  /** The streaming source of `<dir>/<table>.parquet` under the contract of
   * the object scaladoc; `oneBatch` as listed there. `seed` rows (with a
   * timestamp `ts`) are written into the stream dir first, in the table's
   * stored `ts` form. */
  private def streamSource(spark0: SparkSession, dir: String,
                           table: String = "events", oneBatch: Boolean = false,
                           seed: Option[DataFrame] = None): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/$table.parquet")
    val src = streamDirFor(dir, table)
    seed.map(s => if (nanosTs(schema)) s.withColumn("ts", unix_micros(col("ts")) * 1000L) else s)
      .foreach(_.write.mode("append").parquet(src))
    val r = spark.readStream.schema(schema)
    val maxFiles =
      if (oneBatch) None else spark0.conf.getOption("spark.graft.stream.maxFilesPerTrigger")
    microTs(maxFiles.fold(r)(v => r.option("maxFilesPerTrigger", v)).parquet(src))
  }

  /** Largest drained result, in rows, that [[drainAvailableNow]] returns as
   * a LocalRelation. */
  private val LocalResultMaxRows = 10000

  /** Drain a streaming frame with AvailableNow through a uniquely-named
   * memory sink and return the result as a LOCAL relation: the memory
   * sink already holds every emitted row on the driver, so the rows are
   * lifted into a LocalRelation DataFrame directly — the former parquet
   * Snapshot of that same driver-resident data paid a write job + listing
   * + re-read per drain (measured 0.2-0.75s of a ~1s drain) for bytes
   * that were already in RAM. The sink's temp view is dropped before
   * returning, so repeated invocations don't accumulate NAMED result
   * copies; the returned relation is GC-able once the caller drops it.
   * (The memory sink itself is the harness's determinism device — a
   * production deployment drains to a real sink; driver residency of the
   * RESULT is inherent to that harness either way.)
   *
   * SIZE-AWARE: LocalRelation consumers pay a single-threaded
   * external-Row → InternalRow conversion per downstream action, which
   * for LARGE results loses to the parallel parquet round-trip it
   * replaced (measured: er_incremental_stream, 174k rows, 0.70x as a
   * LocalRelation). Results above [[LocalResultMaxRows]] rows keep the
   * parquet Snapshot path. */
  private def drainAvailableNow(df: DataFrame, name0: String, mode: String): DataFrame = {
    val spark = df.sparkSession
    val name = s"${name0}_${System.nanoTime()}"
    // Explicit checkpoint dir under spark.local.dir (tmpfs in the bench):
    // the default temp checkpoint lands in java.io.tmpdir on DISK, and the
    // state-store + WAL fsyncs there dominated the drain cost (the stateful
    // dedup paid ~14s for a 750-row result in r3).
    val ck = s"${graft.util.Cleanup.localDir(spark)}/graft-ck-$name"
    graft.util.Cleanup.onExitDelete(ck)
    val profile = spark.conf.getOption("spark.graft.stream.profile")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_PROFILE")).contains("true")
    val t0 = System.nanoTime()
    val q = df.writeStream
      .format("memory").queryName(name)
      .option("checkpointLocation", ck)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    val tStart = System.nanoTime()
    q.awaitTermination()
    val tTerm = System.nanoTime()
    // `spark.graft.stream.profile=true` (or SPARK_GRAFT_STREAM_PROFILE=true):
    // dump the engine's own per-batch duration breakdown (planning, WAL
    // commits, addBatch, state commit) plus the drain's phase walls to
    // stderr — the §1 measurement hook for attributing drain overhead
    // without touching what any query computes.
    if (profile)
      q.recentProgress.foreach(p => System.err.println(
        s"[stream-profile] $name0 batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs} state=${p.stateOperators.mkString(";")}"))
    try {
      val sink = spark.table(name)
      val rows = sink.collect()
      val result =
        if (rows.length <= LocalResultMaxRows)
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), sink.schema)
        else graft.util.Snapshot(sink)
      if (profile) System.err.println(
        f"[stream-profile] $name0 phases startMs=${(tStart - t0) / 1e6}%.0f " +
          f"drainMs=${(tTerm - tStart) / 1e6}%.0f " +
          f"snapMs=${(System.nanoTime() - tTerm) / 1e6}%.0f rows=${rows.length}")
      result
    } finally { spark.catalog.dropTempView(name); () }
  }

  /** Tumbling-window aggregate per event_type: count + value sum per
   * 1-hour window. Batch form (used by the oracle-checked query). */
  def windowedAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), (sum(graft.functions.FastRound.round(col("value") * 100, 0).cast("long")) / 100.0).as("value_sum"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("value_sum"))

  /** [[windowedAggBatch]] over the stream with a 2-hour watermark — the
   * readStream -> watermark -> window -> writeStream path, drained in
   * complete mode. */
  def windowedAggStreaming(spark: SparkSession, dir: String): DataFrame =
    drainAvailableNow(
      windowedAggBatch(streamSource(spark, dir).withWatermark("ts", "2 hours")),
      "events_windowed", "complete")

  /**
   * Streaming exact dedup: the distinct (user_id, event_type) pairs of the
   * event stream via Structured Streaming's stateful `dropDuplicates`.
   * Key-only projection keeps the state row minimal; for an unbounded
   * production stream the variant is `dropDuplicatesWithinWatermark`
   * (state bounded by the watermark) — the exact-distinct form here is
   * what the batch oracle can reproduce.
   */
  def distinctPairsStreaming(spark: SparkSession, dir: String): DataFrame =
    drainAvailableNow(
      streamSource(spark, dir).select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type"),
      "events_dedup", "append")

  /**
   * PRODUCTION-shaped streaming dedup: `dropDuplicatesWithinWatermark` —
   * state rows expire once the event-time watermark passes their event
   * time + delay, so state is bounded by the watermark window instead of
   * growing with the whole key history (the [[distinctPairsStreaming]]
   * exact-distinct form keeps every key forever — fine for a drain
   * harness, unbounded on a real stream).
   *
   * Determinism/oracle: in one batch, expiry uses the PREVIOUS batch's
   * watermark (initially -inf), so no state expires mid-batch and every
   * in-batch duplicate is dropped regardless of time gaps — the emitted
   * key set equals batch DISTINCT, which is the DuckDB twin. Keys here are
   * derived (event_type, event day): watermark-compatible dedup on a
   * projected dimension, not just raw columns.
   */
  def dedupWithinWatermarkStreaming(spark: SparkSession, dir: String): DataFrame = {
    val dedup = streamSource(spark, dir, oneBatch = true)
      .withWatermark("ts", "1 hour")
      .withColumn("event_day", to_date(col("ts")))
      .dropDuplicatesWithinWatermark("event_type", "event_day")
      .select("event_type", "event_day")
    drainAvailableNow(dedup, "events_dedup_wm", "append")
  }

  /**
   * Streaming ER ingest — token blocking as a Structured Stream. Profiles
   * arrive as parquet files; the blocking-key projection
   * (filter/explode/lower/concat inside [[graft.er.Blocking.tokenKeys]])
   * is fully stateless, and the trailing key-pair dedup is streaming
   * `dropDuplicates` state: as new profiles stream in, each (profile_id,
   * key) emits exactly once — the incremental form of the reference's
   * batch blocking step, which has no streaming story at all. `attrsOf`
   * maps the raw file rows to the (profile_id, source_id, attribute,
   * value) layout, so any profile source reuses this drain. Exact-distinct
   * state grows with the key universe (drain-harness posture, same as
   * [[distinctPairsStreaming]]); an unbounded deployment would bound it
   * with `dropDuplicatesWithinWatermark` on an arrival-time column.
   * The emitted pairs equal batch token blocking, so the batch SQL is the
   * oracle.
   */
  def tokenBlockingStreaming(spark: SparkSession, dir: String,
                             attrsOf: DataFrame => DataFrame): DataFrame = {
    val parts = streamSource(spark, dir, "part", oneBatch = true)
    val keys = graft.er.Blocking.tokenKeys(attrsOf(parts))
      .select("profile_id", "key")
    drainAvailableNow(keys, "er_tokens_stream", "append")
  }

  /** The pre-capped standing key index (key, corpus_id) for `dir`, the
   * static side of the streaming incremental-ER gate, built once per dir:
   * the corpus's token keys with oversized blocks purged AT INDEX TIME
   * (keys spanning more than `maxBlockSize` corpus profiles are excluded —
   * the purge count is observable via the `incremental_stream_cap`
   * metrics node on the index build). */
  def incrementalCorpusIndex(spark: SparkSession, dir: String,
                             attrsOf: DataFrame => DataFrame,
                             maxBlockSize: Long = 1000L): DataFrame =
    indexes.frame(spark, ("incremental_corpus", dir)) {
      // snapshot: the count aggregate and the join probe are two
      // independent subtrees — unmaterialized, each would re-run the
      // scan + tokenization (the Dedup.jaccardPairs discipline)
      val keys = graft.util.Snapshot(graft.er.Blocking.tokenKeys(
        attrsOf(spark.read.parquet(s"$dir/part.parquet")
          .filter(col("p_partkey") % 10 =!= 0))))
      // per-key size via aggregation + join-back, not a window (map-side
      // partials + AQE-skew-splittable join; see Dedup.jaccardPairs)
      val base = keys.select("key", "profile_id")
      val blockSizes = base.groupBy("key").agg(count(lit(1)).as("_n"))
      graft.util.CapMetrics.observeDrops(
          base.join(blockSizes, Seq("key")),
          "incremental_stream_cap", col("_n") > maxBlockSize)
        .filter(col("_n") <= maxBlockSize)
        .select(col("key"), col("profile_id").as("corpus_id"))
    }

  /**
   * Streaming INCREMENTAL ER — the [[graft.er.Blocking.incrementalPairs]]
   * contract as a Structured Stream: new profiles (profile_id % 10 == 0,
   * the batch convention) arrive as parquet files, their blocking keys
   * are a stateless row-local projection, and a stream-STATIC equi-join
   * probes the standing corpus key index for candidate pairs — the same
   * gate shape as [[lshIngestStreaming]], applied to entity resolution.
   *
   * Contract differences from the batch operator, both deliberate and
   * both production-realistic for a streaming gate:
   *  - the skew cap is enforced on the CORPUS side at index-build time
   *    (a maintained index bounds its own postings; the batch operator
   *    caps on the combined old+new block, which a per-micro-batch join
   *    cannot know without stateful re-aggregation);
   *  - only new-vs-corpus pairs emit (n_new = 1); new-new pairs inside a
   *    batch belong to the periodic batch compaction pass, exactly like
   *    [[lshIngestStreaming]]'s new-new convention.
   *
   * The emitted pairs equal the batch new-vs-capped-corpus join, which is
   * the DuckDB oracle.
   */
  def incrementalBlockingStreaming(spark0: SparkSession, dir: String,
                                   attrsOf: DataFrame => DataFrame,
                                   maxBlockSize: Long = 1000L): DataFrame = {
    val newParts = streamSource(spark0, dir, "part", oneBatch = true)
      .filter(col("p_partkey") % 10 === 0)
    val corpusIdx =
      incrementalCorpusIndex(newParts.sparkSession, dir, attrsOf, maxBlockSize)
    val pairs = graft.er.Blocking.tokenKeys(attrsOf(newParts))
      .select(col("key"), col("profile_id").as("new_id"))
      .join(corpusIdx, Seq("key"))
      .select(least(col("new_id"), col("corpus_id")).as("p1"),
        greatest(col("new_id"), col("corpus_id")).as("p2"),
        lit(1).cast("int").as("n_new"))
      .dropDuplicates("p1", "p2")
    drainAvailableNow(pairs, "er_incremental_stream", "append")
  }

  /** The standing corpus LSH band index (band, band_val, corpus_id) for
   * `dir`, built ONCE per source dir — the production posture: the index
   * over the standing 90% is a maintained artifact the ingest gate
   * probes, not something recomputed from text on every micro-batch (r5's
   * bench measured index rebuild, not ingest). [[graft.queries.Warmup]]
   * calls this so the first benched ingest doesn't pay index
   * construction. */
  def lshCorpusIndex(spark: SparkSession, dir: String): DataFrame =
    indexes.frame(spark, ("lsh_corpus", dir))(
      graft.dedup.Dedup.minhashBandKeys(
          spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") % 10 =!= 0))
        .select(col("band"), col("band_val"), col("doc_id").as("corpus_id")))

  /**
   * Streaming near-dup ingest — MinHash-LSH as a Structured Stream: new
   * documents (doc_id % 10 == 0, the same batch convention as
   * er_incremental) arrive as parquet files and are checked against the
   * STANDING corpus (the other 90%) for near-duplicate candidates before
   * admission — the production "dedup the incoming crawl against the
   * existing corpus" gate.
   *
   * Shape: [[graft.dedup.Dedup.minhashBandKeys]] computes each new doc's
   * band keys as a stateless row-local projection (no shuffle on the
   * stream side), then a stream-STATIC equi-join probes the corpus band
   * index, and the trailing `dropDuplicates` collapses multi-band hits.
   * At scale the static side is the persisted index of the corpus —
   * loaded per micro-batch, never recomputed from text — and stream
   * state is only the emitted pair set (bound it with
   * `dropDuplicatesWithinWatermark` on arrival time when the stream is
   * unbounded). New-new duplicates inside one batch are left to the
   * periodic batch compaction pass ([[graft.dedup.Dedup.minhashLsh]]);
   * this gate's contract is new-vs-corpus, and its pairs equal the batch
   * band-key join, which is the DuckDB oracle.
   */
  def lshIngestStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val newDocs = streamSource(spark0, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val pairs = graft.dedup.Dedup.minhashBandKeys(newDocs)
      .withColumnRenamed("doc_id", "new_id")
      .join(lshCorpusIndex(newDocs.sparkSession, dir), Seq("band", "band_val"))
      .select("new_id", "corpus_id")
      .dropDuplicates("new_id", "corpus_id")
    drainAvailableNow(pairs, "dedup_lsh_stream", "append")
  }

  /**
   * Streaming PQ encode — new embedding vectors (vec_id % 10 == 0, the
   * batch convention) arrive as parquet files and are encoded against
   * the STANDING trained codebooks on arrival: the production "compress
   * the incoming vectors into the ANN index" ingest. The collected
   * model rides in the task binaries
   * ([[graft.similarity.ProductQuantization.encodeWith]]), so the
   * stream side is a pure stateless projection — no stream-static join,
   * no state store, nothing to watermark. The emitted codes equal the
   * batch encode of the same subset, which is the DuckDB oracle (the full
   * code-table twin filtered to the arriving ids).
   */
  def pqEncodeStreaming(spark: SparkSession, dir: String,
                        model: graft.similarity.ProductQuantization.Model,
                        m: Int, subDim: Int): DataFrame = {
    val vecs = streamSource(spark, dir, "embeddings", oneBatch = true)
      .filter(col("vec_id") % 10 === 0)
    val codes = graft.similarity.ProductQuantization
      .encodeWith(vecs, model, m, subDim)
    drainAvailableNow(codes, "ann_pq_stream", "append")
  }

  /** Standing benchmark gram index (distinct 10-token window texts of the
   * doc_id % 50 == 0 held-out docs), materialized once per dir — the
   * static side of the streaming span-decontamination gate. */
  def deconGramIndex(spark: SparkSession, dir: String, L: Int = 10): DataFrame =
    indexes.frame(spark, ("decon_grams", dir, L))(
      graft.text.Curation.slidingGrams(
          graft.text.Curation.tokenArr(
            spark.read.parquet(s"$dir/documents.parquet")
              .filter(col("doc_id") % 50 === 0), "text", "doc_id"), L)
        .select("gram").distinct())

  /**
   * Streaming span-decontamination ingest: corpus documents arrive as
   * parquet files; each doc's sliding 10-grams (a stateless row-local
   * explode) probe the STANDING benchmark gram index via a broadcast
   * semi-join, and the marked (doc_id, pos) stream drains append-mode —
   * no state store, no watermark, nothing buffered. The bounded per-doc
   * island merge then runs over the drained sink: the split a production
   * ingest uses (tag contaminated windows at wire speed; merge maximal
   * spans in the compaction pass). The merged spans equal the batch
   * [[graft.text.Curation.contaminatedSpans]], which is the DuckDB twin.
   */
  def deconSpansStreaming(spark0: SparkSession, dir: String,
                          L: Int = 10): DataFrame = {
    val corpus = streamSource(spark0, dir, "documents")
      .filter(col("doc_id") % 50 =!= 0)
    val benchIdx = deconGramIndex(corpus.sparkSession, dir, L)
    val marked = graft.text.Curation.slidingGrams(
        graft.text.Curation.tokenArr(corpus, "text", "doc_id"), L)
      .join(broadcast(benchIdx), Seq("gram"), "left_semi")
      .select("doc_id", "pos")
    graft.text.Curation.mergeIslands(
      drainAvailableNow(marked, "txt_decon_spans_stream", "append"), L)
  }

  /** Standing repeated-window index for the streaming ExactSubstr gate:
   * the DISTINCT L-char window strings occurring >= 2 times anywhere in
   * the standing corpus, stored WITH their 64-bit digests and
   * materialized once per dir (the deconGramIndex pattern). The digests
   * drive the scan-speed probe; the strings make the gate EXACT (a digest
   * collision nominates, never marks). Index volume is bounded by the corpus' repeated content —
   * the few-% duplicated tail, never the corpus itself — and the build
   * is the batch operator's own hash-first shape: the full occurrence
   * stream carries (doc_id, pos, h) only. */
  def substrRepeatedIndex(spark: SparkSession, dir: String, L: Int = 30): DataFrame =
    indexes.frame(spark, ("substr_repeated", dir, L)) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val occ = graft.text.Curation.substrOcc(docs, L, "text", "doc_id")._2
      val dupH = occ.groupBy("h").agg(count(lit(1)).as("_hc"))
        .filter(col("_hc") >= 2).select("h")
      val cand = occ.join(dupH, Seq("h"))
        .join(docs.select(col("doc_id"), col("text").as("_t")), Seq("doc_id"))
        .select(col("h"),
          col("_t").substr((col("pos") + 1).cast("int"), lit(L)).as("s"))
      cand.groupBy("h", "s").agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= 2).select("h", "s")
    }

  /**
   * Streaming ExactSubstr gate — the char-level twin of
   * [[deconSpansStreaming]]: arriving documents' sliding L-char window
   * digests (a stateless row-local explode, no window strings built)
   * probe the STANDING repeated-window index via a broadcast semi-join
   * on the 8-byte digest; the rare hits re-slice their true window
   * row-locally from the arriving document's own text and verify against
   * the index's strings — exact, stateless, no state store, no
   * watermark. The bounded per-doc island merge runs over the drained
   * sink (tag at wire speed, merge in the compaction pass). The arriving
   * side is the 10% batch (doc_id % 10 == 0, the [[lshIngestStreaming]]
   * convention — production gates ARRIVING documents against the
   * standing corpus, it does not re-stream the corpus through its own
   * gate); each marked window is an occurrence in an arriving doc of a
   * window repeated anywhere in the corpus — the keep-nothing variant
   * of [[graft.text.Curation.substrDupSpans]] (a stateless gate cannot
   * elect a corpus-global first copy; it keeps the standing copy and
   * gates the arrival), which is what the DuckDB twin recomputes.
   *
   * Returns (doc_id, span_start, span_end, span_chars, n_windows).
   */
  def substrGateStreaming(spark0: SparkSession, dir: String,
                          L: Int = 30): DataFrame = {
    val stream = streamSource(spark0, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val idx = substrRepeatedIndex(stream.sparkSession, dir, L)
    // the same codegen'd O(n) rolling hash the standing index was built
    // with (graft.functions.WindowHashes64) — digests must agree across
    // the index and the probe, and the stream pays this explode per drain
    val hashes = stream.filter(length(col("text")) >= L)
      .select(col("doc_id"), col("text"),
        posexplode(graft.functions.WindowHashes64(col("text"), L)))
      .toDF("doc_id", "text", "pos", "h")
    val marked = hashes
      .join(broadcast(idx.select("h")), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("text").substr((col("pos") + 1).cast("int"), lit(L)).as("s"))
      .join(broadcast(idx.select("s")), Seq("s"), "left_semi")
      .select("doc_id", "pos")
    graft.text.Curation.mergeIslands(
        drainAvailableNow(marked, "txt_substr_stream", "append"), L)
      .withColumnRenamed("span_tokens", "span_chars")
  }

  /**
   * Deployment shape of the per-language quality gate: thresholds
   * TRAINED on the standing corpus
   * ([[graft.text.Curation.qualityThresholds]] — the distributed exact
   * percentile, snapshotted once), incoming documents scored as a
   * stateless stream-static broadcast join — no state store, the stream
   * filters at projection speed. The drained result equals the batch gate
   * ([[graft.text.Curation.qualityGate]]), which is the DuckDB twin.
   */
  def qualityGateStreaming(spark0: SparkSession, dir: String,
                           p: Double = 0.25): DataFrame = {
    val stream = streamSource(spark0, dir, "documents")
    val spark = stream.sparkSession
    // the trained artifact is a property of the STANDING corpus — train
    // once per (dir, p) and memoize the snapshot (the dedup_lsh_stream
    // pattern), so each drain pays scoring + join, not re-training
    val th = indexes.frame(spark, ("quality_thresholds", dir, p))(
      graft.text.Curation.qualityThresholds(
        spark.read.parquet(s"$dir/documents.parquet"), p))
    drainAvailableNow(
      graft.text.Curation.qualityGateScore(stream, th),
      "txt_quality_filter_stream", "append")
  }

  /**
   * Deployment shape of DSIR selection: the 256-bucket log-ratio model
   * is TRAINED once on the standing corpus
   * ([[graft.text.Curation.dsirLogRatios]], memoized like the quality
   * gate), then folded into a ONE-ROW map column so incoming documents
   * score STATELESSLY — the per-doc weight is a row-local
   * `aggregate(toks, ...)` over the broadcast map, no token explode, no
   * per-doc shuffle, no state store: a 100 TB/day ingest scores at scan
   * speed. The per-token grains are the same exact BIGINTs the batch
   * operator sums, so the drained weights equal
   * [[graft.text.Curation.dsirWeights]] — the DuckDB twin. Precondition
   * shared with that equality: `doc_id` is unique in the corpus (the
   * batch operator merges duplicate ids into one row; this stateless gate
   * scores each arriving row — exactly the right ingest semantics, but a
   * corpus with duplicate ids would make the two differ by that grouping).
   */
  private val DsirBuckets = 256

  def dsirGateStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val source = streamSource(spark0, dir, "documents")
    val spark = source.sparkSession
    val lr = indexes.frame(spark, ("dsir_log_ratios", dir)) {
      val standing = spark.read.parquet(s"$dir/documents.parquet")
      graft.text.Curation.dsirLogRatios(
        standing.filter(col("source") =!= "src1"),
        standing.filter(col("source") === "src1"), buckets = DsirBuckets)
    }
    val model = lr.agg(map_from_entries(collect_list(
        struct(col("bucket"), col("lr_g")))).as("lr_m"))
    val stream = source
      .filter(col("source") =!= "src1")
      .withColumn("toks", filter(
        split(graft.dedup.Dedup.normalize(col("text")), " "),
        t => length(t) > 0))
      .filter(size(col("toks")) > 0)
    val grain = (acc: Column, t: Column) => acc +
      element_at(col("lr_m"),
        pmod(graft.functions.PolyHash31(t), lit(DsirBuckets.toLong)))
    val scored = stream.crossJoin(model)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        (aggregate(col("toks"), lit(0L), grain).cast("double") / 1e9).as("w"))
    drainAvailableNow(scored, "txt_dsir_stream", "append")
  }

  /** Standing banded index (corpus_id, corpus_hash, band, band_val) of a
   * fingerprint codec's BASE corpus (4×16-bit band keys per item,
   * [[graft.dedup.Dedup.simhashBands]]), built through the real decoder
   * over the fixture corpus ([[Multimodal.fixtureCorpus]], no twins) and
   * materialized once per dir — the static side of the codec's ingest
   * gate. */
  private def bandedCorpusIndex(spark: SparkSession, dir: String,
                                c: Multimodal.Codec): DataFrame =
    indexes.frame(spark, ("banded_corpus", c, dir))(
      graft.dedup.Dedup.simhashBands(
        Multimodal.fixtureCorpus(spark.read.parquet(s"$dir/documents.parquet"), c, twins = false)
          .select(col("doc_id").as("corpus_id"), col(c.hash.get).as("corpus_hash")),
        "corpus_hash"))

  /** Banded near-dup ingest gate of one fingerprint codec, drained as
   * `drain`: arriving items (the codec's twins of the planted corpus rows,
   * [[Multimodal.plantedPairs]]) are fingerprinted through the real
   * decoder and probe the standing [[bandedCorpusIndex]] via a broadcast
   * join, with exact xor/bit_count verification — stateless except the
   * pair dedup the LSH gate also carries. The decode runs as a per-row
   * typed map here; a production deployment lifts it into foreachBatch
   * for batched/native codecs — the gate shape (stream-static banded
   * probe) is identical. Returns (new_id, corpus_id, hamming), the batch
   * [[Multimodal.nearDupPairs]] of the corpus with its twins restricted
   * to (corpus, arriving) cross pairs — the DuckDB twin. */
  private def bandedIngestStreaming(spark0: SparkSession, dir: String,
                                    c: Multimodal.Codec, drain: String): DataFrame = {
    val arriving = Multimodal.plantedPairs(streamSource(spark0, dir, "documents"))
    val spark = arriving.sparkSession
    import spark.implicits._
    val (twin, decode, hash) = (c.twin.get, c.decoder, c.hash.get)
    val fps = arriving.as[(Long, Long)]
      .map { case (id, newId) =>
        val r = decode(newId, twin(id))
        (r.getLong(0), r.getLong(1))
      }.toDF("new_id", hash)
    val pairs = graft.dedup.Dedup.simhashBands(fps, hash)
      .join(broadcast(bandedCorpusIndex(spark, dir, c)), Seq("band", "band_val"))
      .withColumn("hamming",
        bit_count(col(hash).bitwiseXOR(col("corpus_hash"))))
      .filter(col("hamming") <= 6)
      .select(col("new_id"), col("corpus_id"), col("hamming"))
      .dropDuplicates("new_id", "corpus_id")
    drainAvailableNow(pairs, drain, "append")
  }

  /** Streaming image-ingest near-dup gate — the visual twin of
   * [[lshIngestStreaming]] ([[bandedIngestStreaming]] over perturbed PPM
   * images, [[Multimodal.PpmDhash]]). */
  def dhashIngestStreaming(spark: SparkSession, dir: String): DataFrame =
    bandedIngestStreaming(spark, dir, Multimodal.PpmDhash, "mm_neardup_stream")

  /** Streaming audio-ingest near-dup gate — completes batch/stream
   * symmetry across all three modalities (text [[lshIngestStreaming]],
   * image [[dhashIngestStreaming]], audio here) over noise-perturbed WAV
   * clips, [[Multimodal.WavAfp]]. */
  def afpIngestStreaming(spark: SparkSession, dir: String): DataFrame =
    bandedIngestStreaming(spark, dir, Multimodal.WavAfp, "mm_wav_neardup_stream")

  /**
   * STREAM-STREAM interval join (funnel attribution): clicks joined to the
   * same user's purchases within (click_ts, click_ts + windowMinutes]. Both
   * sides carry watermarks and the join condition bounds event-time
   * distance, so each side's buffered state expires once the watermark
   * passes click_ts + window — the bounded-state shape Structured
   * Streaming requires for unbounded stream-stream joins. Inner joins emit
   * matches as soon as both sides arrive; the result equals the batch
   * join, which is the DuckDB twin.
   */
  def funnelJoinStreaming(spark: SparkSession, dir: String,
                          windowMinutes: Int = 60): DataFrame = {
    val stream = streamSource(spark, dir, oneBatch = true)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $windowMinutes minutes"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    drainAvailableNow(joined, "events_funnel", "append")
  }

  /** Per-event input row for the stateful stream. Carries the watermarked
   * timestamp column itself — projecting it into a derived value (e.g. a
   * .map to epoch micros) would strip the event-time watermark tag the
   * stateful operator requires. */
  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double)

  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  /** Open-session state held per user between micro-batches. */
  case class SessState(startUs: Long, endUs: Long, n: Long, cents: Long, seq: Long)

  /** Completed session emitted by the stateful stream. */
  case class SessOut(user_id: Long, session_seq: Long, session_start_us: Long,
                             session_end_us: Long, n_events: Long, value_sum: Double)

  /** Round-half-away-from-zero cents — the Scala twin of
   * FastRound.round(value*100, 0), so the streamed value_sum is
   * bit-identical to the batch/oracle integer-cents sum. */
  private def cents(v: Double): Long = {
    val y = v * 100.0
    math.copySign(math.floor(math.abs(y) + 0.5), y).toLong
  }

  /**
   * Sessionization as a REAL stateful stream: groupByKey(user) →
   * flatMapGroupsWithState with EventTimeTimeout. Completed sessions (gap
   * closed by a newer event) are emitted inside the batch; the trailing
   * open session per user is held in GroupState with a timeout at
   * session_end + gap, and flushed when the event-time watermark passes it.
   * State is O(1) per active user — this is the unbounded-stream shape the
   * memory-sink/complete-mode windowed demo is not.
   *
   * Determinism harness (AvailableNow drain): the file source reads the
   * events table plus one sentinel event stamped past
   * max(ts) + gap + watermark delay, so the final watermark provably fires
   * every real user's timeout before the query stops (Spark runs the extra
   * no-data batch because the stateful operator requires it). The sentinel
   * user is filtered from the output. Emitted sessions match the batch
   * gaps-and-islands twin [[sessionize]] row for row. The 1-second
   * watermark is the harness's, not a deployment's: a production deploy
   * sizes the watermark to its real out-of-orderness and lets late
   * sessions flush continuously.
   */
  private val sessMaxTsUs = new Memo[String, Option[Long]]

  def sessionizeStreaming(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    // max real event time — a scalar property of the STANDING table,
    // computed once per dir
    val maxOpt = sessMaxTsUs(dir) {
      val r = loadEvents(spark, dir).select(max(unix_micros(col("ts")))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    if (maxOpt.isEmpty)
      // zero events: no sessions — the batch twin's (empty) result, same schema
      return sessionize(loadEvents(spark, dir), gapMinutes)
        .select("user_id", "session_seq", "session_start", "session_end",
          "n_events", "value_sum")
    // sentinel: one event 1h past every possible timeout, sentinel user -1
    val sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      timestamp_micros(lit(maxOpt.get + gapUs + 3600L * 1000000L)).as("ts"),
      lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
      lit(0.0).as("value"), lit(null.asInstanceOf[String]).as("props"))
    val evs = streamSource(spark, dir, oneBatch = true, seed = Some(sentinel))
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Ev]

    def flush(s: SessState, user: Long): SessOut =
      SessOut(user, s.seq, s.startUs, s.endUs, s.n, s.cents / 100.0)

    val sessions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(_, user))
            state.remove()
            out.iterator
          } else {
            val evsSorted = it.map(e => (tsMicros(e.ts), e.event_id, e.value))
              .toArray.sortBy(e => (e._1, e._2))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
            var st = state.getOption
            evsSorted.foreach { case (tUs, _, v) =>
              st match {
                case Some(s) if tUs - s.endUs > gapUs =>
                  out += flush(s, user)
                  st = Some(SessState(tUs, tUs, 1L, cents(v), s.seq + 1))
                case Some(s) =>
                  st = Some(s.copy(endUs = math.max(s.endUs, tUs),
                    n = s.n + 1, cents = s.cents + cents(v)))
                case None =>
                  st = Some(SessState(tUs, tUs, 1L, cents(v), 1L))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.endUs + gapUs) / 1000L + 1L)
            }
            out.iterator
          }
      }
    drainAvailableNow(sessions.toDF(), "events_sessions", "append")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_seq"),
        timestamp_micros(col("session_start_us")).as("session_start"),
        timestamp_micros(col("session_end_us")).as("session_end"),
        col("n_events"), col("value_sum"))
  }

  /**
   * AS-OF join: each `rightType` event matched to the same user's latest
   * `leftType` event at-or-before its timestamp. Spark has no asof-join
   * operator; the scale-correct composition is union-tag -> one window
   * pass (running max of left-side event time per user) -> equi-join back
   * to resolve the matched event id. That is ONE shuffle on user_id plus
   * one equi-join — never a per-row range probe or a broadcast of a whole
   * side, so it survives any number of users/events.
   *
   * Tie semantics (deterministic, mirrored by the oracle): a left event at
   * exactly the right event's timestamp counts as "before" (ordering
   * (ts, left-first, event_id)); among left events sharing that latest
   * timestamp the largest event_id wins. Right events with no prior left
   * event keep a NULL match (left outer).
   */
  def asofJoin(events: DataFrame, leftType: String = "click",
               rightType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = events
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("event_type") === leftType).cast("int").as("is_left"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("is_left").desc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLast = tagged.withColumn("last_left_ts",
      max(when(col("is_left") === 1, col("ts"))).over(w))
    val rights = withLast.filter(col("is_left") === 0)
      .select(col("user_id"), col("event_id").as("right_id"),
        col("ts").as("right_ts"), col("last_left_ts"))
    val lefts = tagged.filter(col("is_left") === 1)
      .groupBy(col("user_id"), col("ts").as("last_left_ts"))
      .agg(max(col("event_id")).as("left_id"))
    rights.join(lefts, Seq("user_id", "last_left_ts"), "left")
      .select(col("right_id").as("purchase_id"), col("user_id"),
        col("right_ts").as("purchase_ts"),
        col("left_id").as("click_id"), col("last_left_ts").as("click_ts"))
  }

  /**
   * Sessionization: split each user's event stream into sessions separated
   * by gaps > `gapMinutes`. Batch form — the classic gaps-and-islands
   * (lag + running sum), fully windowed, no driver state;
   * [[sessionizeStreaming]] is the flatMapGroupsWithState form.
   */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), (sum(graft.functions.FastRound.round(col("value") * 100, 0).cast("long")) / 100.0).as("value_sum"))
  }

  /**
   * Sessionization via Spark's NATIVE `session_window` aggregate — the
   * third form of the same semantics ([[sessionize]] is the batch
   * gaps-and-islands window, [[sessionizeStreaming]] the
   * flatMapGroupsWithState form): one groupBy(user, session_window(ts,
   * gap)) hash aggregate, merging sessions as ranges fuse. The operator
   * works identically over a batch frame or a watermarked stream (where
   * state evicts once the watermark passes a session's end) — this batch
   * query IS the native operator's presence test. Merge rule: TOUCHING
   * windows fuse (an event arriving exactly `gap` after the previous one
   * extends the session; a split needs a strictly greater gap) — the
   * same boundary rule as [[sessionize]]'s lag form, verified by spec.
   *
   * Output: (user_id, session_start, session_end = last event + gap,
   * n_events, value_sum) — `session_end` is the window bound, not the
   * last event time, the session_window contract.
   */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        (sum(graft.functions.FastRound.round(col("value") * 100, 0).cast("long")) / 100.0).as("value_sum"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("value_sum"))

  /**
   * [[sessionWindowAgg]] as a watermarked STREAM — the operator
   * session_window actually exists for: per-key session state merges as
   * events arrive and EVICTS once the watermark passes a session's end
   * (the flatMapGroupsWithState sessionizer hand-rolls exactly this
   * lifecycle; this is the declarative form). The complete-mode drain
   * finalizes every session, so the result equals the batch aggregate —
   * the DuckDB twin.
   */
  def sessionWindowStreaming(spark: SparkSession, dir: String,
                             gapMinutes: Int = 30): DataFrame =
    drainAvailableNow(
      sessionWindowAgg(streamSource(spark, dir, oneBatch = true)
        .withWatermark("ts", "2 hours"), gapMinutes),
      "events_sesswin", "complete")

  /** Rounded cent representation shared by the z-score batch/stream twins:
   * every moment is an exact integer aggregate over this column, so
   * mean/sd/z are order-independent and bit-identical to the oracle. */
  private def cents: Column =
    graft.functions.FastRound.round(col("value") * 100, 0).cast("long")

  /** Per-event-type mean/sd in cent space from exact integer moments.
   * s1 is squared in DOUBLE space — s1*s1 in int64 would overflow at
   * ~1e9 rows × 1e5 cents. */
  def zscoreStats(events: DataFrame): DataFrame =
    events.select(col("event_type"), cents.as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .select(col("event_type"), col("n"),
        (col("s1").cast("double") / col("n")).as("mean_c"),
        sqrt((col("s2").cast("double") - col("s1").cast("double") * col("s1").cast("double") / col("n"))
          / (col("n") - 1)).as("sd_c"))

  /** Score events against broadcast per-type stats, keep |z| > 2 — a pure
   * stateless projection + broadcast join, so it runs identically over a
   * batch frame or a readStream micro-batch. */
  def zscoreScore(events: DataFrame, stats: DataFrame): DataFrame =
    events.select(col("event_id"), col("event_type"), cents.as("c"))
      .join(broadcast(stats.select("event_type", "mean_c", "sd_c")), Seq("event_type"))
      .filter(col("sd_c") > 0 &&
        abs((col("c") - col("mean_c")) / col("sd_c")) > 2.0)
      .select(col("event_id"), col("event_type"),
        (col("c") / 100.0).as("value_r"),
        graft.functions.FastRound.round(
          (col("c") - col("mean_c")) / col("sd_c"), 9).as("z"))

  /** Batch z-score outliers (the oracle-checked form). */
  def zscoreBatch(events: DataFrame): DataFrame =
    zscoreScore(events, zscoreStats(events))

  /**
   * The deployment shape of anomaly detection: thresholds TRAINED on the
   * standing corpus (batch aggregate, broadcast), live events SCORED as
   * a Structured Stream against them — a stateless stream-static
   * broadcast join, so no state store at all and the stream scores at
   * projection speed. Draining the whole file equals the batch twin.
   */
  def zscoreStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val stream = streamSource(spark0, dir)
    val spark = stream.sparkSession
    // the trained artifact is a property of the STANDING corpus — train
    // once per dir and memoize the snapshot (the qualityGateStreaming
    // posture), so each drain pays scoring + broadcast join, not
    // re-deriving the per-type moments batch aggregate
    val stats = indexes.frame(spark, ("zscore_stats", dir))(
      zscoreStats(spark.read.parquet(s"$dir/events.parquet")))
    drainAvailableNow(zscoreScore(stream, stats), "events_zscore", "append")
  }

  /**
   * Sliding-window burst detection: users emitting at least `minCount`
   * events of `eventType` inside any 1-hour window (30-minute slide) —
   * the alerting/CEP-lite pattern over the event stream. Batch form; the
   * sliding `window()` enumerates each event's two member windows inside
   * the aggregate (an Expand of factor size/slide, then ONE hash agg).
   */
  def burstBatch(events: DataFrame, eventType: String = "error",
                 minCount: Long = 2): DataFrame =
    events.filter(col("event_type") === eventType)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("w.start").as("window_start"), col("user_id"), col("n"))

  /** The same detection as a watermarked stream (complete-mode drain). */
  def burstStreaming(spark: SparkSession, dir: String): DataFrame =
    drainAvailableNow(
      burstBatch(streamSource(spark, dir).withWatermark("ts", "2 hours")),
      "events_burst", "complete")

  /**
   * Streaming CDC materialization: latest-wins upsert state as ONE
   * declarative aggregate — `max_by(version-struct, (ts, id))` per key in
   * complete mode, so the state store holds exactly one row per key (the
   * freshest version) no matter how many changes stream through, and every
   * emit IS the merged table. The streaming twin of
   * [[graft.operators.Merge.upsertLatest]]: draining the full change log
   * equals the batch merge, which is the oracle.
   */
  def mergeLatestStreaming(spark: SparkSession, dir: String): DataFrame = {
    val latest = streamSource(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(struct(col("event_id"), col("ts"), col("value")),
        struct(col("ts"), col("event_id"))).as("v"))
      .select(col("v.event_id").as("event_id"), col("v.ts").as("ts"),
        col("user_id"), col("event_type"), col("v.value").as("value"))
    drainAvailableNow(latest, "events_merge", "complete")
  }

  /**
   * The custom bounded-heap aggregate ([[graft.functions.TopKLongs]])
   * running INSIDE Structured Streaming's stateful aggregation: per-type
   * top-k of the value stream, complete output mode. Across micro-batches
   * the state store round-trips the heap through the aggregate's
   * serialize/deserialize/merge path — the multi-batch spec is the proof
   * that a custom TypedImperativeAggregate's state genuinely survives and
   * merges between triggers, not just within one batch.
   */
  def topkStreaming(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val agg = streamSource(spark, dir)
      .select(col("event_type"),
        graft.functions.FastRound.round(col("value") * 100, 0)
          .cast("long").as("vc"))
      .groupBy("event_type")
      .agg(expr(s"graft_topk(vc, $k)").as("tv"))
    drainAvailableNow(agg, "events_topk", "complete")
      .select(col("event_type"), posexplode(col("tv")))
      .withColumnRenamed("col", "top_value_cents")
  }

  /**
   * STREAMING AS-OF enrichment through the custom physical operator:
   * purchases arrive as a stream, and each micro-batch is joined to the
   * STANDING click reference with [[graft.operators.AsOf.join]] inside
   * `foreachBatch` — the "enrich each arriving fact with the latest
   * reference state at-or-before its event time" deployment shape. Per-row
   * enrichment is embarrassingly incremental (no cross-batch state: the
   * reference side is a materialized table, each probe row's answer
   * depends only on itself), so splitting the drain into micro-batches
   * cannot change the result — the batch oracle (DuckDB's native ASOF
   * LEFT JOIN) is exact.
   *
   * foreachBatch output lands as parquet appends (exactly-once per batch
   * via the sink's idempotent overwrite-by-batch-id directory layout).
   */
  def asofStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val purchases = streamSource(spark0, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val spark = purchases.sparkSession
    // the click side is the STANDING reference table the gate enriches
    // against — materialize it once per dir (the lshCorpusIndex posture)
    // instead of re-writing the same filtered projection every drain
    val clicks = indexes.frame(spark, ("asof_clicks", dir))(loadEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
        col("event_id").as("c_id")))
    val base = graft.util.Cleanup.localDir(spark)
    val tag = System.nanoTime()
    val outDir = s"$base/graft-asof-out-$tag"
    val ck = s"$base/graft-ck-asof-$tag"
    graft.util.Cleanup.onExitDelete(outDir)
    graft.util.Cleanup.onExitDelete(ck)
    val q = purchases.writeStream
      .queryName(s"events_asof_$tag")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.AsOf.join(batch.toDF(), clicks,
            "user_id", "ts", "c_uid", "c_ts", "c_id")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("purchase_ts"),
            coalesce(col("c_id"), lit(-1L)).as("click_id"),
            coalesce(col("c_ts"), lit("1970-01-01 00:00:00").cast("timestamp"))
              .as("click_ts"))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // outDir is itself a parquet materialization that lives until JVM
    // exit — re-snapshotting it copied the whole result once more per run
    spark.read.parquet(outDir).drop("batch")
  }
}
