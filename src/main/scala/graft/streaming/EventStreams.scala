package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.util.Memo

/**
 * Structured Streaming surface over the `events` table. The reference has
 * no streaming operators (SURVEY.md §2.11); this is the engine's forward
 * surface for incremental pipelines: the same windowed aggregations a
 * batch query computes, expressed as a stream with watermarks so state is
 * bounded and late data is handled, runnable with Trigger.AvailableNow for
 * deterministic batch-equivalent results (which is also how the DuckDB
 * oracle checks them).
 */
object EventStreams {

  /**
   * Load the events table. The driver writes TIMESTAMP(NANOS) parquet,
   * which Spark only reads via the nanosAsLong legacy conf — so read the
   * nanos as long and rebuild a microsecond timestamp with INTEGER
   * division (`div`; `/` would go through double and lose precision above
   * 2^53 ns). Source ns values are whole microseconds, so this is exact.
   */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  /**
   * Session clone for streaming queries with its own shuffle-partition
   * setting (`spark.graft.stream.partitions`, default 8): stateful
   * streaming cost scales with the partition count — one state store,
   * commit, and task per partition per micro-batch — and the batch
   * engine's wide-cluster default (32 here) is pure fixed overhead for
   * the drain harness. A production deployment sizes this to its state
   * volume; the conf is the knob.
   */
  private val streamSessions =
    new Memo[(org.apache.spark.SparkContext, String, Option[String]), SparkSession]

  private def streamSession(spark: SparkSession): SparkSession = {
    // ONE cached clone per (SparkContext, conf combo): building a fresh
    // SessionState — analyzer, catalog, extensions — per drain is pure
    // overhead. Keying by the two caller-tunable confs (instead of
    // re-syncing a single shared clone) keeps every cached session
    // immutable after construction, so concurrent drains — including
    // parallel test suites that flip maxFilesPerTrigger — can never
    // observe another caller's settings. Sink names are unique and
    // streaming queries are independent, so sharing a session is safe.
    val n = spark.conf.getOption("spark.graft.stream.partitions").getOrElse("8")
    val mft = spark.conf.getOption("spark.graft.stream.maxFilesPerTrigger")
    streamSessions((spark.sparkContext, n, mft)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      mft.foreach(v => s.conf.set("spark.graft.stream.maxFilesPerTrigger", v))
      s
    }
  }

  /** Parquet schema per table path, cached after the first read: every
   * drain needs the batch schema to declare its readStream source, and
   * re-inferring it per run re-lists the directory and re-reads a footer
   * on the driver. Pure metadata — the driver's tables are immutable for
   * a session, and nothing about query RESULTS is cached here. */
  private val schemas = new Memo[String, org.apache.spark.sql.types.StructType]
  private def tableSchema(spark: SparkSession, path: String) =
    schemas(path)(spark.read.parquet(path).schema)

  /** Standing corpus indexes and trained models of the streaming gates,
   * keyed by (artifact name, dir, parameters). Each is a property of the
   * standing tables, built once and re-read by every cloned streaming
   * session (see [[graft.util.Memo]]). */
  private val indexes = new Memo[Product, Memo.Frame]

  /** Streaming parquet reader honoring the source-rate knob
   * (`spark.graft.stream.maxFilesPerTrigger`): bounding files-per-batch
   * splits an AvailableNow drain into MULTIPLE micro-batches, which is
   * how MultiBatchStreamSpec proves state genuinely evolves across
   * batches (not the degenerate single-batch equality). Operators whose
   * oracle semantics REQUIRE one batch (watermark-expiry dedup, the
   * stream-stream joins, session windows) pin
   * `.option("maxFilesPerTrigger", Int.MaxValue)` after this call, which
   * takes precedence. */
  private def reader(spark: SparkSession,
                     schema: org.apache.spark.sql.types.StructType) = {
    val r = spark.readStream.schema(schema)
    spark.conf.getOption("spark.graft.stream.maxFilesPerTrigger")
      .fold(r)(v => r.option("maxFilesPerTrigger", v))
  }

  /** Temp dir holding a symlink to the events file — the file-stream
   * source only accepts directories. Recursively deleted on JVM exit
   * (deleteOnExit would silently no-op: the dir is never empty). */
  private def streamDirFor(dir: String, prefix: String,
                           file: String = "events.parquet"): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val d = Files.createTempDirectory(prefix)
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

  /**
   * The same aggregate executed as a Structured Stream from the parquet
   * directory with a 2-hour watermark, drained with AvailableNow into a
   * memory sink, returned as a DataFrame. Demonstrates the
   * readStream -> watermark -> window -> writeStream path; with all data
   * on disk the result equals the batch form.
   */
  def windowedAggStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val raw = reader(spark, schema).parquet(streamDirFor(dir, "events_stream_"))
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val agg = stream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), (sum(graft.functions.FastRound.round(col("value") * 100, 0).cast("long")) / 100.0).as("value_sum"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("value_sum"))
    drainAvailableNow(agg, "events_windowed", "complete")
  }

  /**
   * Sessionization: split each user's event stream into sessions separated
   * by gaps > `gapMinutes`. Batch form is the classic gaps-and-islands
   * (lag + running sum) — fully windowed, no driver state; the streaming
   * form of this shape would be flatMapGroupsWithState with a session
   * timeout.
   */
  /**
   * Streaming exact dedup: the distinct (user_id, event_type) pairs of the
   * event stream via Structured Streaming's stateful `dropDuplicates`,
   * drained with AvailableNow. Key-only projection keeps the state row
   * minimal; for an unbounded production stream the variant is
   * `dropDuplicatesWithinWatermark` (state bounded by the watermark) — the
   * exact-distinct form here is what the batch oracle can reproduce.
   */
  def distinctPairsStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val dedup = reader(spark, schema).parquet(streamDirFor(dir, "events_dedup_"))
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    drainAvailableNow(dedup, "events_dedup", "append")
  }

  /**
   * PRODUCTION-shaped streaming dedup: `dropDuplicatesWithinWatermark` —
   * state rows expire once the event-time watermark passes their event
   * time + delay, so state is bounded by the watermark window instead of
   * growing with the whole key history (the [[distinctPairsStreaming]]
   * exact-distinct form keeps every key forever — fine for a drain
   * harness, unbounded on a real stream).
   *
   * Determinism/oracle: the whole table arrives in one AvailableNow batch
   * (maxFilesPerTrigger pinned), and expiry uses the PREVIOUS batch's
   * watermark (initially -inf), so no state expires mid-batch and every
   * in-batch duplicate is dropped regardless of time gaps — the emitted
   * key set equals batch DISTINCT, which is the DuckDB twin. Keys here are
   * derived (event_type, event day): watermark-compatible dedup on a
   * projected dimension, not just raw columns.
   */
  def dedupWithinWatermarkStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val raw = reader(spark, schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(streamDirFor(dir, "events_dedup_wm_"))
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val dedup = stream
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
   * With AvailableNow + a single batch the emitted pairs equal batch
   * token blocking, so the batch SQL is the oracle.
   */
  def tokenBlockingStreaming(spark0: SparkSession, dir: String,
                             attrsOf: DataFrame => DataFrame): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/part.parquet")
    val parts = reader(spark, schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(streamDirFor(dir, "part_tokens_", "part.parquet"))
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
   * AvailableNow + one batch => the emitted pairs equal the batch
   * new-vs-capped-corpus join, which is the DuckDB oracle.
   */
  def incrementalBlockingStreaming(spark0: SparkSession, dir: String,
                                   attrsOf: DataFrame => DataFrame,
                                   maxBlockSize: Long = 1000L): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/part.parquet")
    val corpusIdx = incrementalCorpusIndex(spark, dir, attrsOf, maxBlockSize)
    val newParts = reader(spark, schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(streamDirFor(dir, "part_incr_", "part.parquet"))
      .filter(col("p_partkey") % 10 === 0)
    val pairs = graft.er.Blocking.tokenKeys(attrsOf(newParts))
      .select(col("key"), col("profile_id").as("new_id"))
      .join(corpusIdx, Seq("key"))
      .select(least(col("new_id"), col("corpus_id")).as("p1"),
        greatest(col("new_id"), col("corpus_id")).as("p2"),
        lit(1).cast("int").as("n_new"))
      .dropDuplicates("p1", "p2")
    drainAvailableNow(pairs, "er_incremental_stream", "append")
  }

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
   * this gate's contract is new-vs-corpus.
   *
   * AvailableNow + single batch => the emitted pairs equal the batch
   * band-key join, which is the DuckDB oracle.
   */

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
   * Streaming PQ encode — new embedding vectors (vec_id % 10 == 0, the
   * batch convention) arrive as parquet files and are encoded against
   * the STANDING trained codebooks on arrival: the production "compress
   * the incoming vectors into the ANN index" ingest. The collected
   * model rides in the task binaries
   * ([[graft.similarity.ProductQuantization.encodeWith]]), so the
   * stream side is a pure stateless projection — no stream-static join,
   * no state store, nothing to watermark. AvailableNow + one batch =>
   * the emitted codes equal the batch encode of the same subset, which
   * is the DuckDB oracle (the full code-table twin filtered to the
   * arriving ids).
   */
  def pqEncodeStreaming(spark0: SparkSession, dir: String,
                        model: graft.similarity.ProductQuantization.Model,
                        m: Int, subDim: Int): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/embeddings.parquet")
    val vecs = reader(spark, schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(streamDirFor(dir, "embs_pq_", "embeddings.parquet"))
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
   * spans in the compaction pass). AvailableNow + the full table in one
   * batch ⇒ the merged spans equal the batch
   * [[graft.text.Curation.contaminatedSpans]], which is the DuckDB twin.
   */
  def deconSpansStreaming(spark0: SparkSession, dir: String,
                          L: Int = 10): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/documents.parquet")
    val benchIdx = deconGramIndex(spark, dir, L)
    val corpus = reader(spark, schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(streamDirFor(dir, "docs_decon_", "documents.parquet"))
      .filter(col("doc_id") % 50 =!= 0)
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
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/documents.parquet")
    val idx = substrRepeatedIndex(spark, dir, L)
    val stream = reader(spark, schema)
      .parquet(streamDirFor(dir, "docs_substr_", "documents.parquet"))
      .filter(col("doc_id") % 10 === 0)
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
   * filters at projection speed. Draining the whole table in one
   * AvailableNow batch equals the batch gate
   * ([[graft.text.Curation.qualityGate]]), which is the DuckDB twin.
   */
  def qualityGateStreaming(spark0: SparkSession, dir: String,
                           p: Double = 0.25): DataFrame = {
    val spark = streamSession(spark0)
    // the trained artifact is a property of the STANDING corpus — train
    // once per (dir, p) and memoize the snapshot (the dedup_lsh_stream
    // pattern), so each drain pays scoring + join, not re-training
    val th = indexes.frame(spark, ("quality_thresholds", dir, p))(
      graft.text.Curation.qualityThresholds(
        spark.read.parquet(s"$dir/documents.parquet"), p))
    val stream = reader(spark, tableSchema(spark, s"$dir/documents.parquet"))
      .parquet(streamDirFor(dir, "docs_qgate_", "documents.parquet"))
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
   * operator sums, so draining the whole candidate table in one
   * AvailableNow pass equals [[graft.text.Curation.dsirWeights]] — the
   * DuckDB twin. Precondition shared with that equality: `doc_id` is
   * unique in the corpus (the batch operator merges duplicate ids into
   * one row; this stateless gate scores each arriving row — exactly the
   * right ingest semantics, but a corpus with duplicate ids would make
   * the two differ by that grouping).
   */
  private val DsirBuckets = 256

  def dsirGateStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val lr = indexes.frame(spark, ("dsir_log_ratios", dir)) {
      val standing = spark.read.parquet(s"$dir/documents.parquet")
      graft.text.Curation.dsirLogRatios(
        standing.filter(col("source") =!= "src1"),
        standing.filter(col("source") === "src1"), buckets = DsirBuckets)
    }
    val model = lr.agg(map_from_entries(collect_list(
        struct(col("bucket"), col("lr_g")))).as("lr_m"))
    val stream = reader(spark, tableSchema(spark, s"$dir/documents.parquet"))
      .parquet(streamDirFor(dir, "docs_dsir_", "documents.parquet"))
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

  /** Standing banded dHash index of the BASE image corpus (4×16-bit band
   * keys per image, the simhash-banding layout), materialized once per
   * dir — the static side of the streaming image-ingest gate. Built
   * through the REAL PPM decoder over the fixture corpus. */
  def dhashCorpusIndex(spark: SparkSession, dir: String): DataFrame =
    indexes.frame(spark, ("dhash_corpus", dir)) {
      import spark.implicits._
      val ids = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long]
      val fp = graft.multimodal.Multimodal.decodeFeatures(
        ids.map(id => (id, graft.multimodal.Multimodal.ppmDhashFixture(id)))
          .toDF("doc_id", "payload"),
        parallelism = 8,
        decoder = graft.multimodal.Multimodal.decodePpmDhash,
        schema = graft.multimodal.Multimodal.DhashSchema)
      fp.select(col("doc_id").as("corpus_id"),
          col("dhash").as("corpus_hash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("band_val",
          expr("shiftright(corpus_hash, cast(band * 16 as int)) & 65535"))
    }

  /**
   * Streaming image-ingest near-dup gate — the visual twin of
   * [[lshIngestStreaming]]: arriving re-encoded images (the perturbed
   * twins of the doc_id % 20 == 0 corpus rows, ids + 1e7) are dHash'd
   * through the REAL PPM decoder and probe the STANDING banded corpus
   * index via a broadcast join, with exact xor/bit_count verification —
   * stateless except the pair dedup the LSH gate also carries. The
   * decode runs as a per-row typed map here; a production deployment
   * lifts it into foreachBatch for batched/native codecs — the gate
   * shape (stream-static banded probe) is identical. Draining the whole
   * arrival set equals the batch [[graft.multimodal.Multimodal.dhashNearDupPairs]]
   * restricted to (corpus, arriving) cross pairs — the DuckDB twin.
   *
   * Returns (new_id, corpus_id, hamming).
   */
  def dhashIngestStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val schema = tableSchema(spark, s"$dir/documents.parquet")
    val idx = dhashCorpusIndex(spark, dir)
    val fps = reader(spark, schema)
      .parquet(streamDirFor(dir, "docs_mmdh_", "documents.parquet"))
      .filter(col("doc_id") % 20 === 0)
      .select("doc_id").as[Long]
      .map { id =>
        val r = graft.multimodal.Multimodal.decodePpmDhash(id + 10000000L,
          graft.multimodal.Multimodal.ppmDhashFixture(id, perturb = true))
        (r.getLong(0), r.getLong(1))
      }.toDF("new_id", "dhash")
    val banded = fps.select(col("new_id"), col("dhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_val",
        expr("shiftright(dhash, cast(band * 16 as int)) & 65535"))
    val pairs = banded.join(broadcast(idx), Seq("band", "band_val"))
      .withColumn("hamming",
        bit_count(col("dhash").bitwiseXOR(col("corpus_hash"))))
      .filter(col("hamming") <= 6)
      .select(col("new_id"), col("corpus_id"), col("hamming"))
      .dropDuplicates("new_id", "corpus_id")
    drainAvailableNow(pairs, "mm_neardup_stream", "append")
  }

  /** Standing banded audio-fingerprint index of the BASE WAV corpus
   * (4×16-bit band keys per clip, the simhash-banding layout),
   * materialized once per dir — the static side of the streaming
   * audio-ingest gate. Built through the REAL RIFF/PCM16 parser over
   * the fixture corpus; the audio sibling of [[dhashCorpusIndex]]. */
  def afpCorpusIndex(spark: SparkSession, dir: String): DataFrame =
    indexes.frame(spark, ("afp_corpus", dir)) {
      import spark.implicits._
      val ids = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long]
      val fp = graft.multimodal.Multimodal.decodeFeatures(
        ids.map(id => (id, graft.multimodal.Multimodal.wavFpFixture(id)))
          .toDF("doc_id", "payload"),
        parallelism = 8,
        decoder = graft.multimodal.Multimodal.decodeWavAfp,
        schema = graft.multimodal.Multimodal.AudioFpSchema)
      fp.select(col("doc_id").as("corpus_id"),
          col("afp").as("corpus_hash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("band_val",
          expr("shiftright(corpus_hash, cast(band * 16 as int)) & 65535"))
    }

  /**
   * Streaming audio-ingest near-dup gate — completes batch/stream
   * symmetry across all three modalities (text [[lshIngestStreaming]],
   * image [[dhashIngestStreaming]], audio here): arriving noise-
   * perturbed WAV clips (the planted twins of the doc_id % 20 == 0
   * corpus rows, ids + 1e7) are envelope-fingerprinted through the REAL
   * RIFF/PCM16 parser and probe the STANDING banded corpus index via a
   * broadcast join, with exact xor/bit_count verification — stateless
   * except the pair dedup. Draining the whole arrival set equals the
   * batch [[graft.multimodal.Multimodal.afpNearDupPairs]] restricted to
   * (corpus, arriving) cross pairs — the DuckDB twin.
   *
   * Returns (new_id, corpus_id, hamming).
   */
  def afpIngestStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val schema = tableSchema(spark, s"$dir/documents.parquet")
    val idx = afpCorpusIndex(spark, dir)
    val fps = reader(spark, schema)
      .parquet(streamDirFor(dir, "docs_mmafp_", "documents.parquet"))
      .filter(col("doc_id") % 20 === 0)
      .select("doc_id").as[Long]
      .map { id =>
        val r = graft.multimodal.Multimodal.decodeWavAfp(id + 10000000L,
          graft.multimodal.Multimodal.wavFpFixture(id, perturb = true))
        (r.getLong(0), r.getLong(1))
      }.toDF("new_id", "afp")
    val banded = fps.select(col("new_id"), col("afp"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_val",
        expr("shiftright(afp, cast(band * 16 as int)) & 65535"))
    val pairs = banded.join(broadcast(idx), Seq("band", "band_val"))
      .withColumn("hamming",
        bit_count(col("afp").bitwiseXOR(col("corpus_hash"))))
      .filter(col("hamming") <= 6)
      .select(col("new_id"), col("corpus_id"), col("hamming"))
      .dropDuplicates("new_id", "corpus_id")
    drainAvailableNow(pairs, "mm_wav_neardup_stream", "append")
  }

  def lshIngestStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/documents.parquet")
    val corpusIdx = lshCorpusIndex(spark, dir)
    val newDocs = reader(spark, schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(streamDirFor(dir, "docs_lsh_", "documents.parquet"))
      .filter(col("doc_id") % 10 === 0)
    val pairs = graft.dedup.Dedup.minhashBandKeys(newDocs)
      .withColumnRenamed("doc_id", "new_id")
      .join(corpusIdx, Seq("band", "band_val"))
      .select("new_id", "corpus_id")
      .dropDuplicates("new_id", "corpus_id")
    drainAvailableNow(pairs, "dedup_lsh_stream", "append")
  }

  /**
   * STREAM-STREAM interval join (funnel attribution): clicks joined to the
   * same user's purchases within (click_ts, click_ts + windowMinutes]. Both
   * sides carry watermarks and the join condition bounds event-time
   * distance, so each side's buffered state expires once the watermark
   * passes click_ts + window — the bounded-state shape Structured
   * Streaming requires for unbounded stream-stream joins. Inner joins emit
   * matches as soon as both sides arrive; with the whole table in one
   * AvailableNow batch the result equals the batch join, which is the
   * DuckDB twin.
   */
  def funnelJoinStreaming(spark0: SparkSession, dir: String,
                          windowMinutes: Int = 60): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val raw = reader(spark, schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(streamDirFor(dir, "events_funnel_"))
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
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
   * gaps-and-islands twin [[sessionize]] row for row.
   */
  private val sessMaxTsUs = new Memo[String, Option[Long]]

  def sessionizeStreaming(spark0: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val tsIsLong = schema("ts").dataType == org.apache.spark.sql.types.LongType
    // max real event time — a scalar property of the STANDING table,
    // computed once per dir (a production deploy would just pick a
    // watermark delay and let late sessions flush continuously)
    val maxOpt = sessMaxTsUs(dir) {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val tsUs = if (tsIsLong) expr("ts div 1000") else unix_micros(col("ts"))
      val r = raw.select(max(tsUs)).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    if (maxOpt.isEmpty)
      // zero events: no sessions — the batch twin's (empty) result, same schema
      return sessionize(loadEvents(spark, dir), gapMinutes)
        .select("user_id", "session_seq", "session_start", "session_end",
          "n_events", "value_sum")
    val maxTsUs = maxOpt.get
    val streamDir = streamDirFor(dir, "events_sessions_")
    // sentinel: one event 1h past every possible timeout, sentinel user -1
    val sentinelUs = maxTsUs + gapUs + 3600L * 1000000L
    val sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      (if (tsIsLong) (lit(sentinelUs) * 1000L).as("ts")
       else timestamp_micros(lit(sentinelUs)).as("ts")),
      lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
      lit(0.0).as("value"), lit(null.asInstanceOf[String]).as("props"))
    sentinel.write.mode("append").parquet(streamDir)

    // The 1-second watermark is only sound because the whole table (events
    // + sentinel) arrives in ONE micro-batch: if the file source split it,
    // later batches' rows would be dropped as late data. Pin that
    // assumption explicitly — maxFilesPerTrigger high enough for any
    // driver-written table — rather than inheriting session defaults; a
    // production deploy would instead size the watermark to its real
    // out-of-orderness and let late sessions flush continuously.
    val raw = reader(spark, schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(streamDir)
    val stream =
      if (tsIsLong) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val evs = stream
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
   * lifecycle; this is the declarative form). Complete-mode drain over
   * one AvailableNow batch finalizes every session, so the result equals
   * the batch aggregate — the DuckDB twin.
   */
  def sessionWindowStreaming(spark0: SparkSession, dir: String,
                             gapMinutes: Int = 30): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val raw = reader(spark, schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(streamDirFor(dir, "events_sesswin_"))
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val agg = sessionWindowAgg(stream.withWatermark("ts", "2 hours"), gapMinutes)
    drainAvailableNow(agg, "events_sesswin", "complete")
  }

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
    val spark = streamSession(spark0)
    // the trained artifact is a property of the STANDING corpus — train
    // once per dir and memoize the snapshot (the qualityGateStreaming
    // posture), so each drain pays scoring + broadcast join, not
    // re-deriving the per-type moments batch aggregate
    val stats = indexes.frame(spark, ("zscore_stats", dir))(
      zscoreStats(spark.read.parquet(s"$dir/events.parquet")))
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val stream = reader(spark, schema)
      .parquet(streamDirFor(dir, "events_zscore_"))
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

  /** The same detection as a watermarked stream (complete-mode drain;
   * one AvailableNow batch == the batch form, which is the oracle). */
  def burstStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val raw = reader(spark, schema).parquet(streamDirFor(dir, "events_burst_"))
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val agg = burstBatch(stream.withWatermark("ts", "2 hours"))
    drainAvailableNow(agg, "events_burst", "complete")
  }

  /**
   * Streaming CDC materialization: latest-wins upsert state as ONE
   * declarative aggregate — `max_by(version-struct, (ts, id))` per key in
   * complete mode, so the state store holds exactly one row per key (the
   * freshest version) no matter how many changes stream through, and every
   * emit IS the merged table. The streaming twin of
   * [[graft.operators.Merge.upsertLatest]]: one AvailableNow batch over
   * the full change log equals the batch merge, which is the oracle.
   */
  def mergeLatestStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val raw = reader(spark, schema)
      .parquet(streamDirFor(dir, "events_merge_"))
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val latest = stream
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
  def topkStreaming(spark0: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val raw = reader(spark, schema).parquet(streamDirFor(dir, "events_topk_"))
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val agg = stream
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
   * (`spark.graft.stream.maxFilesPerTrigger`) cannot change the result —
   * the batch oracle (DuckDB's native ASOF LEFT JOIN) is exact.
   *
   * foreachBatch output lands as parquet appends (exactly-once per batch
   * via the sink's idempotent overwrite-by-batch-id directory layout).
   */
  def asofStreaming(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val schema = tableSchema(spark, s"$dir/events.parquet")
    val raw = reader(spark, schema).parquet(streamDirFor(dir, "events_asof_"))
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
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
