package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/**
 * The streaming twins' oracle checks drain everything in ONE AvailableNow
 * batch — equality there doesn't prove the state machinery. This spec
 * splits the event table into four time-ordered files and bounds the
 * source to one file per trigger, so the drain runs four micro-batches
 * (counted per drain by [[withOneFilePerTrigger]]):
 * the windowed aggregate must merge partial windows across batches, the
 * stateful dedup must remember keys from earlier batches, and the CDC
 * merge state must overwrite older versions — and still equal the batch
 * answer exactly.
 */
class MultiBatchStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** sf0.001 events split into 4 time-ordered parquet files under
   * <dir>/events.parquet (a directory — both the batch reader and the
   * file-stream source accept it). */
  private lazy val splitDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mb_").toString
    graft.util.Cleanup.onExitDelete(d)
    val e = EventStreams.loadEvents(spark, "/root/testdata/sf0.001")
    // 4 contiguous time slices -> arrival order == event-time order, so
    // watermarks never discard data and the comparison is exact
    val q = e.select(expr("percentile(unix_micros(ts), array(0.25, 0.5, 0.75))"))
      .first().getSeq[Double](0)
    val slices = Seq(
      col("ts") < timestamp_micros(lit(q(0).toLong)),
      col("ts") >= timestamp_micros(lit(q(0).toLong)) &&
        col("ts") < timestamp_micros(lit(q(1).toLong)),
      col("ts") >= timestamp_micros(lit(q(1).toLong)) &&
        col("ts") < timestamp_micros(lit(q(2).toLong)),
      col("ts") >= timestamp_micros(lit(q(2).toLong)))
    slices.zipWithIndex.foreach { case (p, i) =>
      e.filter(p).coalesce(1).write.mode("append").parquet(s"$d/events.parquet")
      // distinct mtimes so the source's file ordering follows time order
      new java.io.File(s"$d/events.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
        .lastOption.foreach(_.setLastModified(1000000L * (i + 1)))
    }
    assert(new java.io.File(s"$d/events.parquet")
      .listFiles().count(_.getName.endsWith(".parquet")) == 4)
    d
  }

  /** Runs `body` with the source bounded to one file per trigger, and
   * asserts that a run of the streaming query named `drain` took at least
   * 4 micro-batches with input rows — so no drain can silently collapse
   * into one batch. The drains run in EventStreams' cloned session, whose
   * StreamingQueryManager is out of reach here, so the
   * StreamingQueryListener events are read off the SparkContext's bus. */
  private def withOneFilePerTrigger[T](drain: String)(body: => T): T = {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val batches = scala.collection.mutable.Map.empty[java.util.UUID, Int]
    val ended = scala.collection.mutable.Set.empty[java.util.UUID]
    def ours(name: String) = name != null && name.startsWith(drain + "_")
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        batches.synchronized(e match {
          case s: QueryStartedEvent if ours(s.name) => batches(s.runId) = 0
          case p: QueryProgressEvent
              if ours(p.progress.name) && p.progress.numInputRows > 0 =>
            batches(p.progress.runId) = batches.getOrElse(p.progress.runId, 0) + 1
          case t: QueryTerminatedEvent if batches.contains(t.runId) => ended += t.runId
          case _ =>
        })
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.conf.set("spark.graft.stream.maxFilesPerTrigger", "1")
      val out = try body finally spark.conf.unset("spark.graft.stream.maxFilesPerTrigger")
      // the bus is asynchronous: a run's progress events precede its
      // terminated event, so wait until every matched run has ended
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (batches.synchronized(batches.isEmpty || !batches.keySet.subsetOf(ended)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      val most = batches.synchronized(batches.values.maxOption.getOrElse(0))
      assert(most >= 4,
        s"$drain drained in $most micro-batch(es) with input rows, expected >= 4")
      out
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("windowed aggregate over 4 micro-batches equals the batch answer") {
    val batch = EventStreams.windowedAggBatch(
      EventStreams.loadEvents(spark, splitDir))
    val streamed = withOneFilePerTrigger("events_windowed")(
      EventStreams.windowedAggStreaming(spark, splitDir))
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  test("stateful dedup remembers keys across micro-batches") {
    val batch = EventStreams.loadEvents(spark, splitDir)
      .select("user_id", "event_type").distinct()
    val streamed = withOneFilePerTrigger("events_dedup")(
      EventStreams.distinctPairsStreaming(spark, splitDir))
    assert(streamed.count() == batch.count())
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  test("foreachBatch CDC sink: per-batch upserts into a parquet table equal the batch merge") {
    // the production sink pattern: each micro-batch merges latest-wins
    // into a standing parquet table (staged swap, idempotent re-runs);
    // after 4 batches the table must equal one big batch merge
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_febsink_").toString
    graft.util.Cleanup.onExitDelete(root)
    val state = s"$root/state"
    val keyCols = Seq("user_id", "event_type")
    val path = s"$splitDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(path)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val q = src.writeStream
      .option("checkpointLocation", s"$root/ck")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cur =
          if (new java.io.File(state).exists) spark.read.parquet(state)
          else batch.limit(0)
        val merged = graft.operators.Merge.upsertLatest(
          cur, batch, keyCols, Seq(col("ts"), col("event_id")))
        merged.write.mode("overwrite").parquet(s"$root/next")
        // staged swap: never overwrite the table being read
        val fs = new org.apache.hadoop.fs.Path(state)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(state), true)
        fs.rename(new org.apache.hadoop.fs.Path(s"$root/next"),
          new org.apache.hadoop.fs.Path(state))
        ()
      }
      .start()
    q.awaitTermination()
    val e = EventStreams.loadEvents(spark, splitDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val expect = graft.operators.Merge.upsertLatest(
      e.limit(0), e, keyCols, Seq(col("ts"), col("event_id")))
    assert(sortedRows(spark.read.parquet(state)) == sortedRows(expect))
  }

  test("CDC merge state over 4 micro-batches equals the batch upsert") {
    val e = EventStreams.loadEvents(spark, splitDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.operators.Merge.upsertLatest(
      e.limit(0), e, Seq("user_id", "event_type"),
      Seq(col("ts"), col("event_id")))
    val streamed = withOneFilePerTrigger("events_merge")(
      EventStreams.mergeLatestStreaming(spark, splitDir))
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  /** sf0.001 documents split into 4 doc_id-range files — arrival order is
   * irrelevant here (the decon gate is stateless), the split only forces
   * the drain through four micro-batches. */
  private lazy val docsSplitDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mbd_").toString
    graft.util.Cleanup.onExitDelete(d)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    (0 until 4).foreach { i =>
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("append").parquet(s"$d/documents.parquet")
    }
    d
  }

  test("streaming span decontamination over 4 micro-batches equals the batch pass") {
    val docs = spark.read.parquet(s"$docsSplitDir/documents.parquet")
    val expect = sortedRows(graft.text.Curation.contaminatedSpans(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), L = 10))
    val got = withOneFilePerTrigger("txt_decon_spans_stream")(
      sortedRows(EventStreams.deconSpansStreaming(spark, docsSplitDir, L = 10)))
    assert(got == expect && got.nonEmpty)
  }

  test("streaming ExactSubstr gate over 4 micro-batches equals the batch keep-nothing pass") {
    // stateless digest probe + row-local exact verify against the standing
    // repeated-window index: any batch split must reproduce the batch
    // keep-nothing marking (every occurrence of a corpus-repeated window)
    val L = 30
    val docs = spark.read.parquet(s"$docsSplitDir/documents.parquet")
    val occ = graft.text.Curation.substrOcc(docs, L, "text", "doc_id")._2
    val dupH = occ.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val cand = occ.join(dupH, Seq("h"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        col("text").substr((col("pos") + 1).cast("int"), lit(L)).as("s"))
    val dupS = cand.groupBy("s").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("s")
    // arriving side = the doc_id % 10 == 0 batch (the gate's convention);
    // the repeated-window index is over the FULL corpus
    val expect = sortedRows(graft.text.Curation.mergeIslands(
        cand.join(dupS, Seq("s")).filter(col("doc_id") % 10 === 0)
          .select("doc_id", "pos"), L)
      .withColumnRenamed("span_tokens", "span_chars"))
    val got = withOneFilePerTrigger("txt_substr_stream")(
      sortedRows(EventStreams.substrGateStreaming(spark, docsSplitDir, L = 30)))
    assert(got == expect && got.nonEmpty)
  }

  test("streaming LSH ingest gate over 4 micro-batches equals the batch band-key join") {
    // a stateless band-key probe of the standing corpus index plus the
    // pair dedup: a 4-way split must reproduce the batch join of the
    // arriving docs' (doc_id % 10 == 0) band keys with the corpus' keys
    val keys = graft.dedup.Dedup.minhashBandKeys(
      spark.read.parquet(s"$docsSplitDir/documents.parquet"))
    def side(arriving: Boolean, id: String) =
      keys.filter((col("doc_id") % 10 === 0) === arriving)
        .select(col("band"), col("band_val"), col("doc_id").as(id))
    val expect = sortedRows(side(arriving = true, "new_id")
      .join(side(arriving = false, "corpus_id"), Seq("band", "band_val"))
      .select("new_id", "corpus_id").distinct())
    val got = withOneFilePerTrigger("dedup_lsh_stream")(
      sortedRows(EventStreams.lshIngestStreaming(spark, docsSplitDir)))
    assert(got == expect && got.nonEmpty)
  }

  test("streaming image-ingest gate over 4 micro-batches equals the batch cross pairs") {
    // the pair dedup is the only state; a 4-way split must still equal
    // the batch banded pairs restricted to (corpus, arriving)
    import graft.multimodal.Multimodal
    import spark.implicits._
    val ids = spark.read.parquet(s"$docsSplitDir/documents.parquet")
      .select("doc_id").as[Long]
    val base = ids.map(id => (id, Multimodal.ppmDhashFixture(id)))
    val twins = ids.filter(_ % 20 == 0)
      .map(id => (id + 10000000L, Multimodal.ppmDhashFixture(id, perturb = true)))
    val fps = Multimodal.decodeFeatures(
      base.union(twins).toDF("doc_id", "payload"),
      decoder = Multimodal.decodePpmDhash, schema = Multimodal.DhashSchema)
    // the shared builder must plant and decode exactly this corpus
    assert(sortedRows(Multimodal.fixtureCorpus(ids.toDF(), Multimodal.PpmDhash,
      twins = true)) == sortedRows(fps))
    val expect = sortedRows(
      Multimodal.nearDupPairs(fps, "dhash", maxDist = 6)
        .filter(col("d1") < 10000000L && col("d2") >= 10000000L)
        .select(col("d2").as("new_id"), col("d1").as("corpus_id"), col("hamming")))
    val got = withOneFilePerTrigger("mm_neardup_stream")(
      sortedRows(EventStreams.dhashIngestStreaming(spark, docsSplitDir)))
    assert(got == expect && got.nonEmpty)
  }

  test("streaming audio-ingest gate over 4 micro-batches equals the batch cross pairs") {
    // audio sibling of the image gate: envelope fingerprints through the
    // real RIFF/PCM16 parser; a 4-way split must still equal the batch
    // banded pairs restricted to (corpus, arriving)
    import graft.multimodal.Multimodal
    import spark.implicits._
    val ids = spark.read.parquet(s"$docsSplitDir/documents.parquet")
      .select("doc_id").as[Long]
    val base = ids.map(id => (id, Multimodal.wavFpFixture(id)))
    val twins = ids.filter(_ % 20 == 0)
      .map(id => (id + 10000000L, Multimodal.wavFpFixture(id, perturb = true)))
    val fps = Multimodal.decodeFeatures(
      base.union(twins).toDF("doc_id", "payload"),
      decoder = Multimodal.decodeWavAfp, schema = Multimodal.AudioFpSchema)
    assert(sortedRows(Multimodal.fixtureCorpus(ids.toDF(), Multimodal.WavAfp,
      twins = true)) == sortedRows(fps))
    val expect = sortedRows(
      Multimodal.nearDupPairs(fps, "afp", maxDist = 6)
        .filter(col("d1") < 10000000L && col("d2") >= 10000000L)
        .select(col("d2").as("new_id"), col("d1").as("corpus_id"), col("hamming")))
    val got = withOneFilePerTrigger("mm_wav_neardup_stream")(
      sortedRows(EventStreams.afpIngestStreaming(spark, docsSplitDir)))
    assert(got == expect && got.nonEmpty)
  }

  test("streaming quality gate over 4 micro-batches equals the batch gate") {
    // stateless stream-static scoring against corpus-trained thresholds:
    // a 4-way split must reproduce the batch gate exactly (thresholds
    // are trained on the STANDING table, identical in both drives)
    val docs = spark.read.parquet(s"$docsSplitDir/documents.parquet")
    val expect = sortedRows(graft.text.Curation.qualityGate(docs, p = 0.25))
    val got = withOneFilePerTrigger("txt_quality_filter_stream")(
      sortedRows(EventStreams.qualityGateStreaming(spark, docsSplitDir)))
    assert(got == expect && got.nonEmpty)
  }

  test("streaming DSIR gate over 4 micro-batches equals the batch weights") {
    // stateless row-local scoring against the corpus-trained one-row map
    // model: the per-token grains are exact BIGINTs, so any batch split
    // must reproduce the batch operator bit for bit
    val docs = spark.read.parquet(s"$docsSplitDir/documents.parquet")
    val expect = sortedRows(graft.text.Curation.dsirWeights(
      docs.filter(col("source") =!= "src1"),
      docs.filter(col("source") === "src1"), buckets = 256))
    val got = withOneFilePerTrigger("txt_dsir_stream")(
      sortedRows(EventStreams.dsirGateStreaming(spark, docsSplitDir)))
    assert(got == expect && got.nonEmpty)
  }

  test("streaming as-of enrichment over 4 micro-batches equals the batch custom exec") {
    // the foreachBatch drive of AsOfJoinExec is stateless per probe row,
    // so a 4-way batch split must reproduce the single-batch answer bit
    // for bit (clicks are a standing table in both cases)
    val expect = sortedRows(
      graft.queries.TrainQueries.all("evt_asof_custom")(spark, splitDir))
    val got = withOneFilePerTrigger("events_asof")(
      sortedRows(EventStreams.asofStreaming(spark, splitDir)))
    assert(got == expect && got.nonEmpty)
  }

  test("checkpoint restart: a RESUMED stream processes only files added since") {
    // the operational contract AvailableNow drains rely on: stop, add
    // data, restart with the SAME checkpoint -> the source's file log
    // skips everything already committed, the parquet sink appends
    // exactly the new rows. This is what makes incremental ingest
    // restart-safe (no reprocessing, no loss) on a real deployment.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val events = new java.io.File(s"$splitDir/events.parquet")
      .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    assert(events.length == 4)
    val src = Files.createTempDirectory("graft_restart_src_").toString
    val out = Files.createTempDirectory("graft_restart_out_").toString + "/out"
    val ck = Files.createTempDirectory("graft_restart_ck_").toString
    Seq(src, out, ck).foreach(graft.util.Cleanup.onExitDelete)
    val schema = spark.read.parquet(s"$splitDir/events.parquet").schema

    def drainOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .select(col("event_id"), col("user_id"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def copyIn(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      Files.copy(f.toPath, Paths.get(src, f.getName), StandardCopyOption.REPLACE_EXISTING)
    }

    copyIn(events.take(2))
    drainOnce()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst ==
      events.take(2).map(f => spark.read.parquet(f.getPath).count()).sum)

    copyIn(events.drop(2))
    drainOnce()
    val afterSecond = spark.read.parquet(out).count()
    val total = spark.read.parquet(s"$splitDir/events.parquet").count()
    // all rows exactly once: the resumed run added ONLY files 3 and 4
    assert(afterSecond == total,
      s"expected $total rows after restart, got $afterSecond")
  }

  test("custom heap aggregate's state survives and merges across micro-batches") {
    // 4 triggers: each round-trips the TypedImperativeAggregate buffer
    // through the state store (serialize -> store -> deserialize -> merge);
    // equality with the batch aggregate proves that path end to end
    val expect = sortedRows(
      graft.queries.TrainQueries.all("evt_topk_agg")(spark, splitDir))
    val got = withOneFilePerTrigger("events_topk")(
      sortedRows(EventStreams.topkStreaming(spark, splitDir)))
    assert(got == expect && got.nonEmpty)
  }
}
