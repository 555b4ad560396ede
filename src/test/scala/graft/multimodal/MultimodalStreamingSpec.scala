package graft.multimodal

import graft.SparkSpec
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class MultimodalStreamingSpec extends SparkSpec {

  test("decodeImages: deterministic stub features, schema and batch shape") {
    val df = spark.range(0, 100).select(col("id"),
      col("id").cast("string").cast("binary").as("payload"))
    val out = Multimodal.decodeImages(df, "id", "payload")
    val rows = out.collect().sortBy(_.id)
    assert(rows.length == 100)
    rows.foreach { r =>
      assert(r.width >= 16 && r.height >= 16 && r.channels == 3)
      assert(r.histogram.length == 16)
      assert(math.abs(r.histogram.sum - 1.0) < 1e-9)
    }
    // determinism: same payload → same features
    val again = Multimodal.decodeImages(df, "id", "payload").collect().sortBy(_.id)
    assert(rows.zip(again).forall { case (a, b) =>
      a.width == b.width && a.histogram.sameElements(b.histogram) })
  }

  test("sampleFrames: strided chunking, partition-local explode") {
    val payload = Array.tabulate[Byte](2048)(i => (i % 251).toByte)
    val df = spark.createDataFrame(Seq((1L, payload))).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(df, "id", "payload",
      frameBytes = 256, stride = 2).collect()
    // 2048/256 = 8 frames, stride 2 → frames 0,2,4,6
    assert(frames.map(_.frameIndex).sorted.toSeq == Seq(0, 2, 4, 6))
    assert(frames.forall(_.features.length == 16))
    // audio metadata: duration = payload bytes / PCM byte rate
    val dur = df.select(Multimodal.audioDurationSec(col("payload"), 1024))
      .head().getDouble(0)
    assert(dur == 2.0)
  }

  test("WAV codec: PCM16 round-trip, chunk skipping, 8-bit, malformed → None") {
    val samples = Array.tabulate[Short](400)(i => ((i * 9173) % 65536 - 32768).toShort)
    val wav = Multimodal.encodeWavPcm16(16000, 2, samples)
    val m = Multimodal.decodeWavPcm(wav).get
    assert(m.sampleRate == 16000 && m.channels == 2 && m.bitsPerSample == 16)
    assert(m.frames == 200)
    assert(m.sampleSum == samples.map(_.toLong).sum)

    // an unknown ODD-sized chunk between fmt and data must be skipped
    // with even padding — splice a 5-byte "LIST" chunk in
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ Array[Byte](1, 2, 3, 4, 5, 0)
    val spliced = wav.take(36) ++ list ++ wav.drop(36)
    // patch the RIFF size (not validated, but keep it honest)
    val m2 = Multimodal.decodeWavPcm(spliced).get
    assert(m2 == m)

    // 8-bit PCM: unsigned bytes, offset 128
    val hdr = Multimodal.encodeWavPcm16(8000, 1, Array.empty[Short])
    val bb = java.nio.ByteBuffer.wrap(hdr.clone())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putShort(34, 8.toShort) // bitsPerSample = 8
    val data8 = Array[Byte](0, 127.toByte, 128.toByte, 255.toByte)
    bb.putInt(40, 4)
    val wav8 = bb.array().take(44) ++ data8
    val m8 = Multimodal.decodeWavPcm(wav8).get
    assert(m8.bitsPerSample == 8 && m8.frames == 4)
    assert(m8.sampleSum == (-128L) + (-1) + 0 + 127)

    assert(Multimodal.decodeWavPcm("RIFFxxxxWAVX".getBytes).isEmpty)
    assert(Multimodal.decodeWavPcm(wav.take(30)).isEmpty) // truncated data
    // non-PCM format code → None
    val bad = wav.clone(); bad(20) = 3 // IEEE float
    assert(Multimodal.decodeWavPcm(bad).isEmpty)
  }

  test("PPM codec: P6 round-trip, comments in header, malformed → None") {
    val pix = Array.tabulate[Byte](6 * 4 * 3)(i => ((i * 37) % 256).toByte)
    val ppm = Multimodal.encodePpmP6(6, 4, 255, pix)
    val m = Multimodal.decodePpmP6(ppm).get
    assert(m.width == 6 && m.height == 4 && m.maxVal == 255)
    assert(m.pixelSum == pix.map(b => (b & 0xff).toLong).sum)

    // header comments are legal PPM: P6 <comment> w h maxval
    val commented = "P6\n# a comment line\n6 4\n# another\n255\n"
      .getBytes("US-ASCII") ++ pix
    assert(Multimodal.decodePpmP6(commented).contains(m))

    assert(Multimodal.decodePpmP6("P5\n1 1\n255\n ".getBytes).isEmpty)
    assert(Multimodal.decodePpmP6(ppm.take(20)).isEmpty) // truncated raster
    assert(Multimodal.decodePpmP6("P6\n0 4\n255\n".getBytes).isEmpty)
    assert(Multimodal.decodePpmP6("P6\nx 4\n255\n".getBytes).isEmpty)
  }

  test("decodeMedia dispatch: wav/ppm decode for real, everything else stubs") {
    val wav = Multimodal.encodeWavPcm16(8000, 1,
      Array.tabulate[Short](80)(_.toShort))
    val ppm = Multimodal.encodePpmP6(2, 2, 255, Array.fill[Byte](12)(7))
    val other = "just some text payload".getBytes("US-ASCII")
    val df = spark.createDataFrame(Seq(
      (1L, wav), (2L, ppm), (3L, other))).toDF("id", "payload")
    val rows = Multimodal.decodeMedia(df, "id", "payload")
      .collect().sortBy(_.id)
    assert(rows.map(_.kind).toSeq == Seq("wav", "ppm", "stub"))
    assert(rows(0).sampleRate == 8000 && rows(0).frames == 80 &&
      rows(0).contentSum == (0 until 80).sum)
    assert(rows(1).width == 2 && rows(1).height == 2 && rows(1).contentSum == 12L * 7)
    assert(rows(2).contentSum == other.map(b => (b & 0xff).toLong).sum)
    // a malformed WAV header falls back to the stub tier, not an error
    val broken = wav.take(40)
    val df2 = spark.createDataFrame(Seq((9L, broken))).toDF("id", "payload")
    assert(Multimodal.decodeMedia(df2, "id", "payload").head().kind == "stub")
  }

  test("streaming sliding window over MemoryStream matches batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val events = (0 until 120).map(i =>
      (new Timestamp(1704067200000L + i * 60000L), i.toDouble))
    mem.addData(events: _*)
    val streamDf = mem.toDF().toDF("ts", "value")
    val out = StreamingOps.slidingWindowAgg(streamDf, "ts", "value",
      windowDuration = "30 minutes", slideDuration = "30 minutes")
    val query = out.writeStream.format("memory")
      .queryName("sw_test").outputMode("complete").start()
    query.processAllAvailable()
    val got = spark.sql("select * from sw_test order by window_start").collect()
    query.stop()
    // 120 minutes of data → 4 tumbling 30-min windows of 30 events each
    assert(got.length == 4, got.mkString(";"))
    assert(got.forall(_.getLong(2) == 30))
    // first window mean = mean(0..29) = 14.5
    assert(math.abs(got.head.getDouble(3) - 14.5) < 1e-9)
    // tumblingPeriodAgg(period) ≡ slidingWindowAgg(period, period) —
    // checked in batch mode (Spark's unified semantics)
    val batch = events.toDF("ts", "value")
    val tumb = StreamingOps.tumblingPeriodAgg(batch, "ts", "value", "30 minutes")
      .orderBy("window_start").collect()
    assert(tumb.map(r => (r.getLong(2), r.getDouble(3))).toSeq ==
      got.map(r => (r.getLong(2), r.getDouble(3))).toSeq)
  }

  test("streaming dedup: first document per digest/signature within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    val docs = Seq(
      (new Timestamp(base), "the quick brown fox"),
      (new Timestamp(base + 1000), "a completely different document"),
      (new Timestamp(base + 2000), "the quick brown fox"), // exact dup
      (new Timestamp(base + 3000), "yet another unique text"),
      (new Timestamp(base + 4000), "a completely different document")) // dup
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(docs: _*)
    val out = StreamingOps.streamingDedupExact(
      mem.toDF().toDF("ts", "text"), "ts", "text")
    val q = out.writeStream.format("memory")
      .queryName("dedup_test").outputMode("append").start()
    q.processAllAvailable()
    val got = spark.sql("select text from dedup_test").collect().map(_.getString(0))
    q.stop()
    assert(got.length == 3, got.mkString(";"))
    assert(got.toSet == Set("the quick brown fox",
      "a completely different document", "yet another unique text"))

    val mem2 = MemoryStream[(Timestamp, String)]
    mem2.addData(docs: _*)
    val out2 = StreamingOps.streamingDedupSimhash(
      mem2.toDF().toDF("ts", "text"), "ts", "text")
    val q2 = out2.writeStream.format("memory")
      .queryName("dedup_sim_test").outputMode("append").start()
    q2.processAllAvailable()
    val got2 = spark.sql("select text from dedup_sim_test").collect().map(_.getString(0))
    q2.stop()
    assert(got2.length == 3, got2.mkString(";"))
  }

  test("streaming minhash band tier catches a planted near-dup across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    val original = "the quick brown fox jumps over the lazy dog while " +
      "seventeen astronomers chart the winter sky above the quiet harbor town"
    val nearDup = "the quick brown fox jumps over the lazy dog while " +
      "seventeen astronomers chart the winter sky above the quiet harbour town"
    val unrelated = "completely different content about databases and " +
      "distributed query execution engines with columnar storage layouts"
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.streamingMinhashCandidates(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
      threshold = 0.5)
    val q = out.writeStream.format("memory")
      .queryName("minhash_stream_test").outputMode("append").start()
    // micro-batch 1: the original + an unrelated doc — no pairs yet
    mem.addData((new Timestamp(base), 1L, original),
      (new Timestamp(base + 1000), 2L, unrelated))
    q.processAllAvailable()
    // micro-batch 2: the near-dup arrives later — must pair with doc 1
    // via band-bucket STATE (doc 1 is not in this batch)
    mem.addData((new Timestamp(base + 60000), 3L, nearDup))
    q.processAllAvailable()
    // micro-batch 3: advance the watermark so append-mode results flush
    mem.addData((new Timestamp(base + 7200000L), 9L, "watermark advancer"))
    q.processAllAvailable()
    val got = spark.sql(
      "select id_a, id_b, est_jaccard from minhash_stream_test").collect()
    q.stop()
    assert(got.length == 1, got.mkString(";"))
    assert(got.head.getLong(0) == 1L && got.head.getLong(1) == 3L)
    assert(got.head.getDouble(2) > 0.5, s"est_jaccard ${got.head.getDouble(2)}")
  }

  test("streaming minhash band tier: a near-dup OUTSIDE the horizon does not pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    val original = "the quick brown fox jumps over the lazy dog while " +
      "seventeen astronomers chart the winter sky above the quiet harbor town"
    val nearDup = original.replace("harbor", "harbour")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.streamingMinhashCandidates(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
      threshold = 0.5, watermark = "1 hour")
    val q = out.writeStream.format("memory")
      .queryName("minhash_expiry_test").outputMode("append").start()
    mem.addData((new Timestamp(base), 1L, original))
    q.processAllAvailable()
    // 2.5 hours later — outside the 1-hour horizon: must NOT pair
    mem.addData((new Timestamp(base + 9000000L), 3L, nearDup))
    q.processAllAvailable()
    mem.addData((new Timestamp(base + 20000000L), 9L, "watermark advancer"))
    q.processAllAvailable()
    val got = spark.sql("select * from minhash_expiry_test").collect()
    q.stop()
    assert(got.isEmpty, got.mkString(";"))
  }

  test("streaming session windows split on inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val base = 1704067200000L
    // user 1: two bursts separated by 2 hours
    val data = (0 until 5).map(i => (new Timestamp(base + i * 60000L), 1L)) ++
      (0 until 3).map(i => (new Timestamp(base + 7200000L + i * 60000L), 1L))
    mem.addData(data: _*)
    val out = StreamingOps.sessionAgg(mem.toDF().toDF("ts", "user_id"),
      "ts", "user_id", gap = "30 minutes")
    val query = out.writeStream.format("memory")
      .queryName("sess_test").outputMode("complete").start()
    query.processAllAvailable()
    val got = spark.sql("select * from sess_test order by session_start").collect()
    query.stop()
    assert(got.length == 2, got.mkString(";"))
    assert(got.map(_.getLong(3)).toSeq == Seq(5L, 3L))
  }

  test("stateless text ops (quality filter) run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // scan-stage operators compose with readStream directly — no
    // adaptation layer; this is the property that lets the whole text/
    // dedup signal family run inside a streaming ingest pipeline
    val out = graft.text.TextFunctions.qualityFilter(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory")
      .queryName("qf_stream_test").outputMode("append").start()
    mem.addData((1L, "the quick brown fox jumps over the lazy sleeping dog " +
      "while seventeen astronomers chart winter skies above harbors"))
    mem.addData((2L, "ok go"))
    q.processAllAvailable()
    val got = spark.sql("select doc_id, keep, reasons from qf_stream_test")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    q.stop()
    assert(got(1L) == ((true, "")))
    assert(!got(2L)._1 && got(2L)._2.contains("too_short"))

    // PII redaction is scan-stage too — streams with no adaptation
    val mem2 = MemoryStream[(Long, String)]
    val out2 = mem2.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), graft.text.TextFunctions.redactPii(col("text")).as("t"))
    val q2 = out2.writeStream.format("memory")
      .queryName("pii_stream_test").outputMode("append").start()
    mem2.addData((1L, "write to a@b.io from 10.0.0.1 thanks"))
    q2.processAllAvailable()
    val red = spark.sql("select t from pii_stream_test").head().getString(0)
    q2.stop()
    assert(red == "write to <EMAIL> from <IP> thanks", red)

    // the linear quality classifier's scoring surface is one projection
    // over a broadcast weight vector — streams with no adaptation either
    val w = Array.tabulate(256)(j => ((j * 97) % 41 - 20).toDouble)
    val model = graft.pipeline.QualityClassifier.Model(256, 3.0, w)
    val mem3 = MemoryStream[(Long, String)]
    val out3 = graft.pipeline.QualityClassifier.score(
      mem3.toDF().toDF("doc_id", "text"), "text", model)
      .select(col("doc_id"), col("logit"), col("keep"))
    val q3 = out3.writeStream.format("memory")
      .queryName("clf_stream_test").outputMode("append").start()
    mem3.addData((1L, "alpha beta gamma delta"), (2L, "epsilon zeta"))
    q3.processAllAvailable()
    val sGot = spark.sql("select doc_id, logit from clf_stream_test")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q3.stop()
    val batch = graft.pipeline.QualityClassifier.score(
      Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta"))
        .toDF("doc_id", "text"), "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sGot == batch, s"$sGot vs $batch")

    // passage chunking is a projection + posexplode — also stateless
    val longDoc = (1 to 25).map(i => s"t$i").mkString(" ")
    val mem4 = MemoryStream[(Long, String)]
    val out4 = graft.text.TextFunctions.chunkPassages(
      mem4.toDF().toDF("doc_id", "text"), "doc_id", "text",
      chunk = 10, overlap = 3)
    val q4 = out4.writeStream.format("memory")
      .queryName("chunk_stream_test").outputMode("append").start()
    mem4.addData((7L, longDoc))
    q4.processAllAvailable()
    val chunks = spark.sql(
      "select chunk_id, passage from chunk_stream_test")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    q4.stop()
    val cBatch = graft.text.TextFunctions.chunkPassages(
      Seq((7L, longDoc)).toDF("doc_id", "text"), "doc_id", "text", 10, 3)
      .collect().map(r => (r.getLong(1), r.getString(3))).sorted.toSeq
    assert(chunks == cBatch && chunks.length == 4, chunks.toString)
  }

  test("streaming sequence packing ≡ batch packing across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)] // (shard, doc_id, tok)
    val out = StreamingOps.streamingPackSequences(
      mem.toDF().toDF("shard", "doc_id", "tok"),
      "shard", "doc_id", "tok", budget = 64)
    val q = out.writeStream.format("memory")
      .queryName("pack_stream_test").outputMode("append").start()
    // batch 1 ends mid-sequence (shard 0 at offset 50); shard 1 independent
    mem.addData((0L, 1L, 30L), (0L, 2L, 20L), (1L, 1L, 10L))
    q.processAllAvailable()
    // batch 2: doc 3 straddles the 64-token boundary ACROSS the batch
    // cut (state carries offset 50); a zero-token doc emits nothing
    mem.addData((0L, 3L, 40L), (0L, 4L, 0L), (1L, 2L, 100L))
    q.processAllAvailable()
    val got = spark.sql("select * from pack_stream_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sorted.toSeq
    q.stop()

    // reference: batch packing of each shard's concatenated stream
    // (arrival order == doc_id order here)
    val expected = Seq(0L -> Seq((1L, 30L), (2L, 20L), (3L, 40L), (4L, 0L)),
      1L -> Seq((1L, 10L), (2L, 100L))).flatMap { case (shard, docs) =>
      val df = docs.toDF("doc_id", "tok")
      graft.pipeline.Packing.packSequencesWindow(df, "doc_id", "tok", 64)
        .collect().map(r => (shard, r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
    }.sorted
    assert(got == expected, s"\n$got\nvs\n$expected")
    // the straddling doc really does split across sequences
    assert(got.count(t => t._1 == 0L && t._2 == 3L) == 2)
  }

  test("streaming minhash index screen ≡ batch minhashSearch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    // reference corpus: 6 docs in 2 families of shared long sentences
    val ref = (0L until 6L).map { i =>
      (i, s"family ${i % 2} shares this long sentence body with trailing " +
        s"words common to the group variant ${i % 3}")
    }.toDF("doc_id", "text")
    val idx = graft.dedup.Dedup.minhashIndex(ref, "doc_id", "text",
      numHashes = 64, bands = 16).persist()
    // arriving docs: 100+ are near-copies of ref docs, 200 is unrelated
    def arriving(id: Long) =
      if (id == 200L) (new Timestamp(base + id), id, "completely different text")
      else (new Timestamp(base + id),
        id, s"family ${id % 2} shares this long sentence body with trailing " +
          s"words common to the group variant ${(id - 100) % 3} now")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.streamingMinhashIndexScreen(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text", idx)
    val q = out.writeStream.format("memory")
      .queryName("idxscreen_stream_test").outputMode("append").start()
    mem.addData(arriving(100), arriving(101))
    q.processAllAvailable()
    mem.addData(arriving(102), arriving(200))
    q.processAllAvailable()
    val got = spark.sql(
      "select id_new, id_ref, est_jaccard from idxscreen_stream_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    q.stop()
    val batch = graft.dedup.Dedup.minhashSearch(idx,
      (100L to 102L).map(i => (i, arriving(i)._3)).toDF("doc_id", "text")
        .union(Seq((200L, arriving(200L)._3)).toDF("doc_id", "text")),
      "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    idx.release()
    assert(got == batch, s"\n$got\nvs\n$batch")
    assert(got.nonEmpty && !got.exists(_._1 == 200L),
      "near-copies hit, the unrelated doc does not")
  }

  test("chunked-screen parity: 3-trigger stream ≡ batch chunked ≡ one-shot") {
    // the streaming twin's micro-batch IS the chunk (bound per-screen
    // scratch by bounding the trigger); this pins it: the SAME six
    // arriving docs screened (a) as three 2-doc stream triggers, (b) as
    // one batch carved into 3 id-hash slices (minhashSearch's sliced
    // screen, reached through a 3-doc scratch bound), and (c) as the
    // one-shot batch screen must produce bit-equal (id_new, id_ref,
    // est_jaccard) rows. est_jaccard is integer slot-count arithmetic /
    // numHashes, so equality is exact, not approximate.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    val ref = (0L until 6L).map { i =>
      (i, s"family ${i % 2} shares this long sentence body with trailing " +
        s"words common to the group variant ${i % 3}")
    }.toDF("doc_id", "text")
    val idx = graft.dedup.Dedup.minhashIndex(ref, "doc_id", "text",
      numHashes = 64, bands = 16).persist()
    def arriving(id: Long) =
      if (id % 5 == 4) (new Timestamp(base + id), id,
        s"completely unrelated text number $id with its own words")
      else (new Timestamp(base + id),
        id, s"family ${id % 2} shares this long sentence body with trailing " +
          s"words common to the group variant ${id % 3} now")
    val ids = (100L until 106L)
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.streamingMinhashIndexScreen(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text", idx)
    val q = out.writeStream.format("memory")
      .queryName("idxscreen_parity_test").outputMode("append").start()
    // three triggers of two docs — each micro-batch is one "chunk"
    ids.grouped(2).foreach { g =>
      mem.addData(g.map(arriving): _*)
      q.processAllAvailable()
    }
    val streamed = spark.sql(
      "select id_new, id_ref, est_jaccard from idxscreen_parity_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    q.stop()
    val batchDf = ids.map(i => (i, arriving(i)._3)).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("est_jaccard") >= 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    val oneShot = rows(graft.dedup.Dedup.minhashSearch(idx, batchDf, "doc_id", "text"))
    // 6 docs under a 3-doc bound → ⌊6/3⌋ + 1 = 3 id-hash slices
    val chunked = rows(graft.dedup.Dedup.screenBounds.withValue(
      graft.dedup.Dedup.ScreenBounds(
        scratchBytes = 3L * graft.dedup.Dedup.ScreenScratchBytesPerDoc))(
      graft.dedup.Dedup.minhashSearch(idx, batchDf, "doc_id", "text")))
    idx.release()
    assert(streamed.nonEmpty)
    assert(chunked == oneShot, s"chunked diverged:\n$chunked\nvs\n$oneShot")
    assert(streamed == oneShot, s"streamed diverged:\n$streamed\nvs\n$oneShot")
  }

  test("streaming paragraph dedup ≡ batch dedupParagraphs (doc-order arrival)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def page(id: Long): (Long, String) = {
      val promo = if (id % 3 == 0) "recurring promo block" else s"body $id middle"
      (id, s"shared header line\nunique lead $id\n$promo\n\nclosing $id words")
    }
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingDedupParagraphs(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory")
      .queryName("paradedup_stream_test").outputMode("append").start()
    // arrival order == doc order, so streaming first-wins must equal the
    // batch operator's global min-(doc,pos) winner rule; the shared
    // header and the %3 promo recur ACROSS the batch cut
    mem.addData(page(0), page(1), page(2))
    q.processAllAvailable()
    mem.addData(page(3), page(4), page(5))
    q.processAllAvailable()
    val got = spark.sql("select * from paradedup_stream_test").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(3)).toMap
    q.stop()
    val batch = graft.dedup.Dedup.dedupParagraphs(
      (0L until 6L).map(page).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap // id -> n_removed
    // per-page removed counts agree with the batch operator
    val gotRemoved = got.groupBy(_._1._1)
      .map { case (id, m) => id -> m.count(!_._2).toLong }
    assert(gotRemoved == batch, s"$gotRemoved vs $batch")
    // the cross-batch copies really were adjudicated against state:
    // doc 3's header (pos 0) and promo (pos 2, first seen on doc 0)
    // arrive in batch 2 and must both be removed
    assert(!got((3L, 0)) && !got((3L, 2)))
    // empty paragraph (pos 3) is exempt everywhere
    assert((0L until 6L).forall(id => got((id, 3))))
  }

  test("streaming paragraph dedup under SHUFFLED arrival: one keeper per " +
      "paragraph always; winner = first-ARRIVAL batch (documented)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def page(id: Long): (Long, String) = {
      val promo = if (id % 3 == 0) "recurring promo block" else s"body $id middle"
      (id, s"shared header line\nunique lead $id\n$promo\n\nclosing $id words")
    }
    // REVERSED arrival: docs 3..5 land a micro-batch before docs 0..2.
    // The operator's contract is ARRIVAL-order first-wins (state is keyed
    // on fingerprint with no event time), so the header/promo keepers
    // move to doc 3 — NOT the batch operator's min-doc winner (doc 0).
    // What must hold under ANY arrival order is the dedup INVARIANT:
    // exactly one keeper per distinct adjudicated paragraph.
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingDedupParagraphs(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory")
      .queryName("paradedup_ooo_test").outputMode("append").start()
    mem.addData(page(3), page(4), page(5))
    q.processAllAvailable()
    mem.addData(page(0), page(1), page(2))
    q.processAllAvailable()
    val rows = spark.sql("select * from paradedup_ooo_test").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getBoolean(3)))
    q.stop()
    // every row adjudicated exactly once
    assert(rows.length == 6 * 5, rows.length.toString)
    // invariant: per distinct non-exempt paragraph TEXT, exactly 1 keeper
    val byText = rows.filter(_._3.trim.nonEmpty).groupBy(_._3)
    byText.foreach { case (p, rs) =>
      assert(rs.count(_._4) == 1, s"paragraph '$p': ${rs.count(_._4)} keepers")
    }
    // documented arrival-order semantics: the batch-1 min-(doc,pos) doc 3
    // owns the shared header and the promo; doc 0's copies are removed
    val got = rows.map(r => (r._1, r._2) -> r._4).toMap
    assert(got((3L, 0)) && got((3L, 2)), "doc 3 arrived first: it keeps")
    assert(!got((0L, 0)) && !got((0L, 2)),
      "doc 0 arrived later: its header/promo copies are removed")
    // exempt empties keep everywhere regardless of order
    assert((0L until 6L).forall(id => got((id, 3))))
  }

  test("streaming index screen: out-of-order arrival inside the watermark " +
      "screens and dedupes; beyond-watermark late rows are DROPPED (documented)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // 2024-01-01 00:00:00 UTC
    val hour = 3600L * 1000
    val ref = (0L until 4L).map { i =>
      (i, s"family shared long sentence body with trailing words common " +
        s"to the reference group variant ${i % 2}")
    }.toDF("doc_id", "text")
    val idx = graft.dedup.Dedup.minhashIndex(ref, "doc_id", "text",
      numHashes = 64, bands = 16).persist()
    def near(id: Long, ts: Long) = (new Timestamp(ts), id,
      s"family shared long sentence body with trailing words common " +
        s"to the reference group variant ${id % 2} now")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.streamingMinhashIndexScreen(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text", idx)
    val q = out.writeStream.format("memory")
      .queryName("idxscreen_ooo_test").outputMode("append").start()
    // batch 1 at T+30min advances the watermark to ~T-30min
    mem.addData(near(100, base + hour / 2))
    q.processAllAvailable()
    // batch 2: doc 101 arrives OUT OF ORDER at T (older than doc 100 but
    // inside the 1h horizon) — the stream-static join is stateless per
    // row, so it screens normally; doc 100 RE-ARRIVES inside the
    // watermark — dropDuplicatesWithinWatermark suppresses re-emission
    mem.addData(near(101, base), near(100, base + hour / 2 + 60000))
    q.processAllAvailable()
    val afterB2 = spark.sql(
      "select id_new, id_ref from idxscreen_ooo_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(afterB2.count(_._1 == 101L) > 0, "in-horizon late row must screen")
    assert(afterB2.nonEmpty &&
      afterB2.groupBy(identity).forall(_._2.size == 1),
      s"within-watermark re-arrival must not re-emit: $afterB2")
    // batch 3 at T+3h pushes the watermark to T+2h; batch 4's doc 102 at
    // T is now BEYOND the watermark: the stateful dedup drops it before
    // the sink — the documented late-data contract of the screen (screen
    // re-runs for takedown-late docs go through the batch minhashSearch)
    mem.addData(near(103, base + 3 * hour))
    q.processAllAvailable()
    mem.addData(near(102, base))
    q.processAllAvailable()
    val idNews = spark.sql("select id_new from idxscreen_ooo_test").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    idx.release()
    assert(idNews.contains(103L))
    assert(!idNews.contains(102L),
      "beyond-watermark rows are dropped by the stateful dedup (documented)")
  }

  test("streaming canonical keep: 3-doc cluster across micro-batches -> one survivor (batch min-id rule)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    val clusterText = "the quick brown fox jumps over the lazy dog near the river bank"
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.streamingCanonicalKeep(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text")
    val q = out.writeStream.format("memory")
      .queryName("keep_test").outputMode("update").start()
    // the cluster arrives over three micro-batches, min id in the MIDDLE
    // batch — the survivor must still be the batch canonical (min id 7)
    mem.addData((new Timestamp(base), 10L, clusterText))
    q.processAllAvailable()
    mem.addData((new Timestamp(base + 1000), 7L, clusterText),
      (new Timestamp(base + 1500), 50L, "an unrelated singleton document about compilers"))
    q.processAllAvailable()
    mem.addData((new Timestamp(base + 2000), 23L, clusterText))
    q.processAllAvailable()
    // emissions per bucket are strictly decreasing → final canonical per
    // bucket = MIN over emissions; survivors = distinct final canonicals
    val survivors = spark.sql(
      "select distinct m from (select bucket, min(canonicalId) m " +
        "from keep_test group by bucket)").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(survivors == Set(7L, 50L), s"survivors: $survivors")
  }

  test("two-band split chain: per-bucket tier keeps extras (documented), compaction collapses to one") {
    import graft.dedup.Dedup
    import graft.text.TextFunctions
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val numHashes = 8; val bands = 4
    // find a chain triple under THE REAL HASHES: variants a, c of a base
    // text such that a and c each share a band bucket with base but none
    // with each other — the exact shape the keep tier's scaladoc descopes
    val baseWords = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon").split(" ")
    val baseText = baseWords.mkString(" ")
    val mutations = Seq("phi", "chi", "psi", "omega", "red", "blue", "green",
      "gold", "iron", "salt", "wolf", "hawk", "fern", "moss", "rain", "snow",
      "dusk", "dawn", "tide", "flame", "stone", "cloud", "ember", "frost")
    // variants at graded edit strength: replace 1–3 words at varying
    // positions — enough signature churn that some variants overlap the
    // base in SOME bands only
    val cands = baseText +: (for {
      (w, wi) <- mutations.zipWithIndex
      k <- 1 to 3
    } yield baseWords.indices.map(i =>
      if (i % 7 == wi % 7 && i / 7 < k) s"$w$i" else baseWords(i)).mkString(" "))
    val params = Dedup.minhashParams(numHashes)
    val bk = spark.createDataset(cands.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("i", "text")
      .select(col("i"), Dedup.lshBandKeys(
        Dedup.minhashSignature(TextFunctions.shingleHashes(col("text"), 3), params),
        bands, numHashes / bands).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val chain = (for {
      a <- 1 until cands.length; c <- (a + 1) until cands.length
      if (bk(a) & bk(0)).nonEmpty && (bk(c) & bk(0)).nonEmpty &&
        (bk(a) & bk(c)).isEmpty && bk(a) != bk(0) && bk(c) != bk(0)
    } yield (a, c)).headOption
    assert(chain.isDefined, "no band-disjoint chain triple among candidates")
    val (ai, ci) = chain.get
    val docs = Seq((1L, cands(0)), (2L, cands(ai)), (3L, cands(ci)))

    // incremental tier: the transitive cluster {1,2,3} keeps MORE than
    // one survivor — each variant owns band buckets the base is not in,
    // so its own min survives there (the documented divergence)
    val base = 1704067200000L
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.streamingCanonicalKeep(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
      numHashes = numHashes, bands = bands)
    val q = out.writeStream.format("memory")
      .queryName("split_keep").outputMode("update").start()
    docs.zipWithIndex.foreach { case ((id, t), k) =>
      mem.addData((new Timestamp(base + k * 1000), id, t)); q.processAllAvailable()
    }
    val streamSurvivors = spark.sql(
      "select distinct m from (select bucket, min(canonicalId) m " +
        "from split_keep group by bucket)").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(streamSurvivors == Set(1L, 2L, 3L), s"got: $streamSurvivors")

    // compaction pass over the accumulated candidate-pair store (the
    // band tier pairs 1~2 and 1~3, never 2~3): transitive closure
    // collapses the chain to the ONE batch survivor
    val pairs = Dedup.minhashCandidates(docs.toDF("doc_id", "text"),
      "doc_id", "text", numHashes = numHashes, bands = bands)
    val pairSet = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == Set((1L, 2L), (1L, 3L)), s"pairs: $pairSet")
    val compacted = StreamingOps.compactKeepDecisions(pairs)
    val kept = compacted.filter(col("keep")).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"compacted survivors: $kept")
    assert(compacted.collect().forall(_.getLong(1) == 1L)) // one component

    // ... and the same compaction RUNNING INSIDE THE STREAMING LOOP
    // (r6 task 6): candidate pairs stream through the foreachBatch sink,
    // the store accumulates across micro-batches, and the periodic tick
    // visibly corrects the divergent incremental keep set to {1}
    val store = java.nio.file.Files
      .createTempDirectory("graft-pairstore").toString + "/pairs"
    @volatile var lastKeep: Set[Long] = Set.empty
    @volatile var ticks = 0
    val mem2 = MemoryStream[(Timestamp, Long, String)]
    val pairStream = StreamingOps.streamingMinhashCandidates(
      mem2.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
      numHashes = numHashes, bands = bands)
    val q2 = StreamingOps.compactingPairSink(pairStream, store,
      compactEvery = 1, compacted => {
        lastKeep = compacted.filter(col("keep")).select("id")
          .collect().map(_.getLong(0)).toSet
        ticks += 1
      }).start()
    docs.zipWithIndex.foreach { case ((id, t), k) =>
      mem2.addData((new Timestamp(base + k * 1000), id, t)); q2.processAllAvailable()
    }
    q2.stop()
    assert(ticks >= 2, s"compaction ticks: $ticks")
    // after the last in-loop tick the chain is one component, one survivor
    assert(lastKeep == Set(1L), s"in-loop compacted survivors: $lastKeep")
    val storeRows = spark.read.parquet(store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(storeRows == Set((1L, 2L), (1L, 3L)), s"store: $storeRows")

    // banding guard: bands must divide numHashes (no silent truncation)
    intercept[IllegalArgumentException] {
      StreamingOps.streamingCanonicalKeep(
        mem.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
        numHashes = 10, bands = 4)
    }
  }
}
