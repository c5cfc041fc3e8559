package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Multimodal
import graft.streaming.StreamingAgg

class MultimodalStreamingSpec extends SparkSuite {
  import spark.implicits._

  test("multimodal: payload + typed metadata, per-partition decode, " +
      "frame sampling") {
    val docs = spark.read.parquet(sf() + "/documents.parquet").limit(50)
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema("payload").dataType.typeName === "binary")
    assert(media.schema("meta").dataType.typeName === "struct")
    val decoded = Multimodal.decodeAndFeaturize(media)
    assert(decoded.schema === Multimodal.decodedSchema)
    val d0 = decoded.orderBy($"media_id").collect()(0)
    assert(d0.getInt(1) >= 1 && d0.getInt(1) <= 640) // width
    assert(d0.getSeq[Float](4).length === 8)          // features
    // metadata-only projection never deserializes the payload
    val metaOnly = media.select($"media_id", $"meta.n_bytes")
    assert(metaOnly.count() === 50)
    val frames = Multimodal.sampleFrames(decoded, 5)
    val f = frames.groupBy($"media_id").agg(count(lit(1)).as("n"),
      max($"frame_idx").as("mx")).collect()
    assert(f.forall(r => r.getLong(1) >= 1))
    assert(frames.where($"frame_idx" % 5 =!= 0).count() === 0)
  }

  test("streaming document dedup drops watermark-window duplicates by " +
      "content fingerprint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ddup").toString
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val q = graft.streaming.StreamingAgg
      .dedupDocumentsStream(docs, "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(Seq(
      (t("2024-01-01 10:00:00"), 1L, "same   TEXT here"),
      (t("2024-01-01 10:05:00"), 2L, "same text HERE"), // dup (normalized)
      (t("2024-01-01 10:06:00"), 3L, "different text")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L))
  }

  test("corpus-prep operators compose unchanged onto a stream " +
      "(stateless projections: mix + split + token count + quality)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Sharding, TextAnalysis}
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("prep").toString
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "lang", "text")
    // the same operator calls as the batch queries — no streaming
    // variants needed because mixing/splitting/counting are per-row
    val prepped = Sharding.hashSplit(
      Sharding.stratifiedSample(docs, col("lang"), Map("en" -> 0.5)))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
    val q = prepped.writeStream.outputMode("append")
      .format("memory").queryName("prep_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    input.addData((1L to 200L).map(i =>
      (i, if (i % 2 == 0) "en" else "de", s"doc number $i words")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("prep_out")
    // de: default fraction 1.0 → all 100 survive; en: ~half
    assert(out.where($"lang" === "de").count() === 100L)
    val en = out.where($"lang" === "en").count()
    assert(en > 20 && en < 80, s"en kept $en")
    assert(out.where($"n_tokens" =!= 4).count() === 0)
    assert(out.select($"split").distinct().count() >= 2)
    // and membership matches the batch run exactly (determinism
    // across execution modes)
    val batch = Sharding.stratifiedSample(
      (1L to 200L).map(i =>
        (i, if (i % 2 == 0) "en" else "de", s"doc number $i words"))
        .toDF("doc_id", "lang", "text"),
      col("lang"), Map("en" -> 0.5))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(out.select($"doc_id").collect().map(_.getLong(0)).toSet
      === batch)
  }

  test("streaming flagship: watermarked dedup+count equals the batch " +
      "result, late duplicates collapse, windows close as the watermark " +
      "advances") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("stream").toString
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val stream = input.toDF().toDF("ts", "user_id", "event_type")
    val agg = StreamingAgg.distinctDailyCounts(stream, "1 day")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("stream_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: day-1 events incl. a same-user duplicate, plus one day-2 row
    input.addData(Seq(
      (t("2024-01-01 01:00:00"), 1L, "click"),
      (t("2024-01-01 02:00:00"), 1L, "click"), // dedup within (day,user,type)
      (t("2024-01-01 03:00:00"), 2L, "click"),
      (t("2024-01-02 01:00:00"), 1L, "view")))
    q.processAllAvailable()
    // batches 2-3: advance event time so the watermark passes both windows
    input.addData(Seq((t("2024-01-05 00:00:00"), 9L, "noise")))
    q.processAllAvailable()
    input.addData(Seq((t("2024-01-07 00:00:00"), 9L, "noise")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_out")
      .where($"event_type" =!= "noise") // watermark-advancer rows
      .orderBy($"day", $"event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2))).toSeq
    assert(got === Seq(
      ("2024-01-01 00:00:00.0", "click", 2L),
      ("2024-01-02 00:00:00.0", "view", 1L)))
  }

  test("streaming incremental text near-dup: an edited dup of an INDEXED " +
      "doc drops mid-stream, and a batch's survivor joins the minhash " +
      "index in time to catch the NEXT batch's dup of it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val textC = "completely different words about spark query engines " +
      "and distributed joins running on large clusters of machines"
    val textD = "yet another unrelated document discussing minhash " +
      "banding signatures buckets and locality sensitive hashing"
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_streamtext").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_streamtextck").toString
    // small signature geometry (8 hashes / 4 bands): the probe and
    // append plans' codegen width follows the STORED params, and this
    // test pays that codegen per micro-batch (streaming re-plans) —
    // recall at these sizes is still far above what the two planted
    // near-dup pairs need
    graft.operators.Dedup.writeMinhashIndex(
      Seq((1L, textA)).toDF("doc_id", "text"), idxDir,
      numHashes = 8, bands = 4, bandBuckets = 8)

    // the per-trigger budget: a micro-batch is computed once. The
    // batch reaches foreachBatch as an RDD whose lineage runs the
    // fingerprint stage's stateful dedup (no physical plan downstream
    // names that operator), so the listener counts what the operator
    // does instead: each recomputation of the batch re-applies its
    // rows to the state store, and a batch computed once updates the
    // state once per distinct fingerprint fed. Plus a cap on the
    // stream's jobs.
    val stateUpdates = new java.util.concurrent.atomic.AtomicLong()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables
          .filter(_.name.contains("number of updated state rows"))
          .foreach(a => stateUpdates.addAndGet(
            a.update.fold(0L)(_.toString.toLong)))
    }
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    // the RDD ids of each trigger's materialized batch, seen from the
    // sink while the trigger runs
    val batchRdds = scala.collection.mutable.Map.empty[Long, Set[Int]]
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = StreamingAgg.dedupDocumentsStreamAgainstIndex(docs, idxDir,
          "1 hour", threshold = 0.5) { (survivors, id) =>
          batchRdds(id) = spark.sparkContext.getPersistentRDDs
            .collect { case (rid, r) if r.name == s"stream batch $id" => rid }
            .toSet
          got ++= survivors.select($"doc_id").collect().map(_.getLong(0))
        }
        .option("checkpointLocation", s"$ckpt/ckpt")
        .start()
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // batch 1: an EDITED copy of the indexed doc (not byte-equal, so
      // the fingerprint stage cannot catch it) drops; novel C survives
      input.addData(Seq(
        (t("2024-01-01 10:00:00"), 10L, textA.replace("tonight", "today")),
        (t("2024-01-01 10:00:01"), 11L, textC)))
      q.processAllAvailable()
      // batch 2: an edited copy of C — indexed only MID-STREAM by batch
      // 1's append — drops; novel D survives
      input.addData(Seq(
        (t("2024-01-01 10:10:00"), 20L, textC.replace("machines", "hosts")),
        (t("2024-01-01 10:10:01"), 21L, textD)))
      q.processAllAvailable()
      q.stop()
      // events reach listeners in order: once a marker job's end is
      // seen, every earlier event has been
      val drained = new java.util.concurrent.CountDownLatch(1)
      val marker = new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          drained.countDown()
      }
      spark.sparkContext.addSparkListener(marker)
      try {
        spark.sparkContext.parallelize(Seq(1), 1).count()
        assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally spark.sparkContext.removeSparkListener(marker)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(got.toSet === Set(11L, 21L))
    assert(spark.read.parquet(s"$idxDir/shingles")
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
      === Set(1L, 11L, 21L))
    val triggers = batchRdds.size
    info(s"$triggers triggers, ${stateUpdates.get} state-row updates, " +
      s"${jobs.get} jobs")
    assert(triggers >= 2)
    // four rows fed, four distinct fingerprints
    assert(stateUpdates.get === 4L,
      s"${stateUpdates.get} state-row updates for 4 rows: a micro-batch " +
        "was recomputed")
    assert(jobs.get <= 160, s"${jobs.get} jobs")
    // each trigger held its batch's blocks while it ran and released
    // them when it ended
    assert(batchRdds.values.forall(_.nonEmpty), batchRdds.toString)
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(batchRdds.values.flatten.forall(r => !live.contains(r)),
      s"blocks still held: ${batchRdds.filter(_._2.exists(live))}")
  }

  test("streaming chunk cleaning: INDEXED boilerplate is stripped " +
      "mid-stream, a batch's chunks catch the NEXT batch's repeats, " +
      "exact dups drop in-stream, text_original kept only where " +
      "cleaning changed the text") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val novel = "one red two blue three green four yellow"
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_streamchunk").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_streamchunkck").toString
    graft.operators.Dedup.writeChunkIndex(
      Seq((1L, passage)).toDF("doc_id", "text"), idxDir,
      chunkTokens = 4, chunkBuckets = 8)

    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Int, Int, String)]
    val q = StreamingAgg.cleanChunksStreamAgainstIndex(docs, idxDir,
        "1 hour") { (out, _) =>
        got ++= out.select($"doc_id", $"text", $"n_chunks", $"n_kept",
            $"text_original").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
            r.getInt(3), r.getString(4)))
      }
      .option("checkpointLocation", s"$ckpt/ckpt")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: doc 10 = the INDEXED passage + a novel tail → only the
    // tail survives; doc 11 novel → untouched (text_original null)
    input.addData(Seq(
      (t("2024-01-01 10:00:00"), 10L, s"$passage nova mike oscar papa"),
      (t("2024-01-01 10:00:01"), 11L, novel)))
    q.processAllAvailable()
    // batch 2: doc 20 repeats doc 11's text — indexed only MID-STREAM
    // by batch 1's append — plus a fresh tail → only the tail survives;
    // doc 21 is a whitespace-variant EXACT dup of doc 11 → dropped by
    // the fingerprint stage, never reaches the sink or the index
    input.addData(Seq(
      (t("2024-01-01 10:10:00"), 20L, s"$novel final tango uniform victor"),
      (t("2024-01-01 10:10:01"), 21L, novel.toUpperCase
        .replace(" ", "   "))))
    q.processAllAvailable()
    q.stop()
    val byId = got.map(r => r._1 -> r).toMap
    assert(got.map(_._1).toSet === Set(10L, 11L, 20L))
    assert(byId(10L)._2 === "nova mike oscar papa")
    assert(byId(10L)._3 === 3 && byId(10L)._4 === 1)
    assert(byId(10L)._5 === s"$passage nova mike oscar papa")
    assert(byId(11L)._2 === novel)
    assert(byId(11L)._4 === byId(11L)._3)
    assert(byId(11L)._5 === null) // unchanged → no original kept
    assert(byId(20L)._2 === "final tango uniform victor")
    assert(byId(20L)._5 === s"$novel final tango uniform victor")
    // the watermark advanced with every append (monotone-id contract)
    assert(spark.read.parquet(s"$idxDir/params")
      .head().getAs[Long]("max_doc_id") === 20L)
  }

  test("streaming text near-dup replay: a re-run micro-batch emits the " +
      "same survivors instead of over-dropping against its own " +
      "appended rows") {
    val textA = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val textC = "completely different words about spark query engines " +
      "and distributed joins running on large clusters of machines"
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_textreplay").toString
    graft.operators.Dedup.writeMinhashIndex(
      Seq((1L, textA)).toDF("doc_id", "text"), idxDir,
      numHashes = 8, bands = 4, bandBuckets = 8)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // X (10) and Y (11) are within-batch near-dups (X survives as the
    // min id); a NAIVE replay would find X's appended rows in the
    // index, classify (X, Y) as a CROSS pair, and drop both
    val batch = Seq(
      (t("2024-01-01 10:00:00"), 10L, textC),
      (t("2024-01-01 10:00:01"), 11L, textC.replace("machines", "hosts")),
      (t("2024-01-01 10:00:02"), 12L, textA.replace("tonight", "today")))
      .toDF("ts", "doc_id", "text")
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def run(): Unit = StreamingAgg.processTextBatch(batch, idxDir,
      threshold = 0.5, appendSurvivors = true, batchId = 0L) {
      (out, _) => got += out.select($"doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    run()
    assert(got(0) === Set(10L)) // 11 within-dup of 10; 12 cross-dup of 1
    run() // replay
    assert(got(1) === got(0))
  }

  test("streaming chunk cleaning replay: a micro-batch re-run after its " +
      "append committed emits identical rows instead of wedging on the " +
      "watermark; committed stagings persist within the retention " +
      "window") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_chunkreplay").toString
    graft.operators.Dedup.writeChunkIndex(
      Seq((1L, passage)).toDF("doc_id", "text"), idxDir,
      chunkTokens = 4, chunkBuckets = 8)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val batch = Seq(
      (t("2024-01-01 10:00:00"), 10L, s"$passage nova mike oscar papa"))
      .toDF("ts", "doc_id", "text")
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingAgg.processChunkBatch(b, idxDir, appendBatch = true,
        batchId = id) { (out, _) =>
        got += out.orderBy($"doc_id").collect().map(_.toSeq).toSeq
      }
    run(batch, 0L)
    // the append advanced the watermark — a NAIVE re-probe would now
    // refuse (monotone check) or wrongly clean everything; the replay
    // path must re-emit the STAGED rows instead
    assert(spark.read.parquet(s"$idxDir/params")
      .head().getAs[Long]("max_doc_id") === 10L)
    run(batch, 0L) // foreachBatch replay: same data, same batch id
    assert(got.size === 2)
    assert(got(0) === got(1))
    assert(got(0).head(2) === "nova mike oscar papa") // cleaned text col
    // the retried append's duplicate rows are the documented price —
    // compaction reclaims them and the next batch proceeds normally
    val chunks = spark.read.parquet(s"$idxDir/chunks")
    assert(chunks.count() > chunks.distinct().count())
    graft.operators.Dedup.compactIndex(spark, idxDir)
    run(Seq((t("2024-01-01 10:10:00"), 20L,
        s"$passage final tango uniform victor"))
      .toDF("ts", "doc_id", "text"), 1L)
    assert(got(2).head(2) === "final tango uniform victor")
    // batch 0's staging SURVIVES batch 1 (retention window), committed
    val stream = new java.io.File(s"$idxDir/stream_out")
    assert(stream.listFiles().map(_.getName).toSet ===
      Set("batch_0", "batch_1"))
    assert(new java.io.File(s"$idxDir/stream_out/batch_0/_COMMIT")
      .exists())
  }

  test("commit retention window: a batch replayed AFTER a later batch " +
      "committed re-emits its committed rows; a replay from beyond the " +
      "window refuses loudly; a marker-less partial staging is " +
      "recomputed, not trusted") {
    val textA = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    def doc(i: Long) = s"wholly distinct micro batch document number " +
      s"$i about topic $i with unique vocabulary item$i and token$i"
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_window").toString
    graft.operators.Dedup.writeMinhashIndex(
      Seq((1L, textA)).toDF("doc_id", "text"), idxDir,
      numHashes = 8, bands = 4, bandBuckets = 8)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def batchOf(id: Long) = Seq((t("2024-01-01 10:00:00"), 100L + id,
      doc(id))).toDF("ts", "doc_id", "text")
    val got = scala.collection.mutable.Map.empty[Long, Set[Long]]
    def run(id: Long): Unit = StreamingAgg.processTextBatch(batchOf(id),
      idxDir, threshold = 0.5, appendSurvivors = true, batchId = id) {
      (out, _) => got(id) = out.select($"doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    (0L to 4L).foreach(run)
    assert(got(0L) === Set(100L))
    // batch 2 is inside the keep-3 window after batch 4: replay
    // re-emits the committed rows (the probe is NOT recomputed against
    // the five appends that followed)
    val before2 = got(2L)
    run(2L)
    assert(got(2L) === before2)
    // batch 0 fell out of the window: its staging is gone and a replay
    // must refuse, not recompute against the mutated index
    assert(!new java.io.File(s"$idxDir/stream_out/batch_0").exists())
    val e = intercept[IllegalArgumentException] { run(0L) }
    assert(e.getMessage.contains("retention window") ||
      e.getMessage.contains("stream_out"))
    // a marker-less batch dir (crash mid-rename on a copy+delete FS)
    // is swept and recomputed rather than read as a truncated answer
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$idxDir/stream_out/batch_4/_COMMIT"), false)
    val bandRows104 = () => spark.read.parquet(s"$idxDir/bands")
      .where($"doc_id" === 104L).count()
    val before104 = bandRows104()
    run(4L)
    // proof the recompute (not a staged read) ran: the append retried,
    // laying doc 104's band rows a second time (the families'
    // documented idempotent duplicate-row price), and the emitted rows
    // match (self-pairs are id-excluded, so this batch is benign)
    assert(bandRows104() === 2 * before104)
    assert(got(4L) === Set(104L))
    assert(new java.io.File(s"$idxDir/stream_out/batch_4/_COMMIT")
      .exists())
  }

  test("streaming incremental perceptual dedup: a re-encoded dup of an " +
      "INDEXED image drops mid-stream, and a batch's survivor joins the " +
      "index in time to catch the NEXT batch's dup of it") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(64, 48, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 64) img.setRGB(x, y, f(x, y))
      val out = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def resizedPng(src: Array[Byte]): Array[Byte] = {
      val img = ImageIO.read(new java.io.ByteArrayInputStream(src))
      val out = new BufferedImage(48, 36, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 48, 36, null)
      g.dispose()
      val bytes = new java.io.ByteArrayOutputStream()
      ImageIO.write(out, "png", bytes)
      bytes.toByteArray
    }
    def grey(v: Int) = {
      val c = v & 0xff; (c << 16) | (c << 8) | c
    }
    val imgA = png((x, y) => grey(x * 255 / 64 + y * 128 / 48 +
      (if (x > 32 && y < 12) -120 else 0)))        // gradient + block
    val imgC = png((x, y) => grey(255 - x * 255 / 64 - y * 128 / 48))
    val imgD = png((x, y) => grey((x / 8 + y / 8) % 2 * 200))
    // precondition: the three scenes are perceptually FAR apart (else
    // a cross-scene drop would be indistinguishable from the bridge
    // working) while each resize stays within the radius
    def dh(p: Array[Byte]) = Multimodal.ImageCodec
      .dhash64(Multimodal.ImageCodec.decode(p).get)
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (Seq(p, q) <- Seq(imgA, imgC, imgD).combinations(2))
      assert(dist(dh(p), dh(q)) > 10)
    assert(dist(dh(imgC), dh(resizedPng(imgC))) <= 10)

    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_streamidx").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_streamckpt").toString
    Multimodal.writeImageIndex(
      Seq((1L, imgA)).toDF("media_id", "payload"), idxDir,
      maxHamming = 10, pieceBuckets = 8)

    val input = MemoryStream[(java.sql.Timestamp, Long, Array[Byte])]
    val media = input.toDF().toDF("ts", "media_id", "payload")
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingAgg.dedupMediaStreamAgainstIndex(media, idxDir,
        "1 hour") { (survivors, _) =>
        got ++= survivors.select($"media_id").collect().map(_.getLong(0))
      }
      .option("checkpointLocation", s"$ckpt/ckpt")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: a RESIZED copy of the indexed image drops (perceptual,
    // not byte-equal — the fingerprint stage cannot catch it); novel C
    // survives and is appended
    input.addData(Seq(
      (t("2024-01-01 10:00:00"), 10L, resizedPng(imgA)),
      (t("2024-01-01 10:00:01"), 11L, imgC)))
    q.processAllAvailable()
    // batch 2: a resized copy of C — indexed only MID-STREAM by batch
    // 1's append — drops; novel D survives
    input.addData(Seq(
      (t("2024-01-01 10:10:00"), 20L, resizedPng(imgC)),
      (t("2024-01-01 10:10:01"), 21L, imgD)))
    q.processAllAvailable()
    q.stop()
    assert(got.toSet === Set(11L, 21L))
    // the index ended the run holding the original + both survivors
    val idxIds = spark.read.parquet(s"$idxDir/pieces")
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(idxIds === Set(1L, 11L, 21L))
  }

  test("streaming incremental semantic dedup: a paraphrase-vector of an " +
      "INDEXED embedding drops mid-stream, and a batch's survivor joins " +
      "the IVF index in time to catch the NEXT batch's near-dup of it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two frozen centroid directions; every vector sits near one of
    // them, so cell assignment under the STORED geometry is unambiguous
    val cents = Array(
      (0, Array(1f, 0f, 0f, 0f)),
      (1, Array(0f, 1f, 0f, 0f)))
    val vecA = Array(1f, 0.05f, 0f, 0f)        // cell 0 (indexed)
    val vecA2 = Array(1f, 0.08f, 0.02f, 0f)    // cos(A,A2) ~ 0.999
    val vecC = Array(0.05f, 1f, 0f, 0f)        // cell 1, novel
    val vecC2 = Array(0.08f, 1f, 0.02f, 0f)    // cos(C,C2) ~ 0.999
    val vecD = Array(0f, 0.7f, 0.7f, 0.1f)     // cell 1, cos(C,D) ~ 0.70
    // precondition: the three scenes are semantically FAR apart (else a
    // cross-scene drop would be indistinguishable from the bridge
    // working) while each paraphrase stays above the threshold
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      def n(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
      dot / (n(a) * n(b))
    }
    for (Seq(p, q) <- Seq(vecA, vecC, vecD).combinations(2))
      assert(cos(p, q) < 0.9)
    assert(cos(vecA, vecA2) > 0.95 && cos(vecC, vecC2) > 0.95)

    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_streamsem").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_streamsemck").toString
    Similarity.writeIvfIndex(
      Seq((1L, vecA.toSeq)).toDF("vec_id", "embedding")
        .select($"vec_id",
          $"embedding".cast("array<float>").as("embedding")),
      idxDir, cents)

    val input = MemoryStream[(java.sql.Timestamp, Long, Array[Float])]
    val vecs = input.toDF().toDF("ts", "vec_id", "embedding")
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingAgg.dedupEmbeddingsStreamAgainstIndex(vecs, idxDir,
        "1 hour", threshold = 0.95) { (survivors, _) =>
        got ++= survivors.select($"vec_id").collect().map(_.getLong(0))
      }
      .option("checkpointLocation", s"$ckpt/ckpt")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: a paraphrase of the indexed vector (not byte-equal, so
    // the fingerprint stage cannot catch it) drops; novel C survives
    input.addData(Seq(
      (t("2024-01-01 10:00:00"), 10L, vecA2),
      (t("2024-01-01 10:00:01"), 11L, vecC)))
    q.processAllAvailable()
    // batch 2: a paraphrase of C — indexed only MID-STREAM by batch 1's
    // append — drops; novel D survives
    input.addData(Seq(
      (t("2024-01-01 10:10:00"), 20L, vecC2),
      (t("2024-01-01 10:10:01"), 21L, vecD)))
    q.processAllAvailable()
    q.stop()
    assert(got.toSet === Set(11L, 21L))
    // the index ended the run holding the original + both survivors,
    // tagged under the STORED centroids (A in cell 0; C and D in cell 1)
    val cells = spark.read.parquet(s"$idxDir/cells")
      .select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cells === Set((1L, 0), (11L, 1), (21L, 1)))
  }

  test("stream identity: a DIFFERENT streaming query over a used " +
      "stream_out/ refuses even when its batch id collides with a " +
      "still-retained COMMITTED batch; the same query replays fine") {
    val textA = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_streamid").toString
    graft.operators.Dedup.writeMinhashIndex(
      Seq((1L, textA)).toDF("doc_id", "text"), idxDir,
      numHashes = 8, bands = 4, bandBuckets = 8)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val batch = Seq((t("2024-01-01 10:00:00"), 10L,
      "wholly novel vocabulary about container orchestration layers"))
      .toDF("ts", "doc_id", "text")
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def run(id: Long): Unit = StreamingAgg.processTextBatch(batch,
      idxDir, threshold = 0.5, appendSurvivors = true, batchId = id) {
      (out, _) => got += out.select($"doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    val key = "sql.streaming.queryId"
    try {
      // stream A runs batch 0 (stamps its id) and replays it fine
      spark.sparkContext.setLocalProperty(key, "query-A")
      run(0L)
      assert(new java.io.File(s"$idxDir/stream_out/_STREAM_ID").exists())
      assert(new java.io.File(s"$idxDir/stream_out/batch_0/_COMMIT")
        .exists())
      run(0L)
      assert(got(1) === got(0))
      // stream B (fresh checkpoint, ids restart at 0): batch 0 COLLIDES
      // with A's committed batch_0 — without the identity stamp this
      // silently re-emitted A's rows and dropped B's batch
      spark.sparkContext.setLocalProperty(key, "query-B")
      val e = intercept[IllegalArgumentException] { run(0L) }
      assert(e.getMessage.contains("query-A") &&
        e.getMessage.contains("query-B"))
      assert(got.size === 2) // nothing emitted for stream B
    } finally spark.sparkContext.setLocalProperty(key, null)
  }

  test("streaming benchmark screen: an INDEXED eval n-gram flags a " +
      "streamed doc mid-stream with q101's exact columns; a suite " +
      "adopted mid-stream flags the NEXT batch; probe-only — no " +
      "stream_out, no lease") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evalText = "which planet is closest to the sun in our solar " +
      "system according to astronomers"
    val lateEval = "name the largest ocean on earth by surface area " +
      "measured in square kilometers"
    val clean = "wholly unrelated prose about compilers lexers parsers " +
      "and abstract syntax trees in language tooling"
    val benchDir = java.nio.file.Files
      .createTempDirectory("graft_streambench").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_streambenchck").toString
    graft.operators.Dedup.writeBenchmarkIndex(
      Seq((1L, evalText)).toDF("doc_id", "text"), benchDir,
      hashBuckets = 8)
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val got = scala.collection.mutable.Map.empty[Long,
      org.apache.spark.sql.DataFrame]
    val q = StreamingAgg.screenStreamAgainstBenchmark(docs, benchDir) {
        (out, id) => got(id) = out.persist()
      }
      .option("checkpointLocation", s"$ckpt/ckpt")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 0: doc 10 quotes the indexed eval question inside novel
    // framing; doc 11 is clean; doc 12 quotes the NOT-YET-adopted one
    val b0 = Seq(
      (t("2024-01-01 10:00:00"), 10L,
        s"the exam asked $evalText and the student answered mercury"),
      (t("2024-01-01 10:00:01"), 11L, clean),
      (t("2024-01-01 10:00:02"), 12L,
        s"quiz preview $lateEval said the teacher"))
    input.addData(b0)
    q.processAllAvailable()
    // mid-stream eval-suite adoption (the offline index-benchmark
    // entry): params are append-invariant (the cached read stays
    // valid by construction) and hashes/ is re-scanned per batch, so
    // the adopted set screens the NEXT batch without a stream restart
    graft.operators.Dedup.writeBenchmarkIndex(
      Seq((2L, lateEval)).toDF("doc_id", "text"), benchDir,
      hashBuckets = 8, mode = "append")
    input.addData(Seq((t("2024-01-01 10:10:00"), 20L,
      s"second sighting $lateEval end of quote")))
    q.processAllAvailable()
    q.stop()
    // flags: indexed n-grams hit, clean doc reports zero
    def frac(id: Long, doc: Long) = got(id)
      .where($"doc_id" === doc).select($"contaminated_frac")
      .head().getDouble(0)
    assert(frac(0L, 10L) > 0.0 && frac(0L, 11L) === 0.0)
    assert(frac(1L, 20L) > 0.0) // the mid-stream-adopted suite caught it
    // q101's exact shape and values: the streamed batch's report
    // equals the batch screen over the same rows and suite
    val batchScreen = graft.operators.Dedup
      .contaminationScreenAgainstIndex(spark,
        b0.toDF("ts", "doc_id", "text").select($"doc_id", $"text"),
        benchDir)
    val streamed = got(0L).select($"doc_id", $"n_shingles",
      $"n_contaminated", $"contaminated_frac")
    assert(streamed.columns.toSeq ===
      Seq("doc_id", "n_shingles", "n_contaminated", "contaminated_frac"))
    assert(streamed.exceptAll(batchScreen).isEmpty &&
      batchScreen.exceptAll(streamed).isEmpty)
    // the streamed rows carry the input columns alongside the report
    assert(got(0L).columns.toSet ===
      Set("ts", "doc_id", "text", "n_shingles", "n_contaminated",
        "contaminated_frac"))
    // probe-only: the bridge staged nothing and leased nothing
    assert(!new java.io.File(s"$benchDir/stream_out").exists())
    assert(!new java.io.File(s"$benchDir/_LEASE").exists())
    got.values.foreach(_.unpersist())
    // empty maintenance batch: schema preserved, no probe jobs
    var emptyCols: Seq[String] = Nil
    StreamingAgg.processScreenBatch(
      Seq.empty[(java.sql.Timestamp, Long, String)]
        .toDF("ts", "doc_id", "text"), benchDir, 99L) {
      (out, _) => emptyCols = out.columns.toSeq; assert(out.isEmpty)
    }
    assert(emptyCols === Seq("ts", "doc_id", "text", "n_shingles",
      "n_contaminated", "contaminated_frac"))
  }

  test("streaming semantic screen: a paraphrase-class vector flags " +
      "mid-stream with q115's exact columns; an eval set adopted " +
      "mid-stream flags the NEXT batch; probe-only and stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dirA = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f).toSeq
    val dirB = Array.tabulate(8)(i => if (i == 3) 1.0f else 0.0f).toSeq
    val dirC = Array.tabulate(8)(i => if (i == 6) 1.0f else 0.0f).toSeq
    val evalDir = java.nio.file.Files
      .createTempDirectory("graft_streamsem").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_streamsemck").toString
    def ev(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "emb")
      .select($"vec_id", $"emb".cast("array<float>").as("embedding"))
    ev(Seq((900L, dirA))).write.mode("overwrite").parquet(evalDir)
    val input = MemoryStream[(java.sql.Timestamp, Long, Seq[Float])]
    val vecs = input.toDF().toDF("ts", "vec_id", "embedding")
      .select($"ts", $"vec_id",
        $"embedding".cast("array<float>").as("embedding"))
    // COLLECT each batch's report inside its trigger: the screen reads
    // evalDir lazily and this test adopts a new eval set mid-stream —
    // a kept DataFrame (even persisted) can recompute against the
    // grown suite at assertion time, which is the bridge's documented
    // replay semantics, not what a mid-run assertion wants
    val got = scala.collection.mutable.Map.empty[Long,
      (Seq[String], Seq[org.apache.spark.sql.Row])]
    val q = StreamingAgg.screenStreamSemantic(vecs, evalDir,
        threshold = 0.9) { (out, id) =>
        got(id) = (out.columns.toSeq, out.collect().toSeq) }
      .option("checkpointLocation", s"$ckpt/ckpt")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 0: vec 10 sits in eval 900's neighborhood (the paraphrase
    // class — no shared n-grams, same embedding direction); vec 11 is
    // orthogonal to the whole suite; vec 12's direction is only in the
    // NOT-YET-adopted eval set
    input.addData(Seq(
      (t("2024-01-01 10:00:00"), 10L, dirA),
      (t("2024-01-01 10:00:01"), 11L, dirB),
      (t("2024-01-01 10:00:02"), 12L, dirC)))
    q.processAllAvailable()
    // mid-stream eval adoption: the suite is the dir's files, re-read
    // per batch — new eval vectors screen the NEXT batch, no restart
    ev(Seq((901L, dirC))).write.mode("append").parquet(evalDir)
    input.addData(Seq((t("2024-01-01 10:10:00"), 20L, dirC)))
    q.processAllAvailable()
    q.stop()
    def field[T](id: Long, vec: Long, name: String): T = {
      val (cols, rows) = got(id)
      rows.find(_.getLong(cols.indexOf("vec_id")) == vec).get
        .getAs[T](cols.indexOf(name))
    }
    def flagged(id: Long, vec: Long): Boolean =
      field[Boolean](id, vec, "contaminated")
    assert(flagged(0L, 10L) &&
      field[Long](0L, 10L, "nearest_eval_id") === 900L)
    assert(!flagged(0L, 11L))
    assert(!flagged(0L, 12L)) // suite didn't hold dirC yet
    assert(flagged(1L, 20L) &&
      field[Long](1L, 20L, "nearest_eval_id") === 901L)
    // q115's exact shape and values: the streamed batch's report
    // equals the batch screen over the same rows and eval set
    val batchScreen = graft.operators.Dedup.semanticContaminationScreen(
        ev(Seq((10L, dirA), (11L, dirB), (12L, dirC))),
        ev(Seq((900L, dirA))), threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3))).toSet
    val (cols0, rows0) = got(0L)
    val streamed = rows0.map(r => (
      r.getLong(cols0.indexOf("vec_id")),
      r.getDouble(cols0.indexOf("max_cosine")),
      r.getLong(cols0.indexOf("nearest_eval_id")),
      r.getBoolean(cols0.indexOf("contaminated")))).toSet
    assert(streamed === batchScreen)
    // input columns ride alongside the report
    assert(cols0.toSet === Set("ts", "vec_id", "embedding",
      "max_cosine", "nearest_eval_id", "contaminated"))
    // probe-only and stateless: nothing staged, nothing leased
    assert(!new java.io.File(s"$evalDir/stream_out").exists())
    assert(!new java.io.File(s"$evalDir/_LEASE").exists())
    // empty maintenance batch: schema preserved, no screen jobs
    var emptyCols: Seq[String] = Nil
    StreamingAgg.processSemanticScreenBatch(
      Seq.empty[(java.sql.Timestamp, Long, Seq[Float])]
        .toDF("ts", "vec_id", "embedding"), evalDir, 0.9, 99L) {
      (out, _) => emptyCols = out.columns.toSeq; assert(out.isEmpty)
    }
    assert(emptyCols === Seq("ts", "vec_id", "embedding",
      "max_cosine", "nearest_eval_id", "contaminated"))
    // an EXISTING-but-empty eval dir is the documented empty suite
    // (created ahead of the first adoption): rows screen unflagged
    // instead of the stream dying on schema inference
    val emptyEval = java.nio.file.Files
      .createTempDirectory("graft_streamsem_empty").toString
    var unflagged = 0L
    StreamingAgg.processSemanticScreenBatch(
      Seq((t("2024-01-01 11:00:00"), 30L, dirA))
        .toDF("ts", "vec_id", "embedding")
        .select($"ts", $"vec_id",
          $"embedding".cast("array<float>").as("embedding")),
      emptyEval, 0.9, 100L) { (out, _) =>
      val r = out.collect()
      unflagged = r.length.toLong
      assert(r.forall(!_.getAs[Boolean]("contaminated")))
      assert(r.forall(_.isNullAt(out.columns.indexOf("max_cosine"))))
    }
    assert(unflagged === 1L)
    // a MISSING dir refuses loudly — a misspelled path silently
    // screening against nothing would be the worse failure
    val e = intercept[IllegalArgumentException](
      StreamingAgg.processSemanticScreenBatch(
        Seq((t("2024-01-01 11:00:00"), 31L, dirA))
          .toDF("ts", "vec_id", "embedding")
          .select($"ts", $"vec_id",
            $"embedding".cast("array<float>").as("embedding")),
        s"$emptyEval/nope", 0.9, 101L) { (_, _) => () })
    assert(e.getMessage.contains("does not exist"))
  }

  test("params cache invalidates when a maintenance pass rewrites " +
      "params/ in the same JVM (stale geometry is never served)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pcache").toString
    var reads = 0
    def readOnce(): Integer = { reads += 1; Integer.valueOf(reads) }
    Seq((1, 2)).toDF("a", "b").write.parquet(s"$dir/params")
    val v1 = StreamingAgg.cachedMeta(spark, "t", dir)(readOnce())
    val v2 = StreamingAgg.cachedMeta(spark, "t", dir)(readOnce())
    assert(v1 === Integer.valueOf(1) && v2 === Integer.valueOf(1))
    // a rebuild rewrites params/ (fresh part-file names) — the stamp
    // changes and the cache re-reads instead of serving the dead index
    Seq((3, 4)).toDF("a", "b").write.mode("overwrite")
      .parquet(s"$dir/params")
    val v3 = StreamingAgg.cachedMeta(spark, "t", dir)(readOnce())
    assert(v3 === Integer.valueOf(2))
  }

  test("streaming quality scoring equals the batch scorer under the " +
      "stored model, keeps schema on empty batches, refuses a missing " +
      "or crashed model, and picks up a mid-stream retrain") {
    import graft.operators.QualityClassifier
    val model = java.nio.file.Files
      .createTempDirectory("graft_streamq").toString
    QualityClassifier.writeModel(spark,
      Seq(("alpha", 0.5), ("beta", -0.25)).toDF("token", "weight"),
      -0.125, model)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "alpha alpha beta"),
      (ts("2024-01-01 10:00:01"), 2L, "gamma delta"),
      (ts("2024-01-01 10:00:02"), 3L, ""))
      .toDF("ts", "doc_id", "text")
    var scored: Map[Long, Double] = Map.empty
    var cols: Seq[String] = Nil
    StreamingAgg.processQualityScoreBatch(batch, model, 0L) { (out, _) =>
      cols = out.columns.toSeq
      scored = out.collect()
        .map(r => r.getLong(cols.indexOf("doc_id")) ->
          r.getDouble(cols.indexOf("quality_prob"))).toMap
    }
    assert(cols.toSet === Set("ts", "doc_id", "text", "quality_prob"))
    val expect = QualityClassifier.score(
        batch.select($"doc_id", $"text"),
        Seq(("alpha", 0.5), ("beta", -0.25)).toDF("token", "weight"),
        -0.125)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored === expect)
    // token-free doc still scored (sigmoid(bias) completeness)
    assert(scored.contains(3L))
    // probe-only and stateless: nothing staged, nothing leased
    assert(!new java.io.File(s"$model/stream_out").exists())
    assert(!new java.io.File(s"$model/_LEASE").exists())
    // empty maintenance batch: schema preserved, no jobs
    StreamingAgg.processQualityScoreBatch(
      Seq.empty[(java.sql.Timestamp, Long, String)]
        .toDF("ts", "doc_id", "text"), model, 1L) { (out, _) =>
      assert(out.columns.toSet ===
        Set("ts", "doc_id", "text", "quality_prob"))
      assert(out.isEmpty)
    }
    // a missing model dir refuses on EVERY batch, empty included
    intercept[IllegalArgumentException] {
      StreamingAgg.processQualityScoreBatch(
        Seq.empty[(java.sql.Timestamp, Long, String)]
          .toDF("ts", "doc_id", "text"), s"$model/nope", 2L) {
        (_, _) => ()
      }
    }
    // a retrained model lands on the NEXT batch without a restart
    QualityClassifier.writeModel(spark,
      Seq(("alpha", 2.0)).toDF("token", "weight"), 0.0, model)
    StreamingAgg.processQualityScoreBatch(batch, model, 3L) { (out, _) =>
      val oc = out.columns.toSeq
      val m = out.collect().map(r => r.getLong(oc.indexOf("doc_id")) ->
        r.getDouble(oc.indexOf("quality_prob"))).toMap
      assert(m !== scored)
      // alpha-heavy doc under the new weights: sigmoid(2*2) ~ 0.982014
      assert(math.abs(m(1L) - 0.982014) < 1e-6)
    }
  }

  test("the chunk bridge under a LINE-rule index: an indexed footer " +
      "line is stripped mid-stream, the append folds the batch's " +
      "lines in under the stored rule, reassembly stays newline-joined") {
    import graft.operators.Dedup
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_streamline").toString
    Dedup.writeChunkIndexLines(
      Seq((1L, "standard boilerplate footer\nindexed body"))
        .toDF("doc_id", "text"), idxDir, chunkBuckets = 8)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq((ts("2024-01-01 10:00:00"), 10L,
        "fresh first line\nstandard boilerplate footer"))
      .toDF("ts", "doc_id", "text")
    var out1: Seq[(Long, String)] = Nil
    StreamingAgg.processChunkBatch(b1, idxDir, appendBatch = true, 0L) {
      (out, _) => out1 = out.select($"doc_id", $"text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    // the indexed footer dropped; the survivor is the fresh line only
    assert(out1 === Seq((10L, "fresh first line")))
    // the batch's lines folded in UNDER THE STORED LINE RULE: a later
    // batch repeating them dedups against the standing index
    val (rule, _, _, _) = Dedup.readChunkIndexParams(spark, idxDir)
    assert(rule === "line")
    val b2 = Seq((ts("2024-01-01 10:10:00"), 20L,
        "fresh first line\nbrand new second line\nanother one"))
      .toDF("ts", "doc_id", "text")
    var out2: Seq[(Long, String)] = Nil
    StreamingAgg.processChunkBatch(b2, idxDir, appendBatch = true, 1L) {
      (out, _) => out2 = out.select($"doc_id", $"text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    assert(out2 === Seq(
      (20L, "brand new second line\nanother one")))
  }

  test("streaming DSIR scoring equals the batch scorer under the " +
      "stored ratio table; empty batches keep schema; a missing model " +
      "refuses") {
    import graft.operators.Sharding
    val model = java.nio.file.Files
      .createTempDirectory("graft_streamdsir").toString
    val target = Seq((100L, "curated high quality prose"))
      .toDF("doc_id", "text")
    val raw = Seq((0L, "curated high quality prose"),
      (1L, "zzz qqq junk words")).toDF("doc_id", "text")
    Sharding.writeDsirModel(spark,
      Sharding.dsirWeights(target, raw, buckets = 32), 32, model)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "curated high quality prose"),
      (ts("2024-01-01 10:00:01"), 2L, "zzz qqq junk words"),
      (ts("2024-01-01 10:00:02"), 3L, ""))
      .toDF("ts", "doc_id", "text")
    var scored: Map[Long, (Long, Double)] = Map.empty
    StreamingAgg.processDsirScoreBatch(batch, model, 0L) { (out, _) =>
      val oc = out.columns.toSeq
      assert(oc.toSet === Set("ts", "doc_id", "text", "n_ngrams",
        "log_weight"))
      scored = out.collect().map(r => r.getLong(oc.indexOf("doc_id")) ->
        ((r.getLong(oc.indexOf("n_ngrams")),
          r.getDouble(oc.indexOf("log_weight"))))).toMap
    }
    val (w, b32) = Sharding.readDsirModel(spark, model)
    val expect = Sharding.dsirScore(
        batch.select($"doc_id", $"text"), w, b32)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(scored === expect)
    assert(scored(1L)._2 > scored(2L)._2) // target-like outweighs junk
    assert(scored(3L) === ((0L, 0.0)))    // token-free completeness
    // empty batch: schema preserved
    StreamingAgg.processDsirScoreBatch(
      Seq.empty[(java.sql.Timestamp, Long, String)]
        .toDF("ts", "doc_id", "text"), model, 1L) { (out, _) =>
      assert(out.columns.toSet === Set("ts", "doc_id", "text",
        "n_ngrams", "log_weight"))
      assert(out.isEmpty)
    }
    // a missing model refuses on every batch, empty included
    intercept[IllegalArgumentException] {
      StreamingAgg.processDsirScoreBatch(
        Seq.empty[(java.sql.Timestamp, Long, String)]
          .toDF("ts", "doc_id", "text"), s"$model/nope", 2L) {
        (_, _) => ()
      }
    }
  }

  test("streaming tokenize-at-ingest equals the batch id encoder " +
      "under the stored model; a retrain lands on the next trigger; " +
      "empty batches keep schema; missing and legacy models refuse") {
    import graft.operators.Bpe
    val modelDir = java.nio.file.Files
      .createTempDirectory("graft_streamenc").toString
    val trainDocs = Seq((0L, "low low lower newest"),
      (1L, "newest widest low")).toDF("doc_id", "text")
    val mA = Bpe.trainModel(trainDocs, numMerges = 6, maxTypes = 100)
    Bpe.writeModel(spark, mA, modelDir)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "low lower newest"),
      (ts("2024-01-01 10:00:01"), 2L, "widest low zow"),
      (ts("2024-01-01 10:00:02"), 3L, ""))
      .toDF("ts", "doc_id", "text")
    var got: Map[Long, Seq[Int]] = Map.empty
    StreamingAgg.processEncodeIdsBatch(batch, modelDir, 0L) { (out, _) =>
      assert(out.columns.toSet ===
        Set("ts", "doc_id", "text", "ids", "n_ids"))
      got = out.collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("ids").toSeq).toMap
    }
    val expect = Bpe.encodeIds(batch.select($"doc_id", $"text"), mA)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("ids").toSeq).toMap
    assert(got === expect)
    assert(got(3L) === Seq.empty)          // token-free completeness
    assert(got(2L).contains(0))            // OOV code point -> id 0
    // a season retrain lands MID-STREAM: the next trigger encodes
    // under the new model (re-read per trigger, never cached)
    val mB = Bpe.trainModel(
      Seq((0L, "zz zz zow zow low")).toDF("doc_id", "text"),
      numMerges = 4, maxTypes = 100)
    Bpe.writeModel(spark, mB, modelDir)
    var got2: Map[Long, Seq[Int]] = Map.empty
    StreamingAgg.processEncodeIdsBatch(batch, modelDir, 1L) { (out, _) =>
      got2 = out.collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("ids").toSeq).toMap
    }
    assert(got2 === Bpe.encodeIds(batch.select($"doc_id", $"text"), mB)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("ids").toSeq).toMap)
    assert(got2 !== got, "the retrain must be visible from the next " +
      "trigger on")
    // empty batch: schema preserved, no jobs
    StreamingAgg.processEncodeIdsBatch(
      Seq.empty[(java.sql.Timestamp, Long, String)]
        .toDF("ts", "doc_id", "text"), modelDir, 2L) { (out, _) =>
      assert(out.columns.toSet ===
        Set("ts", "doc_id", "text", "ids", "n_ids"))
      assert(out.isEmpty)
    }
    // a missing model refuses on every batch, empty included
    intercept[IllegalArgumentException] {
      StreamingAgg.processEncodeIdsBatch(
        Seq.empty[(java.sql.Timestamp, Long, String)]
          .toDF("ts", "doc_id", "text"), s"$modelDir/nope", 3L) {
        (_, _) => ()
      }
    }
    // a LEGACY merges-only model refuses (the id space needs the
    // stored alphabet — readFullModel's contract, enforced per batch)
    val legacy = java.nio.file.Files
      .createTempDirectory("graft_streamenc_legacy").toString
    Bpe.writeModel(spark, mA.merges, legacy)
    val e = intercept[IllegalArgumentException] {
      StreamingAgg.processEncodeIdsBatch(batch, legacy, 4L) {
        (_, _) => ()
      }
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("streaming retrieval equals the batch probes under the stored " +
      "indexes (lexical and hybrid), keeps the top-k schema on empty " +
      "batches, refuses a missing index, and ranks a mid-stream " +
      "append's docs from the next trigger on") {
    import graft.operators.{Retrieval, Similarity}
    val root = java.nio.file.Files
      .createTempDirectory("graft_streamret").toString
    val corpus = Seq(
      (0L, "spark joins hash and sort merge strategies"),
      (1L, "window functions rank rows within frames"),
      (2L, "streaming batches replay under commit markers"))
      .toDF("doc_id", "text")
    Retrieval.writeBm25Index(corpus, s"$root/bm25", tokenBuckets = 8,
      dlBuckets = 4)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch = Seq(
      (ts("2024-01-01 10:00:00"), 100L, "spark hash join"),
      (ts("2024-01-01 10:00:01"), 101L, "window rank"))
      .toDF("ts", "query_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy($"query_id", $"rank").collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getLong(r.fieldIndex("doc_id")),
        r.getInt(r.fieldIndex("rank")))).toSeq
    var lexOut: Seq[(Long, Long, Int)] = Nil
    StreamingAgg.processRetrieveBatch(batch, s"$root/bm25", None,
        10, 20, 1.2, 0.75, 60, false, 4, 0L) { (out, _) =>
      assert(out.columns.toSeq ===
        Seq("query_id", "doc_id", "score", "rank"))
      lexOut = rows(out)
    }
    assert(lexOut === rows(Retrieval.bm25TopKIndexed(spark,
      batch.select($"query_id", $"text"), s"$root/bm25", k = 10)))
    assert(lexOut.nonEmpty)
    // probe-only and stateless: nothing staged, nothing leased
    assert(!new java.io.File(s"$root/bm25/stream_out").exists())
    assert(!new java.io.File(s"$root/bm25/_LEASE").exists())
    // empty maintenance batch: the OUTPUT schema (this bridge
    // reshapes), no probe jobs
    StreamingAgg.processRetrieveBatch(
      Seq.empty[(java.sql.Timestamp, Long, String)]
        .toDF("ts", "query_id", "text"), s"$root/bm25", None,
        10, 20, 1.2, 0.75, 60, false, 4, 1L) { (out, _) =>
      assert(out.columns.toSeq ===
        Seq("query_id", "doc_id", "score", "rank"))
      assert(out.isEmpty)
    }
    // a missing index refuses on every batch, empty included
    intercept[org.apache.spark.sql.AnalysisException] {
      StreamingAgg.processRetrieveBatch(
        Seq.empty[(java.sql.Timestamp, Long, String)]
          .toDF("ts", "query_id", "text"), s"$root/nope", None,
          10, 20, 1.2, 0.75, 60, false, 4, 2L) { (_, _) => () }
    }
    // the bm25 stats are re-read per trigger (NOT cached): docs
    // appended between triggers rank from the next one on
    Retrieval.writeBm25Index(
      Seq((7L, "spark hash join exactly this query"))
        .toDF("doc_id", "text"),
      s"$root/bm25", tokenBuckets = 8, dlBuckets = 4, mode = "append")
    StreamingAgg.processRetrieveBatch(batch, s"$root/bm25", None,
        10, 20, 1.2, 0.75, 60, false, 4, 3L) { (out, _) =>
      assert(rows(out).exists { case (q, d, _) => q == 100L && d == 7L })
    }

    // hybrid: fused output equals rrfFuse of the two batch probes
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.7f, 0.7f)), (7L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(emb, s"$root/ivf",
      Similarity.collectCentroids(Similarity.ivfCentroids(emb,
        nlist = 2)))
    val hb = Seq(
      (ts("2024-01-01 10:00:00"), 100L, "spark hash join",
        Array(0.8f, 0.2f)),
      (ts("2024-01-01 10:00:01"), 101L, "window rank",
        Array(0.1f, 0.9f)))
      .toDF("ts", "query_id", "text", "embedding")
    var hybOut: Seq[(Long, Long, Int)] = Nil
    StreamingAgg.processRetrieveBatch(hb, s"$root/bm25",
        Some(s"$root/ivf"), 5, 20, 1.2, 0.75, 60, false, 2, 4L) {
      (out, _) =>
        assert(out.columns.toSeq ===
          Seq("query_id", "doc_id", "rrf", "rank"))
        hybOut = rows(out)
    }
    val lex = Retrieval.bm25TopKIndexed(spark,
      hb.select($"query_id", $"text"), s"$root/bm25", k = 20)
    val sem = Similarity.ivfTopKIndexedSelf(spark, s"$root/ivf",
        hb.select($"query_id".as("vec_id"), $"embedding"), k = 20,
        nprobe = 2, excludeSelf = false)
      .select($"query_id", $"vec_id".as("doc_id"), $"rank")
    assert(hybOut === rows(Retrieval.rrfFuse(
      lex.select($"query_id", $"doc_id", $"rank"), sem, k = 5)))
    assert(hybOut.nonEmpty)
    // EXTERNAL query ids are arbitrary: one that numerically collides
    // with a corpus vec_id must NOT suppress that document from the
    // semantic ranking (excludeSelf=false is not a self-hit filter —
    // the ids live in different spaces). Query id 2 collides with
    // corpus doc 2, whose vector [0.7,0.7] is the collision query's
    // own direction — it must surface, and under full probe the fused
    // frame must carry it for query 2.
    val collide = Seq(
      (ts("2024-01-01 10:00:02"), 2L, "streaming replay markers",
        Array(0.7f, 0.7f))).toDF("ts", "query_id", "text", "embedding")
    StreamingAgg.processRetrieveBatch(collide, s"$root/bm25",
        Some(s"$root/ivf"), 5, 20, 1.2, 0.75, 60, false, 2, 6L) {
      (out, _) =>
        assert(rows(out).exists { case (q, d, _) => q == 2L && d == 2L },
          s"external query id 2 lost corpus doc 2 to the self filter: " +
            rows(out).mkString(", "))
    }
    // and with excludeSelf=true (query ids ARE corpus ids — streamed
    // "more like this") the self pair drops from BOTH legs, the batch
    // hybridTopK shape
    StreamingAgg.processRetrieveBatch(collide, s"$root/bm25",
        Some(s"$root/ivf"), 5, 20, 1.2, 0.75, 60, true, 2, 7L) {
      (out, _) =>
        assert(!rows(out).exists { case (q, d, _) => q == 2L && d == 2L })
        assert(rows(out).nonEmpty) // other docs still rank
    }
    // the hybrid leg needs the stream to carry the vectors
    val e = intercept[IllegalArgumentException] {
      StreamingAgg.processRetrieveBatch(batch, s"$root/bm25",
        Some(s"$root/ivf"), 5, 20, 1.2, 0.75, 60, false, 2, 5L) {
        (_, _) => ()
      }
    }
    assert(e.getMessage.contains("embedding"), e.getMessage)
  }
}
