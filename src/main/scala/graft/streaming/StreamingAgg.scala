package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Barriers, Dedup, Lease}

/** Structured-Streaming variant of the flagship aggregation (extension
  * tier — the reference is pure batch, re-run per feed drop; this is the
  * same dedup+count semantics expressed incrementally).
  *
  * Late-data handling: the watermark bounds dedup/agg state; events later
  * than the watermark are dropped rather than growing state forever —
  * the property the reference gets implicitly by re-running whole days.
  */
object StreamingAgg {

  /** Streaming dedup+count per (day, key...): watermark → streaming
    * dedup on the tuple → windowed count.
    *
    * The dedup uses `dropDuplicatesWithinWatermark` (NOT plain
    * `dropDuplicates`): the derived `day` column carries no event-time
    * tag, so keying plain dropDuplicates on it would never expire state.
    * WithinWatermark keys state on the tuple but expires each entry as
    * the watermark passes it, so state stays bounded. The dedup guarantee
    * is correspondingly scoped: a duplicate is dropped only while the
    * FIRST occurrence is still within the watermark delay. With the
    * default `lateness = "1 day"` every same-day duplicate of a
    * (day,user,type) tuple falls inside that horizon (any admitted dup's
    * `ts` is within the day, and the first occurrence's state lives for a
    * full day), so counts match the batch `dropDuplicates` plan; a
    * SHORTER lateness trades exactness for state — a dup arriving more
    * than `lateness` after the first occurrence is counted again.
    *
    * @param events   streaming DataFrame with an event-time column `ts`,
    *                 a dedup identity `user_id`, and a group key
    *                 `event_type` (the events-table shape; the logentry
    *                 shape maps date/ip/risk onto these)
    * @param lateness watermark delay, e.g. "1 day"
    */
  def distinctDailyCounts(events: DataFrame,
      lateness: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .withColumn("day", date_trunc("day", col("ts")))
      .dropDuplicatesWithinWatermark("day", "user_id", "event_type")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("count"))
      .select(col("window.start").as("day"), col("event_type"), col("count"))

  /** Streaming exact document dedup: drop any document whose content
    * fingerprint (md5 of normalized text) was already seen within the
    * watermark delay — `dropDuplicatesWithinWatermark` keys state on the
    * fingerprint only and expires it as event time advances, so state is
    * bounded by the dedup horizon, not the stream length.
    *
    * Input needs (ts, doc_id, text); emits the surviving rows.
    */
  def dedupDocumentsStream(docs: DataFrame,
      horizon: String = "1 hour"): DataFrame =
    watermarked(docs, horizon, Some(textFingerprint))

  private def textFingerprint: Column = md5(Dedup.normalized(col("text")))

  /** `rows` under the `ts` watermark; with a `fingerprint`, exact
    * duplicates collapse in-stream on it (the column stays on the
    * output) with state bounded by the horizon. */
  private def watermarked(rows: DataFrame, horizon: String,
      fingerprint: Option[Column]): DataFrame = {
    val w = rows.withWatermark("ts", horizon)
    fingerprint.fold(w)(fp => w.withColumn("fingerprint", fp)
      .dropDuplicatesWithinWatermark("fingerprint"))
  }

  /** The source step of every bridge: [[watermarked]], then
    * `foreachBatch` with the fingerprint dropped before `perTrigger`
    * sees the micro-batch. */
  private def bridge(rows: DataFrame, horizon: String,
      fingerprint: Option[Column] = None)(
      perTrigger: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    watermarked(rows, horizon, fingerprint).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        perTrigger(
          if (fingerprint.isDefined) batch.drop("fingerprint") else batch,
          batchId)
      }

  /** A trigger's materializations: each [[Barriers.barrier]] taken
    * here is named `stream batch <id>` in the block manager and
    * released by [[release]]. */
  private final class Held(batchId: Long) {
    private val rdds =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    def apply(df: DataFrame): DataFrame = {
      val m = Barriers.barrier(df)
      m.queryExecution.logical.foreach {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          rdds += r.rdd.setName(s"stream batch $batchId")
        case _ =>
      }
      m
    }
    def release(): Unit = rdds.foreach(_.unpersist(blocking = false))
  }

  /** The index-mutating bridges' commit → lease → append: the probe's
    * output commits under `indexDir` ([[commitBatchOutput]]) before
    * `append`, when set, folds (batch, committed output) into the
    * index under the single-writer lease — a maintenance pass over the
    * index mid-stream refuses, or is refused, instead of interleaving. */
  private case class Commit(indexDir: String,
      append: Option[(DataFrame, DataFrame) => Unit])

  /** The per-trigger step of every bridge. The caller has already run
    * its model/index validation, so a missing or crashed dir refuses on
    * every batch, empty ones included. The batch is materialized ONCE:
    * every job after the barrier reads its blocks, never the source or
    * the fingerprint stage's state store upstream of it. An empty
    * batch sinks `empty` of an empty frame of the batch's schema and
    * skips the probe's re-planned jobs (the fixed floor worth
    * skipping); otherwise `probe` runs — under [[commitBatchOutput]]
    * and followed by the lease-held append for a [[Commit]] bridge —
    * and its output reaches `sink`.
    *
    * What the trigger materialized is released when it ends, except
    * where the sink's frame still reads it: a probe-only bridge hands
    * the sink a frame over the batch's blocks, and a sink may keep
    * that frame past the trigger (cache it, read it later), so those
    * blocks are left to Spark's ContextCleaner, which frees them once
    * the frame is unreachable. A commit bridge's sink reads the
    * committed staging, so all of its trigger's blocks go. */
  private def onTrigger(batch: DataFrame, batchId: Long,
      sink: (DataFrame, Long) => Unit, commit: Option[Commit] = None)(
      empty: DataFrame => DataFrame)(
      probe: (DataFrame, Held) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val held = new Held(batchId)
    val b = held(batch)
    var sinkReadsBatch = false
    try if (b.isEmpty)
      sink(empty(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), b.schema)), batchId)
    else commit match {
      case None =>
        sinkReadsBatch = true
        sink(probe(b, held), batchId)
      case Some(Commit(dir, append)) =>
        val out = commitBatchOutput(spark, dir, batchId)(probe(b, held))
        append.foreach(a => Lease.withLeases(spark, Seq(dir),
          s"stream-append batch=$batchId")(a(b, out)))
        sink(out, batchId)
    } finally if (!sinkReadsBatch) held.release()
  }

  /** The probe of the text, media and embedding bridges: a batch row
    * that pairs with the standing index drops (index wins; every
    * `cross` pair names exactly one batch id), then each within-batch
    * near-dup cluster among the rest keeps its min-id canonical
    * (`within` pairs the kept `keys`). The cross ids and the within
    * pairs are materialized once each: the clustering loop runs a job
    * per round over them, and each of those would otherwise re-run the
    * probe and the pair scoring upstream. */
  private def dropCrossThenCluster(rows: DataFrame, keys: DataFrame,
      idCol: String, held: Held, cross: DataFrame)(
      within: DataFrame => DataFrame): DataFrame = {
    val crossIds = held(cross.select(col("id_a").as(idCol))
      .unionByName(cross.select(col("id_b").as(idCol)))
      .distinct())
    val pairs = held(within(
      keys.join(broadcast(crossIds), Seq(idCol), "left_anti")))
    Dedup.dedupByClusters(
      rows.join(broadcast(crossIds), Seq(idCol), "left_anti"),
      pairs, idCol = idCol)
  }

  /** Streaming incremental TEXT near-dup against a persisted minhash
    * index ([[graft.operators.Dedup.writeMinhashIndex]]) — the
    * document-modality sibling of [[dedupMediaStreamAgainstIndex]],
    * same contract throughout: exact duplicates collapse in-stream via
    * `dropDuplicatesWithinWatermark` on the normalized-text fingerprint
    * (state bounded by the watermark horizon); each micro-batch then
    * probes the STANDING index in `foreachBatch` — a batch doc whose
    * verified Jaccard reaches `threshold` against an INDEXED doc drops
    * (index wins), remaining within-batch near-dup clusters keep their
    * min-id canonical, and with `appendSurvivors` the survivors fold in
    * under the index's STORED signature params before `sink` sees the
    * batch. The index must exist (create with `writeMinhashIndex`,
    * over an empty frame for a cold start); the replay and
    * greedy-scope contracts are [[dedupMediaStreamAgainstIndex]]'s,
    * stated there.
    *
    * Cost shape to know: each micro-batch re-plans its ~15 probe/
    * verify/append jobs, and the minhash expression plans are
    * codegen-heavy — a FIXED floor of seconds per micro-batch
    * regardless of batch size (StreamBridgeTiming: ~3 s per trigger
    * on a warm 4-core JVM; empty maintenance batches skip it
    * entirely). That floor amortizes over production batch
    * sizes (minutes of stream per trigger); for tiny-batch/low-latency
    * regimes prefer the exact in-stream [[dedupDocumentsStream]] and
    * run the near-dup pass as a periodic [[graft.Pipeline
    * .refreshCorpus]] batch instead — the q91 overhead-by-design
    * trade, disclosed rather than hidden.
    *
    * Input needs (ts, doc_id, text); `sink` receives each micro-batch's
    * surviving rows with the micro-batch id.
    */
  def dedupDocumentsStreamAgainstIndex(docs: DataFrame, indexDir: String,
      horizon: String = "1 hour", threshold: Double = 0.7,
      appendSurvivors: Boolean = true, maxBandFreq: Long = 0L)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    bridge(docs, horizon, Some(textFingerprint)) { (batch, batchId) =>
      processTextBatch(batch, indexDir, threshold, appendSurvivors,
        batchId, maxBandFreq)(sink)
    }

  /** [[dedupDocumentsStreamAgainstIndex]]'s per-micro-batch body,
    * factored out so the replay contract is spec-provable. A replayed
    * batch whose append already committed re-emits the staged
    * survivors (re-probing would find the batch's own rows in the
    * index and over-drop), and the append re-derives its input from
    * the committed survivor ids, so the retry is the documented
    * idempotent duplicate-row one.
    */
  private[graft] def processTextBatch(batch: DataFrame,
      indexDir: String, threshold: Double, appendSurvivors: Boolean,
      batchId: Long, maxBandFreq: Long = 0L)(
      sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    // the STORED signature params drive every stage — the within-batch
    // candidate pass included, so its recall geometry matches the
    // cross probe's instead of silently running the library defaults
    // (cached per index: immutable)
    val (nsw, nh, bands, buckets) = cachedMeta(spark, "minhash", indexDir)(
      Dedup.readMinhashIndexParams(spark, indexDir))
    def doc(b: DataFrame) = b.select(col("doc_id"), col("text"))
    val append = Option.when(appendSurvivors) {
      (b: DataFrame, survivors: DataFrame) =>
        Dedup.writeMinhashIndex(
          doc(b).join(survivors.select(col("doc_id")),
            Seq("doc_id"), "left_semi"),
          indexDir, numShingleWords = nsw, numHashes = nh,
          bands = bands, bandBuckets = buckets, mode = "append")
    }
    onTrigger(batch, batchId, sink, Some(Commit(indexDir, append)))(
        identity) { (b, held) =>
      // maxBandFreq: the exact fingerprint stage bounds EXACT template
      // copies, but near-identical variants still pay the band join —
      // the hot-band cap's disclosed cut applies to both the cross
      // probe and the within-batch pass
      dropCrossThenCluster(b, doc(b), "doc_id", held,
          Dedup.nearDupAgainstIndex(spark, doc(b), indexDir, threshold,
            maxBandFreq = maxBandFreq)) { kept =>
        Dedup.jaccardVerify(kept,
          Dedup.minhashCandidates(kept, nsw, nh, bands, maxBandFreq),
          nsw, threshold)
      }
    }
  }

  /** Streaming SUBSTRING-level cleaning against a persisted chunk
    * index ([[graft.operators.Dedup.writeChunkIndex]] /
    * `writeChunkIndexCDC`) — the fourth text-side bridge, completing
    * the in-stream lifecycle: exact dedup (fingerprint state), document
    * near-dup ([[dedupDocumentsStreamAgainstIndex]]), and now the
    * boilerplate-removal tier that CLEANS text rather than dropping
    * documents. Exact byte duplicates collapse in-stream via
    * `dropDuplicatesWithinWatermark` on the normalized-text fingerprint
    * (state bounded by the horizon); each micro-batch then runs
    * [[graft.operators.Dedup.dedupChunksAgainstIndex]] in
    * `foreachBatch` — a chunk survives iff it is the batch's own first
    * occurrence AND absent from the standing index (chunked under the
    * index's STORED rule and granularity, the q95 DPP-pruned plan
    * shape) — and, with `appendBatch`, the batch's ORIGINAL rows fold
    * into the index under those same stored params before `sink` sees
    * the batch, so boilerplate introduced by one micro-batch is
    * stripped from every later one.
    *
    * `sink` receives the batch's rows with `text` replaced by the
    * cleaned text, `n_chunks`/`n_kept` audit columns, and
    * `text_original` kept ONLY where cleaning changed the text (null
    * otherwise) — the [[graft.Pipeline.refreshCorpus]] publish rule,
    * and for the same reason: a later
    * [[graft.operators.Dedup.deleteFromChunkIndex]] retraction must
    * re-chunk exactly the bytes the append indexed.
    *
    * Contracts inherited from the chunk family, enforced there: doc
    * ids MONOTONE across micro-batches (each batch's min id must
    * exceed the index's stored watermark — out-of-order id assignment
    * fails loudly, it does not mis-dedup), single writer per index.
    *
    * Crash/REPLAY contract — this bridge needs more than the sibling
    * bridges' "re-run is idempotent", because the chunk probe is NOT
    * replay-safe on its own: a replayed micro-batch whose append
    * already committed would find its own ids under the watermark (the
    * monotone check would refuse — wedging the stream) and its own
    * chunks in the index (a forced re-probe would wrongly clean
    * everything). So the probe's cleaned output is STAGED to
    * `<indexDir>/stream_out/batch_<id>` and committed by its
    * `_COMMIT` marker file BEFORE the append runs. A replay that
    * finds the marker
    * skips the probe, retries the append (the chunk family's
    * documented idempotent-at-duplicate-row-price recovery), and
    * re-emits the staged output to the sink — at-least-once, same
    * rows. The last few committed stagings are retained and older
    * replays refuse loudly ([[commitBatchOutput]]'s retention window —
    * Spark replays at most the last uncommitted micro-batch, so the
    * window is never the binding constraint in a healthy stream). The
    * one window this cannot cover is the
    * family-level one: a crash INSIDE the append's params rewrite
    * leaves an index every chunk surface refuses until params/ is
    * restored — loud, not wrong.
    *
    * The index must exist — create it with `writeChunkIndex` (over an
    * empty frame for a cold start).
    *
    * Input needs (ts, doc_id, text); extra columns ride through to the
    * sink unchanged.
    */
  def cleanChunksStreamAgainstIndex(docs: DataFrame, indexDir: String,
      horizon: String = "1 hour", appendBatch: Boolean = true)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    bridge(docs, horizon, Some(textFingerprint)) { (batch, batchId) =>
      processChunkBatch(batch, indexDir, appendBatch, batchId)(sink)
    }

  /** How many committed batch stagings each bridge keeps under
    * `stream_out/`. Spark's foreachBatch replays at most the LAST
    * uncommitted micro-batch, so 1 would suffice under the documented
    * invariant — the window is kept wider so the invariant is belt
    * AND suspenders: a replay of any of the last [[KeptStagings]]
    * batches re-emits its committed rows, and a replay from beyond
    * the window (or under a FRESH checkpoint whose batch ids restart)
    * refuses loudly instead of recomputing a wrong answer
    * (MultimodalStreamingSpec pins both sides of the window).
    * (Deliberately NOT derived from
    * `spark.sql.streaming.minBatchesToRetain`: that conf governs
    * checkpoint METADATA retention — default 100 — not replay depth,
    * and following it would silently retain 100 staged survivor sets
    * per index.)
    */
  private val KeptStagings = 3L

  /** Stage-once / replay-read commit shared by every index bridge's
    * `foreachBatch` body. The probe-stage answer of a micro-batch is
    * a function of the index state BEFORE that batch's append — so
    * once the append has mutated the index, a replayed batch must NOT
    * recompute it (the chunk probe would refuse on its own watermark;
    * the near-dup probes would find the batch's own rows and emit a
    * different, over-dropped answer). `compute` therefore runs at most
    * once per (indexDir, batchId): its result is staged, renamed to
    * `<indexDir>/stream_out/batch_<id>`, and COMMITTED by creating the
    * zero-byte `batch_<id>/_COMMIT` file — single-file create is
    * atomic even on object stores whose directory rename is copy+
    * delete (S3A/GCS), so a crash mid-rename leaves a marker-less
    * partial dir a replay deletes and recomputes, never a truncated
    * survivor set it trusts. A replay finding the marker reads the
    * committed rows back. The last [[KeptStagings]] committed batches
    * are retained; an uncommitted batchId BELOW a committed one is a
    * replay from beyond that window (its probe answer is
    * unrecoverable — the index has moved) or a fresh checkpoint over
    * a used `stream_out/` (batch ids restart at 0): both refuse
    * loudly. To restart a stream with a NEW checkpoint over a
    * standing index, clear `stream_out/` first.
    *
    * STREAM IDENTITY: batch-id equality alone cannot tell a replay
    * from a DIFFERENT stream's batch with the same id — a fresh
    * checkpoint's batch 0 colliding with a still-retained COMMITTED
    * batch_0 of the previous stream would silently re-emit the OLD
    * stream's rows and drop the new batch. So the first commit stamps
    * the streaming query's id (stable across restarts of the same
    * checkpoint, fresh per new checkpoint) into
    * `stream_out/_STREAM_ID`, and every later call refuses on
    * mismatch — loud, before any batch-id reasoning. Direct batch-body
    * invocations outside a running stream (the spec harness) carry no
    * query id and skip the stamp; `stream_out/` dirs written before
    * this stamp adopt the first post-upgrade stream's id.
    */
  private def commitBatchOutput(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batchId: Long)(
      compute: => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outRoot = new Path(s"$indexDir/stream_out")
    val batchOut = new Path(outRoot, s"batch_$batchId")
    // stream-identity gate first: Spark stamps the query id on the
    // stream execution thread's local properties, so it is visible
    // here exactly when a real stream is driving the batch
    Option(spark.sparkContext
        .getLocalProperty("sql.streaming.queryId")).foreach { qid =>
      val idFile = new Path(outRoot, "_STREAM_ID")
      if (fs.exists(idFile)) {
        val in = fs.open(idFile)
        val stored =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        require(stored == qid,
          s"$outRoot belongs to streaming query $stored but this " +
            s"batch comes from query $qid — a fresh checkpoint over a " +
            "used stream_out/; refusing to mix their committed " +
            "outputs (clear stream_out/ to start a new stream over " +
            "this index)")
      } else {
        val out = fs.create(idFile, false)
        try out.write(qid.getBytes("UTF-8")) finally out.close()
      }
    }
    def committed(p: Path): Boolean = fs.exists(new Path(p, "_COMMIT"))
    if (!committed(batchOut)) {
      // dir without its marker = a crash mid-rename on a non-atomic-
      // rename filesystem (or mid-write): partial, recompute it
      if (fs.exists(batchOut)) fs.delete(batchOut, true)
      val stagedIds =
        if (fs.exists(outRoot))
          fs.listStatus(outRoot).map(_.getPath.getName)
            .filter(_.startsWith("batch_"))
            .map(_.stripPrefix("batch_").toLong)
        else Array.empty[Long]
      val newerCommitted = stagedIds
        .filter(id => id > batchId &&
          committed(new Path(outRoot, s"batch_$id")))
      require(newerCommitted.isEmpty,
        s"micro-batch $batchId is uncommitted but batch " +
          s"${newerCommitted.max} already committed under $outRoot — " +
          "a replay from beyond the retention window or a fresh " +
          "checkpoint over a used stream_out/; its pre-append probe " +
          "answer is unrecoverable, refusing to recompute it against " +
          "the mutated index (clear stream_out/ to start a new stream)")
      // prune stagings that fall out of the retention window
      stagedIds.filter(_ <= batchId - KeptStagings).foreach(id =>
        fs.delete(new Path(outRoot, s"batch_$id"), true))
      val stage = new Path(outRoot, s"_stage_batch_$batchId")
      if (fs.exists(stage)) fs.delete(stage, true)
      compute.write.mode("overwrite").parquet(stage.toString)
      require(fs.rename(stage, batchOut),
        s"rename $stage -> $batchOut failed")
      // the commit marker; only AFTER it may an append mutate the
      // index (underscore-prefixed, so the parquet read ignores it)
      fs.create(new Path(batchOut, "_COMMIT"), false).close()
    }
    spark.read.parquet(batchOut.toString)
  }

  /** Per-JVM cache of each bridge's driver-side index metadata reads —
    * [[graft.operators.IndexMeta]]'s stamp-keyed cache (shared with the
    * batch probe surfaces, e.g. readIvfStorage's per-probe dispatch),
    * kept as a named bridge surface because the spec pins the
    * invalidation contract here. The chunk family's cached slice
    * deliberately EXCLUDES its mutable max_doc_id watermark; reading
    * the immutable rest once per (indexDir, params stamp) instead of
    * once per micro-batch shaves pure fixed floor off every trigger
    * (StreamBridgeTiming records the before/after), and a rebuild or
    * migration in the same JVM re-stamps `params/`, so a restarted
    * stream reads the NEW geometry, never the dead index's.
    */
  private[graft] def cachedMeta[A <: AnyRef](
      spark: org.apache.spark.sql.SparkSession, kind: String,
      indexDir: String)(read: => A): A =
    graft.operators.IndexMeta.cached(spark, kind, indexDir)(read)

  /** [[cleanChunksStreamAgainstIndex]]'s per-micro-batch body,
    * factored out so the replay contract is provable outside a running
    * stream (MultimodalStreamingSpec drives it twice with the same
    * batch id and asserts identical sink rows + a sane index).
    */
  private[graft] def processChunkBatch(batch: DataFrame,
      indexDir: String, appendBatch: Boolean, batchId: Long)(
      sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    // the STORED rule/granularity/buckets drive the append — the
    // writer's params guard would refuse anything else. Cached per
    // index WITHOUT the max_doc_id watermark (the one mutable field —
    // the writer re-reads it itself for the monotone check)
    val (rule, granularity, buckets) = cachedMeta(spark, "chunk", indexDir) {
      val (r, g, b, _) = Dedup.readChunkIndexParams(spark, indexDir)
      (r, g, b)
    }
    def doc(b: DataFrame) = b.select(col("doc_id"), col("text"))
    val append = Option.when(appendBatch) { (b: DataFrame, _: DataFrame) =>
      if (rule == "cdc")
        Dedup.writeChunkIndexCDC(doc(b), indexDir, divisor = granularity,
          chunkBuckets = buckets, mode = "append")
      else if (rule == "line")
        Dedup.writeChunkIndexLines(doc(b), indexDir,
          chunkBuckets = buckets, mode = "append")
      else
        Dedup.writeChunkIndex(doc(b), indexDir, chunkTokens = granularity,
          chunkBuckets = buckets, mode = "append")
    }
    // one output shape for BOTH paths: the sink always sees the
    // cleaned-text schema (audit columns included), so an empty
    // maintenance micro-batch cannot break a schema-dependent sink
    def shaped(b: DataFrame, cleaned: DataFrame): DataFrame = b.drop("text")
      .join(cleaned.select(col("doc_id"), col("text"),
        col("n_chunks"), col("n_kept")), Seq("doc_id"))
      .join(doc(b).select(col("doc_id"),
        col("text").as("text_original")), Seq("doc_id"))
      .withColumn("text_original",
        when(col("n_kept") < col("n_chunks"), col("text_original")))
    // an empty batch's shape is over an empty cleaned frame; no marker
    // needed — an empty replay recomputes the same empty answer
    onTrigger(batch, batchId, sink, Some(Commit(indexDir, append)))(
      b => shaped(b, spark.range(0).select(col("id").as("doc_id"),
        lit(null).cast("string").as("text"),
        lit(0).as("n_chunks"), lit(0).as("n_kept")))) { (b, _) =>
      shaped(b, Dedup.dedupChunksAgainstIndex(spark, doc(b), indexDir))
    }
  }

  /** Streaming benchmark-DECONTAMINATION screen against a persisted
    * [[graft.operators.Dedup.writeBenchmarkIndex]] suite — the fifth
    * bridge, and deliberately the simplest: the screen is PROBE-ONLY
    * (eval suites change only through the offline `index-benchmark`
    * entry — a screen never appends), so this bridge carries NO commit
    * marker and NO lease. Why that is safe where the four
    * index-mutating bridges need both: their replays must re-emit
    * committed output because their own append moved the index under
    * them (re-probing would find the batch's rows indexed and
    * over-drop); here the batch leaves the suite untouched, so a
    * replayed micro-batch recomputes against the CURRENT suite — the
    * batch screen's own semantics. If the suite adopted a new eval set
    * between the original run and the replay, the replay's answer is
    * the more protective one; and a probe overlapping an offline
    * suite swap fails loudly on the missing sub-dataset and the batch
    * retries — the reader contract every probe here shares.
    *
    * Each micro-batch's rows reach `sink` with
    * [[graft.operators.Dedup.contaminationScreenAgainstIndex]]'s three
    * report columns joined on (`n_shingles`, `n_contaminated`,
    * `contaminated_frac` — exactly q101's shape, bit-identical to the
    * batch screen over the same suite), so the training-side cut runs
    * in the sink at whatever `contaminated_frac` threshold the run
    * uses. Batch-only screening forced eval-set decontamination to
    * wait for the weekly refresh; this screens at stream latency.
    * Input needs (ts, doc_id, text); extra columns ride along.
    */
  def screenStreamAgainstBenchmark(docs: DataFrame, benchDir: String,
      horizon: String = "1 hour")(sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    bridge(docs, horizon) { (batch, batchId) =>
      processScreenBatch(batch, benchDir, batchId)(sink)
    }

  /** [[screenStreamAgainstBenchmark]]'s per-micro-batch body, factored
    * out so the spec drives it directly. Stateless by design — see the
    * bridge's scaladoc for why no commit marker or lease is needed.
    */
  private[graft] def processScreenBatch(batch: DataFrame,
      benchDir: String, batchId: Long)(
      sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    // stored params through the per-JVM cache: immutable for the
    // suite's life, and the cache key's params/ stamp invalidates on
    // an offline suite append/swap
    val params = cachedMeta(spark, "benchmark", benchDir)(
      Dedup.readBenchmarkIndexParams(spark, benchDir))
    // zero-shingle rows report (0, 0, 0.0) on every screen surface, so
    // the literals ARE the screen of an empty batch
    onTrigger(batch, batchId, sink)(
      _.withColumn("n_shingles", lit(0L))
        .withColumn("n_contaminated", lit(0L))
        .withColumn("contaminated_frac", lit(0.0))) { (b, _) =>
      b.join(Dedup.contaminationScreenAgainstIndex(spark,
          b.select(col("doc_id"), col("text")), benchDir,
          params = Some(params)),
        Seq("doc_id"))
    }
  }

  /** Streaming SEMANTIC (embedding-level) decontamination screen — the
    * sixth bridge, the probe-only design of
    * [[screenStreamAgainstBenchmark]] applied to
    * [[graft.operators.Dedup.semanticContaminationScreen]]: each
    * micro-batch's vectors are scored against the CURRENT eval-set
    * embeddings under `evalDir`, and the rows reach `sink` with the
    * screen's three report columns joined on (`max_cosine`,
    * `nearest_eval_id`, `contaminated` — exactly q115's shape,
    * bit-identical to the batch screen over the same eval set). The
    * n-gram bridge catches verbatim eval leakage at stream latency;
    * this one catches the PARAPHRASED class the n-gram screen cannot
    * see, before the weekly refresh would.
    *
    * Stateless and probe-only for the same reasons as the benchmark
    * bridge (no commit marker, no lease — a replayed micro-batch
    * recomputes against the current eval set, the batch screen's own
    * semantics). One deliberate difference: the eval set is re-read
    * from `evalDir` EVERY batch rather than metadata-cached — an eval
    * suite is a plain parquet dir with no immutable `params/` to stamp
    * (the vectors themselves ARE the suite, and mid-stream adoption =
    * new files in the dir), and eval sets are metadata-sized next to a
    * stream by the screen's broadcast contract, so the per-trigger
    * re-read is a file listing plus a broadcast — the price of
    * adopting a new eval set without a stream restart.
    *
    * Input needs (ts, vec_id, embedding); extra columns ride along.
    * An empty eval dir screens every row unflagged (null score) — the
    * screen's completeness contract.
    */
  def screenStreamSemantic(vecs: DataFrame, evalDir: String,
      threshold: Double = 0.9, horizon: String = "1 hour")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    bridge(vecs, horizon) { (batch, batchId) =>
      processSemanticScreenBatch(batch, evalDir, threshold, batchId)(sink)
    }

  /** [[screenStreamSemantic]]'s per-micro-batch body, factored out so
    * the spec drives it directly. Stateless by design — see the
    * bridge's scaladoc.
    */
  private[graft] def processSemanticScreenBatch(batch: DataFrame,
      evalDir: String, threshold: Double, batchId: Long)(
      sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    // the missing-dir refusal runs for EVERY batch, empty ones
    // included — a misspelled evalDir must surface on batch 0, not on
    // whenever the first non-empty batch happens to arrive. An
    // EXISTING-but-file-less dir is the documented empty suite
    // (created ahead of the first adoption): rows screen unflagged
    // rather than dying on schema inference.
    val evalPath = new org.apache.hadoop.fs.Path(evalDir)
    val fs = evalPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(evalPath),
      s"screenStreamSemantic: eval dir $evalDir does not exist — " +
        "create it (empty is fine: rows screen unflagged until a " +
        "suite lands) or fix the path")
    // the literals are what the screen reports for zero rows (and the
    // null score matches the empty-eval-set rule)
    onTrigger(batch, batchId, sink)(
      _.withColumn("max_cosine", lit(null).cast("double"))
        .withColumn("nearest_eval_id", lit(null).cast("long"))
        .withColumn("contaminated", lit(false))) { (b, _) =>
      val hasFiles = fs.listStatus(evalPath).exists { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      val ev =
        if (hasFiles) spark.read.parquet(evalDir)
          .select(col("vec_id"), col("embedding"))
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("embedding",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.FloatType)))))
      b.join(Dedup.semanticContaminationScreen(
          b.select(col("vec_id"), col("embedding")), ev, threshold),
        Seq("vec_id"))
    }
  }

  /** Streaming QUALITY scoring — the seventh bridge, probe-only like
    * the benchmark and semantic screens: each micro-batch's documents
    * gain the trained classifier's `quality_prob` column
    * ([[graft.operators.QualityClassifier.score]] — exactly q118's
    * shape, bit-identical to the batch scorer under the same model)
    * before the sink, so a stream-fed admission policy (threshold cut,
    * [[graft.operators.Sharding.paretoAccept]]) runs at stream latency
    * instead of waiting for the weekly refresh's quality modality.
    *
    * SCORING, never filtering — the refresh modality's rule: the
    * verdict belongs to the sink. Stateless and probe-only (no commit
    * marker, no lease — a replayed micro-batch recomputes under the
    * CURRENT model, the batch scorer's own semantics; a model
    * retrained between run and replay rescores with the newer signal).
    * The model's bias and weight table are re-read per trigger — a
    * model is metadata-sized next to a stream (the semantic bridge's
    * eval-set argument), the read is [[readModel]]'s params head plus
    * one broadcast, and re-reading is what lets a `train-quality`
    * rebuild land mid-stream without a restart. A missing or
    * crashed-write model dir refuses on EVERY batch, empty ones
    * included (the semantic bridge's batch-0 rule).
    *
    * Input needs (ts, doc_id, text); extra columns ride along.
    */
  def scoreStreamQuality(docs: DataFrame, modelDir: String,
      horizon: String = "1 hour")(sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    bridge(docs, horizon) { (batch, batchId) =>
      processQualityScoreBatch(batch, modelDir, batchId)(sink)
    }

  /** [[scoreStreamQuality]]'s per-micro-batch body, factored out so
    * the spec drives it directly. */
  private[graft] def processQualityScoreBatch(batch: DataFrame,
      modelDir: String, batchId: Long)(
      sink: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.QualityClassifier
    // readModel refuses a missing or params-less (crashed-write) dir
    val (weights, bias) =
      QualityClassifier.readModel(batch.sparkSession, modelDir)
    onTrigger(batch, batchId, sink)(
      _.withColumn("quality_prob", lit(null).cast("double"))) { (b, _) =>
      b.join(QualityClassifier.score(b.select(col("doc_id"), col("text")),
          weights, bias),
        Seq("doc_id"))
    }
  }

  /** Streaming DSIR scoring — the eighth bridge, the
    * [[scoreStreamQuality]] design applied to the importance-weight
    * tier: each micro-batch's documents gain `n_ngrams` and
    * `log_weight` under a persisted
    * [[graft.operators.Sharding.writeDsirModel]] ratio table — exactly
    * q123's shape, bit-identical to the batch scorer under the same
    * model — so target-distribution selection (a log-weight floor, a
    * Gumbel draw against a budget) runs at ingest instead of at the
    * weekly refresh. SCORING, never filtering: the verdict is the
    * sink's. Stateless, probe-only, model re-read per trigger (a
    * B-row ratio table is metadata-sized; a `train-dsir` refit lands
    * on the next batch without a restart); a missing or crashed model
    * refuses on every batch, empty ones included.
    *
    * Input needs (ts, doc_id, text); extra columns ride along.
    */
  def scoreStreamDsir(docs: DataFrame, modelDir: String,
      horizon: String = "1 hour")(sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    bridge(docs, horizon) { (batch, batchId) =>
      processDsirScoreBatch(batch, modelDir, batchId)(sink)
    }

  /** [[scoreStreamDsir]]'s per-micro-batch body, factored out so the
    * spec drives it directly. */
  private[graft] def processDsirScoreBatch(batch: DataFrame,
      modelDir: String, batchId: Long)(
      sink: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.Sharding
    val (weights, buckets) =
      Sharding.readDsirModel(batch.sparkSession, modelDir)
    onTrigger(batch, batchId, sink)(
      _.withColumn("n_ngrams", lit(null).cast("long"))
        .withColumn("log_weight", lit(null).cast("double"))) { (b, _) =>
      b.join(Sharding.dsirScore(b.select(col("doc_id"), col("text")),
          weights, buckets),
        Seq("doc_id"))
    }
  }

  /** Streaming TOKENIZE-at-ingest — the tenth bridge, the
    * [[scoreStreamQuality]]/[[scoreStreamDsir]] design applied to the
    * token-ID tier: each micro-batch's documents gain `ids` and
    * `n_ids` under a persisted COMPLETE
    * [[graft.operators.Bpe.BpeModel]] — exactly the batch
    * [[graft.operators.Bpe.encodeIds]] shape, bit-identical under the
    * same model (the encode is MAP-ONLY, so unlike the scorers there
    * is not even a join: per-trigger cost is one projection over the
    * batch) — so a training-ingest stream arrives at the sink already
    * in MODEL units: token budgets, shard cuts, and the rows a
    * [[graft.Pipeline.writeTrainingShards]] append will pack are
    * accounted in the ids a training run actually consumes, at
    * arrival instead of at the export cadence.
    *
    * Stateless, probe-only, model re-read per trigger (model-sized —
    * a season `train-bpe` retrain lands on the next batch without a
    * restart, and the per-batch model is the one provenance truth a
    * sink should stamp next to its rows); [[graft.operators.Bpe
    * .readFullModel]]'s integrity checks refuse a missing, crashed,
    * legacy merges-only, or content-drifted model on every batch,
    * empty ones included. Input needs (ts, doc_id, text); extra
    * columns ride along.
    */
  def encodeStreamIds(docs: DataFrame, modelDir: String,
      horizon: String = "1 hour")(sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    bridge(docs, horizon) { (batch, batchId) =>
      processEncodeIdsBatch(batch, modelDir, batchId)(sink)
    }

  /** [[encodeStreamIds]]' per-micro-batch body, factored out so the
    * spec drives it directly. */
  private[graft] def processEncodeIdsBatch(batch: DataFrame,
      modelDir: String, batchId: Long)(
      sink: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.Bpe
    // readFullModel refuses missing/crashed/legacy/drifted dirs
    val model = Bpe.readFullModel(batch.sparkSession, modelDir)
    onTrigger(batch, batchId, sink)(
      _.withColumn("ids", lit(null).cast("array<int>"))
        .withColumn("n_ids", lit(null).cast("int"))) { (b, _) =>
      Bpe.encodeIds(b, model)
    }
  }

  /** Streaming RETRIEVAL — the ninth bridge: each micro-batch is a
    * set of QUERIES (ts, query_id, text) ranked against a persisted
    * [[graft.operators.Retrieval.writeBm25Index]] corpus — exactly
    * q133's arithmetic, bit-identical to the batch probe under the
    * same index — and, when `ivfDir` is given, the queries'
    * EMBEDDINGS (an `embedding` column riding the stream) probe the
    * persisted IVF family too, the two rankings reciprocal-rank fused
    * ([[graft.operators.Retrieval.rrfFuse]] — q134's persisted hybrid,
    * per trigger). This is retrieval's stream side: live curation
    * probes, eval look-ups, and "more like this" requests rank
    * against the standing corpus at stream latency instead of
    * batching to the weekly cadence.
    *
    * `excludeSelf` declares the query ID SPACE and binds BOTH legs:
    * false (the default) means the stream carries EXTERNAL ids
    * (request ids, eval ids) — nothing is filtered, and in particular
    * a query id that numerically collides with a corpus doc_id/vec_id
    * does NOT suppress that document; true means the query ids ARE
    * corpus doc ids (streamed "more like this" over corpus documents),
    * and the self pair drops from the lexical AND semantic rankings —
    * the batch [[graft.operators.Retrieval.hybridTopK]] shape, which
    * q136 hash-proves against q130's oracle.
    *
    * Disjoint query sets rank
    * independently (both probes and the fusion are per-query), so a
    * stream's unioned triggers ≡ one batch probe of the same queries
    * — the property q135/q136 hash-prove against the inline oracles.
    *
    * Probe-only like the screens and scorers: stateless, no commit
    * marker, no lease — the sink owns the rows, and a replayed
    * micro-batch re-ranks under the CURRENT index (a refresh append
    * or retraction rebuild landing mid-stream serves from the next
    * trigger on). The bm25 statistics MUTATE on every refresh append
    * (n_docs/n_tokens feed idf/avgdl), so unlike the frozen-geometry
    * families they are deliberately NOT [[cachedMeta]]'d — one
    * metadata-sized params read per trigger is the price of ranking
    * under the current corpus (the chunk family's mutable-watermark
    * rule). A missing or crashed-write (params-less) index refuses on
    * every batch, empty ones included.
    *
    * Emits the top-k frame per trigger: (query_id, doc_id, score,
    * rank) lexical-only, (query_id, doc_id, rrf, rank) fused.
    */
  def retrieveStream(queries: DataFrame, bm25Dir: String,
      ivfDir: Option[String] = None, k: Int = 10, kEach: Int = 20,
      k1: Double = 1.2, b: Double = 0.75, c: Int = 60,
      excludeSelf: Boolean = false, nprobe: Int = 4,
      horizon: String = "1 hour")(sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    bridge(queries, horizon) { (batch, batchId) =>
      processRetrieveBatch(batch, bm25Dir, ivfDir, k, kEach, k1, b,
        c, excludeSelf, nprobe, batchId)(sink)
    }

  /** [[retrieveStream]]'s per-micro-batch body, factored out so the
    * spec drives it directly. */
  private[graft] def processRetrieveBatch(batch: DataFrame,
      bm25Dir: String, ivfDir: Option[String], k: Int, kEach: Int,
      k1: Double, bParam: Double, c: Int, excludeSelf: Boolean,
      nprobe: Int, batchId: Long)(
      sink: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.{Retrieval, Similarity}
    val spark = batch.sparkSession
    // validate the index surfaces BEFORE touching the batch: the
    // params read refuses a missing or crashed-write dir loudly (and
    // is re-done here every trigger — see scaladoc); the hybrid leg
    // additionally needs the stream to carry the query vectors
    require(!ivfDir.isDefined || batch.columns.contains("embedding"),
      "retrieveStream: ivfDir given but the stream has no " +
        "'embedding' column — the hybrid leg probes the queries' " +
        "vectors (drop ivfDir for lexical-only retrieval)")
    Retrieval.readBm25IndexParams(spark, bm25Dir)
    ivfDir.foreach(d => Similarity.readIvfIndexParams(spark, d))
    val scoreName = if (ivfDir.isDefined) "rrf" else "score"
    // an empty batch sinks the OUTPUT schema (the top-k frame's, not
    // the input's — this bridge reshapes)
    onTrigger(batch, batchId, sink)(
      qb => spark.createDataFrame(
        java.util.Collections.emptyList[Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            qb.schema("query_id").dataType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(scoreName,
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType))))) { (qb, _) =>
      val qd = qb.select(col("query_id"), col("text"))
      val lex = Retrieval.bm25TopKIndexed(spark, qd, bm25Dir,
        k = ivfDir.fold(k)(_ => kEach), k1 = k1, b = bParam,
        excludeSelf = excludeSelf)
      ivfDir match {
        case None => lex
        case Some(iv) =>
          // excludeSelf declares the QUERY ID SPACE, and applies to
          // BOTH legs: true means the stream's query ids ARE corpus
          // doc ids ("more like this" on corpus documents — the batch
          // [[graft.operators.Retrieval.hybridTopK]] shape, where
          // bm25TopK's filter and bruteForceTopK's join condition
          // both drop the self pair), false (the default) means the
          // ids are EXTERNAL request ids, where a numeric collision
          // with a corpus vec_id is NOT a self-hit — filtering it
          // would silently drop that document from that query's
          // semantic ranking
          val sem = Similarity.ivfTopKIndexedSelf(spark, iv,
              qb.select(col("query_id").as("vec_id"), col("embedding")),
              k = kEach, nprobe = nprobe, excludeSelf = excludeSelf)
            .select(col("query_id"), col("vec_id").as("doc_id"),
              col("rank"))
          Retrieval.rrfFuse(
            lex.select(col("query_id"), col("doc_id"), col("rank")),
            sem, k, c)
      }
    }
  }

  /** Streaming incremental PERCEPTUAL dedup against a persisted image
    * index ([[graft.operators.Multimodal.writeImageIndex]] — the Hamming
    * layout): exact byte duplicates collapse in-stream via
    * `dropDuplicatesWithinWatermark` on the payload fingerprint (state
    * bounded by the watermark horizon), then each micro-batch probes the
    * STANDING index in `foreachBatch` — a batch item whose dHash lands
    * within the index's stored radius of an indexed signature drops
    * (index wins, the [[graft.Pipeline.refreshCorpus]] rule); remaining
    * within-batch near-dup clusters keep their min-id canonical; and,
    * with `appendSurvivors`, the survivors' signatures fold into the
    * index under its STORED radius/bucket params before `sink` sees the
    * batch — so a re-encoded duplicate arriving in a LATER micro-batch
    * is dropped by the index its original joined mid-stream.
    *
    * Why `foreachBatch` and not a streaming join: the probe is a batch
    * join against on-disk parquet (partition-pruned, the q97 plan
    * shape), and the index append is a transactional side effect no
    * streaming sink expresses — `foreachBatch` hands each micro-batch
    * over as a batch frame where both are ordinary proven operators.
    * REPLAY contract (shared by all four bridges, [[commitBatchOutput]]):
    * the probe's survivors commit atomically to
    * `<indexDir>/stream_out/batch_<id>` BEFORE the append mutates the
    * index, so a replayed micro-batch re-emits the identical committed
    * rows — re-probing after the append would find the batch's own
    * rows in the index and over-drop — and the append retry is the
    * index families' documented idempotent-at-duplicate-row-price one
    * ([[graft.operators.Dedup.compactIndex]] re-distincts).
    *
    * The index must exist (create it with `writeImageIndex`, over an
    * empty frame for a cold start — probes on an empty index return no
    * pairs). Cross-drop is DIRECT near-dup only: a batch item dropped
    * for pairing with the index does not transitively drop its
    * within-batch partners (they drop only via their own pairs) — the
    * greedy scope every incremental regime here shares.
    *
    * Input needs (ts, media_id, payload); `sink` receives each
    * micro-batch's surviving rows (original columns, fingerprint
    * removed) with the micro-batch id.
    */
  def dedupMediaStreamAgainstIndex(media: DataFrame, indexDir: String,
      horizon: String = "1 hour", appendSurvivors: Boolean = true)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    bridge(media, horizon, Some(md5(col("payload")))) { (batch, batchId) =>
      processMediaBatch(batch, indexDir, appendSurvivors, batchId)(sink)
    }

  /** [[dedupMediaStreamAgainstIndex]]'s per-micro-batch body, factored
    * out so the replay contract is spec-provable. On the normal path
    * the materialized signatures feed probe, within-batch candidates,
    * AND append (one decode per row); on a replay only the SURVIVORS
    * are re-decoded for the append retry — the probe is never re-run
    * against an index the original run already extended.
    */
  private[graft] def processMediaBatch(batch: DataFrame,
      indexDir: String, appendSurvivors: Boolean, batchId: Long)(
      sink: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.Multimodal
    val spark = batch.sparkSession
    val (radius, buckets) = cachedMeta(spark, "hamming", indexDir)(
      Dedup.readHammingIndexParams(spark, indexDir))
    def media(b: DataFrame) = b.select(col("media_id"), col("payload"))
    // set by the probe; the replay path never needs the whole batch's
    // signatures
    var sigsOpt: Option[DataFrame] = None
    val append = Option.when(appendSurvivors) {
      (b: DataFrame, survivors: DataFrame) =>
        val ids = survivors.select(col("media_id"))
        val survSigs = sigsOpt match {
          case Some(sigs) => sigs.join(ids, Seq("media_id"), "left_semi")
          case None => Multimodal.imageSignatures(
            media(b).join(ids, Seq("media_id"), "left_semi"))
        }
        Dedup.writeHammingIndex(survSigs, indexDir,
          maxHamming = radius, pieceBuckets = buckets, mode = "append")
    }
    onTrigger(batch, batchId, sink, Some(Commit(indexDir, append)))(
        identity) { (b, held) =>
      val sigs = held(Multimodal.imageSignatures(media(b)))
      sigsOpt = Some(sigs)
      dropCrossThenCluster(b, sigs, "media_id", held,
        Dedup.hammingCandidatesAgainstIndex(spark, sigs, indexDir))(
        Dedup.hammingCandidates(_, radius))
    }
  }

  /** Streaming incremental SEMANTIC dedup against a persisted IVF index
    * ([[graft.operators.Similarity.writeIvfIndex]]) — the embedding
    * modality's bridge, completing the streaming story the text
    * ([[dedupDocumentsStreamAgainstIndex]], minhash) and perceptual
    * ([[dedupMediaStreamAgainstIndex]], Hamming) bridges already cover:
    * exact byte duplicates collapse in-stream via
    * `dropDuplicatesWithinWatermark` on an `xxhash64` of the embedding
    * array (state bounded by the watermark horizon), then each
    * micro-batch probes the STANDING index in `foreachBatch` — a batch
    * vector whose cosine against an indexed vector reaches `threshold`
    * under the index's STORED centroids/quantizer/multi-assign drops
    * (index wins, the [[graft.Pipeline.refreshCorpus]] rule); remaining
    * within-batch near-dup clusters keep their min-id canonical (scored
    * under the SAME stored geometry — see
    * [[graft.operators.Dedup.semanticNearDupPairsWith]]'s equality
    * contract); and, with `appendSurvivors`, the survivors' vectors fold
    * into `cells/` via [[graft.operators.Similarity.appendIvfIndex]]
    * before `sink` sees the batch — so a paraphrase arriving in a LATER
    * micro-batch is dropped by the index its original joined mid-stream.
    *
    * Same `foreachBatch` rationale as the sibling bridges: the probe is
    * a DPP-pruned batch join against on-disk parquet (the q98 plan
    * shape) and the index append is a transactional side effect no
    * streaming sink expresses. Replay contract:
    * [[dedupMediaStreamAgainstIndex]]'s, via [[commitBatchOutput]] —
    * a replayed micro-batch re-emits its committed survivors and
    * retries the append at the IVF family's documented
    * idempotent-at-duplicate-row price
    * ([[graft.operators.Dedup.compactIndex]] re-distincts). Cross-drop
    * is DIRECT near-dup only (no transitive drops through an indexed
    * vector) — the greedy scope every incremental regime here shares.
    *
    * The index must exist with stored geometry (create it with
    * `writeIvfIndex`; its frozen centroids are the fixed reference
    * frame every micro-batch tags against — k-means is never re-run
    * mid-stream, so assignment cannot drift between batches). The
    * indexed corpus must carry exactly (vec_id, embedding):
    * `appendIvfIndex` refuses a column-set mismatch, and the stream
    * rows' extra columns (ts, payload, ...) stay on the survivors the
    * sink receives but never enter the index.
    *
    * Input needs (ts, vec_id, embedding: array<float>); `sink` receives
    * each micro-batch's surviving rows (original columns, fingerprint
    * removed) with the micro-batch id.
    */
  def dedupEmbeddingsStreamAgainstIndex(vecs: DataFrame, indexDir: String,
      horizon: String = "1 hour", threshold: Double = 0.95,
      appendSurvivors: Boolean = true)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    // xxhash64 takes the float array directly (no lossy string cast);
    // a 64-bit collision admits one extra row into the semantic
    // stages, which re-score it anyway — never a wrong drop
    bridge(vecs, horizon, Some(xxhash64(col("embedding")))) {
      (batch, batchId) =>
        processEmbeddingBatch(batch, indexDir, threshold,
          appendSurvivors, batchId)(sink)
    }

  /** [[dedupEmbeddingsStreamAgainstIndex]]'s per-micro-batch body,
    * factored out so the replay contract is spec-provable; the append
    * input is re-derived from the committed survivor ids so the retry
    * is the IVF family's documented idempotent duplicate-row one.
    */
  private[graft] def processEmbeddingBatch(batch: DataFrame,
      indexDir: String, threshold: Double, appendSurvivors: Boolean,
      batchId: Long)(sink: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.Similarity
    val spark = batch.sparkSession
    // stored geometry drives BOTH passes (cross probe reads it itself;
    // the within-batch pass gets the same arrays) so the two scorers
    // cannot disagree on cell assignment — cached per index, frozen
    // for the index's life (rebuilds are offline)
    val cents = cachedMeta(spark, "ivf-centroids", indexDir)(
      Similarity.readIvfCentroids(spark, indexDir))
    val (multiAssign, quantizer) = cachedMeta(spark, "ivf-params", indexDir)(
      Similarity.readIvfIndexParams(spark, indexDir))
    def vec(b: DataFrame) = b.select(col("vec_id"), col("embedding"))
    val append = Option.when(appendSurvivors) {
      (b: DataFrame, survivors: DataFrame) =>
        Similarity.appendIvfIndex(
          vec(b).join(survivors.select(col("vec_id")),
            Seq("vec_id"), "left_semi"),
          indexDir)
    }
    onTrigger(batch, batchId, sink, Some(Commit(indexDir, append)))(
        identity) { (b, held) =>
      dropCrossThenCluster(b, vec(b), "vec_id", held,
          Dedup.semanticNearDupAgainstIndex(spark, vec(b), indexDir,
            threshold)) {
        Dedup.semanticNearDupPairsWith(_, cents, threshold, multiAssign,
          quantizer)
      }
    }
  }
}
