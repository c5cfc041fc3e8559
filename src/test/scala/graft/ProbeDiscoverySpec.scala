package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkSuite}

/** File discovery of the against-index probes ([[Dedup.probedBuckets]]):
  * a probe lists and reads only the bucket directories it names, so a
  * one-document lookup runs no partition-listing job over the whole
  * index, and the rows it returns are those of a whole-index read.
  */
class ProbeDiscoverySpec extends SparkSuite {
  import spark.implicits._

  private def docs(lo: Long, hi: Long): DataFrame =
    spark.read.parquet(sf() + "/documents.parquet")
      .where(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id"), col("text"))

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  /** The Spark jobs run while `body` runs: (job id, tasks run — stages
    * actually submitted, so skipped stages do not count — and the job
    * description, "" when unset). */
  private def jobsDuring(body: => Unit): Seq[(Int, Int, String)] = {
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val descs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val sentinel = "probe-discovery-sentinel"
    val sentinelJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    @volatile var sentinelDone = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        tasks.putIfAbsent(e.jobId, 0)
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        descs.put(e.jobId, desc)
        if (desc == sentinel) sentinelJob.set(e.jobId)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(stageJob.get(e.stageInfo.stageId)).foreach(j =>
          tasks.merge(j, e.stageInfo.numTasks, Integer.sum))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) sentinelDone = true
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // events reach a listener in order: once the sentinel job's end
      // is delivered, every job of `body` has been delivered too
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!sentinelDone && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(sentinelDone, "the listener never saw the sentinel job end")
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    tasks.asScala.toSeq.collect {
      case (j, n) if j.intValue != sentinelJob.get =>
        (j.intValue, n.intValue, descs.get(j))
    }.sortBy(_._1)
  }

  /** Tasks run per Spark job while `body` runs. */
  private def tasksPerJob(body: => Unit): Map[Int, Int] =
    jobsDuring(body).map(j => j._1 -> j._2).toMap

  test("a one-document lookup against the default 256 band buckets runs " +
      "no job of 64 or more tasks (no whole-index partition listing)") {
    val dir = tmp("probejobs")
    Dedup.writeMinhashIndex(docs(0, 200), dir)
    val probe = docs(7, 8).select((col("doc_id") + 100000L).as("doc_id"),
      col("text"))
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = tasksPerJob {
      rows = Dedup.nearDupAgainstIndex(spark, probe, dir).collect()
    }
    // the planted copy of doc 7 is found
    assert(rows.exists(r => r.getLong(0) == 7L && r.getLong(1) == 100007L),
      rows.mkString(", "))
    info(s"${jobs.size} jobs, tasks per job: " +
      jobs.toSeq.sorted.map(_._2).mkString(" "))
    val big = jobs.filter(_._2 >= 64)
    assert(big.isEmpty, s"jobs with >= 64 tasks: $big (all: $jobs)")
  }

  test("a probe naming only absent buckets returns an empty frame of " +
      "the dataset's schema, without error") {
    val dir = tmp("probeabsent")
    Dedup.writeMinhashIndex(docs(0, 50), dir)
    val bandsSchema = spark.read.parquet(s"$dir/bands").schema
    // pmod(…, 256) never names bucket 999
    val absent = Dedup.probedBuckets(spark, s"$dir/bands",
      Some(bandsSchema), Seq(999, 1000).toDF("bucket"))
    assert(absent.schema === bandsSchema)
    assert(absent.collect().isEmpty)
    // inferred-schema flavor (the IVF cells/ layout): same columns as a
    // named-bucket read, no rows
    val inferred = Dedup.probedBuckets(spark, s"$dir/bands", None,
      Seq(999).toDF("bucket"))
    assert(inferred.columns.toSet === bandsSchema.fieldNames.toSet)
    assert(inferred.count() === 0L)
    // end to end: an index written over an EMPTY corpus has no bucket
    // directory at all — every probe names only absent buckets
    val empty = tmp("probeempty")
    Dedup.writeMinhashIndex(docs(0, 0), empty)
    assert(Dedup.nearDupAgainstIndex(spark, docs(0, 3), empty)
      .collect().isEmpty)
    val emptyHam = tmp("probeemptyham")
    Dedup.writeHammingIndex(Dedup.simhash(docs(0, 0)), emptyHam)
    assert(Dedup.hammingCandidatesAgainstIndex(spark,
      Dedup.simhash(docs(0, 3)), emptyHam).collect().isEmpty)
  }

  test("_LEASE, _temporary and params entries under a family root are " +
      "never read as buckets") {
    val dir = tmp("probejunk")
    Dedup.writeMinhashIndex(docs(0, 120), dir)
    val batch = docs(0, 6).select((col("doc_id") + 100000L).as("doc_id"),
      col("text"))
    def pairs(d: String) = Dedup.nearDupAgainstIndex(spark, batch, d,
      threshold = 0.5).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val clean = pairs(dir)
    assert((0L until 6L).forall(i =>
      clean.exists(p => p._1 == i && p._2 == i + 100000L)), clean)
    val rows = spark.read.parquet(s"$dir/bands").count()
    // junk a crashed writer or a misplaced maintenance pass can leave
    // under the bands/ root: band rows that WOULD pair the batch with
    // ids that exist nowhere in the index, were they read
    val (nsw, nh, nb, buckets) = Dedup.readMinhashIndexParams(spark, dir)
    val junk = Dedup.lshBands(batch, nsw, nh, nb)
      .withColumn("doc_id", col("doc_id") + 1000L)
      .withColumn("bucket",
        pmod(col("band_hash"), lit(buckets.toLong)).cast("int"))
    val root = s"$dir/bands"
    junk.write.parquet(s"$root/_temporary/0")
    junk.write.parquet(s"$root/params")
    junk.write.partitionBy("bucket").parquet(s"$root/_LEASE")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/bucket=notanint"))
    assert(pairs(dir) === clean)
    val all = Dedup.probedBuckets(spark, root, None,
      spark.range(256).select(col("id").cast("int").as("bucket")))
    assert(all.count() === rows)
  }

  test("a batch naming more than 32 buckets returns exactly the rows of " +
      "a whole-index read") {
    val dir = tmp("probewide")
    Dedup.writeMinhashIndex(docs(0, 150), dir)
    // near copies of indexed docs (candidates) plus unrelated docs
    val batch = docs(0, 10).select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" appended"))).toDF("doc_id", "text")
      .unionByName(docs(300, 310))
    val (nsw, nh, nb, buckets) = Dedup.readMinhashIndexParams(spark, dir)
    val bands = Dedup.lshBands(batch, nsw, nh, nb)
      .withColumn("bucket",
        pmod(col("band_hash"), lit(buckets.toLong)).cast("int"))
    assert(bands.select("bucket").distinct().count() > 32L)
    // the reference: every bands/ row, discovered by a whole-root read
    val expected = spark.read.parquet(s"$dir/bands")
      .join(bands.withColumnRenamed("doc_id", "new_id"),
        Seq("bucket", "band_id", "band_hash"))
      .select(least(col("doc_id"), col("new_id")).as("id_a"),
        greatest(col("doc_id"), col("new_id")).as("id_b"))
      .distinct().as[(Long, Long)].collect().toSet
    var got = Set.empty[(Long, Long)]
    val jobs = tasksPerJob {
      got = Dedup.minhashCandidatesAgainstIndex(spark, batch, dir)
        .as[(Long, Long)].collect().toSet
    }
    assert(expected.nonEmpty)
    assert(got === expected)
    // discovery of the > 32 named directories runs on the driver, not
    // as a listing job of one task per directory
    val big = jobs.filter(_._2 >= 64)
    assert(big.isEmpty, s"jobs with >= 64 tasks: $big (all: $jobs)")
    val noBroadcast = Dedup.minhashCandidatesAgainstIndex(spark, batch,
      dir, broadcastProbe = false).as[(Long, Long)].collect().toSet
    assert(noBroadcast === expected)
  }

  test("names Spark's listing skips inside a named bucket are never read: " +
      ".crc, _SUCCESS, _temporary/, dot-files") {
    val dir = tmp("probeleaf")
    Dedup.writeMinhashIndex(docs(0, 120), dir)
    val batch = docs(0, 6).select((col("doc_id") + 100000L).as("doc_id"),
      col("text"))
    def candidates() = Dedup.minhashCandidatesAgainstIndex(spark, batch,
      dir).as[(Long, Long)].collect().toSet
    val clean = candidates()
    assert((0L until 6L).forall(i => clean((i, i + 100000L))), clean)
    // band rows pairing the batch with ids that exist nowhere in the
    // index, planted under every bucket the batch names
    val (nsw, nh, nb, buckets) = Dedup.readMinhashIndexParams(spark, dir)
    val junk = Dedup.lshBands(batch, nsw, nh, nb)
      .withColumn("doc_id", col("doc_id") + 1000L)
      .withColumn("bucket",
        pmod(col("band_hash"), lit(buckets.toLong)).cast("int"))
    val root = s"$dir/bands"
    val staged = tmp("probeleafjunk")
    junk.write.mode("overwrite").partitionBy("bucket").parquet(staged)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val named = junk.select("bucket").distinct().as[Int].collect()
    assert(named.nonEmpty)
    for (b <- named) {
      val src = Files.list(Paths.get(s"$staged/bucket=$b")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = Paths.get(s"$root/bucket=$b")
      assert(Files.isDirectory(dst), dst)
      Files.createDirectories(dst.resolve("_temporary/0"))
      Files.copy(src, dst.resolve("_temporary/0/part-00000-junk.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.copy(src, dst.resolve(".hidden.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.write(dst.resolve("_SUCCESS"), Array.emptyByteArray)
      Files.write(dst.resolve(".part-junk.parquet.crc"), "junk".getBytes)
    }
    assert(candidates() === clean)
    // the probe's rows are a whole-root read's rows (Spark's own listing)
    def rowsOf(df: DataFrame) =
      df.select("doc_id", "band_id", "band_hash", "bucket")
        .as[(Long, Int, Long, Int)].collect().sorted.toSeq
    val keys = spark.range(buckets).select(col("id").cast("int").as("bucket"))
    assert(rowsOf(Dedup.probedBuckets(spark, root, None, keys)) ===
      rowsOf(spark.read.parquet(root)))
    val bandsSchema = spark.read.parquet(root).schema
    assert(rowsOf(Dedup.probedBuckets(spark, root, Some(bandsSchema),
      keys)) === rowsOf(spark.read.parquet(root)))
  }

  test("a weekly refresh whose batch names more than 32 buckets of bands/, " +
      "pieces/ and chunks/ runs no partition-listing job") {
    val idxRoot = tmp("probe_refresh_idx")
    val corpusDir = tmp("probe_refresh_corpus")
    // 10-token chunks: a ~56-word document names ~5 chunk buckets
    def refresh(batch: DataFrame) =
      Pipeline.refreshCorpus(spark, batch, idxRoot, corpusDir,
        chunkTokens = 10)
    refresh(docs(0, 60))
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val families = Seq("minhash/bands", "hamming/pieces", "chunk/chunks")
    def bucketFiles(family: String): Map[String, Set[String]] =
      Files.list(Paths.get(s"$idxRoot/$family")).iterator.asScala
        .filter(d => d.getFileName.toString.startsWith("bucket="))
        .map(d => d.getFileName.toString ->
          Files.list(d).iterator.asScala.map(_.getFileName.toString).toSet)
        .toMap
    val before = families.map(f => f -> bucketFiles(f)).toMap
    val jobs = jobsDuring {
      refresh(docs(60, 120))
    }
    // the batch named > 32 buckets already on disk in every family: its
    // survivors (a subset of what the probes named) appended into them
    for (f <- families) {
      val after = bucketFiles(f)
      val probed = before(f).count { case (b, files) =>
        (after(b) -- files).nonEmpty }
      assert(probed > 32, s"$f: the batch named $probed standing buckets")
    }
    val listing = jobs.filter(_._3.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"listing jobs: $listing")
    val big = jobs.filter(_._2 >= 64)
    assert(big.isEmpty, s"jobs with >= 64 tasks: $big")
    info(s"${jobs.size} jobs, ${jobs.map(_._2).sum} tasks")
  }
}
