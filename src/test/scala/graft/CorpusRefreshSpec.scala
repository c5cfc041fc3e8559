package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** The composed weekly-refresh lifecycle ([[Pipeline.refreshCorpus]]):
  * two consecutive batches end-to-end against one index root, the
  * three-state crash recovery, and the monotone-id refusal.
  */
class CorpusRefreshSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  // 4-token-grid chunking throughout: short docs stay multi-chunk
  private def run(batch: DataFrame, idxRoot: String, corpusDir: String) =
    Pipeline.refreshCorpus(spark, batch, idxRoot, corpusDir,
      jaccardThreshold = 0.5, maxHamming = 3, chunkTokens = 4,
      bandBuckets = 8, pieceBuckets = 8, chunkBuckets = 8)

  private val passage = "alpha beta gamma delta"
  private val doc0 = "the quick brown fox jumps over the lazy dog and " +
    "then runs far away into the deep dark forest tonight"

  test("two consecutive batches: within-batch and cross-batch doc drops, " +
      "chunk-level cleanup against the standing index, metadata survives, " +
      "report rows add up") {
    val idxRoot = tmp("refresh_idx")
    val corpusDir = tmp("refresh_corpus")

    val batch1 = Seq(
      (0L, doc0, "en"),
      (1L, doc0.replace("tonight", "today"), "en"), // near-dup of 0
      (2L, s"$passage epsilon zeta eta theta", "el"),
      (3L, "completely different words about spark query engines and " +
        "distributed joins running on large clusters", "en"))
      .toDF("doc_id", "text", "lang")
    val out1 = run(batch1, idxRoot, corpusDir)

    val pub1 = out1.published.select($"doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(pub1 === Set(0L, 2L, 3L)) // 1 dropped as 0's near-dup
    val r1 = out1.report.head()
    assert(r1.getAs[Long]("n_batch") === 4L)
    assert(r1.getAs[Long]("n_dropped") === 1L)
    assert(r1.getAs[Long]("n_published") === 3L)
    assert(r1.getAs[Long]("batch_max_id") === 3L)
    // metadata column rode along
    assert(out1.published.columns.contains("lang"))
    // all three index families came into being
    for (f <- Seq("minhash", "hamming", "chunk"))
      assert(new java.io.File(s"$idxRoot/$f/params").exists(), f)

    val batch2 = Seq(
      (10L, doc0, "en"), // exact dup of indexed doc 0 → dropped
      // shares doc 2's grid-aligned passage → kept, but cleaned
      (11L, s"$passage one two three four five six seven eight nine " +
        "ten eleven twelve", "en"),
      (12L, "entirely novel content discussing minhash banding buckets " +
        "and locality sensitive hashing methods", "en"))
      .toDF("doc_id", "text", "lang")
    val out2 = run(batch2, idxRoot, corpusDir)

    val pub2 = out2.published.select($"doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(pub2 === Set(11L, 12L))
    // the cross pair names the INDEXED doc as the kept canonical side
    val dupIds = out2.dupPairs.select($"id_a", $"id_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(dupIds.contains(0L) && dupIds.contains(10L))
    // doc 11 lost its indexed passage chunk but kept the rest
    val d11 = out2.published.where($"doc_id" === 11L).head()
    assert(d11.getAs[Int]("n_kept") < d11.getAs[Int]("n_chunks"))
    assert(!d11.getAs[String]("text").contains("alpha"))
    assert(d11.getAs[String]("text").contains("twelve"))
    // doc 12 untouched
    val d12 = out2.published.where($"doc_id" === 12L).head()
    assert(d12.getAs[Int]("n_kept") === d12.getAs[Int]("n_chunks"))

    // the whole published corpus reads back as one partitioned dataset
    val corpus = spark.read.parquet(s"$corpusDir/corpus")
    assert(corpus.columns.contains("batch_id"))
    assert(corpus.count() === 5L)
    // and the reports ledger has one row per batch
    assert(spark.read.parquet(s"$corpusDir/reports").count() === 2L)
  }

  test("re-running a fully committed batch is a read-back no-op; a crash " +
      "between corpus commit and report resumes by re-appending only, " +
      "and compactIndex clears the recovery's duplicate rows") {
    val idxRoot = tmp("recover_idx")
    val corpusDir = tmp("recover_corpus")
    val batch1 = Seq(
      (0L, doc0, "en"),
      (1L, s"$passage epsilon zeta eta theta", "el"))
      .toDF("doc_id", "text", "lang")
    run(batch1, idxRoot, corpusDir)
    val bands = () => spark.read.parquet(s"$idxRoot/minhash/bands")

    // fully committed → the second run must not append again
    val nBands = bands().count()
    val again = run(batch1, idxRoot, corpusDir)
    assert(bands().count() === nBands)
    assert(again.published.count() === 2L)

    // simulate a crash after the corpus commit but before the report:
    // the completion marker vanishes, the published partition stands
    val reportPart = new java.io.File(s"$corpusDir/reports/batch_id=1")
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
    }
    rmTree(reportPart)
    val recovered = run(batch1, idxRoot, corpusDir)
    assert(reportPart.exists()) // the marker is back
    assert(recovered.published.select($"doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 1L))
    // the re-append left duplicate rows (the documented price)...
    assert(bands().count() === 2 * nBands)
    // ...and compaction restores the single-copy layout without
    // changing what a later batch sees
    Dedup.compactIndex(spark, s"$idxRoot/minhash")
    assert(bands().count() === nBands)
  }

  test("a batch below the chunk watermark is refused before anything " +
      "is published") {
    val idxRoot = tmp("monotone_idx")
    val corpusDir = tmp("monotone_corpus")
    run(Seq((0L, doc0, "en"), (5L, s"$passage epsilon zeta", "el"))
      .toDF("doc_id", "text", "lang"), idxRoot, corpusDir)
    val stale = Seq((3L, "ids must be monotone across weekly batches",
      "en")).toDF("doc_id", "text", "lang")
    intercept[IllegalArgumentException] {
      run(stale, idxRoot, corpusDir)
    }
    // nothing from the refused batch landed
    assert(!new java.io.File(s"$corpusDir/corpus/batch_id=3").exists())
    assert(spark.read.parquet(s"$corpusDir/reports").count() === 1L)
  }

  test("embeddings modality: a semantic dup with DISTINCT text drops " +
      "(within batch 1, cross-index in batch 2), survivors' vectors " +
      "fold into ivf/ under the first batch's frozen geometry") {
    val idxRoot = tmp("sem_idx")
    val corpusDir = tmp("sem_corpus")
    val rnd = new scala.util.Random(11)
    val dirA = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val dirB = Array.tabulate(8)(i => if (i == 4) 1.0f else 0.0f)
    val dirC = Array.tabulate(8)(i => if (i == 7) 1.0f else 0.0f)
    def around(d: Array[Float]): Seq[Float] =
      d.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq
    def embFrame(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))

    // texts all far apart — ONLY the semantic modality can pair these
    val batch1 = Seq(
      (0L, "the quick brown fox jumps over the lazy sleeping dog", "en"),
      (1L, "completely different words about spark query engines and " +
        "joins", "en"),
      (2L, "unrelated prose discussing minhash banding and buckets", "en"))
      .toDF("doc_id", "text", "lang")
    val emb1 = embFrame(Seq(
      (0L, around(dirA)), (1L, around(dirA)), // 1 semantically dups 0
      (2L, around(dirB))))
    val out1 = Pipeline.refreshCorpus(spark, batch1, idxRoot, corpusDir,
      jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
      pieceBuckets = 8, chunkBuckets = 8, embeddings = Some(emb1),
      semanticThreshold = 0.95)
    assert(out1.published.select($"doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L))
    assert(out1.dupPairs.where($"family" === "cosine").count() >= 1L)
    assert(new java.io.File(s"$idxRoot/ivf/params").exists())

    val batch2 = Seq(
      (10L, "fresh narrative mentioning neither foxes nor engines " +
        "anywhere", "en"),
      (11L, "novel content on streaming watermarks and state stores",
        "en"))
      .toDF("doc_id", "text", "lang")
    val emb2 = embFrame(Seq(
      (10L, around(dirA)), // cross semantic dup of indexed 0
      (11L, around(dirC))))
    val out2 = Pipeline.refreshCorpus(spark, batch2, idxRoot, corpusDir,
      jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
      pieceBuckets = 8, chunkBuckets = 8, embeddings = Some(emb2),
      semanticThreshold = 0.95)
    assert(out2.published.select($"doc_id").collect()
      .map(_.getLong(0)).toSet === Set(11L))
    val cross = out2.dupPairs.where($"family" === "cosine")
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross.contains((0L, 10L)))
    // the ivf index holds exactly the published survivors' vectors
    assert(spark.read.parquet(s"$idxRoot/ivf/cells")
      .select($"vec_id").distinct().collect().map(_.getLong(0)).toSet
      === Set(0L, 2L, 11L))
  }

  test("retractCorpus: a retracted doc leaves the published corpus and " +
      "every index (ids, shingles, vectors, content chunks via " +
      "text_original); re-running is a no-op; maintainIndexes compacts " +
      "every family with probe answers intact") {
    val idxRoot = tmp("retract_idx")
    val corpusDir = tmp("retract_corpus")
    val doc0Text = "alpha beta gamma delta one two three four"
    // shares doc 0's first grid chunk (aligned), far below the doc-level
    // jaccard threshold — published with its shared chunk REMOVED, so
    // text_original is what the append stage indexed
    val doc1Text = "alpha beta gamma delta five six seven eight nine " +
      "ten eleven twelve"
    val rnd = new scala.util.Random(13)
    def around(hot: Int): Seq[Float] =
      Array.tabulate(8)(i => (if (i == hot) 1.0f else 0.0f) +
        0.01f * rnd.nextGaussian().toFloat).toSeq
    val emb1 = Seq((0L, around(0)), (1L, around(4)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val batch1 = Seq((0L, doc0Text, "en"), (1L, doc1Text, "en"))
      .toDF("doc_id", "text", "lang")
    Pipeline.refreshCorpus(spark, batch1, idxRoot, corpusDir,
      jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
      pieceBuckets = 8, chunkBuckets = 8, embeddings = Some(emb1))
    val batch2 = Seq((10L, "wholly unrelated narrative about streaming " +
      "watermarks and state stores", "en")).toDF("doc_id", "text", "lang")
    // the semantic modality rides on EVERY refresh of this corpus (the
    // drift guard refuses an omission)
    val emb2 = Seq((10L, around(2))).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    Pipeline.refreshCorpus(spark, batch2, idxRoot, corpusDir,
      jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
      pieceBuckets = 8, chunkBuckets = 8, embeddings = Some(emb2))

    // preconditions: doc 1 is published chunk-cleaned with its original
    // kept, and is indexed everywhere
    val corpus = () => spark.read.parquet(s"$corpusDir/corpus")
    val d1 = corpus().where($"doc_id" === 1L).head()
    assert(d1.getAs[Int]("n_kept") < d1.getAs[Int]("n_chunks"))
    assert(d1.getAs[String]("text_original") === doc1Text)
    assert(corpus().where($"doc_id" === 0L).head()
      .getAs[String]("text_original") === null) // unchanged docs store no copy
    assert(spark.read.parquet(s"$idxRoot/ivf/cells")
      .where($"vec_id" === 1L).count() > 0)

    val report = Pipeline.retractCorpus(spark, Seq(1L).toDF("doc_id"),
      idxRoot, corpusDir).head()
    assert(report.getAs[Long]("n_requested") === 1L)
    assert(report.getAs[Long]("n_retracted") === 1L)
    assert(report.getAs[Long]("n_remaining") === 2L)
    assert(corpus().select($"doc_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 10L))
    // id-addressed rows gone everywhere
    assert(spark.read.parquet(s"$idxRoot/minhash/shingles")
      .where($"doc_id" === 1L).count() === 0L)
    assert(spark.read.parquet(s"$idxRoot/hamming/pieces")
      .where($"doc_id" === 1L).count() === 0L)
    assert(spark.read.parquet(s"$idxRoot/ivf/cells")
      .where($"vec_id" === 1L).count() === 0L)
    // content-addressed chunks gone: a new batch with doc 1's ORIGINAL
    // text keeps every chunk — including the one it shared with the
    // still-standing doc 0 (the documented lapse-then-self-heal)
    val reprobe = Dedup.dedupChunksAgainstIndex(spark,
      Seq((100L, doc1Text)).toDF("doc_id", "text"),
      s"$idxRoot/chunk").head()
    assert(reprobe.getAs[Int]("n_kept") === reprobe.getAs[Int]("n_chunks"))
    // and the minhash probe no longer names the retracted doc
    val probeIds = pairSet(Dedup.nearDupAgainstIndex(spark,
      Seq((101L, doc1Text)).toDF("doc_id", "text"),
      s"$idxRoot/minhash", threshold = 0.5))
      .flatMap(p => Seq(p._1, p._2))
    assert(!probeIds.contains(1L))

    // idempotent: the same retraction again changes nothing
    val again = Pipeline.retractCorpus(spark, Seq(1L).toDF("doc_id"),
      idxRoot, corpusDir).head()
    assert(again.getAs[Long]("n_retracted") === 0L)
    assert(again.getAs[Long]("n_remaining") === 2L)

    // season maintenance: every family compacts, probes still answer
    Pipeline.maintainIndexes(spark, idxRoot)
    val still = pairSet(Dedup.nearDupAgainstIndex(spark,
      Seq((102L, doc0Text)).toDF("doc_id", "text"),
      s"$idxRoot/minhash", threshold = 0.5))
      .flatMap(p => Seq(p._1, p._2))
    assert(still.contains(0L))
  }

  test("recovery guards: stored params absorb mismatched caller knobs, " +
      "a params-less index refuses instead of silently overwriting, " +
      "and a crashed publish's staging dir is invisible to readers") {
    val idxRoot = tmp("guard_idx")
    val corpusDir = tmp("guard_corpus")
    val batch1 = Seq(
      (0L, doc0),
      (1L, s"$passage epsilon zeta eta theta")).toDF("doc_id", "text")
    run(batch1, idxRoot, corpusDir) // custom knobs: 4-token grid, 8 buckets
    // batch 2 invoked with the DEFAULT knobs (50-token chunks, 256
    // buckets, radius 3): the stored params must drive the within-batch
    // passes and the appends — before this guard the append's params
    // check refused AFTER the corpus partition was already published,
    // wedging the lifecycle on a knob mismatch
    val batch2 = Seq(
      (10L, doc0.replace("tonight", "today")), // near-dup of indexed 0
      (11L, "totally novel content about ocean currents and tides"))
      .toDF("doc_id", "text")
    val out2 = Pipeline.refreshCorpus(spark, batch2, idxRoot, corpusDir)
    assert(out2.published.select($"doc_id").collect()
      .map(_.getLong(0)).toSet === Set(11L)) // 10 dropped cross-index
    // appends really ran under the STORED geometry
    assert(spark.read.parquet(s"$idxRoot/chunk/params").head()
      .getAs[Int]("granularity") === 4)
    assert(spark.read.parquet(s"$idxRoot/minhash/params").head()
      .getAs[Int]("band_buckets") === 8)
    // a crashed publish's staging dir must NOT surface as a partition:
    // plant one and read the corpus back
    val stage = new java.io.File(s"$corpusDir/corpus/_stage_batch_id~99")
    Seq((999L, "junk")).toDF("doc_id", "text")
      .write.parquet(stage.toString)
    val corpus = spark.read.parquet(s"$corpusDir/corpus")
    assert(corpus.schema("batch_id").dataType
      .isInstanceOf[org.apache.spark.sql.types.LongType.type] ||
      corpus.schema("batch_id").dataType.typeName === "integer")
    assert(!corpus.select($"doc_id").collect().map(_.getLong(0))
      .contains(999L))
    // params-less index (a crash inside an append's params rewrite):
    // the next refresh must refuse loudly, not mode=overwrite the
    // standing signatures down to one batch
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf); p.delete()
    }
    rmrf(new java.io.File(s"$idxRoot/minhash/params"))
    val bandsBefore = spark.read.parquet(s"$idxRoot/minhash/bands")
      .count()
    val e = intercept[IllegalArgumentException] {
      Pipeline.refreshCorpus(spark,
        Seq((20L, "yet more new words entirely")).toDF("doc_id", "text"),
        idxRoot, corpusDir)
    }
    assert(e.getMessage.contains("without params"))
    assert(spark.read.parquet(s"$idxRoot/minhash/bands").count()
      === bandsBefore) // nothing was overwritten
  }

  test("containment modality: a doc-in-doc duplicate drops within " +
      "batch 1 and cross-index in batch 2; the postings index joins " +
      "the lifecycle and retraction covers it") {
    val idxRoot = tmp("ct_idx")
    val corpusDir = tmp("ct_corpus")
    val passage8 = s"$passage epsilon zeta eta theta"
    def filler(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    def runC(batch: DataFrame) = Pipeline.refreshCorpus(spark, batch,
      idxRoot, corpusDir, jaccardThreshold = 0.5, maxHamming = 3,
      chunkTokens = 4, bandBuckets = 8, pieceBuckets = 8,
      chunkBuckets = 8, containmentThreshold = Some(0.9))
    // batch 1: doc 1 QUOTES doc 0 inside unrelated filler — jaccard
    // can't see it (union-diluted), containment drops it within-batch
    val out1 = runC(Seq(
      (0L, passage8),
      (1L, s"${filler("w", 30)} $passage8")).toDF("doc_id", "text"))
    assert(out1.published.select($"doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L))
    assert(out1.dupPairs.where($"family" === "containment").count() >= 1)
    assert(new java.io.File(s"$idxRoot/containment/params").exists())
    // batch 2: doc 10 quotes the INDEXED doc 0 — the cross probe drops
    // it; novel doc 11 survives and folds in
    val out2 = runC(Seq(
      (10L, s"${filler("v", 30)} $passage8"),
      (11L, "totally novel content about ocean currents and tides"))
      .toDF("doc_id", "text"))
    assert(out2.published.select($"doc_id").collect()
      .map(_.getLong(0)).toSet === Set(11L))
    assert(out2.dupPairs.where($"family" === "containment" &&
      $"id_a" === 0L && $"id_b" === 10L).count() === 1)
    // survivors' postings folded in: doc 11 is now in the index
    assert(spark.read.parquet(s"$idxRoot/containment/shingles")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 11L))
    // retraction reaches the containment family
    Pipeline.retractCorpus(spark, Seq(Tuple1(11L)).toDF("doc_id"),
      idxRoot, corpusDir)
    assert(spark.read.parquet(s"$idxRoot/containment/shingles")
      .select($"doc_id").collect().map(_.getLong(0)).toSet === Set(0L))
  }

  test("benchmark modality: contamination columns ride the published " +
      "corpus, screened over the CLEANED text (boilerplate stripped " +
      "before screening), probe-only; report counts flagged docs") {
    val idxRoot = tmp("bm_idx")
    val corpusDir = tmp("bm_corpus")
    val benchDir = tmp("bm_bench")
    val passage8 = s"$passage epsilon zeta eta theta" // 8 tokens, 2 chunks
    val cities = "london paris berlin madrid rome lisbon dublin vienna"
    Dedup.writeBenchmarkIndex(
      Seq((900L, passage8), (901L, cities)).toDF("doc_id", "text"),
      benchDir, hashBuckets = 8)
    def runB(batch: DataFrame) = Pipeline.refreshCorpus(spark, batch,
      idxRoot, corpusDir, jaccardThreshold = 0.5, maxHamming = 3,
      chunkTokens = 4, bandBuckets = 8, pieceBuckets = 8,
      chunkBuckets = 8, benchmarkIndexDir = Some(benchDir))

    // batch 1: the passage doc IS benchmark content → flagged
    val out1 = runB(Seq((0L, passage8)).toDF("doc_id", "text"))
    val p1 = out1.published.head()
    assert(p1.getAs[Long]("n_contaminated") > 0L)
    assert(out1.report.head().getAs[Long]("n_contaminated_docs") === 1L)

    // batch 2: doc 10 = indexed passage + a long NOVEL tail — the
    // chunk index strips the passage BEFORE screening, so its cleaned
    // text carries zero benchmark n-grams (screening the ORIGINAL
    // would have flagged it); doc 11 quotes the cities eval set in
    // text the chunk index has never seen → flagged
    val tail = "unique tail words one two three four five six seven " +
      "eight nine"
    val out2 = runB(Seq(
      (10L, s"$passage8 $tail"),
      (11L, s"$cities afterwards extra trailing words"))
      .toDF("doc_id", "text"))
    val byId = out2.published.collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.keySet === Set(10L, 11L))
    assert(byId(10L).getAs[String]("text").startsWith("unique tail"))
    assert(byId(10L).getAs[Long]("n_contaminated") === 0L)
    assert(byId(11L).getAs[Long]("n_contaminated") > 0L)
    assert(out2.report.head().getAs[Long]("n_contaminated_docs") === 1L)
    // probe-only: two refreshes later the benchmark index holds
    // exactly the two eval sets' distinct shingles, nothing appended
    val benchShingles = Dedup.shingleHashArrays(
      Seq((900L, passage8), (901L, cities)).toDF("doc_id", "text"))
      .select(org.apache.spark.sql.functions.explode($"sh").as("h"))
      .distinct().count()
    assert(spark.read.parquet(s"$benchDir/hashes").count() ===
      benchShingles)
    // recovery read-back keeps the columns
    val again = runB(Seq(
      (10L, s"$passage8 $tail"),
      (11L, s"$cities afterwards extra trailing words"))
      .toDF("doc_id", "text"))
    assert(again.published.columns.contains("contaminated_frac"))
  }

  test("semantic-eval modality: embedding-level screen columns ride " +
      "the published corpus, probe-only, drift-guarded, and require " +
      "the embeddings modality") {
    val idxRoot = tmp("semeval_idx")
    val corpusDir = tmp("semeval_corpus")
    val evalDir = tmp("semeval_eval")
    val rnd = new scala.util.Random(31)
    val dirA = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val dirB = Array.tabulate(8)(i => if (i == 4) 1.0f else 0.0f)
    val dirC = Array.tabulate(8)(i => if (i == 7) 1.0f else 0.0f)
    def around(d: Array[Float]): Seq[Float] =
      d.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq
    def embFrame(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // eval set: one vector in doc 0's semantic neighborhood, one isolated
    embFrame(Seq((900L, around(dirA)), (901L, around(dirC))))
      .write.mode("overwrite").parquet(evalDir)

    val batch1 = Seq(
      (0L, "the quick brown fox jumps over the lazy sleeping dog", "en"),
      (1L, "completely different words about spark query engines", "en"))
      .toDF("doc_id", "text", "lang")
    val emb1 = embFrame(Seq((0L, around(dirA)), (1L, around(dirB))))
    def refresh(batch: DataFrame, emb: DataFrame,
        semeval: Option[String]) =
      Pipeline.refreshCorpus(spark, batch, idxRoot, corpusDir,
        jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
        pieceBuckets = 8, chunkBuckets = 8, embeddings = Some(emb),
        semanticEvalDir = semeval)
    val out1 = refresh(batch1, emb1, Some(evalDir))
    // doc 0 is a paraphrase-class hit: zero shared n-grams with any
    // benchmark, flagged purely by its embedding's nearest eval vector
    val rows = out1.published
      .select($"doc_id", $"semantic_max_cosine",
        $"semantic_nearest_eval_id", $"semantic_contaminated")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(rows(0L)._3 && rows(0L)._2 === 900L && rows(0L)._1 > 0.9)
    assert(!rows(1L)._3)
    assert(out1.report.head()
      .getAs[Long]("n_semantic_contaminated_docs") === 1L)
    // PROBE-ONLY: the eval vectors were read, never appended — the ivf
    // family holds exactly the published survivors
    assert(spark.read.parquet(s"$idxRoot/ivf/cells")
      .select($"vec_id").distinct().collect().map(_.getLong(0)).toSet
      === Set(0L, 1L))

    // drift guard: a later refresh FORGETTING the flag refuses loudly
    val batch2 = Seq((10L, "novel content on streaming watermarks and " +
      "state stores", "en")).toDF("doc_id", "text", "lang")
    val emb2 = embFrame(Seq((10L, around(dirC))))
    val e = intercept[IllegalArgumentException](
      refresh(batch2, emb2, None))
    assert(e.getMessage.contains("semantic-eval"))
    // with the flag the batch proceeds; the isolated-direction vector
    // flags against eval 901, proving the screen runs per batch
    val out2 = refresh(batch2, emb2, Some(evalDir))
    val r10 = out2.published.where($"doc_id" === 10L).head()
    assert(r10.getAs[Long]("semantic_nearest_eval_id") === 901L)

    // the modality requires embeddings (it screens the batch's vectors)
    val e2 = intercept[IllegalArgumentException](
      Pipeline.refreshCorpus(spark, batch1, tmp("se_idx2"),
        tmp("se_corpus2"), semanticEvalDir = Some(evalDir)))
    assert(e2.getMessage.contains("embeddings"))

    // ADOPTION mid-corpus is the operator's deliberate act: a corpus
    // created without the modality accepts it later and re-records the
    // marker — after which omission refuses
    val idx3 = tmp("se_idx3"); val corpus3 = tmp("se_corpus3")
    def refresh3(batch: DataFrame, emb: DataFrame,
        semeval: Option[String]) =
      Pipeline.refreshCorpus(spark, batch, idx3, corpus3,
        jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
        pieceBuckets = 8, chunkBuckets = 8, embeddings = Some(emb),
        semanticEvalDir = semeval)
    refresh3(batch1, emb1, None)
    refresh3(batch2, emb2, Some(evalDir)) // adoption
    val batch3 = Seq((20L, "more fresh prose about barrier execution",
      "en")).toDF("doc_id", "text", "lang")
    val emb3 = embFrame(Seq((20L, around(dirB))))
    val e3 = intercept[IllegalArgumentException](
      refresh3(batch3, emb3, None))
    assert(e3.getMessage.contains("semantic-eval"))
  }

  test("quality modality: a standing classifier model's score rides " +
      "every published doc (scoring, never filtering), the report " +
      "counts the advisory low-quality docs, the drift guard holds, " +
      "and a crashed model refuses BEFORE any mutation") {
    val idxRoot = tmp("qual_idx")
    val corpusDir = tmp("qual_corpus")
    val modelDir = tmp("qual_model")
    // a fixed, inspectable model — the spec needs exact scores, not a
    // fit (train() is QualityClassifierSpec's subject)
    graft.operators.QualityClassifier.writeModel(spark,
      Seq(("excellent", 2.0), ("spam", -2.0)).toDF("token", "weight"),
      bias = 0.0, modelDir)
    def batchOf(rows: (Long, String)*) =
      rows.toSeq.map { case (i, t) => (i, t, "en") }
        .toDF("doc_id", "text", "lang")
    def refresh(batch: org.apache.spark.sql.DataFrame,
        quality: Option[String]) =
      Pipeline.refreshCorpus(spark, batch, idxRoot, corpusDir,
        jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
        pieceBuckets = 8, chunkBuckets = 8,
        qualityModelDir = quality)
    val out1 = refresh(batchOf(
      (0L, "excellent a0 b0 c0 d0 e0 f0 g0 h0 i0"),
      (1L, "spam a1 b1 c1 d1 e1 f1 g1 h1 i1")), Some(modelDir))
    val scores = out1.published
      .select($"doc_id", $"quality_prob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // scoring, never filtering: BOTH docs published, scores attached
    assert(scores.size === 2)
    assert(scores(0L) > 0.5 && scores(1L) < 0.5, scores.toString)
    assert(out1.report.head()
      .getAs[Long]("n_low_quality_docs") === 1L)
    // drift guard: a later refresh FORGETTING the flag refuses loudly;
    // with it, the batch proceeds and scores
    val b2 = batchOf((10L, "spam a2 b2 c2 d2 e2 f2 g2 h2 i2"))
    val e = intercept[IllegalArgumentException](refresh(b2, None))
    assert(e.getMessage.contains("quality"))
    val out2 = refresh(b2, Some(modelDir))
    assert(out2.published.where($"doc_id" === 10L)
      .head().getAs[Double]("quality_prob") < 0.5)
    assert(out2.report.head()
      .getAs[Long]("n_low_quality_docs") === 1L)
    // a crashed (params-less) model refuses BEFORE any mutation: the
    // fresh corpus root gains nothing
    val crashedModel = tmp("qual_crashed")
    val fresh = tmp("qual_fresh_corpus")
    val e2 = intercept[IllegalArgumentException](
      Pipeline.refreshCorpus(spark, batchOf((0L, "alpha beta gamma")),
        tmp("qual_fresh_idx"), fresh, qualityModelDir = Some(crashedModel)))
    assert(e2.getMessage.contains("params"))
    assert(!new java.io.File(s"$fresh/corpus").exists())
  }

  test("tokenizer modality: a standing BPE model's subword count rides " +
      "every published doc, the report totals it, the drift guard " +
      "holds, and a crashed model refuses BEFORE any mutation") {
    import graft.operators.Bpe
    val idxRoot = tmp("tok_idx")
    val corpusDir = tmp("tok_corpus")
    val modelDir = tmp("tok_model")
    // fixed merges — training is BpeSpec's subject; with (e,s)(es,t)
    // "newest" tokenizes to [n e w est </w>] = 5 subwords
    Bpe.writeModel(spark, Seq(("e", "s"), ("es", "t")), modelDir)
    def batchOf(rows: (Long, String)*) =
      rows.toSeq.map { case (i, t) => (i, t, "en") }
        .toDF("doc_id", "text", "lang")
    def refresh(batch: org.apache.spark.sql.DataFrame,
        tok: Option[String]) =
      Pipeline.refreshCorpus(spark, batch, idxRoot, corpusDir,
        jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
        pieceBuckets = 8, chunkBuckets = 8,
        tokenizerModelDir = tok)
    val out1 = refresh(batchOf(
      (0L, "newest a0 b0 c0 d0 e0 f0 g0 h0 i0"),
      (1L, "fresh a1 b1 c1 d1 e1 f1 g1 h1 i1")), Some(modelDir))
    val counts = out1.published
      .select($"doc_id", $"n_subwords", $"text").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(counts.size === 2)
    // the count is over the CLEANED text — recompute to pin exactly
    val expect = counts.map { case (id, (_, text)) =>
      id -> Bpe.encode(Seq((id, text)).toDF("doc_id", "text"),
        Seq(("e", "s"), ("es", "t")))
        .select($"n_subwords").head().getInt(0)
    }
    assert(counts.map { case (id, (n, _)) => id -> n } === expect)
    assert(out1.report.head().getAs[Long]("n_subwords_total") ===
      counts.values.map(_._1.toLong).sum)
    // per-batch tokenizer provenance: the report row stamps the model
    // that denominated ITS counts — n_merges as the human-readable
    // diagnostic, the merges-content digest as the gateable identity
    assert(out1.report.head().getAs[Long]("tokenizer_n_merges") === 2L)
    assert(out1.report.head().getAs[String]("tokenizer_merges_digest")
      === Bpe.mergesDigest(Seq(("e", "s"), ("es", "t"))))
    // drift guard: forgetting the flag refuses; with it, batch 2 rides
    val b2 = batchOf((10L, "widest a2 b2 c2 d2 e2 f2 g2 h2 i2"))
    val e = intercept[IllegalArgumentException](refresh(b2, None))
    assert(e.getMessage.contains("tokenizer"))
    // a season RETRAIN lands between batches — same merge COUNT,
    // different content (exactly the state a count-only stamp cannot
    // see): the two report rows must disagree on the digest, making
    // the unit change auditable from the ledger alone
    Bpe.writeModel(spark, Seq(("w", "i"), ("wi", "d")), modelDir)
    val out2 = refresh(b2, Some(modelDir))
    assert(out2.published.where($"doc_id" === 10L)
      .head().getAs[Int]("n_subwords") > 0)
    assert(out2.report.head().getAs[Long]("tokenizer_n_merges") === 2L)
    val digests = Seq(out1, out2).map(_.report.head()
      .getAs[String]("tokenizer_merges_digest"))
    assert(digests.distinct.size === 2,
      s"retrained same-count model must stamp a different digest: $digests")
    assert(digests(1) === Bpe.mergesDigest(Seq(("w", "i"), ("wi", "d"))))
    // a crashed (params-less) model refuses BEFORE any mutation
    val fresh = tmp("tok_fresh_corpus")
    val e2 = intercept[IllegalArgumentException](
      Pipeline.refreshCorpus(spark, batchOf((0L, "alpha beta gamma")),
        tmp("tok_fresh_idx"), fresh,
        tokenizerModelDir = Some(tmp("tok_crashed"))))
    assert(e2.getMessage.contains("params"))
    assert(!new java.io.File(s"$fresh/corpus").exists())
  }

  test("tokenizer provenance stamps the FULL-model digest when the " +
      "model stores an alphabet: an alphabet-only retrain is visible " +
      "across two report rows while the merges digest stays equal; " +
      "legacy merges-only models stamp null") {
    import graft.operators.Bpe
    val idxRoot = tmp("tokfd_idx")
    val corpusDir = tmp("tokfd_corpus")
    val modelDir = tmp("tokfd_model")
    val merges = Seq(("e", "s"), ("es", "t"))
    val mA = Bpe.BpeModel(Seq("e", "s", "t", "</w>"), merges)
    Bpe.writeModel(spark, mA, modelDir)
    def batchOf(rows: (Long, String)*) =
      rows.toSeq.map { case (i, t) => (i, t, "en") }
        .toDF("doc_id", "text", "lang")
    def refresh(batch: org.apache.spark.sql.DataFrame) =
      Pipeline.refreshCorpus(spark, batch, idxRoot, corpusDir,
        jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
        pieceBuckets = 8, chunkBuckets = 8,
        tokenizerModelDir = Some(modelDir))
    val out1 = refresh(batchOf(
      (0L, "newest a0 b0 c0 d0 e0 f0 g0 h0 i0"),
      (1L, "fresh a1 b1 c1 d1 e1 f1 g1 h1 i1")))
    val r1 = out1.report.head()
    assert(r1.getAs[String]("tokenizer_model_digest") ===
      Bpe.modelDigest(mA))
    // the ALPHABET-ONLY season drift: a new code point entered the
    // corpus between retrains, the merge list is stable — every id
    // above the insertion point shifts, and before this column the
    // refresh ledger said "same tokenizer" while the export gate
    // refused (two surfaces disagreeing on one question)
    val mB = Bpe.BpeModel(Seq("e", "s", "t", "w", "</w>"), merges)
    Bpe.writeModel(spark, mB, modelDir)
    val out2 = refresh(batchOf(
      (10L, "widest a2 b2 c2 d2 e2 f2 g2 h2 i2")))
    val r2 = out2.report.head()
    assert(r1.getAs[String]("tokenizer_merges_digest") ===
      r2.getAs[String]("tokenizer_merges_digest"),
      "merges digest must be stable under an alphabet-only change")
    assert(r1.getAs[String]("tokenizer_model_digest") !==
      r2.getAs[String]("tokenizer_model_digest"),
      "the full-model digest must SEE the alphabet change")
    assert(r2.getAs[String]("tokenizer_model_digest") ===
      Bpe.modelDigest(mB))
    // a legacy merges-only model has no id space to state: null, the
    // merges digest still stamps (string-level counts stay auditable)
    val legacyModel = tmp("tokfd_legacy_model")
    Bpe.writeModel(spark, merges, legacyModel)
    val outL = Pipeline.refreshCorpus(spark,
      batchOf((0L, "newest a0 b0 c0 d0 e0 f0 g0 h0 i0")),
      tmp("tokfd_legacy_idx"), tmp("tokfd_legacy_corpus"),
      jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
      pieceBuckets = 8, chunkBuckets = 8,
      tokenizerModelDir = Some(legacyModel))
    val rl = outL.report.head()
    assert(rl.getAs[String]("tokenizer_model_digest") === null)
    assert(rl.getAs[String]("tokenizer_merges_digest") ===
      Bpe.mergesDigest(merges))
  }

  test("a passed tokenizerModel that is not the dir's stored model " +
      "refuses BEFORE any mutation") {
    import graft.operators.Bpe
    val modelDir = tmp("tokpass_model")
    val merges = Seq(("e", "s"), ("es", "t"))
    Bpe.writeModel(spark, Bpe.BpeModel(Seq("e", "s", "t", "</w>"), merges),
      modelDir)
    // same merges, one more alphabet symbol: a different id space
    val other = Bpe.BpeModel(Seq("e", "s", "t", "w", "</w>"), merges)
    val fresh = tmp("tokpass_corpus")
    val e = intercept[IllegalArgumentException](
      Pipeline.refreshCorpus(spark,
        Seq((0L, "newest a0 b0", "en")).toDF("doc_id", "text", "lang"),
        tmp("tokpass_idx"), fresh, tokenizerModelDir = Some(modelDir),
        tokenizerModel = Some(other)))
    assert(e.getMessage.contains("model_digest"), e.getMessage)
    assert(new java.io.File(fresh).list().isEmpty)
  }

  test("refresh shards=<dir> folds the published batch into the " +
      "standing export knob-inertly; missing tokenizer and missing " +
      "bootstrap refuse") {
    import graft.operators.Bpe
    val idxRoot = tmp("shfc_idx")
    val corpusDir = tmp("shfc_corpus")
    val modelDir = tmp("shfc_model")
    val exportDir = tmp("shfc_export")
    Bpe.writeModel(spark,
      Bpe.BpeModel(Seq("e", "s", "t", "</w>"),
        Seq(("e", "s"), ("es", "t"))), modelDir)
    def batchOf(rows: (Long, String)*) =
      rows.toSeq.map { case (i, t) => (i, t, "en") }
        .toDF("doc_id", "text", "lang")
    def writeTmpBatch(df: org.apache.spark.sql.DataFrame): String = {
      val d = tmp("shfc_b") + "/batch"
      df.write.parquet(d)
      d
    }
    // batch 1 publishes, then an explicit bootstrap export with
    // NON-default knobs (the knob-inert claim needs them distinct)
    Pipeline.refreshCorpus(spark,
      batchOf((0L, "newest a0 b0 c0 d0 e0 f0 g0 h0 i0"),
        (1L, "fresh a1 b1 c1 d1 e1 f1 g1 h1 i1")),
      idxRoot, corpusDir, jaccardThreshold = 0.5, chunkTokens = 4,
      bandBuckets = 8, pieceBuckets = 8, chunkBuckets = 8,
      tokenizerModelDir = Some(modelDir))
    Pipeline.writeTrainingShards(spark, corpusDir, modelDir, exportDir,
      seqLen = 7, numShards = 3)
    val n1 = spark.read.parquet(s"$exportDir/params").head()
      .getAs[Long]("n_sequences")
    // the composed cron line: refresh batch 2 WITH shards= — the
    // append reads seqLen=7/numShards=3 from the standing params
    graft.CorpusMain.run(spark, List("refresh", writeTmpBatch(
        batchOf((10L, "widest a2 b2 c2 d2 e2 f2 g2 h2 i2"))),
      idxRoot, corpusDir, s"tokenizer=$modelDir",
      s"shards=$exportDir"))
    val p2 = spark.read.parquet(s"$exportDir/params").head()
    assert(p2.getAs[Long]("n_sequences") > n1)
    assert(p2.getAs[Long]("seq_len") === 7L)
    assert(p2.getAs[Int]("num_shards") === 3)
    assert(p2.getAs[Long]("max_doc_id") === 10L)
    // the appended artifact reconstructs to the whole corpus
    val model = Bpe.readFullModel(spark, modelDir)
    val (seqs, _) = Pipeline.readTrainingShards(spark, exportDir,
      strict = true, modelDir = Some(modelDir))
    val got = graft.operators.Sharding
      .reconstructDocs(seqs, Some(Bpe.eosIdOf(model)))
      .count()
    assert(got === spark.read.parquet(s"$corpusDir/corpus").count())
    // shards= without tokenizer= refuses BEFORE the refresh mutates:
    // the batch must NOT publish and then leave the export lagging
    val nBefore = spark.read.parquet(s"$corpusDir/corpus").count()
    intercept[IllegalArgumentException] {
      graft.CorpusMain.run(spark, List("refresh", writeTmpBatch(
          batchOf((20L, "lowest a3 b3 c3 d3 e3 f3 g3 h3 i3"))),
        idxRoot, corpusDir, s"shards=$exportDir"))
    }
    assert(spark.read.parquet(s"$corpusDir/corpus").count() === nBefore)
    // shards= at an un-bootstrapped dir ALSO refuses pre-mutation
    // (a typo'd export path must not publish and then die)
    val eb = intercept[IllegalArgumentException] {
      graft.CorpusMain.run(spark, List("refresh", writeTmpBatch(
          batchOf((21L, "lowest a4 b4 c4 d4 e4 f4 g4 h4 i4"))),
        idxRoot, corpusDir, s"tokenizer=$modelDir",
        s"shards=${tmp("shfc_nowhere")}"))
    }
    assert(eb.getMessage.contains("no standing export"), eb.getMessage)
    assert(spark.read.parquet(s"$corpusDir/corpus").count() === nBefore)
    // a RETRAINED tokenizer refuses pre-publish too: the append's
    // digest gate would otherwise fire only after the batch published
    // (the publish-then-lag state the pre-flight exists to prevent)
    val retrained = tmp("shfc_retrained_model")
    Bpe.writeModel(spark,
      Bpe.BpeModel(Seq("e", "s", "t", "</w>"), Seq(("e", "s"))),
      retrained)
    val er = intercept[IllegalArgumentException] {
      graft.CorpusMain.run(spark, List("refresh", writeTmpBatch(
          batchOf((22L, "lowest a5 b5 c5 d5 e5 f5 g5 h5 i5"))),
        idxRoot, corpusDir, s"tokenizer=$retrained",
        s"shards=$exportDir"))
    }
    assert(er.getMessage.contains("different model"), er.getMessage)
    assert(spark.read.parquet(s"$corpusDir/corpus").count() === nBefore)
    // a retraction ledgered since the export refuses pre-publish with
    // the repair recovery (the append's ledger gate, surfaced early)
    Seq((1L, 1L)).toDF("n_requested", "n_retracted")
      .write.parquet(s"$corpusDir/retractions/retraction_id=xshfc")
    val el = intercept[IllegalArgumentException] {
      graft.CorpusMain.run(spark, List("refresh", writeTmpBatch(
          batchOf((23L, "lowest a6 b6 c6 d6 e6 f6 g6 h6 i6"))),
        idxRoot, corpusDir, s"tokenizer=$modelDir",
        s"shards=$exportDir"))
    }
    assert(el.getMessage.contains("retracted from since"),
      el.getMessage)
    assert(spark.read.parquet(s"$corpusDir/corpus").count() === nBefore)
    // a standing compaction marker refuses pre-publish too (the
    // append's own gate, surfaced early): without it the batch would
    // publish, the append would refuse post-publish, and the cron
    // would re-hit the same wall every run until the compaction is
    // re-run — the exact publish-then-lag recurrence the pre-flight
    // exists to prevent. The marker gate precedes the ledger gate,
    // so the still-planted retraction above does not mask it.
    val cm = new java.io.File(s"$exportDir/sequences/_compact~0")
    java.nio.file.Files.write(cm.toPath, "0;1;".getBytes("UTF-8"))
    val ec = intercept[IllegalArgumentException] {
      graft.CorpusMain.run(spark, List("refresh", writeTmpBatch(
          batchOf((24L, "lowest a7 b7 c7 d7 e7 f7 g7 h7 i7"))),
        idxRoot, corpusDir, s"tokenizer=$modelDir",
        s"shards=$exportDir"))
    }
    assert(ec.getMessage.contains("compactTrainingShards") &&
      ec.getMessage.contains("re-run the refresh"), ec.getMessage)
    assert(spark.read.parquet(s"$corpusDir/corpus").count() === nBefore)
    assert(cm.delete())
    // appending to a dir with no standing export refuses with the
    // explicit-bootstrap recovery (seqLen is a training contract,
    // never a silently inherited default)
    val e = intercept[IllegalArgumentException] {
      Pipeline.appendTrainingShards(spark, corpusDir, modelDir,
        tmp("shfc_fresh"))
    }
    assert(e.getMessage.contains("no standing export"), e.getMessage)
  }

  test("auditCorpus: a healthy lifecycle is all-ok across every check; " +
      "planted orphan / missing / crashed-refresh / ledger-drift states " +
      "are named with their recoveries at the right severity") {
    val idxRoot = tmp("audit_idx")
    val corpusDir = tmp("audit_corpus")
    def embFrame(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // 16 dims so every test id (0,1,2,10,11) lands on its own axis —
    // otherwise the refresh's SEMANTIC dedup drops an id-colliding doc
    // and the id-sync plants below miss their target
    def vec(seed: Int): Seq[Float] =
      Array.tabulate(16)(i => if (i == seed % 16) 1.0f else 0.0f).toSeq
    // every token carries the doc id: zero shared shingles, so NOTHING
    // dedups away and the published set is exactly the ingested ids
    // (the id-sync checks below plant against specific published ids)
    def doc(i: Long) = (i,
      (0 until 12).map(j => s"w${i}x$j").mkString(" "), "en")
    def refresh(ids: Seq[Long]) = Pipeline.refreshCorpus(spark,
      ids.map(doc).toDF("doc_id", "text", "lang"), idxRoot, corpusDir,
      jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
      pieceBuckets = 8, chunkBuckets = 8, postingBuckets = 8,
      embeddings = Some(embFrame(ids.map(i => i -> vec(i.toInt)))),
      containmentThreshold = Some(0.5))
    refresh(Seq(0L, 1L, 2L))
    refresh(Seq(10L, 11L))
    def audit() = Pipeline.auditCorpus(spark, idxRoot, corpusDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    val healthy = audit()
    assert(healthy.forall(_._2 == "ok"), healthy.mkString("\n"))
    // the audit actually visited every surface it claims to check
    assert(healthy.map(_._1).toSet === Set("corpus/doc_id",
      "minhash/shingles", "hamming/pieces", "containment/postings",
      "ivf/cells", "chunk/chunks", "reports", "retractions/arithmetic",
      "modalities/semantic", "modalities/containment"))

    // a real retraction keeps every invariant (corpus, indexes, ledger)
    Pipeline.retractCorpus(spark, Seq(1L).toDF("doc_id"), idxRoot,
      corpusDir)
    assert(audit().forall(_._2 == "ok"))

    // ORPHAN: an id in the index but not the corpus (a retraction that
    // missed a family) — error naming the idempotent retraction re-run
    graft.operators.Dedup.writeMinhashIndex(
      Seq((999L, "planted orphan text that was never published at all " +
        "in any batch")).toDF("doc_id", "text"),
      s"$idxRoot/minhash", bandBuckets = 8, mode = "append")
    val orphaned = audit()
    val o = orphaned.filter(_._1 == "minhash/shingles")
    assert(o.exists(f => f._2 == "error" && f._3 === 1L &&
      f._4.contains("retraction incompleteness")))
    // the named recovery restores all-ok
    graft.operators.Dedup.deleteFromIndex(spark, s"$idxRoot/minhash",
      Seq(999L).toDF("doc_id"))
    assert(audit().forall(_._2 == "ok"))

    // MISSING, text family: a published doc invisible to probes — error
    graft.operators.Dedup.deleteFromIndex(spark, s"$idxRoot/hamming",
      Seq(10L).toDF("doc_id"))
    assert(audit().exists(f => f._1 == "hamming/pieces" &&
      f._2 == "error" && f._3 == 1L &&
      f._4.contains("append incompleteness")))

    // MISSING, ivf: a doc without a vector is a WARN, never an error
    graft.operators.Dedup.deleteFromIndex(spark, s"$idxRoot/ivf",
      Seq(10L).toDF("doc_id"))
    assert(audit().exists(f => f._1 == "ivf/cells" && f._2 == "warn" &&
      f._3 == 1L))

    // CRASHED REFRESH: a corpus batch without its reports/ completion
    // marker — and the ledger arithmetic breaks with it (Σ n_published
    // lost that batch), both named
    val reportDirs = new java.io.File(s"$corpusDir/reports").listFiles()
      .filter(_.getName.startsWith("batch_id="))
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec); f.delete()
    }
    deleteRec(reportDirs.minBy(_.getName))
    val crashed = audit()
    assert(crashed.exists(f => f._1 == "reports" && f._2 == "error" &&
      f._4.contains("completion marker")))
    assert(crashed.exists(f => f._1 == "retractions/arithmetic" &&
      f._2 == "error"))

    // params over a half-deleted tree (fsck's crashed-write state):
    // the audit NAMES it as a finding instead of dying on a
    // path-not-found and masking every other check
    deleteRec(new java.io.File(s"$idxRoot/hamming/pieces"))
    val halfDeleted = audit()
    assert(halfDeleted.exists(f => f._1 == "hamming/pieces" &&
      f._2 == "error" && f._4.contains("crashed-write")))
    assert(halfDeleted.exists(f => f._1 == "minhash/shingles"))

    // a nonexistent corpus root is one loud error, not an empty report
    val none = Pipeline.auditCorpus(spark, idxRoot, tmp("audit_nothing"))
      .collect()
    assert(none.length === 1 && none.head.getString(1) === "error")
  }

  test("CorpusMain.run drives the scheduler cadence: refresh → stats → " +
      "maintain → retract, one JSON line per result row") {
    val idxRoot = tmp("cm_idx")
    val corpusDir = tmp("cm_corpus")
    val batchDir = tmp("cm_batch")
    val idsDir = tmp("cm_ids")
    Seq((0L, doc0), (1L, s"$passage epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(batchDir)
    def capture(args: String*): Seq[String] = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        CorpusMain.run(spark, args.toList)
      }
      bos.toString("UTF-8").linesIterator.toSeq.filter(_.nonEmpty)
    }
    val refreshed = capture("refresh", batchDir, idxRoot, corpusDir)
    assert(refreshed.length === 1)
    assert(refreshed.head.contains("\"n_published\":2"))
    val stats = capture("stats", idxRoot)
    // three text families present, minhash reporting two sub-datasets
    assert(stats.count(_.contains("\"family\":\"minhash\"")) === 2)
    assert(stats.exists(_.contains("\"dataset\":\"chunks\"")))
    assert(stats.exists(_.contains("\"dataset\":\"pieces\"")))
    assert(capture("maintain", idxRoot) ===
      Seq(s"""{"maintained":"$idxRoot"}"""))
    Seq(Tuple1(1L)).toDF("doc_id").write.mode("overwrite").parquet(idsDir)
    val retracted = capture("retract", idsDir, idxRoot, corpusDir)
    assert(retracted.length === 1)
    assert(retracted.head.contains("\"n_retracted\":1"))
    assert(retracted.head.contains("\"n_remaining\":1"))
    // eval-suite adoption: create, then fold a second suite in; the
    // stats sweep now reports the benchmark family too
    val suiteDir = tmp("cm_suite")
    Seq((900L, doc0)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(suiteDir)
    val benchDir = s"$idxRoot/benchmark"
    assert(capture("index-benchmark", suiteDir, benchDir).head
      .contains("\"mode\":\"overwrite\""))
    Seq((901L, "totally distinct benchmark prompts about tides"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(suiteDir)
    assert(capture("index-benchmark", suiteDir, benchDir, "append").head
      .contains("\"mode\":\"append\""))
    assert(capture("stats", idxRoot)
      .exists(_.contains("\"family\":\"benchmark\"")))
    // a later weekly batch with every optional modality as a key=value
    // flag: the benchmark screen flags doc 5 (it quotes the indexed
    // suite) and the containment modality's index comes into being
    Seq((5L, doc0), (6L, "fresh words with no overlap anywhere"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(batchDir)
    val r2 = capture("refresh", batchDir, idxRoot, corpusDir,
      s"bench=$benchDir", "containment=0.9")
    assert(r2.length === 1)
    assert(r2.head.contains("\"n_contaminated_docs\":"))
    assert(new java.io.File(s"$idxRoot/containment/params").exists())
    // the layout-migration line reaches both shingle families and is a
    // no-op on the already-bucketed layouts these refreshes wrote
    val migrated = capture("migrate-shingles", idxRoot)
    assert(migrated.exists(_.contains("minhash")))
    assert(migrated.exists(_.contains("containment")))
    // the maintenance-cadence containment sweep line: pairs land under
    // the out dir, one JSON report line (doc 5 republished doc0's text
    // as its own doc, so the sweep has at least that pair to surface)
    val sweepOut = tmp("cm_sweep")
    val swept = capture("sweep-containment", corpusDir, sweepOut, "0.9")
    assert(swept.length === 1 && swept.head.contains("\"n_pairs\":"))
    assert(spark.read.parquet(sweepOut).columns.toSet ===
      Set("id_a", "id_b", "containment"))
    // index-benchmark is an index-mutating pass like every other: a
    // held lease (a maintain compacting benchmark/ mid-write) refuses
    // it instead of interleaving the suite write with the swap
    graft.operators.Lease.acquire(spark, benchDir, "maintainIndexes")
    intercept[IllegalStateException] {
      capture("index-benchmark", suiteDir, benchDir, "append")
    }
    // one-command takeover for a crashed multi-dir pass: break-leases
    // sweeps the root plus direct children (here: the benchmark family
    // and a second stale lease a crashed refresh left on minhash)
    graft.operators.Lease.acquire(spark, s"$idxRoot/minhash",
      "refreshCorpus")
    val broken = capture("break-leases", idxRoot)
    assert(broken.length === 1 && broken.head.contains("benchmark") &&
      broken.head.contains("minhash"))
    assert(!new java.io.File(s"$benchDir/_LEASE").exists())
    assert(capture("index-benchmark", suiteDir, benchDir, "append").head
      .contains("\"mode\":\"append\""))
  }

  test("modality-drift guard: omitting a standing modality refuses " +
      "loudly, explicit adoption is allowed and recorded, and a " +
      "pre-marker corpus is validated from the index dirs") {
    val idxRoot = tmp("drift_idx")
    val corpusDir = tmp("drift_corpus")
    val b1 = Seq((0L, doc0, "en")).toDF("doc_id", "text", "lang")
    Pipeline.refreshCorpus(spark, b1, idxRoot, corpusDir,
      chunkTokens = 4, bandBuckets = 8, pieceBuckets = 8,
      chunkBuckets = 8, containmentThreshold = Some(0.9))
    assert(new java.io.File(s"$corpusDir/modalities").exists())
    // omission: the cron line forgot containment= — refused before any
    // state moves
    val b2 = Seq((10L, "fresh unrelated words", "en"))
      .toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      Pipeline.refreshCorpus(spark, b2, idxRoot, corpusDir,
        chunkTokens = 4, bandBuckets = 8, pieceBuckets = 8,
        chunkBuckets = 8)
    }
    assert(e.getMessage.contains("containment"))
    // adoption: the benchmark modality joins mid-corpus by explicit
    // flag; the marker updates and the next omission of IT refuses too
    val benchDir = tmp("drift_bench")
    Dedup.writeBenchmarkIndex(
      Seq((900L, "benchmark prompt suite")).toDF("doc_id", "text"),
      benchDir, hashBuckets = 8)
    Pipeline.refreshCorpus(spark, b2, idxRoot, corpusDir,
      chunkTokens = 4, bandBuckets = 8, pieceBuckets = 8,
      chunkBuckets = 8, containmentThreshold = Some(0.9),
      benchmarkIndexDir = Some(benchDir))
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.refreshCorpus(spark,
        Seq((20L, "more words", "en")).toDF("doc_id", "text", "lang"),
        idxRoot, corpusDir, chunkTokens = 4, bandBuckets = 8,
        pieceBuckets = 8, chunkBuckets = 8,
        containmentThreshold = Some(0.9))
    }
    assert(e2.getMessage.contains("benchmark"))
    // pre-marker corpus (published before the guard existed): the
    // standing containment/ dir itself refuses an omission
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
    }
    rmTree(new java.io.File(s"$corpusDir/modalities"))
    val e3 = intercept[IllegalArgumentException] {
      Pipeline.refreshCorpus(spark,
        Seq((30L, "yet more words", "en")).toDF("doc_id", "text", "lang"),
        idxRoot, corpusDir, chunkTokens = 4, bandBuckets = 8,
        pieceBuckets = 8, chunkBuckets = 8)
    }
    assert(e3.getMessage.contains("containment"))
  }

  test("sweep-containment surfaces a planted big-big pair the " +
      "incremental probe's size cut skips, reading text_original " +
      "where cleaning changed the text") {
    val idxRoot = tmp("sweep_idx")
    val corpusDir = tmp("sweep_corpus")
    val shared = (1 to 24).map(i => s"shared$i").mkString(" ")
    // A ≈ the shared passage; B embeds it in a much longer doc —
    // jaccard ≈ 0.4 (below the 0.5 refresh threshold, so B publishes)
    // but containment ≈ 0.9
    val docA = s"$shared tailA1 tailA2 tailA3 tailA4"
    val docB = s"$shared " + (1 to 30).map(i => s"onlyb$i").mkString(" ")
    Pipeline.refreshCorpus(spark,
      Seq((0L, docA, "en")).toDF("doc_id", "text", "lang"),
      idxRoot, corpusDir, jaccardThreshold = 0.5, chunkTokens = 4,
      bandBuckets = 8, pieceBuckets = 8, chunkBuckets = 8)
    Pipeline.refreshCorpus(spark,
      Seq((10L, docB, "en")).toDF("doc_id", "text", "lang"),
      idxRoot, corpusDir, jaccardThreshold = 0.5, chunkTokens = 4,
      bandBuckets = 8, pieceBuckets = 8, chunkBuckets = 8)
    // B published with the shared chunks STRIPPED (text_original kept)
    val d10 = spark.read.parquet(s"$corpusDir/corpus")
      .where($"doc_id" === 10L).head()
    assert(d10.getAs[Int]("n_kept") < d10.getAs[Int]("n_chunks"))
    assert(d10.getAs[String]("text_original") === docB)
    // the incremental containment probe at a big-big-excluding cap
    // (both docs above 8 shingles) misses the pair — the disclosed cut
    val ctDir = tmp("sweep_ct")
    Dedup.writeContainmentIndex(
      Seq((0L, docA)).toDF("doc_id", "text"), ctDir, postingBuckets = 8)
    assert(pairSet(Dedup.containmentPairsAgainstIndex(spark,
      Seq((10L, docB)).toDF("doc_id", "text"), ctDir, threshold = 0.8,
      smallMaxShingles = 8)).isEmpty)
    // the maintenance sweep's sampled-probe pass surfaces it
    val swept = pairSet(Pipeline.sweepContainment(spark, corpusDir,
      threshold = 0.8, sampleK = 16, smallMaxShingles = 8))
    assert(swept.exists(p => p._1 == 0L && p._2 == 10L && p._3 >= 0.8),
      s"sweep missed the planted pair: $swept")
  }

  test("index-backed sweep: the standing containment family's stored " +
      "shingles surface the same planted big-big pair bit-identically " +
      "to the inline text sweep — no shingle kernel in the plan") {
    val idxRoot = tmp("sweepix_idx")
    val corpusDir = tmp("sweepix_corpus")
    val shared = (1 to 24).map(i => s"shared$i").mkString(" ")
    val docA = s"$shared tailA1 tailA2 tailA3 tailA4"
    val docB = s"$shared " + (1 to 30).map(i => s"onlyb$i").mkString(" ")
    // the corpus RUNS the containment modality (threshold 0.9 — above
    // the planted pair's ≈0.85, so B still publishes and the standing
    // containment/ family holds both docs' arrays)
    for ((id, d) <- Seq((0L, docA), (10L, docB)))
      Pipeline.refreshCorpus(spark,
        Seq((id, d, "en")).toDF("doc_id", "text", "lang"),
        idxRoot, corpusDir, jaccardThreshold = 0.5, chunkTokens = 4,
        bandBuckets = 8, pieceBuckets = 8, chunkBuckets = 8,
        containmentThreshold = Some(0.9), postingBuckets = 8)
    assert(spark.read.parquet(s"$corpusDir/corpus").count() === 2L)
    val inline = Pipeline.sweepContainment(spark, corpusDir,
      threshold = 0.8, sampleK = 16, smallMaxShingles = 8)
    val viaIndex = Pipeline.sweepContainment(spark, corpusDir,
      threshold = 0.8, sampleK = 16, smallMaxShingles = 8,
      indexRoot = Some(idxRoot))
    // bit-identical pairs, scores included, and the planted pair is in
    assert(pairSet(viaIndex) === pairSet(inline))
    assert(pairSet(viaIndex).exists(p =>
      p._1 == 0L && p._2 == 10L && p._3 >= 0.8))
    // the index-backed plan reads stored arrays — the shingle kernel
    // (the inline sweep's largest stage at scale) is nowhere in it
    val planOf = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(planOf(inline).contains("shingle_hashes_sorted"))
    assert(!planOf(viaIndex).contains("shingle_hashes_sorted"))
    // an indexRoot whose containment family does not stand refuses
    // loudly instead of silently falling back to the re-shingle
    val e = intercept[IllegalArgumentException] {
      Pipeline.sweepContainment(spark, corpusDir, threshold = 0.8,
        indexRoot = Some(tmp("sweepix_nope")))
    }
    assert(e.getMessage.contains("containment"))
  }

  test("refreshCorpus maxBandFreq: a template-heavy batch publishes " +
      "under the cap (hot bands skipped = variants kept, the disclosed " +
      "trade) while cold-band genuine dups still dedup") {
    val idxRoot = tmp("cap_idx")
    val corpusDir = tmp("cap_corpus")
    val template = "lorem ipsum dolor sit amet consectetur adipiscing " +
      "elit sed do eiusmod tempor incididunt ut labore et dolore magna " +
      "aliqua enim ad minim veniam quis nostrud exercitation ullamco"
    val tpl = (0 until 12).map(i =>
      (100L + i, s"$template closing token$i", "en"))
    val genuine = Seq(
      (1L, "completely different prose about distributed query " +
        "engines shuffle exchanges and broadcast joins tonight", "en"),
      (2L, "completely different prose about distributed query " +
        "engines shuffle exchanges and broadcast joins today", "en"))
    val batch = (tpl ++ genuine).toDF("doc_id", "text", "lang")
    Pipeline.refreshCorpus(spark, batch, idxRoot, corpusDir,
      jaccardThreshold = 0.5, chunkTokens = 100, bandBuckets = 8,
      pieceBuckets = 8, chunkBuckets = 8, maxHamming = 0,
      maxBandFreq = 5L)
    val published = spark.read.parquet(s"$corpusDir/corpus")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    // the cold-vocabulary genuine near-dup pair deduped (min id wins)
    assert(published.contains(1L) && !published.contains(2L))
    // the JACCARD family emitted zero template pairs — the capped band
    // join never materialized the family's quadratic candidate set
    // (the cap's point); the genuine pair still came through it. The
    // template variants themselves still dedup via the OTHER families
    // (near-identical text shares a simhash), which is the composed
    // pipeline's defense-in-depth, not a cap leak.
    val pairs = spark.read.parquet(s"$corpusDir/pairs")
    val jaccard = pairs.where($"family" === "jaccard")
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jaccard === Set((1L, 2L)), s"jaccard pairs: $jaccard")
    assert(pairs.where($"family" =!= "jaccard")
      .where($"id_a" >= 100L).count() > 0)
    // the cap each batch ACTUALLY ran with is recorded in its report
    // row — a join-time knob isn't stored index geometry, so without
    // this column no audit could reconstruct a historical batch's
    // candidate recall
    assert(spark.read.parquet(s"$corpusDir/reports").head()
      .getAs[Long]("max_band_freq") === 5L)
  }

  test("retraction ledger: a corpus published before the ledger gets " +
      "its base stamped by the first retraction (one count, once), " +
      "and the remaining arithmetic stays exact across retractions") {
    val idxRoot = tmp("ledger_idx")
    val corpusDir = tmp("ledger_corpus")
    val docs = (0L until 4L).map(i =>
      (i, s"wholly distinct ledger document $i with words$i", "en"))
      .toDF("doc_id", "text", "lang")
    run(docs, idxRoot, corpusDir)
    // simulate a pre-upgrade corpus: no base, no ledger
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
    }
    rmTree(new java.io.File(s"$corpusDir/retraction_base"))
    val r1 = Pipeline.retractCorpus(spark, Seq(1L).toDF("doc_id"),
      idxRoot, corpusDir).head()
    assert(r1.getAs[Long]("n_retracted") === 1L)
    assert(r1.getAs[Long]("n_remaining") === 3L)
    assert(new java.io.File(s"$corpusDir/retraction_base").exists())
    // a second, different retraction: ledger rows accumulate, the
    // arithmetic needs no corpus job
    val r2 = Pipeline.retractCorpus(spark, Seq(2L, 3L).toDF("doc_id"),
      idxRoot, corpusDir).head()
    assert(r2.getAs[Long]("n_retracted") === 2L)
    assert(r2.getAs[Long]("n_remaining") === 1L)
    assert(spark.read.parquet(s"$corpusDir/retractions").count() === 2L)
    // overlapping re-request: already-gone ids count zero, remaining
    // unchanged
    val r3 = Pipeline.retractCorpus(spark, Seq(1L, 2L).toDF("doc_id"),
      idxRoot, corpusDir).head()
    assert(r3.getAs[Long]("n_retracted") === 0L)
    assert(r3.getAs[Long]("n_remaining") === 1L)
    // the ledger key is the composite (xor, count, hash-sum) form —
    // bare-XOR keys had structural collisions (sets whose hash
    // multisets XOR-cancel) that made first-wins skip distinct rows
    val parts = new java.io.File(s"$corpusDir/retractions").listFiles()
      .map(_.getName).filter(_.startsWith("retraction_id="))
    assert(parts.nonEmpty &&
      parts.forall(_.matches("retraction_id=x-?\\d+c\\d+s\\d+")),
      s"unexpected ledger keys: ${parts.mkString(",")}")
  }

  test("retraction ledger back-compat: a request ledgered under the " +
      "legacy bare-XOR key stays first-wins after the key upgrade " +
      "(no double-subtraction on re-run)") {
    val idxRoot = tmp("ledgerbc_idx")
    val corpusDir = tmp("ledgerbc_corpus")
    val docs = (0L until 4L).map(i =>
      (i, s"wholly distinct compat document $i with words$i", "en"))
      .toDF("doc_id", "text", "lang")
    run(docs, idxRoot, corpusDir)
    // simulate a retraction of {1} ledgered pre-upgrade: legacy dir
    // name = the bare XOR of the requested ids' hashes
    val legacyKey = Seq(1L).toDF("doc_id")
      .agg(org.apache.spark.sql.functions.expr(
        "bit_xor(xxhash64(doc_id))")).head().getLong(0)
    Seq((1L, 1L)).toDF("n_requested", "n_retracted").write
      .parquet(s"$corpusDir/retractions/retraction_id=$legacyKey")
    // ... which then crashed before its deletions (ledger-first is the
    // documented protocol) and is resumed post-upgrade by re-running
    // the SAME retraction
    val r0 = Pipeline.retractCorpus(spark, Seq(1L).toDF("doc_id"),
      idxRoot, corpusDir).head()
    assert(r0.getAs[Long]("n_remaining") === 3L)
    // the re-run found the LEGACY row: exactly one ledger row for the
    // request, not a composite-key duplicate next to it
    assert(spark.read.parquet(s"$corpusDir/retractions").count() === 1L)
    // and the arithmetic stays exact for a fresh composite-key request
    val r1 = Pipeline.retractCorpus(spark, Seq(2L).toDF("doc_id"),
      idxRoot, corpusDir).head()
    assert(r1.getAs[Long]("n_retracted") === 1L)
    assert(r1.getAs[Long]("n_remaining") === 2L)
    assert(spark.read.parquet(s"$corpusDir/retractions").count() === 2L)
    // a legacy row whose bare-XOR key COLLIDES with a NEW, DISTINCT
    // request (the structural weakness the composite key fixed) must
    // not swallow it: the stored n_requested differs, so the new
    // request writes its own composite row and its count enters the
    // ledger arithmetic
    val collidingKey = Seq(3L).toDF("doc_id")
      .agg(org.apache.spark.sql.functions.expr(
        "bit_xor(xxhash64(doc_id))")).head().getLong(0)
    Seq((7L, 0L)).toDF("n_requested", "n_retracted").write
      .parquet(s"$corpusDir/retractions/retraction_id=$collidingKey")
    val r2 = Pipeline.retractCorpus(spark, Seq(3L).toDF("doc_id"),
      idxRoot, corpusDir).head()
    assert(r2.getAs[Long]("n_retracted") === 1L)
    assert(r2.getAs[Long]("n_remaining") === 1L)
    assert(spark.read.parquet(s"$corpusDir/retractions").count() === 4L)
  }

  test("an empty batch is refused") {
    intercept[IllegalArgumentException] {
      run(Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang"),
        tmp("empty_idx"), tmp("empty_corpus"))
    }
  }

  test("chunkRule=line: the first batch creates a line-rule chunk " +
      "index, batch 2 cleans a cross-batch duplicated line under the " +
      "STORED rule, and a mismatched later knob is inert") {
    val idxRoot = tmp("line_idx")
    val corpusDir = tmp("line_corpus")
    def runLine(batch: DataFrame, rule: String) =
      Pipeline.refreshCorpus(spark, batch, idxRoot, corpusDir,
        jaccardThreshold = 0.5, maxHamming = 3, chunkTokens = 4,
        chunkRule = rule, bandBuckets = 8, pieceBuckets = 8,
        chunkBuckets = 8)
    val footer = "standard boilerplate footer line"
    val batch1 = Seq(
      (0L, s"first document body one\n$footer", "en"),
      (1L, s"second document body two\n$footer", "en"))
      .toDF("doc_id", "text", "lang")
    runLine(batch1, "line")
    // the index stored the line rule
    val (rule, g, _, _) = Dedup.readChunkIndexParams(spark,
      s"$idxRoot/chunk")
    assert(rule === "line" && g === 1)
    // within batch 1 the footer's first occurrence (doc 0) survived,
    // doc 1's copy dropped; reassembly is newline-joined
    val pub1 = spark.read.parquet(s"$corpusDir/corpus")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pub1(0L) === s"first document body one\n$footer")
    assert(pub1(1L) === "second document body two")
    // batch 2 (mismatched grid knob — inert: the STORED rule drives)
    val batch2 = Seq(
      (10L, s"third document body three\n$footer", "en"))
      .toDF("doc_id", "text", "lang")
    runLine(batch2, "grid")
    val pub2 = spark.read.parquet(s"$corpusDir/corpus")
      .where($"doc_id" === 10L).select($"text").head().getString(0)
    assert(pub2 === "third document body three")
    // an unknown rule refuses before any mutation
    intercept[IllegalArgumentException] {
      runLine(batch1, "words")
    }
  }

  test("trainDsirModel persists a complete scoreable ratio table under " +
      "the model dir's lease; crashed and incomplete models refuse") {
    import graft.operators.Sharding
    val root = tmp("dsir_model")
    Seq((0L, "high quality prose"), (1L, "zzz qqq junk"))
      .toDF("doc_id", "text")
      .write.parquet(s"$root/c/corpus")
    Seq((100L, "high quality prose")).toDF("doc_id", "text")
      .write.parquet(s"$root/target")
    val b = Pipeline.trainDsirModel(spark, s"$root/c", s"$root/target",
      s"$root/model", buckets = 64)
    assert(b === 64)
    val (w, buckets) = Sharding.readDsirModel(spark, s"$root/model")
    assert(buckets === 64 && w.count() === 64L)
    // scoring under the stored model == scoring under the fresh fit
    val corpus = spark.read.parquet(s"$root/c/corpus")
    val fresh = Sharding.dsirWeights(
      spark.read.parquet(s"$root/target"), corpus, 64)
    val a = Sharding.dsirScore(corpus, w, 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val e = Sharding.dsirScore(corpus, fresh, 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === e)
    // params-less dir refuses
    intercept[IllegalArgumentException] {
      Sharding.readDsirModel(spark, s"$root/target")
    }
    // an incomplete domain refuses on write
    intercept[IllegalArgumentException] {
      Sharding.writeDsirModel(spark, fresh.limit(10), 64,
        s"$root/model2")
    }
    // ...and a REFUSED write onto a standing model leaves it healthy
    // (validation runs before params/ is touched — a bad cron knob
    // must not destroy the model the streams are scoring under)
    intercept[IllegalArgumentException] {
      Sharding.writeDsirModel(spark, fresh.limit(10), 64,
        s"$root/model")
    }
    assert(Sharding.readDsirModel(spark, s"$root/model")._2 === 64)
    // a held lease refuses the build
    graft.operators.Lease.acquire(spark, s"$root/model", "other")
    intercept[IllegalStateException] {
      Pipeline.trainDsirModel(spark, s"$root/c", s"$root/target",
        s"$root/model", buckets = 64)
    }
  }

  test("the shard export follows the REAL corpus lifecycle end to " +
      "end: refresh -> export -> retractCorpus -> repair -> refresh " +
      "-> append — the repair consumes exactly the surfaces the real " +
      "retraction leaves behind, and the artifact always decodes to " +
      "the standing corpus") {
    import graft.operators.Bpe
    val idxRoot = tmp("e2e_idx")
    val corpusDir = tmp("e2e_corpus")
    val modelDir = tmp("e2e_model")
    val out = tmp("e2e_shards")
    // every token carries the doc id: zero shared shingles, nothing
    // dedups away (the auditCorpus fixture's trick) — the published
    // set is exactly the ingested ids
    def doc(i: Long) = (i,
      (0 until 12).map(j => s"w${i}x$j").mkString(" "), "en")
    def refresh(ids: Seq[Long]) = Pipeline.refreshCorpus(spark,
      ids.map(doc).toDF("doc_id", "text", "lang"), idxRoot, corpusDir,
      jaccardThreshold = 0.5, chunkTokens = 4, bandBuckets = 8,
      pieceBuckets = 8, chunkBuckets = 8)
    def export(mode: String) = Pipeline.writeTrainingShards(spark,
      corpusDir, modelDir, out, seqLen = 6, numShards = 2, mode = mode)
      .head()
    refresh(Seq(0L, 1L, 2L))
    Pipeline.trainBpeModel(spark, corpusDir, modelDir, numMerges = 16)
    export("overwrite")
    refresh(Seq(10L, 11L))
    export("append")
    // the artifact must ALWAYS reconstruct to the standing corpus
    val model = Bpe.readFullModel(spark, modelDir)
    val eos = Bpe.eosIdOf(model)
    def corpusStream() = Bpe.encodeIds(
        spark.read.parquet(s"$corpusDir/corpus")
          .select($"doc_id", $"text"), model)
      .orderBy($"doc_id").select($"ids").collect()
      .flatMap(_.getSeq[Int](0) :+ eos).toSeq
    def artifactStream() = spark.read.parquet(s"$out/sequences")
      .orderBy($"seq_id").select($"ids").collect()
      .flatMap(_.getSeq[Int](0)).toSeq
    assert(artifactStream() === corpusStream())
    // the REAL retraction: doc 10 leaves the corpus, the indexes, and
    // ledgers itself — no hand-built fixture surfaces anywhere
    Pipeline.retractCorpus(spark, Seq(10L).toDF("doc_id"), idxRoot,
      corpusDir)
    // the append gate refuses and names the repair; the repair heals
    val eg = intercept[IllegalArgumentException](export("append"))
    assert(eg.getMessage.contains("repairTrainingShards"), eg.getMessage)
    val r = Pipeline.repairTrainingShards(spark, corpusDir, modelDir,
      out).head()
    assert(artifactStream() === corpusStream())
    // the weekly cadence CONTINUES: refresh publishes, append packs
    refresh(Seq(20L, 21L))
    val r2 = export("append")
    assert(r2.getAs[Long]("n_sequences") > r.getAs[Long]("n_sequences"))
    assert(artifactStream() === corpusStream())
    // strict + model-checked consumer read is green end to end
    val (rs, rp) = Pipeline.readTrainingShards(spark, out,
      strict = true, modelDir = Some(modelDir))
    assert(rs.count() === rp.getAs[Long]("n_sequences"))
  }
}
