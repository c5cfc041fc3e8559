package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.{Dedup, DimRepair, RiskAggregation, Similarity,
  StarSchema}
import graft.sources.{Sinks, Sources}

/** The reference's full lifecycle (SURVEY.md §3) as one Spark job.
  *
  * E1 `Aggregator.run()` (reference main.py:71-84): manifest → COPY →
  * dedup+count aggregate → amplified update-join → single-file UNLOAD.
  * E2 `LoadToRDS.run()` (reference main.py:279-288): ref-data load →
  * star schema → dim_date + 4× CUBE + sentinels → dimension repair →
  * serve.
  *
  * Differences by design: one engine instead of two (no S3 CSV hop between
  * aggregation and serving tiers — the fact flows as a DataFrame); the
  * dimension-repair row loop becomes a distributed anti-join; `\COPY`
  * subprocesses become the batched JDBC writer. The single-file CSV
  * artifact is still produced (it is part of the reference's output
  * contract), but from the post-aggregation output only.
  *
  * The staging-table DDL dance (reference main.py:87-92, :342-376 —
  * CREATE/DROP/RENAME staging→final) maps to write-temp-then-atomic-rename
  * at the file layer, which `.mode("overwrite")` + `FileSystem.rename`
  * already give us in [[Sinks.singleFileCsv]]; catalog-table variants would
  * be `spark.sql("ALTER TABLE ... RENAME")` against a metastore.
  */
object Pipeline {

  case class Output(
      counts: DataFrame,
      dimDate: DataFrame,
      cubes: Map[String, DataFrame],
      dimCountry: DataFrame,
      dimAsn: DataFrame)

  /** Run end-to-end from a raw feed + reference dims to all serving
    * tables, writing artifacts under `outDir`.
    *
    * @param threshold `country_count_threshold` (reference main.py:64-67)
    */
  def run(spark: SparkSession, feedPaths: Seq[String], dimRisk: DataFrame,
      dimCountry: DataFrame, dimAsn: DataFrame, outDir: String,
      threshold: Long = 100L): Output = {
    // E1: ingest + flagship aggregation + amplified counts. Persist: the
    // aggregate feeds the unload artifact, the fact table, 4 cubes, and 2
    // repairs — one aggregation, many consumers.
    val logentry = Sources.logentryCsv(spark, feedPaths)
    val counts = RiskAggregation.run(logentry, dimRisk, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // UNLOAD artifact: single stable-named CSV (reference main.py:232-260)
    Sinks.singleFileCsv(counts, s"$outDir/unload")

    // E2: TIMESTAMP→DATE narrowing across the tier hop (SURVEY.md §1)
    val fact = counts.withColumn("date", to_date(col("date")))

    // star schema: date dimension + 4 cube tables with sentinels
    val dimDate = StarSchema.dimDate(fact)
    val cubes = StarSchema.buildCubes(fact)

    // dimension repair via distributed anti-joins
    val repairedCountry = DimRepair.repairCountries(fact, dimCountry)
    val repairedAsn = DimRepair.repairAsns(fact, dimAsn)

    // serve: partitioned/sorted parquet is the file-world analog of the
    // reference's 12 index families (reference main.py:530-552)
    Sinks.indexedParquet(fact, s"$outDir/fact_count",
      partitionCols = Seq("date"), sortCols = Seq("country", "risk"))
    cubes.foreach { case (g, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/agg_risk_country_$g")
    }
    dimDate.write.mode("overwrite").parquet(s"$outDir/dim_date")
    repairedCountry.write.mode("overwrite").parquet(s"$outDir/dim_country")
    repairedAsn.write.mode("overwrite").parquet(s"$outDir/dim_asn")

    Output(counts, dimDate, cubes, repairedCountry, repairedAsn)
  }

  /** E2's serving hand-off (reference main.py:279-288 →
    * `LoadToRDS.run()`): write every serving table to the JDBC target,
    * then apply the post-load constraint/index DDL (reference
    * main.py:499-552). The reference shells out to psql per table; here
    * the batched JDBC writer loads them in parallel and
    * [[Sinks.servingDdl]] replays the DDL.
    *
    * @param ddl post-load statements; defaults to the reference's full
    *            constraint+index family (postgres-cased — pass
    *            dialect-quoted statements for targets that fold
    *            differently, see [[Sinks.constraintDdl]])
    * @param preDdl best-effort teardown BEFORE the writes (per-statement
    *            errors ignored, like DROP IF EXISTS). Without it a
    *            SECOND run fails: the first run's FKs block the
    *            overwrite's per-table drop, and re-applying `ddl` would
    *            collide with existing constraint names (the reference
    *            drops everything CASCADE first, main.py:85-92)
    */
  def serveJdbc(out: Output, dimRisk: DataFrame, url: String,
      user: String = "", password: String = "",
      ddl: Seq[String] = Sinks.constraintDdl() ++ Sinks.indexDdl(),
      preDdl: Seq[String] = Sinks.dropServingTablesDdl())
      : Unit = {
    if (preDdl.nonEmpty)
      Sinks.servingDdl(url, preDdl, user, password, ignoreErrors = true)
    val fact = out.counts.withColumn("date", to_date(col("date")))
    Sinks.jdbc(dimRisk, url, "dim_risk", user, password,
      mode = "overwrite")
    Sinks.jdbc(out.dimCountry, url, "dim_country", user, password,
      mode = "overwrite")
    Sinks.jdbc(out.dimAsn, url, "dim_asn", user, password,
      mode = "overwrite")
    Sinks.jdbc(out.dimDate, url, "dim_date", user, password,
      mode = "overwrite")
    Sinks.jdbc(fact, url, "fact_count", user, password,
      mode = "overwrite")
    out.cubes.foreach { case (g, df) =>
      Sinks.jdbc(df, url, s"agg_risk_country_$g", user, password,
        mode = "overwrite")
    }
    if (ddl.nonEmpty) Sinks.servingDdl(url, ddl, user, password)
  }

  // ------------- extension-tier weekly refresh (the E3 cadence applied
  // ------------- to the LLM-corpus index lifecycle)

  /** What one [[refreshCorpus]] batch run leaves behind, as readable
    * frames: the published (deduplicated, chunk-cleaned) batch, the
    * one-row refresh report, and the duplicate-pair evidence behind the
    * drops.
    */
  case class RefreshOutput(
      published: DataFrame,
      report: DataFrame,
      dupPairs: DataFrame)

  /** Staged write + atomic rename — a direct overwrite to the final
    * path is not atomic (task files move in one by one), so a crash
    * could leave a partial dataset a recovery run would mistake for a
    * commit. Shared by [[refreshCorpus]]'s publishes and
    * [[retractCorpus]]'s partition rewrites.
    *
    * Two crash disciplines, both load-bearing:
    *  - the staging dir is UNDERSCORE-prefixed (`_stage_<name>`), so a
    *    crashed or in-flight publish inside a partitioned dataset root
    *    is INVISIBLE to readers — Spark's file listing skips `_`/`.`
    *    paths, where a bare `<name>__stage` sibling would surface as a
    *    bogus string-typed partition value and silently corrupt every
    *    whole-dataset read;
    *  - when `dest` already exists (a [[retractCorpus]] partition
    *    rewrite), the old dir is renamed ASIDE (`_old_<name>`) before
    *    the staged dir renames in — the [[Dedup.deleteFromIndex]]
    *    discipline: no row is ever unrecoverably lost; a crash between
    *    the two renames leaves the partition loudly absent with its
    *    old rows preserved (hidden) aside. Recovery: move the
    *    `_old_<name>` dir back and re-run — the rewrite is
    *    deterministic and idempotent. On success the aside is deleted.
    */
  private def stagedWrite(spark: SparkSession, df: DataFrame,
      dest: String, partitionCols: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    val destP = new Path(dest)
    val fs = destP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(destP.getParent)
    // the '=' must go: Spark's listing filter skips '_'/'.'-prefixed
    // names EXCEPT those containing '=' (so partition values may start
    // with an underscore) — '_stage_batch_id=7' would surface as a
    // conflicting partition column, '_stage_batch_id~7' is invisible
    val leaf = destP.getName.replace('=', '~')
    val tmp = new Path(destP.getParent, "_stage_" + leaf)
    val old = new Path(destP.getParent, "_old_" + leaf)
    Seq(tmp, old).foreach(p => if (fs.exists(p)) fs.delete(p, true))
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    if (fs.exists(destP))
      require(fs.rename(destP, old), s"rename $destP aside failed")
    require(fs.rename(tmp, destP), s"rename $tmp -> $destP failed")
    fs.delete(old, true)
  }

  /** The published corpus' row count by LEDGER arithmetic — Σ reports'
    * n_published − the stamped base − Σ retractions' n_retracted, each
    * a one-row-per-event dataset (no corpus scan). ONE definition for
    * the retraction report's `n_remaining` and the bm25 freshness
    * gate, so the two sites can never drift on the ledger shape.
    * Missing datasets count 0 (a corpus before its first report /
    * base stamp / retraction). */
  private[graft] def ledgeredCorpusRows(spark: SparkSession,
      corpusDir: String): Long = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sumOf(p: String, c: String): Long =
      if (fs.exists(new Path(p)))
        spark.read.parquet(p)
          .agg(coalesce(sum(col(c)), lit(0L))).head().getLong(0)
      else 0L
    sumOf(s"$corpusDir/reports", "n_published") -
      sumOf(s"$corpusDir/retraction_base", "n_adjust") -
      retractionLedgerTotal(spark, corpusDir)
  }

  /** Σ of the retraction ledger's `n_retracted` — the ONE definition
    * behind [[ledgeredCorpusRows]], [[auditCorpus]]'s arithmetic
    * check, and [[writeTrainingShards]]' packs-only-add gate, so a
    * future ledger-shape change can never make the gates compare
    * totals computed under different definitions. Missing ledger
    * (no retraction ever) counts 0. */
  private[graft] def retractionLedgerTotal(spark: SparkSession,
      corpusDir: String): Long = {
    import org.apache.hadoop.fs.Path
    val rp = new Path(s"$corpusDir/retractions")
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rp))
      spark.read.parquet(rp.toString)
        .agg(coalesce(sum(col("n_retracted")), lit(0L)))
        .head().getLong(0)
    else 0L
  }

  /** The composed weekly-refresh lifecycle for a document corpus — the
    * extension-tier analog of [[RefDataMain.refresh]]'s E3 cadence
    * (reference load_asn_ref_data.py:4-6: a small recurring job that
    * folds the week's data in, leaving serving state consistent). One
    * call processes ONE batch end-to-end:
    *
    *   1. PROBE: near-dup the batch within itself
    *      ([[Dedup.nearDupPairs]], [[Dedup.hammingCandidates]]) and
    *      against the standing indexes under `indexRoot`
    *      ([[Dedup.nearDupAgainstIndex]],
    *      [[Dedup.hammingCandidatesAgainstIndex]]) — index-side
    *      signatures are NOT recomputed; probe IO — file discovery
    *      as well as the scan ([[Dedup.probedBuckets]]) — is ∝ the
    *      batch's bucket footprint (a batch naming every bucket still
    *      lists them all). Discovery runs on the driver, one
    *      `listStatus` per named directory: no Spark listing job and
    *      no 32-path threshold, however many buckets the batch names.
    *      Docs in any duplicate cluster keep only
    *      the cluster's canonical (min id — always the INDEXED doc
    *      for cross pairs, because ids are monotone across batches);
    *      then the survivors' texts are substring-deduplicated against
    *      the standing chunk index ([[Dedup.dedupChunksAgainstIndex]];
    *      within-batch [[Dedup.dedupChunks]] on the first batch).
    *   2. PUBLISH: the duplicate-pair evidence and the cleaned
    *      survivors land under `corpusDir` as
    *      `pairs/batch_id=<maxId>` and `corpus/batch_id=<maxId>`
    *      (staged write + atomic rename each — the reference's
    *      staging-table swap, main.py:345-347). The corpus rename is
    *      the probe-stage commit point.
    *   3. APPEND: the survivors' ORIGINAL rows fold into all three
    *      text index families (`mode = "append"`; the first batch
    *      creates them). Original, not cleaned, text: the minhash /
    *      simhash signature of a published doc must describe the doc
    *      as ingested, and the chunk index must hold every chunk the
    *      full-run first-occurrence rule attributes to it.
    *   4. REPORT: a one-row summary lands LAST under
    *      `reports/batch_id=<maxId>` — the batch's completion marker.
    *
    * Crash recovery — re-run the SAME call, it resumes from the
    * completed stage: report present → the batch is fully folded in,
    * the run is a read-back no-op; corpus partition present but report
    * absent → probes are skipped (re-probing after a partial append
    * would see the batch's own rows) and the appends re-run — each is
    * idempotent at the documented duplicate-row price
    * ([[Dedup.compactIndex]] re-distincts); neither present → full
    * run, the staged writes overwrite any half-published leftovers.
    *
    * Contracts inherited from the index families, enforced there: ids
    * monotone across batches (batch min above the chunk watermark —
    * [[Dedup.dedupChunksAgainstIndex]] refuses otherwise), single
    * writer per index, and the SAME signature parameters on every call
    * against one `indexRoot` (appends refuse a mismatch).
    *
    * Scale: every stage is the already-proven operator — no new plan
    * shapes. The one composition-level cost is the corpus read-back
    * for the append stage (one column, one partition dir); at 100 TB
    * the batch, not the standing corpus, bounds all probe and append
    * work, and [[Dedup.compactIndex]] + [[Dedup.deleteFromIndex]] are
    * the season-scale maintenance passes between refreshes.
    *
    * @param batch this week's documents — `doc_id` (globally unique,
    *              above every previous batch), `text`, plus any
    *              metadata columns (published unchanged)
    * @param embeddings optional `(vec_id, embedding)` vectors for THIS
    *              batch's docs (`vec_id == doc_id`) — when given, the
    *              SEMANTIC modality joins the lifecycle: within-batch
    *              pairs ([[Dedup.semanticNearDupPairs]], auto-nlist)
    *              and, once `ivf/` exists, cross pairs against the
    *              stored cells
    *              ([[Dedup.semanticNearDupAgainstIndex]]) add to the
    *              drop edges, and the survivors' vectors fold into
    *              `ivf/` ([[Similarity.appendIvfIndex]]; the FIRST
    *              batch bootstraps it — its survivors' k-means
    *              centroids become the index's frozen geometry, the
    *              SemDeDup incremental contract)
    * @param indexRoot standing indexes: `minhash/`, `hamming/`,
    *              `chunk/` (created on first call; plus `ivf/` when
    *              `embeddings` is given and `containment/` when
    *              `containmentThreshold` is)
    * @param containmentThreshold when given, the CONTAINMENT modality
    *              joins the lifecycle: doc-in-doc duplicate pairs
    *              (overlap coefficient ≥ the threshold — the family
    *              Jaccard's union denominator suppresses) add to the
    *              drop edges, probed against a standing `containment/`
    *              postings index under `indexRoot`
    *              ([[Dedup.containmentPairsAgainstIndex]] — one call
    *              covers within-batch AND cross pairs, because the df
    *              cut is global; the first batch runs the inline
    *              pass), and survivors' postings fold in on append.
    *              Same always-or-never-per-corpus rule as the other
    *              optional modalities. The incremental probe
    *              deliberately skips BIG-BIG pairs (two above-cap
    *              docs; the probe-∝-batch economics,
    *              [[Dedup.containmentCandidatesAgainstIndex]]) — run
    *              [[sweepContainment]] at maintenance cadence to
    *              cover them.
    * @param postingBuckets `postings/` partition count for the FIRST
    *              batch's containment index creation (stored; later
    *              appends use the stored value). Its own knob — the
    *              minhash `bandBuckets` tunes an unrelated family.
    * @param benchmarkIndexDir optional standing
    *              [[Dedup.writeBenchmarkIndex]] eval-suite index —
    *              when given, the published docs' CLEANED text (the
    *              text a training run would actually consume) is
    *              screened against it and the contamination report
    *              columns (`n_shingles`, `n_contaminated`,
    *              `contaminated_frac`) ride on the published corpus,
    *              with `n_contaminated_docs` in the report.
    *              PROBE-ONLY by design: training batches never append
    *              to the benchmark index (eval suites change by
    *              adoption, via `writeBenchmarkIndex(mode="append")`
    *              out of band) — the asymmetry that distinguishes this
    *              modality from the three corpus index families.
    *              Refreshes of ONE corpus should either always or
    *              never pass it (the published columns differ).
    * @param semanticEvalDir optional parquet directory of EVAL-SET
    *              embeddings `(vec_id, embedding)` — when given (and
    *              the `embeddings` modality runs, which it requires),
    *              the published docs' vectors are screened against the
    *              eval vectors ([[Dedup.semanticContaminationScreen]])
    *              and the semantic-contamination columns
    *              (`semantic_max_cosine`, `semantic_nearest_eval_id`,
    *              `semantic_contaminated`) ride on the published
    *              corpus, with `n_semantic_contaminated_docs` in the
    *              report — the embedding-level complement of the
    *              n-gram `benchmarkIndexDir` screen, for paraphrased
    *              eval leakage that shares no n-grams. PROBE-ONLY like
    *              the benchmark modality: eval vectors are read, never
    *              appended anywhere. Same always-or-never-per-corpus
    *              rule, enforced by the modality marker. Published
    *              docs WITHOUT a batch vector screen as unflagged
    *              (null score), the screen's completeness rule.
    * @param semanticEvalThreshold the `semantic_contaminated` verdict
    *              cut (cosine to the nearest eval vector).
    * @param qualityModelDir optional persisted
    *              [[graft.operators.QualityClassifier]] model — when
    *              given, every published doc's cleaned text is scored
    *              and `quality_prob` rides the corpus, with the
    *              advisory `n_low_quality_docs` (score <
    *              `qualityThreshold`) in the report. SCORING, not
    *              filtering: admission policy (a threshold cut,
    *              [[graft.operators.Sharding.paretoAccept]]) belongs
    *              to corpus consumers, and the stored score keeps any
    *              policy recomputable without re-scoring. PROBE-ONLY
    *              (the model is read, never written); the model dir is
    *              validated BEFORE any mutation, so a crashed or
    *              misspelled model refuses up front. Same
    *              always-or-never-per-corpus rule via the modality
    *              marker's backward-compatible `quality` flag.
    * @param qualityThreshold the report's advisory low-quality cut.
    * @param tokenizerModelDir optional persisted
    *              [[graft.operators.Bpe]] merge-list model — when
    *              given, every published doc's cleaned text is
    *              tokenized (map-only, the encode kernel) and
    *              `n_subwords` rides the corpus with the batch's
    *              `n_subwords_total` in the report: token ACCOUNTING
    *              in the units a training run consumes, maintained as
    *              the corpus grows instead of recomputed by every
    *              budget/shard/pack consumer. Each report row stamps
    *              the model that denominated ITS counts
    *              (`tokenizer_n_merges`, `tokenizer_merges_digest` —
    *              [[graft.operators.Bpe.mergesDigest]]), so a season
    *              retrain between batches is visible in the ledger
    *              instead of silently mixing two models' units under
    *              one column name. PROBE-ONLY (model read,
    *              never written), validated before any mutation; same
    *              always-or-never rule via the marker's
    *              backward-compatible `tokenizer` flag.
    * @param corpusDir published corpus root: `corpus/`, `pairs/`,
    *              `reports/`, each partitioned by `batch_id` — read
    *              the whole corpus back with
    *              `spark.read.parquet(s"$corpusDir/corpus")`
    * @param maxBandFreq hot-LSH-band cap for the minhash candidate
    *              joins ([[Dedup.minhashCandidates]]' knob): band
    *              buckets with more members are skipped (audit via
    *              [[Dedup.minhashHotBands]]). 0 (default) = off. A
    *              JOIN-time knob, not stored index geometry — pass
    *              the same value on every refresh of one corpus; the
    *              value each batch ACTUALLY ran with is recorded in
    *              its report row (`max_band_freq`), so historical
    *              candidate recall stays reconstructible even if a
    *              cron line drifts.
    */
  def refreshCorpus(spark: SparkSession, batch: DataFrame,
      indexRoot: String, corpusDir: String,
      jaccardThreshold: Double = 0.7,
      maxHamming: Int = 3,
      chunkTokens: Int = 50,
      chunkRule: String = "grid",
      bandBuckets: Int = 256,
      pieceBuckets: Int = 256,
      chunkBuckets: Int = 256,
      embeddings: Option[DataFrame] = None,
      semanticThreshold: Double = 0.95,
      multiAssign: Int = 1,
      benchmarkIndexDir: Option[String] = None,
      containmentThreshold: Option[Double] = None,
      postingBuckets: Int = 256,
      maxBandFreq: Long = 0L,
      semanticEvalDir: Option[String] = None,
      semanticEvalThreshold: Double = 0.9,
      qualityModelDir: Option[String] = None,
      qualityThreshold: Double = 0.5,
      tokenizerModelDir: Option[String] = None,
      // the tokenizer model ALREADY READ (the writeTrainingShardsWith
      // seam): a cron line that pre-flighted the shards append has
      // validated and read the same complete model one call earlier —
      // passing it skips this refresh's own model re-read; a model
      // whose digest differs from the dir's refuses. Ignored without
      // tokenizerModelDir (the dir names the modality).
      tokenizerModel: Option[graft.operators.Bpe.BpeModel] = None)
      : RefreshOutput = {
    require(semanticEvalDir.isEmpty || embeddings.isDefined,
      "refreshCorpus: semanticEvalDir screens the batch's VECTORS — " +
        "it requires the embeddings modality (pass embeddings too)")
    // the substring-clean granularity rule, FIRST batch only (once the
    // chunk index exists its STORED rule drives both the clean and the
    // append — the knob-inert contract every index family here has);
    // chunkTokens is the grid window / cdc divisor, ignored for line
    require(Set("grid", "cdc", "line")(chunkRule),
      s"refreshCorpus: unknown chunkRule '$chunkRule' " +
        "(expected 'grid', 'cdc' or 'line')")
    // read (and so validate) the quality model BEFORE any mutation:
    // a misspelled or crashed model dir refuses here, not mid-publish
    val qualityModel = qualityModelDir.map(d =>
      graft.operators.QualityClassifier.readModel(spark, d))
    // same up-front validation for the tokenizer model (the readers
    // refuse crashed writes and rank holes before anything mutates).
    // ONE read per model form: readFullModel subsumes readModel's
    // validation (it calls it), so the full-model path reads the model
    // datasets once instead of three times (merges read + params
    // schema probe + full read — ~6 metadata jobs per refresh at the
    // old shape; guide §1.2 "don't compute things you throw away")
    val bpeFull = tokenizerModelDir.map { d =>
      // refusal contract FIRST: a crashed (params-less) model dir must
      // raise the readers' IllegalArgumentException("…params…"), not
      // leak Spark's AnalysisException out of the params read
      val paramsPath = new org.apache.hadoop.fs.Path(s"$d/params")
      require(paramsPath
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(paramsPath),
        s"$d has no params/ — not a written BPE model (or its " +
          "write crashed before the params commit); re-run " +
          "writeModel")
      val params = spark.read.parquet(s"$d/params")
      tokenizerModel match {
        // pre-read complete model: its read already ran the refusal
        // chain (rank holes, digest), so the dir is not re-read — but
        // it must BE the dir's model, or the encodings and the report's
        // provenance stamp would come from a model the dir does not
        // hold. One params-row read decides; a legacy row without a
        // digest is tolerated, as readFullModel tolerates it
        case Some(m) =>
          if (params.schema.fieldNames.contains("model_digest")) {
            val stored = params.head().getAs[String]("model_digest")
            val passed = graft.operators.Bpe.modelDigest(m)
            require(stored == passed,
              s"refreshCorpus: the passed tokenizerModel (digest " +
                s"$passed) is not the " +
                s"model stored in $d (model_digest $stored) — pass the " +
                "model read from that dir, or omit it")
          }
          Right(m)
        case None =>
          if (params.schema.fieldNames.contains("n_alphabet"))
            Right(graft.operators.Bpe.readFullModel(spark, d))
          else Left(graft.operators.Bpe.readModel(spark, d))
      }
    }
    val bpeMerges = bpeFull.map(_.fold(identity, _.merges))
    // the FULL-model content digest for the report's provenance stamp
    // (None for legacy merges-only models — they store no alphabet, so
    // there is no full-model content to state): the id SPACE is
    // (alphabet ++ merges), and an alphabet-only drift between
    // retrains shifts every id above the insertion point while the
    // merges digest stays equal — without this column the refresh
    // ledger would say "same tokenizer" for a model the export gate
    // rightly refuses, and the two surfaces would disagree
    val bpeModelDigest = bpeFull.flatMap(
      _.toOption.map(graft.operators.Bpe.modelDigest))
    import org.apache.hadoop.fs.Path
    val fs = new Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String): Boolean = fs.exists(new Path(p))

    // one setup job carries the id range AND the batch count the
    // report needs later (the composed lifecycle is ~30 small actions
    // at bench scale — every merged job is floor shaved off q100)
    val idRange = batch.agg(min(col("doc_id")), max(col("doc_id")),
      count(lit(1))).head()
    require(!idRange.isNullAt(1),
      "refreshCorpus: empty batch — nothing to fold in")
    val (minId, maxId) = (idRange.getLong(0), idRange.getLong(1))
    val nBatch = idRange.getLong(2)

    val minhashDir = s"$indexRoot/minhash"
    val hammingDir = s"$indexRoot/hamming"
    val chunkDir = s"$indexRoot/chunk"
    val corpusPart = s"$corpusDir/corpus/batch_id=$maxId"
    val pairsPart = s"$corpusDir/pairs/batch_id=$maxId"
    val reportPart = s"$corpusDir/reports/batch_id=$maxId"

    def readBack(): RefreshOutput = RefreshOutput(
      spark.read.parquet(corpusPart),
      spark.read.parquet(reportPart),
      spark.read.parquet(pairsPart))

    if (exists(reportPart)) return readBack()

    // ---- single-writer lease (writer-vs-writer only — probes never
    // consult it): everything below mutates corpusDir and the family
    // dirs, and a concurrent maintain/retract/bridge-append over the
    // same dirs must refuse, not interleave its staged renames with
    // ours ([[graft.operators.Lease]] has the stale-takeover
    // contract). ivf/containment join the lease set exactly when this
    // refresh runs those modalities.
    val leaseDirs = Seq(corpusDir, minhashDir, hammingDir, chunkDir) ++
      embeddings.map(_ => s"$indexRoot/ivf") ++
      containmentThreshold.map(_ => s"$indexRoot/containment") ++
      // bm25 joins by INDEX PRESENCE, not a cron flag: the retrieval
      // family follows the corpus whenever it stands (see the append
      // below), so there is no flag to forget and no drift to guard
      (if (exists(s"$indexRoot/bm25/params")) Seq(s"$indexRoot/bm25")
       else Nil)
    graft.operators.Lease.withLeases(spark, leaseDirs,
      "refreshCorpus") {

      // ---- modality-drift guard: a refresh that SILENTLY OMITS a
      // modality this corpus runs with (embeddings / containment /
      // benchmark flag forgotten on one cron line) would leave that
      // index blind to the batch and publish schema-divergent rows — so
      // the corpus records its modality set under `modalities/` and an
      // omission is REFUSED. Explicit ADOPTION of a new modality
      // mid-corpus is allowed (the flag's presence is the operator's
      // deliberate act) and updates the marker; the adopting batch's
      // index starts from that batch (earlier batches are not
      // retro-probed, and earlier published partitions lack the
      // benchmark columns — read the corpus with mergeSchema if adopted
      // mid-way). Corpora published before the marker existed are
      // validated from the standing index dirs once, then stamped.
      val askedModalities = (embeddings.isDefined,
        containmentThreshold.isDefined, benchmarkIndexDir.isDefined,
        semanticEvalDir.isDefined, qualityModelDir.isDefined,
        tokenizerModelDir.isDefined)
      val modalitiesPath = s"$corpusDir/modalities"
      val storedModalities =
        if (exists(modalitiesPath)) {
          val mdf = spark.read.parquet(modalitiesPath)
          val r = mdf.head()
          // markers written before a modality existed lack its column:
          // absent = the corpus never ran it (backward-compatible)
          def flag(name: String): Boolean =
            mdf.schema.fieldNames.contains(name) &&
              r.getAs[Boolean](name)
          Some((r.getAs[Boolean]("semantic"),
            r.getAs[Boolean]("containment"),
            r.getAs[Boolean]("benchmark"), flag("semantic_eval"),
            flag("quality"), flag("tokenizer")))
        } else None
      storedModalities match {
        case Some(stored) =>
          val omitted = Seq("semantic" -> (stored._1 && !askedModalities._1),
            "containment" -> (stored._2 && !askedModalities._2),
            "benchmark" -> (stored._3 && !askedModalities._3),
            "semantic-eval" -> (stored._4 && !askedModalities._4),
            "quality" -> (stored._5 && !askedModalities._5),
            "tokenizer" -> (stored._6 && !askedModalities._6))
            .collect { case (name, true) => name }
          require(omitted.isEmpty,
            s"refreshCorpus modality drift: this corpus runs with the " +
              s"${omitted.mkString(", ")} modalit${
                if (omitted.size == 1) "y" else "ies"} but this call " +
              "omits it — pass the same knobs on every refresh (an " +
              "omitted modality leaves its index blind to the batch)")
        case None =>
          require(!(exists(s"$indexRoot/ivf/params") && embeddings.isEmpty),
            s"$indexRoot/ivf stands but this refresh passes no " +
              "embeddings — omitting a standing modality is refused")
          require(!(exists(s"$indexRoot/containment/params") &&
              containmentThreshold.isEmpty),
            s"$indexRoot/containment stands but this refresh passes no " +
              "containmentThreshold — omitting a standing modality is " +
              "refused")
      }
      if (!storedModalities.contains(askedModalities))
        stagedWrite(spark,
          spark.range(1).select(
            lit(askedModalities._1).as("semantic"),
            lit(askedModalities._2).as("containment"),
            lit(askedModalities._3).as("benchmark"),
            lit(askedModalities._4).as("semantic_eval"),
            lit(askedModalities._5).as("quality"),
            lit(askedModalities._6).as("tokenizer")),
          modalitiesPath)
      // baseline for [[retractCorpus]]'s scan-free remaining-count
      // arithmetic: a corpus CREATED by this code starts at adjustment 0
      // (sum of reports' n_published ≡ corpus rows until a retraction
      // ledgers itself); pre-existing corpora get theirs stamped by the
      // first post-upgrade retraction (one full count, once)
      if (!exists(s"$corpusDir/corpus")) {
        import spark.implicits._
        stagedWrite(spark, Seq(0L).toDF("n_adjust"),
          s"$corpusDir/retraction_base")
      }

      val persisted = batch
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // once an index exists, its STORED params drive BOTH the
      // within-batch passes and the appends (the streaming bridges'
      // rule): a call with different knobs than the index was written
      // with must neither run mismatched within-batch geometry nor wedge
      // the lifecycle mid-way when the append's params guard refuses —
      // the caller arguments only ever shape the FIRST batch
      val mhParams =
        if (exists(s"$minhashDir/params"))
          Some(Dedup.readMinhashIndexParams(spark, minhashDir))
        else None
      val hmParams =
        if (exists(s"$hammingDir/params"))
          Some(Dedup.readHammingIndexParams(spark, hammingDir))
        else None
      val chParams =
        if (exists(s"$chunkDir/params"))
          Some(Dedup.readChunkIndexParams(spark, chunkDir))
        else None
      val ctParams =
        if (exists(s"$indexRoot/containment/params"))
          Some(Dedup.readContainmentIndexParams(spark,
            s"$indexRoot/containment"))
        else None
      try {
        val doc = persisted.select(col("doc_id"), col("text"))
        if (!exists(corpusPart)) {
          // ---- probe: within-batch ∪ against-index duplicate pairs
          val score = (family: String, c: Column) => Seq(
            lit(family).as("family"), c.cast("double").as("score"))
          def pairsOf(df: DataFrame, family: String, c: String) =
            df.select(col("id_a") +: col("id_b") +: score(family, col(c)): _*)
          var pairs = pairsOf(mhParams match {
            case Some((nsw, nh, nb, _)) => Dedup.jaccardVerify(doc,
              Dedup.minhashCandidates(doc, nsw, nh, nb, maxBandFreq),
              nsw, jaccardThreshold)
            case None => Dedup.nearDupPairs(doc, jaccardThreshold,
              maxBandFreq)
          }, "jaccard", "jaccard")
          val sigs = Dedup.simhash(doc)
          pairs = pairs.unionByName(pairsOf(
            Dedup.hammingCandidates(sigs,
              hmParams.map(_._1).getOrElse(maxHamming)),
            "hamming", "hamming"))
          if (exists(s"$minhashDir/params"))
            pairs = pairs.unionByName(pairsOf(
              Dedup.nearDupAgainstIndex(spark, doc, minhashDir,
                jaccardThreshold, maxBandFreq = maxBandFreq),
              "jaccard", "jaccard"))
          if (exists(s"$hammingDir/params"))
            pairs = pairs.unionByName(pairsOf(
              Dedup.hammingCandidatesAgainstIndex(spark, sigs, hammingDir),
              "hamming", "hamming"))
          embeddings.foreach { embIn =>
            val emb = embIn.select(col("vec_id"), col("embedding"))
            pairs = pairs.unionByName(pairsOf(
              Dedup.semanticNearDupPairs(emb, nlist = 0,
                threshold = semanticThreshold, kmeansIters = 1,
                multiAssign = multiAssign)
                .select(col("id_a"), col("id_b"), col("cosine")),
              "cosine", "cosine"))
            if (exists(s"$indexRoot/ivf/params"))
              pairs = pairs.unionByName(pairsOf(
                Dedup.semanticNearDupAgainstIndex(spark, emb,
                  s"$indexRoot/ivf", semanticThreshold),
                "cosine", "cosine"))
          }
          containmentThreshold.foreach { ct =>
            // once containment/ exists, ONE probe covers within-batch
            // AND cross pairs (the df cut is global, so the surface is
            // unified — [[Dedup.containmentPairsAgainstIndex]]); the
            // first batch runs the inline pass
            pairs = pairs.unionByName(pairsOf(
              if (exists(s"$indexRoot/containment/params"))
                Dedup.containmentPairsAgainstIndex(spark, doc,
                  s"$indexRoot/containment", threshold = ct)
              else Dedup.containmentPairs(doc, threshold = ct),
              "containment", "containment"))
          }
          val allPairs = pairs.distinct()
          // pairs/ lands FIRST and the cluster step consumes the
          // READ-BACK: the probe lineage (LSH candidates + verify +
          // the against-index probes, the batch's most expensive
          // plans) used to execute twice — once materializing the
          // cluster edges, once again inside the pairs write at the
          // end. Writing the artifact once and deduping from it runs
          // the probes exactly once (guide §1.2: remove passes). The
          // crash contract is unchanged: stagedWrite is an atomic
          // swap, and a crash before the corpus commit re-enters this
          // block and overwrites pairs/ with identical content.
          // WIDENED WINDOW, classified benign (the r19 advice item):
          // committing pairs/ at the TOP of the publish block means any
          // refusal or crash in the long tail below (chunk cleanup,
          // quality/tokenizer gates, corpus commit) leaves a published
          // pairs partition for a batch whose corpus partition never
          // landed. That state is RECOVERABLE RESIDUE by construction —
          // auditCorpus audits corpus↔index id sync and batch reports,
          // never pairs/ (pairs is a derived per-batch artifact, not an
          // id-bearing family), so it raises no finding; the batch's
          // missing reports/ row is what flags the incomplete refresh,
          // and the re-run overwrites this exact partition.
          stagedWrite(spark, allPairs, pairsPart)
          val pairsBack = spark.read.parquet(pairsPart)

          // ---- document-level drops: keep each duplicate cluster's
          // canonical min id — for a cross pair that is the indexed
          // (already published) doc, so the batch member drops
          val survivors = Dedup.dedupByClusters(doc, pairsBack)

          // ---- substring-level cleanup of the survivors' text
          val cleaned =
            if (exists(s"$chunkDir/params"))
              Dedup.dedupChunksAgainstIndex(spark, survivors, chunkDir)
            else chunkRule match {
              case "cdc" => Dedup.dedupChunksCDC(survivors, chunkTokens)
              case "line" => Dedup.dedupLines(survivors)
              case _ => Dedup.dedupChunks(survivors, chunkTokens)
            }

          // metadata columns ride along unchanged; text is the cleaned
          // one. text_original is kept ONLY where cleaning changed the
          // text (null otherwise — no storage doubling on the common
          // unchanged path): [[retractCorpus]]'s content-addressed chunk
          // retraction must re-chunk exactly what the append stage
          // indexed, and the grid rule's boundaries shift under removal,
          // so the cleaned text alone could not reproduce them
          val published0 = persisted.drop("text")
            .join(cleaned.select(col("doc_id"), col("text"),
              col("n_chunks"), col("n_kept")), Seq("doc_id"))
            .join(doc.select(col("doc_id"),
              col("text").as("text_original")), Seq("doc_id"))
            .withColumn("text_original",
              when(col("n_kept") < col("n_chunks"), col("text_original")))
          // decontamination columns over the CLEANED text — what a
          // training run would actually consume (probe-only, see param)
          val published = benchmarkIndexDir.fold(published0)(bench =>
            published0.join(
              Dedup.contaminationScreenAgainstIndex(spark,
                published0.select(col("doc_id"), col("text")), bench),
              Seq("doc_id")))
          // the embedding-level screen (probe-only, like the benchmark
          // one): published docs' vectors vs the eval set's — the
          // nearest-eval evidence columns ride the corpus. LEFT join:
          // a published doc without a batch vector screens unflagged
          // (null score), never silently drops from the corpus
          val publishedSem = semanticEvalDir.fold(published) { evalDir =>
            val evalVecs = spark.read.parquet(evalDir)
              .select(col("vec_id"), col("embedding"))
            val pubVecs = embeddings.get
              .select(col("vec_id"), col("embedding"))
              .join(published.select(col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi")
            published.join(
              Dedup.semanticContaminationScreen(pubVecs, evalVecs,
                  semanticEvalThreshold)
                .select(col("vec_id").as("doc_id"),
                  col("max_cosine").as("semantic_max_cosine"),
                  col("nearest_eval_id").as("semantic_nearest_eval_id"),
                  col("contaminated").as("semantic_contaminated")),
              Seq("doc_id"), "left")
              .withColumn("semantic_contaminated",
                coalesce(col("semantic_contaminated"), lit(false)))
          }
          // the trained-classifier score (probe-only: the model is
          // read, never written): quality_prob rides every published
          // doc — SCORING, deliberately not filtering; admission
          // policy (a threshold cut, paretoAccept) belongs to corpus
          // CONSUMERS, and the stored score makes any policy
          // recomputable later without re-scoring. The score joins
          // publishedSem against ITSELF, so the frame is persisted
          // around the join — without it the whole publish lineage
          // (chunk dedup + both screens) would compute twice inside
          // the corpus write
          val pubPersisted = qualityModel.map(_ => publishedSem
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          val publishedQual = (qualityModel, pubPersisted) match {
            case (Some((w, b)), Some(ps)) =>
              ps.join(
                graft.operators.QualityClassifier.score(
                  ps.select(col("doc_id"), col("text")), w, b),
                Seq("doc_id"), "left")
            case _ => publishedSem
          }
          // model-token accounting (probe-only): n_subwords rides
          // every published doc — a MAP-ONLY projection over the
          // cleaned text (the encode kernel carries the merges), so
          // the modality adds zero joins and zero shuffles
          val publishedTok = bpeMerges match {
            case Some(m) => publishedQual.withColumn("n_subwords",
              graft.functions.native.bpe_count(
                graft.operators.Bpe.bpeTokens(col("text")), m))
            case None => publishedQual
          }
          stagedWrite(spark, publishedTok, corpusPart) // the probe-stage commit
          pubPersisted.foreach(_.unpersist())
        }

        // ---- append: survivors' ORIGINAL rows into all three families.
        // survOrig is PERSISTED for the appends' duration: every family
        // derives its rows from it, and without the persist each append
        // re-ran the corpus-ids semi-join (3-6 recomputations of the
        // same frame per refresh)
        val survOrig = doc.join(
            spark.read.parquet(corpusPart).select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // append iff params/ stands; CREATE only when the family dir is
        // absent entirely. The third state — data present, params/
        // missing (a crash inside a previous append's params rewrite, the
        // one window the write scaffold discloses) — must REFUSE loudly:
        // treating it as "create" would mode=overwrite the standing
        // corpus' signatures down to this one batch with no error, and
        // every later batch would silently stop deduplicating against
        // history. Recovery for that state is the per-family contract's:
        // restore params/ (constant for the minhash/hamming families;
        // the chunk watermark = the highest appended batch's max id) or
        // rebuild the index from the published corpus.
        // "absent" must tolerate the lease file this very run just
        // created inside the family dir — a dir holding ONLY _LEASE
        // has no index in it to protect
        def absentButLease(d: String): Boolean = !exists(d) ||
          fs.listStatus(new Path(d)).forall(
            _.getPath.getName == "_LEASE")
        def mode(d: String) = if (exists(s"$d/params")) "append"
          else {
            require(absentButLease(d),
              s"$d exists without params/ — a crashed append's params " +
                "rewrite; restore params/ or rebuild the index before " +
                "refreshing (refusing to silently overwrite the " +
                "standing index)")
            "overwrite"
          }
        // The per-family appends below are mutually INDEPENDENT — each
        // consumes the persisted survOrig (or the committed corpus
        // partition) and mutates only its own directory with its own
        // params-last scaffold — so they run CONCURRENTLY
        // ([[graft.operators.Par]], guide §2.6): later appends'
        // tasks back-fill the executors an earlier append's tail
        // leaves idle, and the fixed per-action floors overlap. The
        // crash/refusal contract is unchanged in kind: a run that
        // stops mid-way (crash, or one family's append refusing)
        // leaves SOME families appended and the report unwritten —
        // exactly the state a sequential crash left — and the
        // documented recovery (re-run to completion; retried appends'
        // duplicate rows collapse at the probes and under
        // compactIndex) applies as before.
        val familyAppends = scala.collection.mutable.ArrayBuffer
          .empty[() => Unit]
        familyAppends += (() => mhParams match {
          case Some((nsw, nh, nb, bb)) => Dedup.writeMinhashIndex(
            survOrig, minhashDir, numShingleWords = nsw, numHashes = nh,
            bands = nb, bandBuckets = bb, mode = "append")
          case None => Dedup.writeMinhashIndex(survOrig, minhashDir,
            bandBuckets = bandBuckets, mode = mode(minhashDir))
        })
        familyAppends += (() => hmParams match {
          case Some((radius, pb)) => Dedup.writeHammingIndex(
            Dedup.simhash(survOrig), hammingDir, maxHamming = radius,
            pieceBuckets = pb, mode = "append")
          case None => Dedup.writeHammingIndex(Dedup.simhash(survOrig),
            hammingDir, maxHamming = maxHamming,
            pieceBuckets = pieceBuckets, mode = mode(hammingDir))
        })
        familyAppends += (() => chParams match {
          case Some(("cdc", granularity, cb, _)) =>
            Dedup.writeChunkIndexCDC(survOrig, chunkDir,
              divisor = granularity, chunkBuckets = cb, mode = "append")
          case Some(("line", _, cb, _)) =>
            Dedup.writeChunkIndexLines(survOrig, chunkDir,
              chunkBuckets = cb, mode = "append")
          case Some((_, granularity, cb, _)) =>
            Dedup.writeChunkIndex(survOrig, chunkDir,
              chunkTokens = granularity, chunkBuckets = cb,
              mode = "append")
          case None => chunkRule match {
            case "cdc" => Dedup.writeChunkIndexCDC(survOrig, chunkDir,
              divisor = chunkTokens, chunkBuckets = chunkBuckets,
              mode = mode(chunkDir))
            case "line" => Dedup.writeChunkIndexLines(survOrig, chunkDir,
              chunkBuckets = chunkBuckets, mode = mode(chunkDir))
            case _ => Dedup.writeChunkIndex(survOrig, chunkDir,
              chunkTokens = chunkTokens, chunkBuckets = chunkBuckets,
              mode = mode(chunkDir))
          }
        })
        containmentThreshold.foreach { _ =>
          val ctDir = s"$indexRoot/containment"
          familyAppends += (() => ctParams match {
            case Some((nsw, pb)) => Dedup.writeContainmentIndex(survOrig,
              ctDir, numShingleWords = nsw, postingBuckets = pb,
              mode = "append")
            case None => Dedup.writeContainmentIndex(survOrig, ctDir,
              postingBuckets = postingBuckets, mode = mode(ctDir))
          })
        }
        embeddings.foreach { embIn =>
          val ivfDir = s"$indexRoot/ivf"
          val survVecs = embIn.select(col("vec_id"), col("embedding"))
            .join(spark.read.parquet(corpusPart)
              .select(col("doc_id").as("vec_id")), Seq("vec_id"),
              "left_semi")
          familyAppends += (() =>
            if (exists(s"$ivfDir/params"))
              Similarity.appendIvfIndex(survVecs, ivfDir)
            else {
              // the mode() refusal, IVF flavor: cells without params is a
              // crashed write's refused state — re-training geometry over
              // ONE batch and calling it the index would be silent loss
              require(absentButLease(ivfDir),
                s"$ivfDir exists without params/ — a crashed write; " +
                  "rebuild the index (rebuildIvfIndex) before refreshing")
              // first batch: its survivors' centroids become the index's
              // frozen geometry, under the same cells-∝-corpus auto rule
              // as the inline scorer
              Similarity.writeIvfIndex(survVecs, ivfDir,
                Similarity.kmeansCentroids(survVecs,
                  Dedup.resolveNlist(survVecs, 0), iters = 1),
                multiAssign = multiAssign)
            })
        }

        // ---- retrieval freshness: a standing bm25 index FOLLOWS the
        // corpus — the batch's PUBLISHED rows (the cleaned text a
        // probe actually ranks) append into the stored statistics, so
        // bm25TopKIndexed never silently misses post-adoption batches
        // while retractCorpus rebuilds on retraction. Two guards:
        //   - watermark >= this batch's min id ⇒ this is a recovery
        //     run after a crash between this append and the report —
        //     already folded in, skip (params-last scaffold: a
        //     committed watermark is a committed append);
        //   - otherwise the index must currently EQUAL the published
        //     corpus (stored n_docs vs the reports/retractions ledger
        //     arithmetic — scan-free, and reports/ does not yet hold
        //     THIS batch): an index left stale by pre-append-era
        //     refreshes must be rebuilt once, not appended onto with
        //     silent holes.
        if (exists(s"$indexRoot/bm25/params")) {
          val bp = graft.operators.Retrieval.readBm25IndexParams(
            spark, s"$indexRoot/bm25")
          if (bp._5 < minId) {
            val corpusRows = ledgeredCorpusRows(spark, corpusDir)
            require(bp._3 == corpusRows,
              s"$indexRoot/bm25 is stale: it indexes ${bp._3} docs " +
                s"but the published corpus holds $corpusRows — " +
                "appending only this batch would leave silent holes; " +
                "rebuild first (writeBm25Index over the published " +
                "corpus) before refreshing")
            familyAppends += (() =>
              graft.operators.Retrieval.writeBm25Index(
                spark.read.parquet(corpusPart)
                  .select(col("doc_id"), col("text")),
                s"$indexRoot/bm25", tokenBuckets = bp._1,
                dlBuckets = bp._2, mode = "append"))
          }
        }
        try graft.operators.Par.run(4)(familyAppends.toSeq)
        finally survOrig.unpersist()

        // ---- report last: the completion marker (counts re-derivable
        // on a recovery run because they come from the published
        // artifacts, not probe-stage state). ONE aggregation job over
        // the published partition carries every corpus-side column —
        // row count, chunk sums, and the contamination count (0 when
        // the batch was not screened)
        val pub = spark.read.parquet(corpusPart)
        val contaminatedCol =
          if (pub.columns.contains("n_contaminated"))
            count(when(col("n_contaminated") > 0, 1))
          else lit(0L)
        val semContaminatedCol =
          if (pub.columns.contains("semantic_contaminated"))
            count(when(col("semantic_contaminated"), 1))
          else lit(0L)
        // advisory count only: the per-doc score itself rides the
        // corpus, so ANY threshold's count stays recomputable later —
        // nothing is lost if a cron line changes the knob (unlike
        // max_band_freq, which must be recorded to be reconstructible)
        val lowQualityCol =
          if (pub.columns.contains("quality_prob"))
            count(when(col("quality_prob") < qualityThreshold, 1))
          else lit(0L)
        val subwordsCol =
          if (pub.columns.contains("n_subwords"))
            coalesce(sum(col("n_subwords")), lit(0L))
          else lit(0L)
        val pubAgg = pub.agg(
          count(lit(1)).as("np"),
          coalesce(sum(col("n_chunks")), lit(0L)).as("c"),
          coalesce(sum(col("n_kept")), lit(0L)).as("k"),
          contaminatedCol.as("nc"),
          semContaminatedCol.as("nsc"),
          lowQualityCol.as("nlq"),
          subwordsCol.as("nsw")).head()
        val nPublished = pubAgg.getLong(0)
        import spark.implicits._
        // max_band_freq rides on the report so every batch's candidate
        // geometry is reconstructible from the ledger: unlike the
        // stored index params (which appends re-read), the cap is a
        // JOIN-time knob — a cron line that drops it between batches
        // doesn't corrupt the index, it changes THAT batch's candidate
        // recall, and without this column no audit could say which cap
        // any historical batch actually ran with (reports published
        // before the column read it back as null = unrecorded)
        // tokenizer provenance rides NEXT TO the counts it denominates:
        // n_subwords_total is in MODEL units, and a season `train-bpe`
        // retrain between batches changes the unit without changing the
        // column name — without the per-batch (n_merges, digest) stamp,
        // cross-batch token accounting silently mixes two models' units
        // (the max_band_freq reconstructibility rule, applied to the
        // tokenizer). The digest is the MERGES-content form
        // ([[graft.operators.Bpe.mergesDigest]]): string-level
        // segmentation (and so every count here) depends only on the
        // merges, and the form is computable for legacy merges-only
        // models too. Unstamped batches (no tokenizer modality, or
        // reports published before the columns) read back null.
        // ... and the FULL-model digest next to the merges one: the
        // merges form denominates the string-level COUNTS (computable
        // for legacy models), the model form names the id SPACE
        // (alphabet ++ merges — what writeTrainingShards' gate
        // compares), so an alphabet-only retrain is visible across two
        // report rows even while the merges digest stays equal. Null =
        // no tokenizer modality, a pre-column report, or a legacy
        // merges-only model.
        val report = Seq((minId, maxId, nBatch,
            spark.read.parquet(pairsPart).count(),
            nBatch - nPublished, nPublished,
            pubAgg.getLong(1), pubAgg.getLong(2), pubAgg.getLong(3),
            maxBandFreq, pubAgg.getLong(4), pubAgg.getLong(5),
            pubAgg.getLong(6), bpeMerges.map(_.size.toLong),
            bpeMerges.map(graft.operators.Bpe.mergesDigest),
            bpeModelDigest))
          .toDF("batch_min_id", "batch_max_id", "n_batch", "n_dup_pairs",
            "n_dropped", "n_published", "n_chunks", "n_chunks_kept",
            "n_contaminated_docs", "max_band_freq",
            "n_semantic_contaminated_docs", "n_low_quality_docs",
            "n_subwords_total", "tokenizer_n_merges",
            "tokenizer_merges_digest", "tokenizer_model_digest")
        stagedWrite(spark, report, reportPart)
      } finally persisted.unpersist()
      readBack()
    } // end of the single-writer lease scope
  }

  /** [[refreshCorpus]] over a parquet batch directory — the
    * `(batchDir, indexRoot)` entry shape for a scheduler to call
    * weekly. */
  def refreshCorpus(spark: SparkSession, batchDir: String,
      indexRoot: String, corpusDir: String): RefreshOutput =
    refreshCorpus(spark, spark.read.parquet(batchDir), indexRoot,
      corpusDir)

  /** Retract published documents from the corpus AND every standing
    * index — the composed retraction the GDPR/takedown regime needs,
    * sequencing the per-family surfaces ([[Dedup.deleteFromIndex]],
    * [[Dedup.deleteFromChunkIndex]]) with the corpus rewrite:
    *
    *   1. the retracted docs' rows leave the published `corpus/` —
    *      only the batch partitions actually holding them are
    *      rewritten (staged atomic-rename swap each);
    *   2. their ids leave `minhash/`, `hamming/`, and (when present)
    *      `ivf/` and `containment/` by touched bucket/cell;
    *   3. their CONTENT leaves the chunk index, re-chunked from the
    *      published `text_original` (falling back to the cleaned
    *      `text` where cleaning changed nothing) — exactly the bytes
    *      the append stage indexed, so the hashes line up; the shared-
    *      chunk lapse-then-self-heal semantics are
    *      [[Dedup.deleteFromChunkIndex]]'s, stated there.
    *
    * What retraction does NOT do: resurrect documents that were
    * dropped as the retracted docs' near-duplicates (their drop is
    * recorded in `pairs/`, but re-admitting them needs re-ingesting
    * them under FRESH ids — ids are never reused); move any watermark
    * (retracted id ranges stay retired); or touch `pairs/`/`reports/`
    * (they are the historical evidence of what happened, and a pair
    * naming a retracted id generates no future candidates once the
    * index rows are gone).
    *
    * Crash contract: every step is either the per-family surface's
    * documented idempotent rewrite or a staged swap — re-run the SAME
    * retraction to completion; a second run over already-retracted ids
    * is a no-op. Returns a one-row report
    * (n_requested, n_retracted, n_remaining).
    *
    * `n_remaining` is LEDGER arithmetic, not a corpus scan: each
    * retraction writes a first-wins row (keyed by a deterministic hash
    * of the requested id set) under `retractions/` BEFORE any deletion
    * — so however a crashed run is resumed, the ledger already carries
    * the count that retraction will eventually have removed — and the
    * report derives remaining = Σ reports.n_published − base −
    * Σ retractions.n_retracted from those one-row-per-event datasets.
    * `retraction_base` is stamped 0 at corpus creation; a corpus
    * published before the ledger existed gets its base computed by the
    * first post-upgrade retraction (one full count, once — the cost
    * every retraction used to pay). The report's own `n_retracted`
    * stays THIS run's count (0 on an idempotent re-run); the ledger
    * keeps the first run's.
    */
  def retractCorpus(spark: SparkSession, ids: DataFrame,
      indexRoot: String, corpusDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String): Boolean = fs.exists(new Path(p))
    // single-writer lease over the corpus and every standing family
    // this retraction will rewrite — a concurrent refresh/maintain
    // refuses instead of interleaving with the partition swaps
    val leased = corpusDir +: Seq("chunk", "minhash", "hamming", "ivf",
      "containment", "bm25").collect {
        case f if exists(s"$indexRoot/$f/params") => s"$indexRoot/$f"
      }
    graft.operators.Lease.withLeases(spark, leased, "retractCorpus") {
      val idSet = broadcast(
        ids.select(ids.columns.head).toDF("doc_id").distinct())
      val nRequested = idSet.count()
      val corpus = spark.read.parquet(s"$corpusDir/corpus")
      val hasOriginal = corpus.columns.contains("text_original")
      // ONE semi-joined corpus scan feeds both the chunk retraction (the
      // text) and the touched-partition probe (the batch ids) — the
      // persisted frame keeps batch_id so `touched` is a re-read of a
      // few cached rows, not a second corpus pass
      val retracted = corpus.join(idSet, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("batch_id").cast("long").as("batch_id"),
          (if (hasOriginal) coalesce(col("text_original"), col("text"))
           else col("text")).as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nRetracted = retracted.count()
        // ---- ledger BEFORE any deletion (see scaladoc): key = an
        // order-independent hash of the requested id set, so the same
        // retraction re-run lands on the same row and first-wins keeps
        // the original count through any crash/resume sequence
        if (!exists(s"$corpusDir/retraction_base")) {
          // pre-ledger corpus: stamp the base once (the one full count)
          val adjust = spark.read.parquet(s"$corpusDir/reports")
            .agg(coalesce(sum(col("n_published")), lit(0L))).head()
            .getLong(0) - corpus.count()
          import spark.implicits._
          stagedWrite(spark, Seq(adjust).toDF("n_adjust"),
            s"$corpusDir/retraction_base")
        }
        // Order-independent ledger key from THREE commutative aggregates
        // of the id set — bare per-element-hash XOR is structurally weak
        // (any two sets whose hash multisets XOR-cancel collide, e.g.
        // symmetric-difference constructions), and a key collision makes
        // first-wins silently skip a DISTINCT retraction's ledger row,
        // permanently skewing n_remaining. Pairing the XOR with the
        // cardinality and a bounded hash-sum breaks every structural
        // collision family (cancelling XORs changes the count/sum): a
        // collision now needs all three to match at once. Each aggregate
        // is commutative (order-independent) and ANSI-overflow-safe (the
        // summed terms are pmod-bounded to < 2^30, so the sum needs
        // ~2^33 ids to overflow a long).
        val kr = idSet.agg(
          coalesce(expr("bit_xor(xxhash64(doc_id))"), lit(0L)),
          count(lit(1)),
          coalesce(sum(pmod(xxhash64(col("doc_id")), lit(1000000007L))),
            lit(0L))).head()
        val (kx, kc, ks) = (kr.getLong(0), kr.getLong(1), kr.getLong(2))
        val ledgerPart =
          s"$corpusDir/retractions/retraction_id=x${kx}c${kc}s$ks"
        // rows ledgered before this key (bare-XOR dir names) stay
        // first-wins for their request: the legacy key is checked too,
        // so a pre-upgrade retraction re-run post-upgrade is still the
        // documented no-op, not a double-subtraction. But the legacy
        // key IS the structurally weak one — a NEW request XOR-colliding
        // with a pre-upgrade row must not be swallowed by it, so the
        // legacy row only vouches when its stored n_requested matches
        // this request's cardinality (a true re-run always matches; a
        // distinct colliding request must additionally be
        // count-preserving, demoting the structural weakness back to
        // ordinary ~2^-64 collision odds against the finite
        // pre-upgrade ledger).
        val legacyPart = s"$corpusDir/retractions/retraction_id=$kx"
        val legacySameRequest = exists(legacyPart) &&
          spark.read.parquet(legacyPart).head()
            .getAs[Long]("n_requested") == nRequested
        if (!exists(ledgerPart) && !legacySameRequest) {
          import spark.implicits._
          stagedWrite(spark, Seq((nRequested, nRetracted))
            .toDF("n_requested", "n_retracted"), ledgerPart)
        }
        // chunk retraction FIRST, while the published corpus still holds
        // the retracted docs' text: it is the one step that needs the
        // text, and it is idempotent (already-removed hashes anti-join
        // to nothing) — so a crash anywhere leaves a re-runnable state,
        // whereas rewriting the corpus first would strand a recovery
        // run with no text to re-chunk (the persisted frame does not
        // survive the JVM)
        if (nRetracted > 0 && exists(s"$indexRoot/chunk/params"))
          Dedup.deleteFromChunkIndex(spark, s"$indexRoot/chunk",
            retracted.select(col("doc_id"), col("text")))
        val touched = retracted.select(col("batch_id")).distinct()
          .collect().map(_.getLong(0))
        touched.foreach { b =>
          stagedWrite(spark,
            corpus.where(col("batch_id") === b)
              .join(idSet, Seq("doc_id"), "left_anti").drop("batch_id"),
            s"$corpusDir/corpus/batch_id=$b")
        }
        Seq("minhash", "hamming", "ivf", "containment").foreach { f =>
          if (exists(s"$indexRoot/$f/params"))
            Dedup.deleteFromIndex(spark, s"$indexRoot/$f", idSet)
        }
        // remaining = ledger arithmetic over the one-row-per-event
        // datasets — no corpus job (reports/, retractions/, and the base
        // are each a handful of rows regardless of corpus size); the
        // ledger row for THIS request is already written above, so the
        // shared helper's sum includes it
        val nRemaining = ledgeredCorpusRows(spark, corpusDir)
        // the BM25 family is rebuild-only derived data (postings are
        // partitioned on the probe dimension): a retraction must not
        // leave a probe surface silently serving the retracted docs,
        // so the standing index is REBUILT from the post-retraction
        // corpus here — one corpus-scale pass, the disclosed price of
        // keeping retrieval retraction-complete (its lease is held
        // with the rest). The gate is the LEDGER, not this run's
        // nRetracted: the index's stored n_docs must equal the
        // ledgered corpus count. A crash between the corpus rewrite
        // and this rebuild makes the documented re-run compute
        // nRetracted = 0 (the docs are already gone from the corpus),
        // so an nRetracted gate would skip the rebuild forever and the
        // probe surface would keep serving retracted docs; the
        // count-mismatch gate rebuilds on exactly that recovery run —
        // and SKIPS the corpus-scale pass on true no-ops (a re-run of
        // a COMPLETED retraction, or a request naming only ids never
        // published), which the sibling families' unconditional
        // anti-joins can afford but a rebuild cannot. nRetracted > 0
        // ALSO forces the rebuild: doc-count equality is a proxy, not
        // content equality — an index left stale by pre-append-era
        // refreshes (n_docs behind the corpus by exactly the number
        // this request retracts) would pass the count gate while
        // still serving the retracted docs, so a retraction that
        // actually removed rows always rebuilds (the original
        // contract), and the count gate only ever ADDS rebuilds
        // (crash recovery, stale repair), never subtracts one.
        if (exists(s"$indexRoot/bm25/params")) {
          val p = graft.operators.Retrieval.readBm25IndexParams(
            spark, s"$indexRoot/bm25")
          if (nRetracted > 0 || p._3 != nRemaining)
            graft.operators.Retrieval.writeBm25Index(
              spark.read.parquet(s"$corpusDir/corpus")
                .select(col("doc_id"), col("text")),
              s"$indexRoot/bm25", tokenBuckets = p._1, dlBuckets = p._2)
        }
        import spark.implicits._
        Seq((nRequested, nRetracted, nRemaining))
          .toDF("n_requested", "n_retracted", "n_remaining")
      } finally retracted.unpersist()
    } // end of the single-writer lease scope
  }

  /** The big-big containment SWEEP — the maintenance-cadence cover for
    * the one cut the incremental containment probe makes on purpose:
    * [[Dedup.containmentCandidatesAgainstIndex]] skips pairs where
    * BOTH docs exceed `smallMaxShingles` (sampling every indexed
    * above-cap doc per weekly batch would break the probe-∝-batch
    * economics — the cut disclosed there). This runs the full inline
    * [[Dedup.containmentPairs]] over the PUBLISHED corpus with the
    * sampled-probe path ON (`sampleK` hashes probed per above-cap doc,
    * the q82/q83 machinery), so comparable-size near-total-overlap
    * giants surface once per season instead of never. Uses
    * `text_original` where cleaning changed the text (the bytes the
    * indexes describe), the published text otherwise.
    *
    * Returns the verified pairs (id_a, id_b, containment) ≥
    * `threshold`. Cost is one corpus-wide pass (df-bounded posting
    * join, never all-pairs — the q84-audited plan shape), which is
    * exactly why it lives at maintenance cadence next to
    * [[maintainIndexes]], not in the weekly refresh;
    * [[graft.CorpusMain]]'s `sweep-containment` line is the cron
    * surface.
    *
    * `indexRoot`: when the corpus runs with a standing `containment/`
    * family, pass its index root and the sweep reads the STORED
    * shingle arrays ([[Dedup.containmentPairsFromIndex]]) instead of
    * re-shingling the corpus text — same pairs bit-exactly (the
    * arrays ARE the text-as-indexed's shingles), minus the sweep's
    * single largest stage at 100 TB (`numShingleWords` is then the
    * index's stored one; the caller argument is ignored). The inline
    * text path stays for corpora without the containment family.
    */
  def sweepContainment(spark: SparkSession, corpusDir: String,
      threshold: Double = 0.5, sampleK: Int = 64,
      numShingleWords: Int = 3, smallMaxShingles: Int = 4096,
      maxDocFreq: Long = 1000, indexRoot: Option[String] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    def exists(p: String): Boolean = new Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(p))
    val fromIndex = indexRoot.filter(r => exists(s"$r/containment/params"))
    fromIndex match {
      case Some(root) =>
        Dedup.containmentPairsFromIndex(spark, s"$root/containment",
          threshold, smallMaxShingles, maxDocFreq, sampleK = sampleK)
      case None =>
        require(indexRoot.isEmpty,
          s"sweepContainment: ${indexRoot.get}/containment has no " +
            "params/ — pass indexRoot only for a corpus whose " +
            "containment family stands (the inline text sweep needs " +
            "no index)")
        val corpus = spark.read.parquet(s"$corpusDir/corpus")
        val docs =
          if (corpus.columns.contains("text_original"))
            corpus.select(col("doc_id"),
              coalesce(col("text_original"), col("text")).as("text"))
          else corpus.select(col("doc_id"), col("text"))
        Dedup.containmentPairs(docs, numShingleWords, threshold,
          smallMaxShingles, maxDocFreq, sampleK = sampleK)
    }
  }

  /** Corpus↔index consistency AUDIT — the DATA-level complement of
    * [[graft.operators.Fsck]]'s metadata survey. Fsck answers "is every
    * directory a shape probes can read"; this answers "do the corpus
    * and its standing indexes still describe the SAME document set"
    * after any sequence of refreshes, retractions, maintenance passes,
    * and crash recoveries. The invariants it checks are the ones the
    * composed lifecycle promises:
    *
    *   - published `corpus/` doc_ids are unique (ids are never reused);
    *   - each id-bearing standing family under `indexRoot` holds
    *     EXACTLY the published ids — an id in the index but not the
    *     corpus is retraction incompleteness (probes keep dropping new
    *     docs against retired content), an id in the corpus but not
    *     the index is append incompleteness (future duplicates of that
    *     doc would publish). For `ivf/` the missing direction is a
    *     `warn`, not an error: a published doc whose batch shipped no
    *     vector is legitimately un-indexed semantically. The `chunk`
    *     family is content-keyed (no doc ids by design) and is
    *     reported as such, not silently skipped;
    *   - the modality marker's standing-family claims hold (a
    *     `semantic` corpus has `ivf/params`, a `containment` one has
    *     `containment/params`);
    *   - every `corpus/` batch partition has its `reports/` row — the
    *     report is the batch's completion marker, so a corpus
    *     partition without one is a crashed refresh (re-run it to
    *     completion). A report WITHOUT a corpus partition is normal
    *     (a fully-retracted batch keeps its historical report);
    *   - the retraction ledger's scan-free arithmetic
    *     (Σ reports.n_published − base − Σ retractions.n_retracted)
    *     equals the actual corpus count — drift here means every
    *     future retraction report's `n_remaining` is wrong.
    *
    * Returns one row per check: `(component, level, n_bad, detail)`,
    * `level` ∈ ok/warn/error with [[graft.operators.Fsck]]'s severity
    * contract, every non-ok row naming its documented recovery;
    * ordered most-severe-first. [[graft.CorpusMain]]'s `audit` line is
    * the cron surface (non-zero exit on any error).
    *
    * Cost and safety: unlike fsck this RUNS DATA JOBS — one
    * column-pruned id scan of the corpus plus one per audited family,
    * each collapsed by a single full-outer id join (shuffle ∝ distinct
    * ids, never rows or text) — a scheduled audit priced like
    * [[sweepContainment]], not a probe. Read-only and LEASE-FREE
    * (readers are never blocked; an audit must run against a wedged
    * root): run it in a quiet window — beside a live writer the id
    * snapshots are not atomic and a mid-append family can transiently
    * disagree with the corpus. `CorpusMain lease-status` first.
    */
  def auditCorpus(spark: SparkSession, indexRoot: String,
      corpusDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val fs = new Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String): Boolean = fs.exists(new Path(p))
    val findings =
      scala.collection.mutable.ListBuffer.empty[(String, String, Long, String)]
    def add(component: String, level: String, nBad: Long,
        detail: String): Unit = findings += ((component, level, nBad, detail))
    if (!exists(s"$corpusDir/corpus")) {
      add("corpus", "error", 1L, s"$corpusDir/corpus does not exist — " +
        "not a published corpus root (or the first refresh crashed " +
        "before its publish); nothing to audit")
      return findings.toSeq.toDF("component", "level", "n_bad", "detail")
    }
    val corpus = spark.read.parquet(s"$corpusDir/corpus")
    val corpusIds = corpus.select(col("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one corpus pass: row count, distinct ids, batch inventory
      val agg = corpus.agg(count(lit(1)).as("n"),
        collect_set(col("batch_id").cast("long")).as("batches")).head()
      val nRows = agg.getLong(0)
      val batchIds = agg.getSeq[Long](1).sorted
      val nIds = corpusIds.count()
      if (nRows == nIds)
        add("corpus/doc_id", "ok", 0L,
          s"$nIds published docs, ids unique across ${batchIds.size} batches")
      else
        add("corpus/doc_id", "error", nRows - nIds,
          s"${nRows - nIds} duplicate published doc_id rows ($nRows rows, " +
            s"$nIds distinct) — ids are never reused, so a duplicate means " +
            "two batches published the same id or a partition rewrite " +
            "doubled rows; recovery: retract the id and re-ingest under a " +
            "fresh one")

      // modality marker vs standing families
      if (exists(s"$corpusDir/modalities")) {
        val m = spark.read.parquet(s"$corpusDir/modalities").head()
        def claimed(name: String): Boolean =
          m.schema.fieldNames.contains(name) && m.getAs[Boolean](name)
        Seq("semantic" -> "ivf", "containment" -> "containment").foreach {
          case (modality, family) =>
            if (claimed(modality) && !exists(s"$indexRoot/$family/params"))
              add(s"modalities/$modality", "error", 1L,
                s"the marker says this corpus runs the $modality modality " +
                  s"but $indexRoot/$family has no params/ — the family was " +
                  "deleted or never written; recovery: rebuild it from " +
                  "corpus/ or re-record the marker by an explicit " +
                  "modality-dropping refresh decision")
            else if (claimed(modality))
              add(s"modalities/$modality", "ok", 0L,
                s"$indexRoot/$family stands as the marker claims")
        }
      }

      // id sync per standing id-bearing family: ONE full-outer join on
      // the distinct ids collapses both directions into two counters
      def idSync(family: String, sub: String, idCol: String,
          missingLevel: String, missingNote: String): Unit = {
        if (!exists(s"$indexRoot/$family/params")) return
        if (!exists(s"$indexRoot/$family/$sub")) {
          // params over a half-deleted tree: name it as a finding —
          // dying on a path-not-found here would mask every other
          // check (the audit's one-row-per-check cron contract)
          add(s"$family/$sub", "error", 1L,
            s"$indexRoot/$family has params/ but no $sub/ — the " +
              "crashed-write state (params from a previous generation " +
              "over a half-deleted tree, the fsck finding); recovery: " +
              "re-run the writer / rebuild the family, then re-audit")
          return
        }
        val idx = spark.read.parquet(s"$indexRoot/$family/$sub")
          .select(col(idCol).cast("long").as("doc_id")).distinct()
        val r = corpusIds.withColumn("__c", lit(1))
          .join(idx.withColumn("__i", lit(1)), Seq("doc_id"), "full_outer")
          .agg(coalesce(sum(when(col("__i").isNull, 1L)), lit(0L)),
            coalesce(sum(when(col("__c").isNull, 1L)), lit(0L))).head()
        val (missing, orphans) = (r.getLong(0), r.getLong(1))
        if (orphans > 0)
          add(s"$family/$sub", "error", orphans,
            s"$orphans ids in the index but not the corpus — retraction " +
              "incompleteness: probes still answer for retired content " +
              "(new near-duplicates of it keep dropping); recovery: re-run " +
              "retractCorpus over these ids (idempotent)")
        if (missing > 0)
          add(s"$family/$sub", missingLevel, missing,
            s"$missing published ids absent from the index — $missingNote")
        if (orphans == 0 && missing == 0)
          add(s"$family/$sub", "ok", 0L, "index ids = published corpus ids")
      }
      val appendGap = "append incompleteness: these docs are invisible " +
        "to the family's probes (their future duplicates would publish); " +
        "recovery: re-append their original rows under the stored params, " +
        "or rebuild the family from corpus/"
      idSync("minhash", "shingles", "doc_id", "error", appendGap)
      idSync("hamming", "pieces", "doc_id", "error", appendGap)
      idSync("containment", "postings", "doc_id", "error", appendGap)
      idSync("ivf", "cells", "vec_id", "warn",
        "expected when those batches shipped no vector for them (they " +
          "are not semantically indexed); re-ingest vectors to close")
      if (exists(s"$indexRoot/chunk/params"))
        add("chunk/chunks", "ok", 0L, "content-keyed by design (no doc " +
          "ids stored) — not id-auditable; its retraction semantics are " +
          "deleteFromChunkIndex's documented lapse-then-self-heal")

      // every corpus batch has its completion marker (reports/ row)
      val reportBatches =
        if (exists(s"$corpusDir/reports"))
          spark.read.parquet(s"$corpusDir/reports")
            .select(col("batch_id").cast("long")).distinct()
            .as[Long].collect().toSet
        else Set.empty[Long]
      val unreported = batchIds.filterNot(reportBatches)
      if (unreported.nonEmpty)
        add("reports", "error", unreported.size.toLong,
          s"corpus batches ${unreported.mkString(",")} have no reports/ " +
            "row — the report is the batch's completion marker, so these " +
            "refreshes crashed between the corpus publish and the report; " +
            "recovery: re-run each batch's refresh to completion")
      else
        add("reports", "ok", 0L,
          s"every corpus batch (${batchIds.size}) carries its report")

      // scan-free n_remaining arithmetic still lands on the truth
      if (reportBatches.nonEmpty) {
        val nPublished = spark.read.parquet(s"$corpusDir/reports")
          .agg(coalesce(sum(col("n_published")), lit(0L))).head().getLong(0)
        val base =
          if (exists(s"$corpusDir/retraction_base"))
            spark.read.parquet(s"$corpusDir/retraction_base")
              .head().getLong(0)
          else 0L
        val nLedgered = retractionLedgerTotal(spark, corpusDir)
        val expected = nPublished - base - nLedgered
        if (expected == nRows)
          add("retractions/arithmetic", "ok", 0L,
            s"ledger arithmetic ($nPublished − $base − $nLedgered) = " +
              s"$nRows corpus rows")
        else
          add("retractions/arithmetic", "error", math.abs(expected - nRows),
            s"ledger says $expected rows should remain, the corpus holds " +
              s"$nRows — every future retraction's n_remaining will be " +
              "wrong by this drift; recovery: restamp retraction_base to " +
              "(Σ n_published − Σ n_retracted − actual count) from a " +
              "quiet-window count")
      }

      val sev = Map("error" -> 0, "warn" -> 1, "ok" -> 2)
      findings.sortBy(f => (sev(f._2), f._1)).toSeq
        .toDF("component", "level", "n_bad", "detail")
        .coalesce(1)
    } finally corpusIds.unpersist()
  }

  /** Season-cadence DSIR model build: fit the hashed bag-of-ngrams
    * importance ratios of a TARGET document set (the distribution you
    * want — a curated high-quality dir) against the published corpus
    * (the raw distribution you have) and persist the B-row weight
    * table under `modelDir` — [[graft.operators.Sharding.dsirScore]]
    * then scores any batch against the standing model without
    * re-fitting (two corpus-scale count passes happen HERE, at
    * maintain cadence, not per scoring run). Holds the model dir's
    * lease while writing. Returns the bucket count for the cron line's
    * report.
    */
  def trainDsirModel(spark: SparkSession, corpusDir: String,
      targetDir: String, modelDir: String,
      buckets: Int = 10000): Int = {
    import graft.operators.Sharding
    val corpus = spark.read.parquet(s"$corpusDir/corpus")
      .select(col("doc_id"), col("text"))
    val target = spark.read.parquet(targetDir)
    val w = Sharding.dsirWeights(target, corpus, buckets)
    graft.operators.Lease.withLeases(spark, Seq(modelDir),
      "trainDsirModel") {
      Sharding.writeDsirModel(spark, w, buckets, modelDir)
    }
    buckets
  }

  /** Season-cadence BPE tokenizer build over the published corpus —
    * the token-accounting sibling of [[trainQualityModel]]: one
    * distributed word-type count (shuffle ∝ corpus tokens, output
    * capped to the top `maxTypes` types — the seed-cap discipline,
    * and how subword vocabularies are trained in practice), the
    * sequential merge loop on that bounded table, and the model
    * persisted under `modelDir` for [[graft.operators.Bpe.encode]]'s
    * map-only corpus-wide application. Holds the model dir's lease
    * while writing; encode-side readers are never blocked.
    *
    * Returns the number of merges learned (≤ numMerges — training
    * stops early when no pair repeats).
    */
  def trainBpeModel(spark: SparkSession, corpusDir: String,
      modelDir: String, numMerges: Int = 1000,
      maxTypes: Int = 20000): Int =
    trainBpeModelReturning(spark, corpusDir, modelDir, numMerges,
      maxTypes).merges.size

  /** [[trainBpeModel]] returning the trained model itself — the
    * [[writeTrainingShardsWith]] seam at the source: a composed
    * train→export lifecycle holds the model in memory the moment
    * training ends, and re-reading it from disk one call later is the
    * redundant pass (the public return type stays the cron line's
    * merge count). */
  private[graft] def trainBpeModelReturning(spark: SparkSession,
      corpusDir: String, modelDir: String, numMerges: Int,
      maxTypes: Int): graft.operators.Bpe.BpeModel = {
    import graft.operators.Bpe
    val corpus = spark.read.parquet(s"$corpusDir/corpus")
      .select(col("doc_id"), col("text"))
    // the COMPLETE model (alphabet + merges): string encoding reads it
    // like any legacy dir (readModel is layout-agnostic), and the
    // id-bearing consumers ([[writeTrainingShards]]) get the stored
    // alphabet they need — there is no reason for the cron line to
    // keep minting legacy merges-only models
    val model = Bpe.trainModel(corpus, numMerges, maxTypes)
    graft.operators.Lease.withLeases(spark, Seq(modelDir),
      "trainBpeModel") {
      Bpe.writeModel(spark, model, modelDir)
    }
    model
  }

  /** Read a [[writeTrainingShards]] export back: the sequences frame
    * (seq_id, ids, spans, n_ids, shard, pack) plus the params row —
    * the consumer half of the export contract, with the crash states
    * refused where a bare `spark.read.parquet` would misread them:
    * a params-less dir (crashed write) refuses with the re-run
    * recovery, and `strict = true` additionally pays ONE count to
    * assert the sequences agree with the params' n_sequences (a
    * partial pack an operator hand-deleted, a foreign file — the
    * states fsck flags, verified at read time when the caller is
    * about to train on the bytes).
    *
    * `modelDir`, when given, verifies the artifact was encoded under
    * THAT model — counts first (the friendly diagnostic), then the
    * CONTENT digest ([[graft.operators.Bpe.modelDigest]]): the ids a
    * training run is about to consume mean nothing except under the
    * model that minted them, and a same-count retrain between export
    * and read is undetectable from counts alone. */
  def readTrainingShards(spark: SparkSession, outDir: String,
      strict: Boolean = false,
      modelDir: Option[String] = None)
      : (DataFrame, org.apache.spark.sql.Row) =
    readTrainingShardsWith(spark, outDir, strict,
      modelDir.map(md =>
        md -> graft.operators.Bpe.readFullModel(spark, md)))

  /** [[readTrainingShards]] with the provenance model ALREADY READ —
    * the seam for callers that hold the full model anyway (the audit,
    * the reconstruction entries): the gate compares the same digest
    * without paying a second model read. */
  private[graft] def readTrainingShardsWith(spark: SparkSession,
      outDir: String, strict: Boolean,
      model: Option[(String, graft.operators.Bpe.BpeModel)])
      : (DataFrame, org.apache.spark.sql.Row) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$outDir/params"))) {
      // the append path's mid-swap diagnosis, mirrored at the consumer:
      // a crashed staged params rename leaves the standing metadata at
      // the _old_params aside, and the recovery is that ∝-0 rename —
      // a bare "re-run the export" here would send the operator to the
      // corpus-scale recovery when the cheap one applies
      require(!fs.exists(new Path(s"$outDir/_old_params")),
        s"$outDir/params is mid-swap (a crashed staged rename; " +
          "_old_params holds the standing metadata) — rename " +
          "_old_params back to params and re-read")
      require(false,
        s"$outDir has no params/ — not a written shards export (or " +
          "its write crashed before the params commit); re-run " +
          "writeTrainingShards")
    }
    val pdf = spark.read.parquet(s"$outDir/params")
    // the append path's legacy refusal, applied at the consumer too:
    // a pre-append-era export lacks the pack layout this reader's
    // return shape promises
    requireAppendEraParams(pdf, outDir)
    val p = pdf.head()
    model.foreach { case (md, m) =>
      requireModelProvenance(pdf, p, m,
        graft.operators.Bpe.modelDigest(m), outDir,
        s"its ids name other subwords under $md; re-export " +
          "(mode=overwrite) under it, or read with the model that " +
          "wrote it")
    }
    val seqs = spark.read.parquet(s"$outDir/sequences")
    if (strict) {
      // a crashed compaction's in-flight marker: the swap-then-delete
      // window can leave MERGED docs duplicated next to their old
      // packs — a count check alone would misdiagnose it as the
      // crashed-append/foreign states below, whose recoveries don't
      // converge it; the compaction re-run does
      requireNoCompactMarker(spark, outDir, "re-read")
      val n = seqs.count()
      val recorded = p.getAs[Long]("n_sequences")
      // n > recorded is the crashed-append signature (a committed
      // pack whose params swap never landed) and its recovery is the
      // ∝-batch re-append, NOT the full re-export
      require(n <= recorded,
        s"$outDir holds $n sequences but params records $recorded — " +
          "a committed-but-unrecorded pack (an append crashed before " +
          "its params swap); re-run the append (mode=append) to " +
          "overwrite the partial pack and record it " +
          "(repairTrainingShards also sweeps it as unrecorded residue)")
      require(n == recorded,
        s"$outDir holds $n sequences but params records $recorded — " +
          "a crashed repair (re-run repairTrainingShards: it heals, " +
          "verifies pack coverage, and restamps) or a partially " +
          "deleted / foreign-file state (the repair's coverage check " +
          "refuses those with the mode=overwrite re-export recovery)")
    }
    (seqs, p)
  }

  /** Export the TRAINING SHARDS — the artifact a training run actually
    * reads: the published corpus encoded to vocabulary ids under a
    * persisted COMPLETE BPE model ([[graft.operators.Bpe
    * .readFullModel]] — legacy merges-only models refuse with the
    * retrain recovery) and packed into fixed `seqLen`-id sequences
    * ([[graft.operators.Sharding.materializeSequences]]), written
    * under `outDir`:
    *
    *   - `sequences/`: (seq_id, ids array&lt;int&gt;, n_ids)
    *     PARTITIONED BY `shard = pmod(seq_id, numShards)` — parallel
    *     training readers each take a shard, and round-robin by
    *     seq_id keeps shard sizes within one sequence of each other
    *     without a second shuffle;
    *   - `params/`: ONE row (seq_len, num_shards, n_sequences,
    *     n_ids_total, n_merges, n_alphabet) written LAST — the
    *     params-last crash discipline; a half-written export has no
    *     params and every reader refuses.
    *
    * The one deliberately token-sized output in the repo: its rows ARE
    * the training input, so the Σ-tokens cost is the artifact's own
    * size, not overhead. Derived data like the bm25 family — a re-run
    * overwrites; holds `outDir`'s AND the corpus' lease while writing
    * (see the ledger note below: the corpus lease is what makes the
    * recorded retraction_total truthful). Returns the params row.
    */
  def writeTrainingShards(spark: SparkSession, corpusDir: String,
      modelDir: String, outDir: String, seqLen: Long = 2048,
      numShards: Int = 256, eos: Boolean = true,
      mode: String = "overwrite"): DataFrame =
    writeTrainingShardsWith(spark, corpusDir, modelDir, outDir, seqLen,
      numShards, eos, mode, modelOpt = None)

  /** [[writeTrainingShards]] with the tokenizer model ALREADY READ —
    * the [[readTrainingShardsWith]] seam applied to the writer: a
    * composed lifecycle (train → export → append → repair in one
    * surface) otherwise pays one full model read (params head +
    * alphabet + merges collects) PER STEP for the same model it just
    * read or trained (guide §1.2: remove redundant passes). Callers
    * passing `modelOpt` take over the read-time storage validation —
    * every digest/provenance GATE below still runs against the passed
    * model, so a wrong model refuses identically. */
  private[graft] def writeTrainingShardsWith(spark: SparkSession,
      corpusDir: String, modelDir: String, outDir: String,
      seqLen: Long, numShards: Int, eos: Boolean, mode: String,
      modelOpt: Option[graft.operators.Bpe.BpeModel]): DataFrame = {
    require(numShards > 0, s"numShards must be > 0, got $numShards")
    require(mode == "overwrite" || mode == "append",
      s"writeTrainingShards: unknown mode '$mode'")
    val model = modelOpt.getOrElse(
      graft.operators.Bpe.readFullModel(spark, modelDir))
    // eos ON by default: a next-token training run must see the
    // document edge marked ([[graft.operators.Bpe.eosIdOf]] — one id
    // past the vocabulary), or packed sequences teach the model to
    // continue one document into the next; the knob exists for
    // continuation-style artifacts that deliberately splice
    val eosId = if (eos) Some(graft.operators.Bpe.eosIdOf(model))
      else None
    import org.apache.hadoop.fs.Path
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    // the SOURCE corpus' retraction-ledger total
    // ([[retractionLedgerTotal]] — the shared definition), recorded
    // at export time and compared at append time: packs only ever
    // ADD, so a corpus retracted since the last export must refuse
    // the append (the bm25 freshness gate's scan-free ledger
    // discipline) — a comment-only contract would leave retracted
    // documents in the training artifact with no operator signal,
    // forever. The export holds the CORPUS lease too (not just
    // outDir's): [[retractCorpus]] commits its ledger row BEFORE
    // rewriting the corpus partitions, all under the corpus lease —
    // an export reading between those two steps would record the
    // retraction as reflected (its total includes the row) while
    // packing a corpus that still holds the retracted docs, and the
    // next append's gate would then pass SILENTLY. Serializing on the
    // corpus lease closes that window; the ledger-before-scan order
    // below stays as defense in depth for the opposite interleaving
    // (a retraction starting after our ledger read is recorded as
    // NOT yet reflected, so the next append refuses — conservative).
    // (n_sequences, n_ids, max packed doc id) from the WRITTEN pack —
    // the watermark derives from what was actually packed, never from
    // a second corpus scan (a batch published between the pack write
    // and a re-scan would be marked exported without being packed:
    // silent permanent holes). Caveat: with eos OFF, tokenless docs
    // pack nothing and stay below the watermark — future appends
    // re-filter and re-skip them, a no-op cost, never a hole.
    def packStats(pack: DataFrame): (Long, Long, Long) = {
      val agg = pack.agg(count(lit(1)),
        coalesce(sum(col("n_ids")), lit(0L)),
        coalesce(max(expr(
          "array_max(transform(spans, x -> x.doc_id))")),
          lit(Long.MinValue))).head()
      (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    }
    // the model's CONTENT digest ([[graft.operators.Bpe.modelDigest]])
    // rides the params next to the counts: the append/read gates
    // compare THIS — a season retrain with default knobs realistically
    // reproduces both counts (the merge loop runs to its cap, a
    // same-language corpus keeps its character set), so a counts-only
    // gate silently mixes two id spaces across packs
    val modelDig = graft.operators.Bpe.modelDigest(model)
    // `next_seq_id` is the id-space high-water mark, distinct from
    // n_sequences (the COUNT) the moment a repair shrinks a pack:
    // basing a later append on the shrunken count would mint seq_ids
    // that collide with a standing pack's tail. Exports written
    // before the column have never been repaired, so count == next id
    // there (readers coalesce).
    // `layout_gen` is the SEQ-ID-SPACE generation: bumped by every
    // operation that REWRITES standing seq_ids (repair re-cuts
    // touched packs, compaction re-bases merged runs), carried
    // unchanged by appends (new ids only — standing ids never move).
    // It exists for epoch-resume cursors: a (epoch_key, seq_id)
    // cursor minted under one generation points at DIFFERENT data
    // after a rewrite, and [[epochResumeShards]] refuses the stale
    // cursor loudly instead of silently mis-resuming a training run.
    def paramsRow(nSeq: Long, nIds: Long, maxDoc: Long,
        rt: Long, nextSeq: Long, layoutGen: Long): DataFrame =
      Seq((seqLen, numShards, nSeq, nIds, model.merges.size.toLong,
          model.alphabet.size.toLong, modelDig, eosId, maxDoc, rt,
          nextSeq, layoutGen))
        .toDF("seq_len", "num_shards", "n_sequences", "n_ids_total",
          "n_merges", "n_alphabet", "model_digest", "eos_id",
          "max_doc_id", "retraction_total", "next_seq_id",
          "layout_gen")
    // artifact emptiness: with eos ON every document emits at least
    // its separator id, so empty ⇔ no rows; with eos OFF a tokenless
    // doc emits nothing, so empty ⇔ no tokenizable row. One limit-1
    // scan either way.
    def artifactEmpty(df: DataFrame): Boolean =
      if (eosId.isDefined) df.isEmpty
      else df.where(tokenBearing).isEmpty
    graft.operators.Lease.withLeases(spark, Seq(outDir, corpusDir),
      "writeTrainingShards") {
      if (mode == "append") {
        // ---- incremental export: encode and pack ONLY the corpus
        // rows past the stored max_doc_id watermark (the batches a
        // weekly refresh published since the last export) into a NEW
        // pack generation `sequences/pack=<prevSeqs>/`, seq_ids
        // continuing densely. Each pack's trailing sequence may run
        // short — the per-snapshot packing every real shard set has
        // (documents never splice across packs) — so an appended
        // export is NOT byte-identical to a one-shot re-export; it is
        // the ∝-batch artifact the weekly economics demand. The pack
        // dir name is DETERMINISTIC from the stored params and the
        // params swap is staged and last, so a crashed append retried
        // overwrites its own partial pack — never duplicates it, and
        // never loses the standing watermark.
        if (!fs.exists(new Path(s"$outDir/params"))) {
          // a crashed params SWAP leaves the standing metadata at the
          // staged-write aside — the ∝-batch recovery is a rename, not
          // the full re-export a bare "no standing export" would send
          // the operator to
          require(!fs.exists(new Path(s"$outDir/_old_params")),
            s"$outDir/params is mid-swap (a crashed staged rename; " +
              "_old_params holds the standing metadata) — rename " +
              "_old_params back to params and re-run the append")
          require(false,
            s"$outDir has no standing export (params/) — append " +
              "folds new batches into one; run mode=overwrite first")
        }
        val pdf = spark.read.parquet(s"$outDir/params")
        // legacy-layout refusal FIRST: the missing-field error a bare
        // read would throw names a symptom, not the recovery
        requireAppendEraParams(pdf, outDir,
          note = "; appends work from there")
        // a crashed compaction's window: the append itself would be
        // SAFE (watermark reads the corpus, the pack base reads the
        // untouched high-water mark), but appending on top leaves
        // the duplicate-docs state standing one operation longer —
        // converge it first, the same one recovery every reader names
        requireNoCompactMarker(spark, outDir, "re-run the append")
        val p = pdf.head()
        require(p.getAs[Long]("seq_len") == seqLen &&
            p.getAs[Int]("num_shards") == numShards,
          s"append with (seqLen=$seqLen, numShards=$numShards) onto " +
            s"an export written with (${p.getAs[Long]("seq_len")}, " +
            s"${p.getAs[Int]("num_shards")})")
        // model provenance BEFORE the eos check: a different model
        // also shifts the derived eos id, and "different model" is
        // the root-cause diagnosis, not its separator symptom
        requireModelProvenance(pdf, p, model, modelDig, outDir,
          "appending would mix id spaces; re-export (mode=overwrite) " +
            "under the current model")
        require(Option(p.getAs[Integer]("eos_id"))
            .map(_.intValue) == eosId,
          s"append with eos=$eos onto an export written with " +
            s"eos_id=${p.getAs[Integer]("eos_id")} — mixed separator " +
            "conventions in one artifact")
        val rtNow = retractionLedgerTotal(spark, corpusDir)
        require(rtNow == p.getAs[Long]("retraction_total"),
          s"$corpusDir was retracted from since the last export " +
            s"(ledger total $rtNow vs the recorded " +
            s"${p.getAs[Long]("retraction_total")}) — packs only " +
            "ever add, so the retracted documents are still in the " +
            "artifact; run repairTrainingShards (rewrites only the " +
            "touched packs) — appends resume after it restamps")
        val prevMax = p.getAs[Long]("max_doc_id")
        val prevSeqs = p.getAs[Long]("n_sequences")
        // the pack BASE (dir name + first seq_id): the stored id-space
        // high-water mark, which equals the count only until a repair
        // has shrunk a pack (see paramsRow) — never-repaired exports
        // lack the column and the count is exact there
        val nextSeq0 =
          if (pdf.schema.fieldNames.contains("next_seq_id"))
            p.getAs[Long]("next_seq_id")
          else prevSeqs
        // batch_id = its batch's max doc id (monotone), so the
        // partition filter prunes the scan to post-export batches
        val corpusDf = spark.read.parquet(s"$corpusDir/corpus")
        require(corpusDf.columns.contains("batch_id"),
          s"$corpusDir/corpus has no batch_id partitions — not a " +
            "refreshCorpus-published corpus; the append watermark " +
            "needs the batch layout (flat corpora re-export with " +
            "mode=overwrite)")
        val delta = corpusDf
          .where(col("batch_id") > prevMax && col("doc_id") > prevMax)
          .select(col("doc_id"), col("text"))
        val prevGen = layoutGenOf(p)
        if (artifactEmpty(delta)) {
          // nothing new: the cron re-run's no-op — the standing
          // export is untouched and nothing is written
          paramsRow(prevSeqs, p.getAs[Long]("n_ids_total"), prevMax,
            rtNow, nextSeq0, prevGen)
        } else {
          val packDir = s"$outDir/sequences/pack=$nextSeq0"
          graft.operators.Sharding
            .materializeSequences(delta, model, seqLen, eosId = eosId)
            .withColumn("seq_id", col("seq_id") + lit(nextSeq0))
            .withColumn("shard",
              pmod(col("seq_id"), lit(numShards.toLong)).cast("int"))
            .write.mode("overwrite").partitionBy("shard")
            .parquet(packDir)
          val (nSeq, nIds, packMax) =
            packStats(spark.read.parquet(packDir))
          // appends never move a standing seq_id: the generation
          // carries over and pre-append resume cursors stay valid
          val report = paramsRow(prevSeqs + nSeq,
            p.getAs[Long]("n_ids_total") + nIds,
            math.max(prevMax, packMax), rtNow, nextSeq0 + nSeq,
            prevGen)
          stagedWrite(spark, report, s"$outDir/params")
          report
        }
      } else {
        // ledger BEFORE the corpus scan — see the note above: a
        // retraction landing mid-export must read as not-yet-packed
        val rtBefore = retractionLedgerTotal(spark, corpusDir)
        val corpus = spark.read.parquet(s"$corpusDir/corpus")
          .select(col("doc_id"), col("text"))
        // REFUSE an empty artifact BEFORE touching the standing
        // export: zero sequences would leave sequences/ with no
        // parquet files (unreadable) after destroying the previous
        // good export
        require(!artifactEmpty(corpus),
          s"writeTrainingShards: $corpusDir/corpus would pack to an " +
            "empty artifact — refusing to overwrite the standing " +
            "export (retract/refresh the corpus first, or point at " +
            "the right corpusDir)")
        // params goes first (readers refuse while we rewrite; a crash
        // anywhere below leaves the documented params-less state with
        // the re-run recovery), then the WHOLE sequences/ tree — an
        // overwrite replaces every generation, and sweeping the tree
        // also clears any pre-pack-layout export (bare shard= dirs),
        // whose survival would wedge the mixed-depth partition
        // discovery on the read-back
        // layout_gen continuity (read BEFORE the delete below): a
        // re-export rewrites EVERY seq_id, so the generation must
        // move PAST the standing export's — resetting to 0 would let
        // a pre-re-export resume cursor pass the generation gate
        // against a completely rewritten id space. Fresh bootstrap
        // (no standing artifact) starts at 0. A re-run over a
        // CRASHED overwrite (params already deleted, sequences
        // half-gone) cannot recover the old generation and restamps
        // at 1 — every reader refused the crashed tree in between,
        // and any cursor across a re-export needs an epoch restart
        // regardless; 1 refuses the common gen-0 cursors where 0
        // would accept them.
        val hadArtifact = fs.exists(new Path(s"$outDir/params")) ||
          fs.exists(new Path(s"$outDir/sequences"))
        // the persisted generation FLOOR closes the crashed-overwrite
        // corner: params is the only place the generation lives, and
        // the overwrite must delete it — so the intended next
        // generation is written to _layout_gen_floor BEFORE the
        // delete and removed only after the new params landed. A
        // re-run over a crashed overwrite (params gone) reads the
        // floor and restamps at the true generation instead of
        // restarting at 1 under a lineage whose cursors may sit at
        // any older generation. Underscore-prefixed: invisible to
        // every Spark listing; debris next to live params is inert
        // (the max() below absorbs it).
        val floorPath = new Path(s"$outDir/_layout_gen_floor")
        val floorGen =
          if (!fs.exists(floorPath)) 0L
          else scala.util.Try {
            val in = fs.open(floorPath)
            try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString.trim.toLong
            finally in.close()
          }.getOrElse(0L)
        val nextGen = math.max(floorGen,
          if (!hadArtifact) 0L
          else scala.util.Try(layoutGenOf(
            spark.read.parquet(s"$outDir/params").head()))
            .getOrElse(0L) + 1L)
        if (nextGen > 0L) {
          val out = fs.create(floorPath, true)
          try out.write(nextGen.toString.getBytes("UTF-8"))
          finally out.close()
        }
        Seq(s"$outDir/params", s"$outDir/sequences").foreach { d =>
          if (fs.exists(new Path(d))) fs.delete(new Path(d), true)
        }
        // pack=0: the bootstrap generation; appends add pack=<n>
        // siblings (readers take sequences/ whole, packs included)
        graft.operators.Sharding
          .materializeSequences(corpus, model, seqLen, eosId = eosId)
          .withColumn("shard",
            pmod(col("seq_id"), lit(numShards.toLong)).cast("int"))
          .write.mode("overwrite").partitionBy("shard")
          .parquet(s"$outDir/sequences/pack=0")
        // the report aggregates read back only small columns (n_ids,
        // the spans doc ids) — never the id arrays
        val (nSeq, nIds, maxDoc) = packStats(
          spark.read.parquet(s"$outDir/sequences"))
        val report = paramsRow(nSeq, nIds, maxDoc, rtBefore, nSeq,
          layoutGen = nextGen)
        stagedWrite(spark, report, s"$outDir/params")
        // floor dropped only after the generation is durable in
        // params (a crash in between leaves inert debris the next
        // overwrite absorbs via max)
        if (fs.exists(floorPath))
          require(fs.delete(floorPath, true),
            s"writeTrainingShards: deleting _layout_gen_floor failed")
        report
      }
    }
  }

  /** Operational statistics of a [[writeTrainingShards]] export, ONE
    * row per pack generation — the numbers that say whether the
    * artifact needs attention before a training run pays for it:
    *
    *   - `n_sequences` / `n_ids` — the pack's size (a pack far smaller
    *     than its batch siblings usually means a repair shrank it);
    *   - `n_short` — sequences below `seq_len`: 1 per pack is the
    *     per-snapshot packing tail every append leaves; MORE than 1
    *     means a repair re-cut the pack (each rebuild leaves its own
    *     tail) — disclosed, not damage;
    *   - `padding_waste` — Σ (seq_len − n_ids): the tokens a
    *     fixed-shape loader pads per epoch because of those tails —
    *     when the waste column grows past tolerance, a mode=overwrite
    *     re-export re-packs densely;
    *   - `shard_spread` — max−min per-shard sequence count: round-robin
    *     keeps it ≤ 1 at export time; a repair's re-cut can widen it
    *     (parallel readers' imbalance, worst shard = slowest reader).
    *
    * Reads ONLY metadata columns (`n_ids`, `shard`, `pack`) — the id
    * arrays (the artifact's bulk) are never deserialized, the
    * [[packedSpanDocs]] read-schema discipline — so the survey is
    * metadata-priced at any artifact size. `CorpusMain stats-shards`
    * prints one JSON line per pack.
    */
  def statsTrainingShards(spark: SparkSession,
      outDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // deliberately NOT the strict read: stats must survey a drifted
    // artifact (that is what they are FOR); only the params-less
    // crashed-write state refuses
    require(fs.exists(new Path(s"$outDir/params")),
      s"$outDir has no params/ — not a written shards export (or its " +
        "write crashed before the params commit); re-run " +
        "writeTrainingShards")
    val pdf = spark.read.parquet(s"$outDir/params")
    // a pre-pack-layout export has no pack dirs: the named upgrade
    // refusal, not a raw unresolved-column error from the select below
    requireAppendEraParams(pdf, outDir)
    // a crashed repair's staged-swap aside is INVISIBLE to the scan
    // (underscore prefix) — surveying around it would report the
    // aside'd pack as absent with no signal, the silent-omission shape
    // this survey must never have; refuse loudly with the recovery
    if (fs.exists(new Path(s"$outDir/sequences"))) {
      val asides = fs.listStatus(new Path(s"$outDir/sequences"))
        .map(_.getPath.getName).filter(_.startsWith("_old_pack~"))
      require(asides.isEmpty,
        s"$outDir/sequences holds staged-swap residue " +
          s"(${asides.sorted.mkString(", ")} — a crashed " +
          "repairTrainingShards); stats would silently omit the " +
          "aside'd pack — re-run the repair first (it heals the " +
          "aside before detection)")
    }
    // the same silent-misreport argument for a crashed compaction's
    // window: merged docs duplicated next to their old packs would
    // survey as inflated sizes with no signal
    requireNoCompactMarker(spark, outDir, "re-run the stats")
    val p = pdf.head()
    val seqLen = p.getAs[Long]("seq_len")
    val numShards = p.getAs[Int]("num_shards")
    val perShard = spark.read.parquet(s"$outDir/sequences")
      .select(col("pack").cast("long").as("pack"), col("shard"),
        col("n_ids").cast("long").as("n_ids"))
      .groupBy(col("pack"), col("shard"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_ids")).as("ids"),
        count(when(col("n_ids") < seqLen, 1)).as("short"),
        sum(lit(seqLen) - col("n_ids")).as("waste"))
    perShard.groupBy(col("pack"))
      .agg(sum(col("n")).as("n_sequences"),
        sum(col("ids")).as("n_ids"),
        sum(col("short")).as("n_short"),
        sum(col("waste")).as("padding_waste"),
        // a shard with NO sequences has no row here: when a repair
        // emptied one, the true minimum is 0, not the smallest
        // present shard's count
        when(count(lit(1)) < numShards, max(col("n")))
          .otherwise(max(col("n")) - min(col("n")))
          .as("shard_spread"))
      // the seq-id-space generation rides every row: during incident
      // triage ("is my epoch-resume cursor stale?") stats is the
      // metadata-priced surface an operator already runs, and the
      // generation is the one params field that answers it
      .withColumn("layout_gen", lit(layoutGenOf(p)))
      .orderBy(col("pack").asc)
  }

  /** PACK-TAIL COMPACTION for a [[writeTrainingShards]] export — the
    * waste-proportional remedy [[statsTrainingShards]]' numbers call
    * for, sitting between "live with it" and the corpus-scale
    * `mode=overwrite` re-export (the same asymmetry argument that
    * produced the pack-targeted repair): a season of weekly appends
    * leaves one short-tail generation per batch, and repairs leave
    * shrunken, multi-tail packs — padding waste and per-pack reader
    * overhead that only a re-pack removes, but whose volume is ∝ the
    * SHORT packs, never the corpus. Merges each maximal run of
    * ADJACENT candidate packs (candidate: id fill below `minFill`,
    * or more than one short sequence — a repair's re-cut signature)
    * into ONE dense generation at the run's first base:
    *
    *   1. heals a crashed previous compaction (the `_compact~<base>`
    *      in-flight marker: if the merged pack landed — its Σ n_ids
    *      equals the marker's stamp, and ids are conserved exactly —
    *      the remaining victims delete and the restamp completes;
    *      a stale marker from a pre-swap crash is dropped) and any
    *      staged-swap aside (the repair's step-1 rule); REFUSES a
    *      crashed append's unrecorded pack (base past the stored
    *      `next_seq_id`) with the run-repair-first recovery — a
    *      possibly-partial pack must never be merged into a
    *      legitimate generation;
    *   2. re-packs WITHOUT re-encoding: the run's per-document id
    *      streams reassemble from its own spans
    *      ([[graft.operators.Sharding.reconstructDocs]], eos kept in
    *      stream) and re-cut at the stored seqLen
    *      ([[graft.operators.Sharding.packIdStreams]] — the
    *      materialize path's pack half at the id level), so the id
    *      space CANNOT drift: compaction never reads the model, the
    *      corpus, or the text, and Σ n_ids is conserved bit-for-bit
    *      (ShardingSpec pins reconstruction equality across it);
    *   3. swaps the merged pack in atomically at the run's first
    *      base (per-pack staged swap, the repair discipline), then
    *      deletes the merged-away victims — the marker written FIRST
    *      makes the two-step window loud and convergent: a crash
    *      between swap and deletes leaves duplicate docs on disk,
    *      but the marker refuses every strict read / stats / repair
    *      with the re-run-compaction recovery, and the re-run
    *      finishes the deletes;
    *   4. restamps `params/` from the actual tree (count + Σ n_ids —
    *      small columns only). The watermark, model provenance,
    *      `retraction_total` (compaction never scans the corpus, so
    *      it must not claim retraction reflection), and the
    *      `next_seq_id` high-water mark all carry over unchanged —
    *      bases never move, merged seq_ids stay strictly below the
    *      old run ceiling (ceil(Σ ids / L) ≤ Σ ceil(ids_i / L)), so
    *      future appends stay collision-free.
    *
    * Cost: the runs' own id bytes once through ONE reconstruct
    * shuffle + one re-cut each — ∝ accumulated waste; untouched packs
    * keep their files byte-identical. Runs merge CONCURRENTLY on a
    * bounded pool (`maxConcurrentMerges` — the repair's argument: at
    * micro-batch cadence the per-run multi-job scheduling floors
    * dominate the tiny data, so overlapping them is the wall-time
    * lever; disjoint packs + per-run markers keep the crash contract
    * per-run and unchanged). A no-candidate run returns the
    * standing params untouched (two metadata reads, the cron-re-run
    * discipline). Holds only `outDir`'s lease: the corpus is never
    * read, and a retraction landing mid-compaction interacts only
    * through the ledger gate, which the unchanged stamp keeps
    * conservative. `CorpusMain compact-shards` is the cron line;
    * trigger it on `stats-shards`' padding_waste / n_short columns.
    */
  def compactTrainingShards(spark: SparkSession, outDir: String,
      minFill: Double = 0.9, maxConcurrentMerges: Int = 4): DataFrame = {
    require(minFill > 0.0 && minFill <= 1.0,
      s"minFill must be in (0, 1], got $minFill")
    require(maxConcurrentMerges > 0,
      s"maxConcurrentMerges must be > 0, got $maxConcurrentMerges")
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.Lease.withLeases(spark, Seq(outDir),
      "compactTrainingShards") {
      if (!fs.exists(new Path(s"$outDir/params"))) {
        require(!fs.exists(new Path(s"$outDir/_old_params")),
          s"$outDir/params is mid-swap (a crashed staged rename; " +
            "_old_params holds the standing metadata) — rename " +
            "_old_params back to params and re-run the compaction")
        require(false,
          s"$outDir has no standing export (params/) — nothing to " +
            "compact; run writeTrainingShards (mode=overwrite) first")
      }
      val pdf = spark.read.parquet(s"$outDir/params")
      requireAppendEraParams(pdf, outDir)
      // the restamp carries the provenance stamp forward — a
      // pre-digest export has none to carry (and appends/reads
      // refuse it anyway); the one-time upgrade is the recovery
      require(pdf.schema.fieldNames.contains("model_digest"),
        s"$outDir is a pre-digest-era export (params/ records only " +
          "model COUNTS) — re-export (mode=overwrite) once to stamp " +
          "the model's content digest; compaction restamps params " +
          "and must carry the stamp forward")
      val p = pdf.head()
      val seqLen = p.getAs[Long]("seq_len")
      val numShards = p.getAs[Int]("num_shards")
      val nextSeq0 =
        if (pdf.schema.fieldNames.contains("next_seq_id"))
          p.getAs[Long]("next_seq_id")
        else p.getAs[Long]("n_sequences")
      val seqRoot = new Path(s"$outDir/sequences")
      require(fs.exists(seqRoot),
        s"$outDir has params/ but no sequences/ — a crashed " +
          "overwrite's torn state (fsck names it); re-run the export " +
          "(mode=overwrite)")
      // ---- step 1a: heal staged-swap residue (the repair's rule —
      // an _old_pack~ aside whose dest is absent IS that pack)
      fs.listStatus(seqRoot).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("_old_pack~")) {
          val dest = new Path(seqRoot,
            nm.stripPrefix("_old_").replace('~', '='))
          if (fs.exists(dest))
            require(fs.delete(st.getPath, true),
              s"compactTrainingShards: deleting completed aside $nm " +
                "failed")
          else require(fs.rename(st.getPath, dest),
            s"compactTrainingShards: healing rename $nm -> " +
              s"${dest.getName} failed")
        } else if (nm.startsWith("pack=") &&
            nm.stripPrefix("pack=").toLongOption
              .exists(_ >= nextSeq0)) {
          // a crashed APPEND's unrecorded, possibly-partial pack:
          // merging it would legitimize bytes params never recorded —
          // the repair owns that sweep (and the deadlock argument
          // that makes sweeping correct THERE does not apply here:
          // compaction is never a gate's prescribed recovery)
          require(false,
            s"$outDir/sequences holds unrecorded pack $nm (base past " +
              s"the stored next_seq_id $nextSeq0 — a crashed " +
              "append); run repairTrainingShards first (it sweeps " +
              "it), then re-run the compaction")
        }
      }
      // ---- step 1b: heal a crashed previous COMPACTION. Ids are
      // conserved exactly by the re-cut, so the marker's Σ n_ids
      // stamp decides whether the staged swap landed: equal ⇒ finish
      // the victim deletes; anything else ⇒ the merge never swapped
      // in (the aside heal above restored the original pack) and the
      // marker is stale debris. A LANDED heal is remembered: the
      // crashed run's merge REWROTE sequence content even when it
      // happened to conserve the sequence count, so the no-work
      // short-circuit below must not skip the restamp (and its
      // generation bump) on count equality alone. Markers drop LAST
      // here too — only stale/unparseable debris (provably pre-swap)
      // is deleted now; a LANDED marker stands until the post-restamp
      // sweep, mirroring the fresh-merge path, so a crash between
      // this heal and the restamp can never leave a marker-less tree
      // whose count-conserving merge would slip past the no-work
      // short-circuit without its generation bump (the victims may
      // be deleted eagerly: the heal is idempotent — the re-run
      // re-reads the standing marker, finds the merge landed, and
      // restamps+bumps).
      var healedLanded = false
      fs.listStatus(seqRoot).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("_compact~")) {
          val body = {
            val in = fs.open(st.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          }
          // "<base>;<expected_ids>;<victim>,<victim>,..." — a body
          // that fails to parse is a crash DURING the marker write
          // itself (fs.create succeeded, close never ran), and the
          // marker's close strictly precedes stagedWrite, so an
          // unparseable marker PROVABLY predates any swap: treat it
          // as stale debris (delete, fall through to detection)
          // instead of throwing the raw NumberFormatException that
          // would wedge the one named recovery behind a manual
          // marker delete
          val parsed = scala.util.Try {
            val parts = body.trim.split(";", 3)
            (parts(0).toLong, parts(1).toLong,
              parts(2).split(",").filter(_.nonEmpty)
                .map(_.toLong).toSeq)
          }
          val landed = parsed.toOption.exists {
            case (base, expectedIds, victims) =>
              val packDir = new Path(seqRoot, s"pack=$base")
              val l = fs.exists(packDir) && {
                val got = spark.read.parquet(packDir.toString)
                  .agg(coalesce(sum(col("n_ids").cast("long")),
                    lit(0L)))
                  .head().getLong(0)
                got == expectedIds
              }
              if (l) {
                healedLanded = true
                victims.foreach { v =>
                  val vp = new Path(seqRoot, s"pack=$v")
                  if (fs.exists(vp))
                    require(fs.delete(vp, true),
                      s"compactTrainingShards: deleting merged-away " +
                        s"pack=$v failed")
                }
              }
              l
          }
          if (!landed)
            require(fs.delete(st.getPath, true),
              s"compactTrainingShards: deleting marker $nm failed")
        }
      }
      // foreign-state refusal (the repair's rule): after healing,
      // more sequences on disk than params record means rows the
      // restamp below must not legitimize. FEWER is the healed
      // crashed-compaction state (victims deleted, restamp pending) —
      // fall through and restamp from the tree.
      val nOnDisk = spark.read.parquet(s"$outDir/sequences").count()
      require(nOnDisk <= p.getAs[Long]("n_sequences"),
        s"$outDir holds $nOnDisk sequences but params records " +
          s"${p.getAs[Long]("n_sequences")} — foreign rows inside " +
          "recorded packs; re-run the export (mode=overwrite)")
      // ---- step 2: candidate detection from metadata columns only
      val packs = spark.read.parquet(s"$outDir/sequences")
        .select(col("pack").cast("long").as("pack"),
          col("n_ids").cast("long").as("n_ids"))
        .groupBy(col("pack"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("n_ids")).as("ids"),
          count(when(col("n_ids") < seqLen, 1)).as("n_short"))
        .orderBy(col("pack").asc)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      def isCandidate(t: (Long, Long, Long, Long)): Boolean = {
        val (_, nSeqs, ids, nShort) = t
        ids.toDouble < minFill * (nSeqs * seqLen).toDouble ||
          nShort > 1L
      }
      // maximal runs of packs ADJACENT in base order (merging across
      // a healthy pack would interleave doc ranges — packs must keep
      // partitioning the doc_id axis for the repair's range queries)
      val runs = scala.collection.mutable.ArrayBuffer
        .empty[Seq[(Long, Long, Long, Long)]]
      var cur = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      packs.foreach { t =>
        if (isCandidate(t)) cur += t
        else { if (cur.nonEmpty) runs += cur.toSeq; cur.clear() }
      }
      if (cur.nonEmpty) runs += cur.toSeq
      // a run earns its rewrite: ≥ 2 generations consolidate, or a
      // single multi-tail pack re-cuts to fewer sequences
      val work = runs.toSeq.filter { run =>
        val ids = run.map(_._3).sum
        val nSeqs = run.map(_._2).sum
        run.length >= 2 || (ids + seqLen - 1) / seqLen < nSeqs
      }
      if (work.isEmpty && nOnDisk == p.getAs[Long]("n_sequences") &&
          !healedLanded) pdf
      else {
        def mergeRun(run: Seq[(Long, Long, Long, Long)]): Unit = {
          val base = run.head._1
          val expectedIds = run.map(_._3).sum
          val bases = run.map(_._1)
          // marker FIRST: the swap-then-delete window below is
          // two renames + k deletes, and every reader refuses on the
          // marker until a re-run converges it
          val marker = new Path(seqRoot, s"_compact~$base")
          val outS = fs.create(marker, true)
          try outS.write(
            s"$base;$expectedIds;${bases.drop(1).mkString(",")}"
              .getBytes("UTF-8"))
          finally outS.close()
          // read ONLY this run's pack dirs — a whole-tree read here
          // would LIST sibling runs' dirs mid-delete under
          // concurrency (FileNotFound on a vanished victim), and
          // filtering after the fact never prunes the listing
          val seqsRun = spark.read
            .option("basePath", s"$outDir/sequences")
            .parquet(bases.map(b => s"$outDir/sequences/pack=$b"): _*)
          // numParts from the run's own metadata sum (already on the
          // driver) — the shared epochPartitions rule without an
          // extra sizing pass over the reconstruction
          val merged = graft.operators.Sharding
            .packIdStreams(graft.operators.Sharding
              .reconstructDocs(seqsRun), seqLen,
              numParts = graft.operators.Sharding
                .epochPartitions(expectedIds))
            .withColumn("seq_id", col("seq_id") + lit(base))
            .withColumn("shard",
              pmod(col("seq_id"), lit(numShards.toLong)).cast("int"))
          stagedWrite(spark, merged, s"$outDir/sequences/pack=$base",
            partitionCols = Seq("shard"))
          bases.drop(1).foreach { v =>
            require(fs.delete(new Path(seqRoot, s"pack=$v"), true),
              s"compactTrainingShards: deleting merged-away pack=$v " +
                "failed")
          }
          // the marker is NOT deleted here: it survives until the
          // restamp below has landed, so a crash in the all-merges-
          // done-restamp-pending window can never leave a MARKER-LESS
          // tree whose count-conserving merge would slip past the
          // no-work short-circuit without a generation bump — the
          // re-run heals the standing marker as landed, sets
          // healedLanded, and restamps+bumps
        }
        // runs are INDEPENDENT (disjoint packs, disjoint doc ranges,
        // per-run markers and staged names), so they submit on a
        // bounded pool — the repairTrainingShards argument verbatim:
        // a season of micro-batch appends yields many runs, and each
        // serial run pays a fixed multi-job scheduling floor
        // (detection reads, the manifest prefix sum, the gather, the
        // swap) over tiny data, so the floors dominate wall time at
        // exactly the scale compaction exists for. Concurrency
        // changes WALL time only: every in-flight run settles before
        // the first failure propagates (the restamp below must never
        // run over landing writes, nor the lease release under them).
        if (work.length <= 1 || maxConcurrentMerges <= 1)
          work.foreach(mergeRun)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(maxConcurrentMerges, work.length))
          try {
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutor(pool)
            work.map(r => scala.concurrent.Future(mergeRun(r)))
              .map(f => scala.util.Try(scala.concurrent.Await
                .result(f, scala.concurrent.duration.Duration.Inf)))
              .foreach(_.get) // first failure rethrows, in run order
          } finally pool.shutdown()
        }
        // ---- step 4: restamp from the actual tree (the repair rule)
        val agg = spark.read.parquet(s"$outDir/sequences")
          .agg(count(lit(1)), coalesce(sum(col("n_ids")), lit(0L)))
          .head()
        require(agg.getLong(1) == p.getAs[Long]("n_ids_total"),
          "compactTrainingShards: id conservation violated (" +
            s"${agg.getLong(1)} ids on disk vs the recorded " +
            s"${p.getAs[Long]("n_ids_total")}) — refusing to restamp")
        // the restamp only runs when seq_ids WERE rewritten (fresh
        // merges, or healing a crashed run whose merge landed — that
        // run died before ITS restamp), so the seq-id-space
        // generation always bumps here: standing epoch-resume
        // cursors are stale and epochResumeShards must refuse them
        val report = Seq((seqLen, numShards, agg.getLong(0),
            agg.getLong(1), p.getAs[Long]("n_merges"),
            p.getAs[Long]("n_alphabet"),
            p.getAs[String]("model_digest"),
            Option(p.getAs[Integer]("eos_id")).map(_.intValue),
            p.getAs[Long]("max_doc_id"),
            p.getAs[Long]("retraction_total"), nextSeq0,
            layoutGenOf(p) + 1L))
          .toDF("seq_len", "num_shards", "n_sequences", "n_ids_total",
            "n_merges", "n_alphabet", "model_digest", "eos_id",
            "max_doc_id", "retraction_total", "next_seq_id",
            "layout_gen")
        stagedWrite(spark, report, s"$outDir/params")
        // markers drop LAST — readers refuse the whole merge+restamp
        // window, and the generation bump is durable before any
        // reader is let back in (a crash here just re-heals+re-bumps
        // on the next run: churn, never silence)
        fs.listStatus(seqRoot).map(_.getPath)
          .filter(_.getName.startsWith("_compact~"))
          .foreach(m => require(fs.delete(m, true),
            s"compactTrainingShards: deleting marker ${m.getName} " +
              "failed"))
        report
      }
    }
  }

  /** KNOB-INERT append to a standing [[writeTrainingShards]] export —
    * the follow-the-corpus cron shape (`CorpusMain refresh
    * shards=<dir>`): seqLen / numShards / eos are read from the
    * export's own params instead of re-typed on the cron line, the
    * same knob-inert contract every index family here has (a standing
    * artifact's stored geometry drives every later batch; a drifting
    * cron flag can refuse, never silently re-cut). The append itself
    * is [[writeTrainingShards]] `mode=append`, every gate included —
    * watermark, ledger, model digest (re-checked under the lease: a
    * re-export changing the knobs between this read and the append's
    * own validation refuses loudly on the mismatch, never re-cuts).
    * Refuses a dir with no standing export (bootstrap is an explicit
    * operator decision: seqLen is a training-run contract, not a
    * default to inherit silently).
    */
  /** PRE-FLIGHT for the `refresh shards=` cron composition: every
    * append gate that can be checked from metadata alone, checked
    * BEFORE [[refreshCorpus]] publishes anything — a batch must never
    * publish and THEN die in [[appendTrainingShards]], leaving the
    * export silently lagging the corpus (recoverable — the watermark
    * catches up next run — but exactly the publish-then-lag state a
    * pre-flight exists to prevent). Checks, in refusal order:
    *
    *   1. a standing export exists (params/; the mid-swap aside gets
    *      its ∝-0 rename diagnosis, not "bootstrap first");
    *   2. the export is append-era (pre-append-era layouts refuse
    *      with the one-time mode=overwrite upgrade), and no
    *      compaction marker stands (the append's own refusal,
    *      surfaced before the batch publishes);
    *   3. the tokenizer is a COMPLETE model whose counts AND content
    *      digest match the export's stamp (a season retrain since the
    *      export would otherwise mix id spaces post-publish);
    *   4. the corpus' retraction ledger total equals the stamped one
    *      (a retraction since the export needs repairTrainingShards
    *      first — the append's own gate, surfaced pre-publish).
    *
    * Metadata-priced: two params reads, the model read, one ledger
    * sum — never a corpus or artifact scan. Advisory by design: the
    * authoritative gates re-run inside the append under the leases
    * (a retraction landing between this check and the append still
    * refuses there — loudly, after the publish, the recoverable
    * direction). */
  def preflightShardsAppend(spark: SparkSession, corpusDir: String,
      modelDir: String, outDir: String): Unit =
    preflightShardsAppendWith(spark, corpusDir, modelDir, outDir,
      modelOpt = None)

  /** [[preflightShardsAppend]] with the model already read — the
    * [[writeTrainingShardsWith]] seam at the cron pre-flight. */
  private[graft] def preflightShardsAppendWith(spark: SparkSession,
      corpusDir: String, modelDir: String, outDir: String,
      modelOpt: Option[graft.operators.Bpe.BpeModel]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$outDir/params"))) {
      require(!fs.exists(new Path(s"$outDir/_old_params")),
        s"$outDir/params is mid-swap (a crashed staged rename; " +
          "_old_params holds the standing metadata) — rename " +
          "_old_params back to params first")
      require(false,
        s"refresh shards=$outDir: no standing export there — " +
          "bootstrap explicitly first (CorpusMain export-shards), " +
          "refusing BEFORE the batch publishes")
    }
    val pdf = spark.read.parquet(s"$outDir/params")
    requireAppendEraParams(pdf, outDir,
      note = "; the shards= append works from there")
    // the append refuses a standing compaction marker
    // (appendTrainingShards' own gate) — surfaced HERE, pre-publish,
    // or a crashed compaction would let the batch publish and THEN
    // refuse on every cron run until someone re-runs the compaction:
    // exactly the publish-then-lag state this pre-flight exists to
    // prevent. One listStatus, the other gates' price class.
    requireNoCompactMarker(spark, outDir, "re-run the refresh")
    val model = modelOpt.getOrElse(
      graft.operators.Bpe.readFullModel(spark, modelDir))
    requireModelProvenance(pdf, pdf.head(), model,
      graft.operators.Bpe.modelDigest(model), outDir,
      "the post-refresh append would refuse AFTER the batch " +
        "published; re-export (mode=overwrite) under the current " +
        "model first")
    val rtNow = retractionLedgerTotal(spark, corpusDir)
    val stamped = pdf.head().getAs[Long]("retraction_total")
    require(rtNow == stamped,
      s"$corpusDir was retracted from since the last export (ledger " +
        s"total $rtNow vs the recorded $stamped) — run " +
        "repairTrainingShards first; the post-refresh append would " +
        "refuse AFTER the batch published")
  }

  def appendTrainingShards(spark: SparkSession, corpusDir: String,
      modelDir: String, outDir: String): DataFrame =
    appendTrainingShardsWith(spark, corpusDir, modelDir, outDir,
      modelOpt = None)

  /** [[appendTrainingShards]] with the model already read — the
    * [[writeTrainingShardsWith]] seam at the knob-inert surface. */
  private[graft] def appendTrainingShardsWith(spark: SparkSession,
      corpusDir: String, modelDir: String, outDir: String,
      modelOpt: Option[graft.operators.Bpe.BpeModel]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(s"$outDir/params")),
      s"$outDir has no standing export (params/) — the knob-inert " +
        "append reads seqLen/numShards/eos from there; bootstrap " +
        "explicitly first (CorpusMain export-shards <corpusDir> " +
        "<modelDir> <outDir> [seqLen] [numShards])")
    val pdf = spark.read.parquet(s"$outDir/params")
    requireAppendEraParams(pdf, outDir, note = "; appends work from " +
      "there")
    val p = pdf.head()
    writeTrainingShardsWith(spark, corpusDir, modelDir, outDir,
      seqLen = p.getAs[Long]("seq_len"),
      numShards = p.getAs[Int]("num_shards"),
      eos = p.getAs[Integer]("eos_id") != null,
      mode = "append", modelOpt = modelOpt)
  }

  /** Pack-targeted retraction REPAIR for a [[writeTrainingShards]]
    * export — the recovery the append gate's refusal points at when
    * the source corpus has been retracted from, priced ∝ TOUCHED
    * PACKS instead of the corpus-scale `mode=overwrite` re-export: at
    * 100 TB a weekly GDPR trickle must not force a full re-encode of
    * every standing pack on cadence. The pack layout already
    * localizes the damage — each pack's `spans` name exactly the
    * doc_ids it packed — so the repair
    *
    *   1. heals any staged-swap residue a crashed previous repair
    *      left under `sequences/` (an `_old_pack~N` aside with its
    *      pack absent IS the pack — renamed back before detection,
    *      which would otherwise silently skip the spanless dir);
    *   2. detects damage by ids alone: one column-pruned pass over
    *      every pack's `spans` doc_ids (never the id arrays) joined
    *      against the corpus' doc_id column — a packed id no longer
    *      in the corpus marks its pack touched. A hole in the OTHER
    *      direction (a corpus doc below the watermark missing from
    *      every pack — hand-deleted files, a foreign partial state)
    *      REFUSES with the re-export recovery: repair fixes
    *      retraction damage, it cannot reconstruct what it cannot
    *      see. (With eos off the check filters to docs with a
    *      nonempty token stream — tokenless docs legitimately pack
    *      nothing — at the cost of one tokenize pass over the
    *      below-watermark text; skipping it entirely would stamp a
    *      hand-deleted pack's data loss as healthy.)
    *   3. re-materializes ONLY the touched packs, each from the
    *      post-retraction corpus rows in its own spans' doc_id range
    *      (packs partition the id axis, so the range query is exact),
    *      under the SAME model (content-digest-verified), same
    *      seqLen/shards/eos read from the stored params — each pack
    *      swapped in atomically ([[stagedWrite]]), rebuilds submitted
    *      CONCURRENTLY up to `maxConcurrentRebuilds` (disjoint inputs,
    *      per-pack swaps — concurrency changes wall time, never the
    *      crash contract; a wide retraction would otherwise pay one
    *      serial job-scheduling floor per touched pack); a pack
    *      retracted EMPTY is deleted. Pack bases never move (`pack=N`
    *      keeps its
    *      dir name and its seq_ids start at N), so untouched packs
    *      are never rewritten — their files stay byte-identical — and
    *      repaired packs may end short: seq_id GAPS are a disclosed
    *      property of a repaired export (the stored `next_seq_id`
    *      high-water mark keeps future appends collision-free).
    *   4. restamps `params/` from the ACTUAL tree (count + Σ n_ids —
    *      small columns only) with `retraction_total` advanced to the
    *      ledger total read BEFORE the corpus scan (a retraction
    *      landing mid-repair reads as not-yet-reflected, so the next
    *      append still refuses — conservative, never silent). The
    *      watermark does not move (retracted id ranges stay retired,
    *      [[retractCorpus]]'s rule).
    *
    * Crash contract: re-run the repair — step 1 heals the one loud
    * state, already-repaired packs have no gone ids and are not
    * touched again, and the final restamp derives from the tree, so
    * any partial run converges. A standing CRASHED APPEND's
    * unrecorded pack (its base is ≥ the stored `next_seq_id`
    * high-water mark — recorded packs are always below it) is SWEPT
    * in step 1 rather than refused: the restamp must never
    * legitimize a possibly-partial pack, but refusing would deadlock
    * with the append's own ledger gate when a retraction lands after
    * the crash (each message pointing at the other tool) — sweep,
    * repair, then re-run the append (it rebuilds the same pack
    * deterministically). On-disk rows exceeding the record AFTER the
    * sweep are foreign files inside recorded packs and refuse with
    * the re-export recovery. Returns the new params
    * row; a no-damage run (retraction never touched a packed doc)
    * still restamps so the ledger gate admits appends again. A run
    * with NOTHING ledgered since the stamped total (and a tree that
    * agrees with the record) short-circuits to the standing params —
    * the unconditional cron re-run costs two metadata reads, never a
    * corpus scan (the bm25 refresh's staleness-refusal discipline).
    */
  def repairTrainingShards(spark: SparkSession, corpusDir: String,
      modelDir: String, outDir: String,
      maxConcurrentRebuilds: Int = 4): DataFrame =
    repairTrainingShardsWith(spark, corpusDir, modelDir, outDir,
      maxConcurrentRebuilds, modelOpt = None)

  /** [[repairTrainingShards]] with the model already read — the
    * [[writeTrainingShardsWith]] seam at the repair. */
  private[graft] def repairTrainingShardsWith(spark: SparkSession,
      corpusDir: String, modelDir: String, outDir: String,
      maxConcurrentRebuilds: Int,
      modelOpt: Option[graft.operators.Bpe.BpeModel]): DataFrame = {
    require(maxConcurrentRebuilds > 0,
      s"maxConcurrentRebuilds must be > 0, got $maxConcurrentRebuilds")
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val model = modelOpt.getOrElse(
      graft.operators.Bpe.readFullModel(spark, modelDir))
    val modelDig = graft.operators.Bpe.modelDigest(model)
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the CORPUS lease rides next to outDir's ([[writeTrainingShards]]'
    // rule, and it matters MOST here): retractCorpus ledgers before it
    // rewrites, so an unleased repair interleaving those two steps
    // would scan a corpus still holding the retracted docs, find no
    // damage, and restamp retraction_total as reflected — the exact
    // silent-pass direction the ledger gate exists to refuse. Holding
    // the corpus lease serializes the repair against any in-flight
    // retraction (and refresh).
    graft.operators.Lease.withLeases(spark,
      Seq(outDir, corpusDir), "repairTrainingShards") {
      if (!fs.exists(new Path(s"$outDir/params"))) {
        require(!fs.exists(new Path(s"$outDir/_old_params")),
          s"$outDir/params is mid-swap (a crashed staged rename; " +
            "_old_params holds the standing metadata) — rename " +
            "_old_params back to params and re-run the repair")
        require(false,
          s"$outDir has no standing export (params/) — nothing to " +
            "repair; run writeTrainingShards (mode=overwrite) first")
      }
      val pdf = spark.read.parquet(s"$outDir/params")
      requireAppendEraParams(pdf, outDir)
      val p = pdf.head()
      // repairing under a retrained model would re-encode the
      // touched packs into a different id space than the untouched
      // ones — the exact mix the shared digest gate exists to refuse
      requireModelProvenance(pdf, p, model, modelDig, outDir,
        "repairing would mix id spaces; re-export (mode=overwrite) " +
          "under the current model")
      val seqLen = p.getAs[Long]("seq_len")
      val numShards = p.getAs[Int]("num_shards")
      val eosId = Option(p.getAs[Integer]("eos_id")).map(_.intValue)
      val prevMax = p.getAs[Long]("max_doc_id")
      val nextSeq0 =
        if (pdf.schema.fieldNames.contains("next_seq_id"))
          p.getAs[Long]("next_seq_id")
        else p.getAs[Long]("n_sequences")
      // ledger BEFORE the corpus scan — the writeTrainingShards
      // discipline: a retraction landing mid-repair is recorded as
      // not yet reflected, and the next append's gate forces another
      // repair rather than silently passing
      val rtNow = retractionLedgerTotal(spark, corpusDir)
      // a crashed COMPACTION first: its duplicate-docs window would
      // otherwise trip the foreign-rows refusal below with the
      // corpus-scale re-export recovery — the wrong diagnosis; the
      // compaction re-run converges it cheaply
      requireNoCompactMarker(spark, outDir, "re-run the repair")
      // ---- step 1: heal a crashed previous repair's staged-swap
      // residue before ANY read of sequences/ (detection cannot see a
      // pack whose dir is sitting aside)
      val seqRoot = new Path(s"$outDir/sequences")
      require(fs.exists(seqRoot),
        s"$outDir has params/ but no sequences/ — a crashed " +
          "overwrite's torn state (fsck names it); re-run the export " +
          "(mode=overwrite)")
      fs.listStatus(seqRoot).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("_old_pack~")) {
          val dest = new Path(seqRoot,
            nm.stripPrefix("_old_").replace('~', '='))
          if (fs.exists(dest))
            require(fs.delete(st.getPath, true),
              s"repairTrainingShards: deleting completed aside $nm " +
                "failed")
          else require(fs.rename(st.getPath, dest),
            s"repairTrainingShards: healing rename $nm -> " +
              s"${dest.getName} failed")
        } else if (nm.startsWith("pack=") &&
            nm.stripPrefix("pack=").toLongOption
              .exists(_ >= nextSeq0)) {
          // unrecorded-pack sweep: every RECORDED pack's base is
          // strictly below the stored next_seq_id high-water mark
          // (overwrite/append/repair all stamp it past the packs
          // they record), so a pack dir at base >= nextSeq0 is a
          // crashed APPEND's params-invisible residue — possibly
          // partial, referenced by nothing. Sweeping it here (rather
          // than refusing with "re-run the append first") matters
          // when a retraction landed AFTER the crash: the append's
          // ledger gate refuses until a repair restamps, so a
          // refusal here would form a two-message deadlock with no
          // executable recovery. The post-repair append re-run
          // rebuilds the same pack deterministically (same
          // watermark, same base). Checked delete: a silent false
          // would surface later as the foreign-rows refusal with its
          // corpus-scale re-export recovery — the wrong diagnosis
          // for a filesystem hiccup.
          require(fs.delete(st.getPath, true),
            s"repairTrainingShards: sweeping unrecorded pack $nm " +
              "failed")
        }
      }
      // foreign-state refusal BEFORE any other read: after the sweep,
      // more sequences on disk than params record can only mean extra
      // rows INSIDE recorded packs (foreign files, a hand-copy) — the
      // restamp below must not legitimize them
      val nOnDisk = spark.read.parquet(s"$outDir/sequences")
        .count()
      require(nOnDisk <= p.getAs[Long]("n_sequences"),
        s"$outDir holds $nOnDisk sequences but params records " +
          s"${p.getAs[Long]("n_sequences")} after the unrecorded-" +
          "pack sweep — foreign rows inside recorded packs; re-run " +
          "the export (mode=overwrite)")
      // scan-free no-op: every ledgered retraction already reflected
      // (a completed repair/overwrite stamped this total — an
      // in-flight one can't have, its params swap is LAST) and the
      // tree agrees with the record — the unconditional cron re-run
      // costs two metadata reads, never a corpus scan. Counts must
      // ALSO agree: a hand-deleted pack under a settled ledger is
      // damage the detection below exists to refuse, not to skip.
      if (rtNow == p.getAs[Long]("retraction_total") &&
          nOnDisk == p.getAs[Long]("n_sequences")) pdf
      else {
      val corpusDf = spark.read.parquet(s"$corpusDir/corpus")
      def noTokens(df: DataFrame): Boolean =
        if (eosId.isDefined) df.isEmpty
        else df.where(tokenBearing).isEmpty
      // a corpus retracted EMPTY below the watermark would repair
      // every pack away, leaving sequences/ unreadable — refuse
      // before destroying anything
      require(!noTokens(corpusDf.where(col("doc_id") <= prevMax)
          .select(col("doc_id"), col("text"))),
        s"repairTrainingShards: $corpusDir/corpus holds nothing " +
          s"below the export watermark ($prevMax) — the repair would " +
          "empty the artifact; delete the export, or re-export " +
          "(mode=overwrite) once the corpus has content")
      // ---- step 2: ids-only damage detection. One pass over every
      // pack's spans doc_ids (column-pruned — the id arrays are never
      // read) left-joined to the corpus id column: per pack, its id
      // range and how many of its packed docs are gone.
      val packedDocs = packedSpanDocs(spark, outDir)
      // per-pack id volume (ONE column-pruned metadata aggregate for
      // the whole repair, LAZY — a no-damage restamp run never pays
      // it): feeds each rebuild's explicit partition count via the
      // shared epochPartitions rule — the rebuilt pack is at most
      // the old one, so sizing from the old volume never
      // under-partitions, and materializeSequences' own default-0
      // sizing job (one extra action PER touched pack — exactly the
      // per-pack scheduling floor the concurrent rebuilds exist to
      // cut) never runs here
      lazy val packIdVol = spark.read.parquet(s"$outDir/sequences")
        .groupBy(col("pack").cast("long").as("pack"))
        .agg(coalesce(sum(col("n_ids").cast("long")), lit(0L))
          .as("ids"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val perPack = packedDocs
        .join(corpusDf.select(col("doc_id"))
          .withColumn("present", lit(1)), Seq("doc_id"), "left")
        .groupBy(col("pack"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
          count(lit(1)).as("n_packed"),
          count(when(col("present").isNull, 1)).as("n_gone"))
        .collect()
      // reverse-direction hole check: a corpus doc below the watermark
      // missing from every pack is damage repair cannot reconstruct
      // pack-locally (a hand-deleted pack, foreign partial state) —
      // proceeding would restamp the shrunken tree as healthy,
      // legitimizing the loss. With eos ON every doc packs at least
      // its separator, so the check is ids-only; with eos OFF
      // tokenless docs legitimately pack nothing, so the check
      // filters to docs with a nonempty token stream (one extra
      // tokenize pass over the below-watermark text — the price of
      // not skipping the check entirely, which would let the same
      // data loss pass silently under the eos=false knob)
      val packable =
        if (eosId.isDefined)
          corpusDf.select(col("doc_id")).where(col("doc_id") <= prevMax)
        else corpusDf.where(col("doc_id") <= prevMax && tokenBearing)
          .select(col("doc_id"))
      val holes = packable
        .join(packedDocs.select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .limit(1).collect()
      require(holes.isEmpty,
        s"$outDir is missing corpus doc ${holes.head.getLong(0)} " +
          "(below the export watermark but packed nowhere) — a " +
          "partially deleted or foreign-file state, not retraction " +
          "damage; re-run the export (mode=overwrite)")
      // the batch_id prune is applied only after VALIDATING its
      // sufficiency condition on THIS corpus: prune correctness needs
      // doc_id <= batch_id row-wise (then any doc with doc_id >= lo
      // carries batch_id >= lo) — exactly the refreshCorpus layout's
      // batch_id = its-batch's-max-doc-id invariant. A corpus whose
      // batch_id means something else (an ingest ordinal, a job id)
      // is legal overwrite-export input, and pruning on column NAME
      // alone would silently drop a touched pack's surviving docs —
      // the empty branch below would then DELETE the pack and the
      // restamp would legitimize the loss. One ids-only pass (the
      // detection's cost class), evaluated only when a pack actually
      // needs rewriting.
      lazy val pruneByBatch = corpusDf.columns.contains("batch_id") &&
        corpusDf.where(col("doc_id") > col("batch_id")).isEmpty
      // ---- step 3: re-materialize ONLY the touched packs, each from
      // its own id range of the post-retraction corpus
      def rebuildPack(r: org.apache.spark.sql.Row): Unit = {
        val base = r.getAs[Long]("pack")
        val (lo, hi) = (r.getAs[Long]("lo"), r.getAs[Long]("hi"))
        // under the VALIDATED invariant (pruneByBatch), every batch
        // holding a doc in [lo, hi] has batch_id >= lo: the
        // partition filter prunes all pre-pack history from the
        // rebuild's scan instead of leaving only row-group stats
        // to skip it. Flat or foreign-batch_id corpora repair fine
        // without the prune.
        val ranged = corpusDf.where(col("doc_id").between(lo, hi))
        val remaining = (if (pruneByBatch)
            ranged.where(col("batch_id") >= lo)
          else ranged)
          .select(col("doc_id"), col("text"))
        val packDir = s"$outDir/sequences/pack=$base"
        if (noTokens(remaining))
          require(fs.delete(new Path(packDir), true),
            s"repairTrainingShards: deleting emptied pack " +
              s"pack=$base failed — a partial delete would leave " +
              "retracted ids in the artifact past the restamp")
        else
          stagedWrite(spark,
            graft.operators.Sharding
              .materializeSequences(remaining, model, seqLen,
                numParts = graft.operators.Sharding.epochPartitions(
                  packIdVol.getOrElse(base, 0L)),
                eosId = eosId)
              .withColumn("seq_id", col("seq_id") + lit(base))
              .withColumn("shard",
                pmod(col("seq_id"), lit(numShards.toLong))
                  .cast("int")),
            packDir, partitionCols = Seq("shard"))
      }
      // pack rebuilds are INDEPENDENT (disjoint id ranges, each ending
      // in its own per-pack staged swap — stagedWrite stages under
      // `_stage_pack~<base>`, distinct per pack), so they submit
      // concurrently on a bounded pool: a driver-serial loop priced a
      // fixed ~5-job scheduling floor PER pack (BENCH_SF1), so a
      // retraction touching hundreds of packs paid hundreds of serial
      // floors while the executors idled. Concurrency changes only
      // WALL time: the crash contract is per-pack and unchanged — a
      // crashed rebuild leaves that pack's documented staged states,
      // step 1 heals them on re-run. Every in-flight pack settles
      // before the first failure propagates (the restamp below must
      // never run over writes still landing — and the lease must not
      // release under them either).
      val touched = perPack.filter(_.getAs[Long]("n_gone") > 0)
        .sortBy(_.getAs[Long]("pack"))
      if (touched.length <= 1 || maxConcurrentRebuilds <= 1)
        touched.foreach(rebuildPack)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(maxConcurrentRebuilds, touched.length))
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          touched.map(r => scala.concurrent.Future(rebuildPack(r)))
            .map(f => scala.util.Try(scala.concurrent.Await
              .result(f, scala.concurrent.duration.Duration.Inf)))
            .foreach(_.get) // first failure rethrows, in pack order
        } finally pool.shutdown()
      }
      // ---- step 4: restamp from the ACTUAL tree (small columns only)
      val agg = spark.read.parquet(s"$outDir/sequences")
        .agg(count(lit(1)), coalesce(sum(col("n_ids")), lit(0L)))
        .head()
      // the generation bumps UNCONDITIONALLY at the repair restamp:
      // this branch only runs when an unreflected retraction era (or
      // count drift) is being settled, and a CRASHED predecessor's
      // landed rebuilds are indistinguishable from a retraction that
      // touched no packed doc (a rebuild can conserve the sequence
      // count, and the crashed run's asides may all be healed away) —
      // a touched-only bump would wave pre-crash cursors through
      // against re-cut seq_ids. The safe direction costs one
      // spurious epoch restart when a retraction touches no packed
      // doc; the settled-ledger cron re-run still short-circuits
      // above and never churns.
      val report = Seq((seqLen, numShards, agg.getLong(0),
          agg.getLong(1), model.merges.size.toLong,
          model.alphabet.size.toLong, modelDig, eosId, prevMax, rtNow,
          nextSeq0, layoutGenOf(p) + 1L))
        .toDF("seq_len", "num_shards", "n_sequences", "n_ids_total",
          "n_merges", "n_alphabet", "model_digest", "eos_id",
          "max_doc_id", "retraction_total", "next_seq_id",
          "layout_gen")
      stagedWrite(spark, report, s"$outDir/params")
      report
      }
    }
  }

  /** FULL per-document audit of a [[writeTrainingShards]] export
    * against its source corpus — the composed "does this artifact
    * still decode to my corpus?" check an operator runs after a
    * retraction repair or on any suspicious shard set (`CorpusMain
    * audit-shards ... <corpusDir>` is the cron line): strict +
    * model-checked read, then every document's id stream reassembled
    * from the artifact's spans ([[graft.operators.Sharding
    * .reconstructDocs]] — across pack boundaries and mid-doc cuts),
    * decoded ([[graft.operators.Bpe.decodeIds]]/[[graft.operators.Bpe
    * .decodeWords]]), and diffed against the corpus text's
    * ENCODE-THEN-DECODE image under the SAME model (encode →
    * [[graft.operators.Bpe.decodeIds]] → [[graft.operators.Bpe
    * .decodeWords]]) under a full outer join — a doc packed but
    * retracted, retracted but packed, or decoding to different words
    * all land in `n_mismatched`, and the decode-damage sums
    * ([[graft.operators.Bpe.decodeAudit]] over the reconstructed
    * streams) ride next to it. The model's image, NOT the raw
    * [[graft.operators.Bpe.bpeTokens]] normalization, is the
    * comparison side on purpose: under a capped-alphabet model
    * (the [[graft.operators.Bpe.trainBpeModel]] default) an OOV code
    * point decodes to `<unk>` and can never equal its source token,
    * so a raw-text diff would report a perfectly healthy export as
    * damaged — a false verdict whose "recovery" is a needless
    * corpus-scale re-export. Both sides pass through the same decode
    * conventions, so OOV and the word-merge edge cancel exactly;
    * what raw-text fidelity the model itself cannot promise is
    * DISCLOSED, not hidden — `n_unk` counts every OOV occurrence
    * (damage INSIDE an OOV position is invisible to any reader of
    * the artifact, the audit included: the information is destroyed
    * at encode time). Returns ONE row:
    * `(n_docs, n_mismatched, mismatched_doc_ids[≤10], n_bad, n_unk,
    * n_word_merge_risk, n_unterminated)` — healthy means 0 everywhere
    * but n_docs and (under a capped model) n_unk.
    *
    * Cost: artifact-scale by necessity (the reconstruction reads every
    * pack's ids once, ONE groupBy(doc_id) shuffle) plus one corpus
    * text pass — the audit sibling of a full re-export's scan, run on
    * demand, never on cadence. Corpus docs above the export watermark
    * are out of scope (not yet exported — a lag, not damage); with
    * eos off, tokenless docs legitimately pack nothing and are
    * filtered from the corpus side (the repair's reverse-check rule).
    */
  def auditTrainingShards(spark: SparkSession, outDir: String,
      modelDir: String, corpusDir: String): DataFrame =
    auditTrainingShardsWith(spark, outDir, modelDir, corpusDir,
      modelOpt = None)

  /** [[auditTrainingShards]] with the model already read — the
    * [[writeTrainingShardsWith]] seam at the audit. */
  private[graft] def auditTrainingShardsWith(spark: SparkSession,
      outDir: String, modelDir: String, corpusDir: String,
      modelOpt: Option[graft.operators.Bpe.BpeModel]): DataFrame = {
    import graft.operators.{Bpe, Sharding}
    val model = modelOpt.getOrElse(Bpe.readFullModel(spark, modelDir))
    val (seqs, p) = readTrainingShardsWith(spark, outDir, strict = true,
      model = Some(modelDir -> model))
    val eosId = Option(p.getAs[Integer]("eos_id")).map(_.intValue)
    val prevMax = p.getAs[Long]("max_doc_id")
    val dec = Sharding.reconstructDocs(seqs, eosId)
      .withColumn("subs", Bpe.decodeIds(col("ids"), model))
      .select(col("doc_id"),
        array_join(Bpe.decodeWords(col("subs")), " ").as("decoded"),
        Bpe.decodeAudit(col("subs")).as("a"))
    val corpus0 = spark.read.parquet(s"$corpusDir/corpus")
      .where(col("doc_id") <= prevMax)
    // the corpus side is the model's OWN image of the text (encode →
    // decode, map-only): a capped model's OOV decodes to <unk> on
    // BOTH sides and a healthy export diffs clean — see the scaladoc
    val want = Bpe.encodeIds(
        (if (eosId.isDefined) corpus0 else corpus0.where(tokenBearing))
          .select(col("doc_id"), col("text")), model)
      .select(col("doc_id"),
        array_join(Bpe.decodeWords(Bpe.decodeIds(col("ids"), model)),
          " ").as("want"))
    // the verdict columns only — the big decoded/want strings are
    // dropped BEFORE the frame is persisted for its two consumers
    // (the totals aggregate and the bounded id sample): a mass-drift
    // artifact (wrong corpusDir, a re-normalized corpus) mismatches
    // on nearly every doc, and an unbounded collect_list of the ids
    // would OOM exactly when the audit matters most — the sample is
    // a TakeOrdered limit instead, bounded at any damage volume
    val slim = dec.join(want, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (col("decoded").isNull || col("want").isNull ||
          col("decoded") =!= col("want")).as("mismatch"),
        col("a"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the totals aggregate and the bounded sample are independent
      // reads of the persisted verdict frame — overlapped (Par)
      var agg: org.apache.spark.sql.Row = null
      var sample: Seq[Long] = Seq.empty
      graft.operators.Par.run(2)(Seq(
        () => agg = slim.agg(
          count(lit(1)),
          count(when(col("mismatch"), 1)),
          coalesce(sum(col("a.n_bad")), lit(0L)),
          coalesce(sum(col("a.n_unk")), lit(0L)),
          coalesce(sum(col("a.n_word_merge_risk")), lit(0L)),
          coalesce(sum(col("a.n_unterminated")), lit(0L))).head(),
        () => sample = slim.where(col("mismatch"))
          .orderBy(col("doc_id").asc).limit(10)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSeq))
      import spark.implicits._
      Seq((agg.getLong(0), agg.getLong(1), sample, agg.getLong(2),
          agg.getLong(3), agg.getLong(4), agg.getLong(5)))
        .toDF("n_docs", "n_mismatched", "mismatched_doc_ids", "n_bad",
          "n_unk", "n_word_merge_risk", "n_unterminated")
    } finally slim.unpersist()
  }

  /** The token-bearing-document predicate (on a `text` column) shared
    * by the export's emptiness gate, the repair's noTokens/reverse
    * hole checks, and the full audit's corpus side — ONE definition,
    * because it DECIDES what counts as a hole vs legitimate emptiness
    * under eos=false: a normalization tweak updating one copy would
    * silently desynchronize the export watermark semantics from the
    * repair's refusals and the audit's diff. */
  private def tokenBearing: Column =
    size(graft.operators.Bpe.bpeTokens(col("text"))) > 0

  /** The pack-layout (append-era) params gate shared by the export's
    * APPEND, the READ, and the REPAIR — a pre-append-era export lacks
    * the watermark/eos/ledger columns, and a bare read would surface
    * raw missing-column / mixed-depth-partition errors instead of
    * the upgrade recovery. ONE definition so the column list can
    * never drift between the three consumers. */
  /** Refuse a crashed [[compactTrainingShards]]' in-flight marker —
    * shared by the strict read, the stats survey, and the repair, so
    * none of them can misread the marker's duplicate-docs window as
    * their own crash states (whose recoveries would not converge
    * it). ONE definition: the marker name and the recovery message
    * must never drift between the consumers. */
  private def requireNoCompactMarker(spark: SparkSession,
      outDir: String, action: String): Unit = {
    import org.apache.hadoop.fs.Path
    val seqRoot = new Path(s"$outDir/sequences")
    val fs = seqRoot
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(seqRoot)) {
      val markers = fs.listStatus(seqRoot).map(_.getPath.getName)
        .filter(_.startsWith("_compact~"))
      // "in-flight OR crashed": readers take no lease, so a marker
      // standing here is most often a perfectly healthy compaction
      // mid-merge — the refusal must not diagnose a crash that never
      // happened (the r17 advice)
      require(markers.isEmpty,
        s"$outDir/sequences holds a compaction marker " +
          s"(${markers.sorted.mkString(", ")} — an in-flight or " +
          "crashed compactTrainingShards; merged docs may sit " +
          "duplicated next to their old packs) — wait for it to " +
          "finish or re-run it (a re-run finishes or abandons the " +
          s"merge and restamps), then $action")
    }
  }

  /** The export's seq-id-space generation from its params row — 0 for
    * exports written before the column existed (they have never been
    * repaired or compacted under the stamped discipline, so every
    * cursor ever minted against them is generation-0). ONE definition
    * for every reader and restamp: the bump rule (rewrites bump,
    * appends carry) only means anything if all consumers read the
    * same coalesce. */
  private[graft] def layoutGenOf(p: org.apache.spark.sql.Row): Long =
    if (p.schema.fieldNames.contains("layout_gen"))
      p.getAs[Long]("layout_gen")
    else 0L

  /** The standing export's [[layoutGenOf seq-id-space generation]] —
    * what an epoch consumer stores BESIDE its resume cursor (one
    * params read, metadata-priced). Mint it when the epoch starts;
    * hand it back to [[epochResumeShards]] with the cursor. */
  def exportLayoutGen(spark: SparkSession, outDir: String): Long =
    layoutGenOf(spark.read.parquet(s"$outDir/params").head())

  /** RESUME an epoch against a standing export, GATED on the seq-id-
    * space generation the cursor was minted under: repair and
    * compaction REWRITE seq_ids (touched packs re-cut, merged runs
    * re-based), so a pre-rewrite `(epoch_key, seq_id)` cursor points
    * at different data afterwards — an ungated resume would silently
    * skip and repeat training sequences, the exact corruption a
    * resume exists to prevent. A generation mismatch refuses with the
    * one honest recovery (restart the epoch: the order IS a new
    * permutation); a match returns [[graft.operators.Sharding
    * .epochResume]]'s strict remainder over the strict-read artifact.
    * Appends never bump the generation — standing ids never move, so
    * a pre-append cursor stays valid; by default the appended
    * sequences join the epoch in key order after the cursor
    * (follow-the-corpus semantics: new data trains this epoch), and
    * `snapshotNextSeqId` — the `next_seq_id` the loader read when the
    * epoch STARTED — bounds the remainder to exactly the sequences
    * the epoch originally planned (pure snapshot semantics: data
    * appended mid-epoch waits for the next one). The two are the only
    * coherent mid-epoch-append policies; the parameter makes the
    * choice explicit instead of implicit. */
  def epochResumeShards(spark: SparkSession, outDir: String,
      epoch: Int, lastKey: Long, lastId: Long, cursorGen: Long,
      salt: String = "ep",
      snapshotNextSeqId: Option[Long] = None): DataFrame = {
    val (seqs, p) = readTrainingShards(spark, outDir, strict = true)
    val nowGen = layoutGenOf(p)
    require(nowGen == cursorGen,
      s"$outDir seq-id space is generation $nowGen but the cursor " +
        s"was minted under generation $cursorGen — the export was " +
        "repaired or compacted since (seq_ids were rewritten; the " +
        "epoch order is a NEW permutation and the cursor points at " +
        "different data) — restart the epoch from its beginning " +
        "(epoch-stream) instead of resuming")
    // cursor INTERNAL consistency: the key is fully derivable from
    // (salt, epoch, lastId) — one single-row pass through the SAME
    // epochOrder expression the remainder uses (never a second
    // hand-rolled hash that could drift) — so a transposed or
    // corrupted checkpoint pair refuses loudly instead of filtering
    // against a key that matches no real position (nearly-all or
    // nearly-no sequences back: silent skip/repeat)
    import spark.implicits._
    val expectKey = graft.operators.Sharding.epochOrder(
        Seq(lastId).toDF("seq_id"), epoch, salt)
      .head().getAs[Long]("epoch_key")
    require(expectKey == lastKey,
      s"inconsistent resume cursor: epoch_key $lastKey does not " +
        s"belong to seq_id $lastId under epoch $epoch / salt " +
        s"'$salt' (that id's key is $expectKey) — the checkpoint " +
        "pair is corrupted or transposed; re-read the loader " +
        "checkpoint (resuming on it would silently skip or repeat " +
        "training sequences)")
    // the snapshot bound must come from THIS export's id space: the
    // next_seq_id read at epoch start can never exceed the standing
    // high-water mark (appends only raise it, rewrites carry it)
    val idCeiling =
      if (p.schema.fieldNames.contains("next_seq_id"))
        p.getAs[Long]("next_seq_id")
      else p.getAs[Long]("n_sequences")
    snapshotNextSeqId.foreach { n =>
      require(n > 0 && n <= idCeiling,
        s"snapshot bound $n is outside the export's id space (the " +
          s"standing next_seq_id is $idCeiling) — pass the " +
          "next_seq_id read when the epoch STARTED")
      // the cursor was minted INSIDE the snapshot-bounded epoch, so
      // its id must lie under the bound — a cursor at/past it is the
      // same corrupted/transposed-checkpoint state the key check
      // refuses above, and silently filtering its id out of the
      // bounded set would resume from a position that never existed
      require(lastId < n,
        s"inconsistent resume cursor: lastId $lastId cannot have " +
          s"been minted inside a snapshot-bounded epoch over ids " +
          s"[0, $n) — the checkpoint pair is corrupted or transposed " +
          "(or the snapshot bound belongs to a different epoch); " +
          "re-read the loader checkpoint (resuming on it would " +
          "silently skip or repeat training sequences)")
    }
    val bounded = snapshotNextSeqId.fold(seqs)(n =>
      seqs.where(col("seq_id") < lit(n)))
    graft.operators.Sharding.epochResume(bounded, epoch, lastKey,
      lastId, salt)
  }

  private def requireAppendEraParams(pdf: DataFrame, outDir: String,
      note: String = ""): Unit =
    require(Seq("eos_id", "max_doc_id", "retraction_total")
        .forall(pdf.schema.fieldNames.contains),
      s"$outDir is a pre-append-era export (params/ has no " +
        "watermark/eos/ledger metadata) — re-export (mode=overwrite) " +
        s"once to upgrade it$note")

  /** The id-space provenance gate shared by the export's APPEND, the
    * model-checked READ, and the REPAIR — ONE definition, so a future
    * model-format field entering the digest can never update one copy
    * of the check and silently miss the others (the exact drift this
    * gate exists to refuse in the artifacts). Counts first (the
    * friendly diagnostic), CONTENT second (the decisive one: a season
    * retrain with default knobs realistically reproduces both
    * counts). `consequence` names what the caller would corrupt and
    * its recovery. */
  private def requireModelProvenance(pdf: DataFrame,
      p: org.apache.spark.sql.Row,
      model: graft.operators.Bpe.BpeModel, modelDig: String,
      outDir: String, consequence: String): Unit = {
    require(p.getAs[Long]("n_merges") == model.merges.size.toLong &&
        p.getAs[Long]("n_alphabet") == model.alphabet.size.toLong,
      s"$outDir was encoded under a different model " +
        s"(${p.getAs[Long]("n_merges")} merges / " +
        s"${p.getAs[Long]("n_alphabet")} alphabet vs the current " +
        s"${model.merges.size} / ${model.alphabet.size}) — " +
        consequence)
    require(pdf.schema.fieldNames.contains("model_digest"),
      s"$outDir is a pre-digest-era export (params/ records only " +
        "model COUNTS, which a retrain can reproduce) — re-export " +
        "(mode=overwrite) once to stamp the model's content digest")
    require(p.getAs[String]("model_digest") == modelDig,
      s"$outDir was encoded under a DIFFERENT model with the same " +
        "counts (content digest " +
        s"${p.getAs[String]("model_digest")} vs the current " +
        s"$modelDig — a retrain since the export) — $consequence")
  }

  /** [[repairTrainingShards]]' damage-detection probe, factored so
    * the plan is mechanically checkable: every pack's spans doc_ids
    * as (pack, doc_id) rows. The scale claim is in the READ SCHEMA —
    * the token-id arrays (the artifact's actual bulk) are never
    * deserialized; PlanSpec pins that the parquet scan reads spans
    * and not ids. */
  private[graft] def packedSpanDocs(spark: SparkSession,
      outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/sequences")
      .select(col("pack").cast("long").as("pack"),
        explode(expr("transform(spans, x -> x.doc_id)")).as("doc_id"))

  /** Distill the published corpus' LM quality signal into a PERSISTED
    * classifier model — the season-cadence model build the `quality`
    * refresh modality consumes, and CCNet's actual construction
    * (arXiv:1911.00359: the classifier learns to tell the LM head from
    * the tail): [[graft.operators.TextAnalysis.lmScore]] over the
    * corpus → tercile split → head tercile = good seeds, tail = bad →
    * [[graft.operators.QualityClassifier.train]] →
    * [[graft.operators.QualityClassifier.writeModel]] under
    * `modelDir`.
    *
    * Cost: ONE LM-scoring pass over the published corpus (corpus-scale
    * — schedule at maintenance cadence like [[sweepContainment]], not
    * weekly), then a SAMPLE-sized LR fit: each class is capped at
    * `maxSeedsPerClass` docs in SALTED-HASH order (the
    * [[graft.operators.Sharding.stratifiedSample]] tick over doc_id,
    * doc_id as the total tie-break — a bounded TakeOrdered,
    * deterministic across runs) so the MLlib fit never scales with
    * the corpus. Salted order, not lowest-id: on a corpus published
    * in batch-id order "lowest ids" = "oldest documents", and the
    * whole point of the season retrain is DRIFT — an id-ordered cap
    * would train every season's classifier on the corpus' oldest
    * head/tail exemplars forever, never seeing newer batches; the
    * salted tick samples every era uniformly at the same determinism.
    * Takes the model dir's lease while
    * writing (single-writer discipline); a weekly refresh reading the
    * model is a READER and is never blocked.
    *
    * Returns (n_weights, bias) for the cron line's report.
    */
  def trainQualityModel(spark: SparkSession, corpusDir: String,
      modelDir: String, topV: Int = 4096,
      maxSeedsPerClass: Int = 100000): (Long, Double) = {
    import graft.operators.{QualityClassifier, Sharding, TextAnalysis}
    val corpus = spark.read.parquet(s"$corpusDir/corpus")
      .select(col("doc_id"), col("text"))
    val buckets = Sharding.scoreBuckets(TextAnalysis.lmScore(corpus))
    val seeds = corpus
      .join(buckets.select(col("doc_id"), col("bucket")), Seq("doc_id"))
    def tercile(b: Int) = seeds.where(col("bucket") === b)
      .orderBy(
        pmod(Sharding.mixedHash(col("doc_id"), "qseed"), lit(10000L))
          .asc,
        col("doc_id").asc)
      .limit(maxSeedsPerClass)
    val (w, bias) = QualityClassifier.train(spark,
      tercile(0), tercile(2), topV)
    graft.operators.Lease.withLeases(spark, Seq(modelDir),
      "trainQualityModel") {
      QualityClassifier.writeModel(spark, w, bias, modelDir)
    }
    (w.count(), bias)
  }

  /** Season-scale index maintenance: [[Dedup.compactIndex]] over every
    * family present under `indexRoot` — one sorted, re-distincted file
    * per bucket/cell partition after a season of [[refreshCorpus]]
    * appends and [[retractCorpus]] rewrites; probe answers are
    * bit-identical before and after (IndexMaintenanceSpec's contract,
    * per family). Same single-writer discipline as every maintenance
    * pass. Deliberately layout-only: re-deriving the IVF family's
    * GEOMETRY when the corpus has outgrown it takes an operator
    * decision (the new nlist) — that is
    * [[graft.operators.Similarity.rebuildIvfIndex]] / the
    * `CorpusMain rebuild-ivf` line, not part of the blind sweep.
    */
  def maintainIndexes(spark: SparkSession, indexRoot: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(indexRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("minhash", "hamming", "chunk", "ivf", "benchmark",
        "containment", "bm25").foreach { f =>
      if (fs.exists(new Path(s"$indexRoot/$f/params")))
        // one lease per family, held only for that family's
        // compaction — a refresh starting mid-maintenance conflicts
        // exactly on the families still being compacted
        graft.operators.Lease.withLeases(spark, Seq(s"$indexRoot/$f"),
          "maintainIndexes") {
          Dedup.compactIndex(spark, s"$indexRoot/$f")
        }
    }
  }
}
