package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{GraftExtensions, Pipeline, RefDataMain}
import graft.model.Schemas
import graft.operators.{Dedup, DimRepair, RiskAggregation, StarSchema}
import graft.sources.{Sinks, Sources}

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: `perfbench.Harness --workload <daily_scan|corpus_week>
  * --in <inputDir> --work <workDir> --seconds <s>
  * --trace <0|1> --seed <n> --cpus <n> [--bootstrap 1]`
  *
  * `--bootstrap 1` only builds corpus_week's standing corpus (week0's
  * refresh) under `--work`, in a JVM of its own, so that every timed
  * run starts from the same standing corpus and a cold JVM.
  *
  * Untraced, it times set-up, the workload's user-facing job and a
  * closed-loop single-client read phase. Traced, it registers
  * [[Counters]] and, after the same job, calls each layer's public
  * functions one at a time, materializing between them, so each
  * layer's time and counts stand alone. Either way it leaves the
  * outputs the independent checks read under `--work`: the serving
  * tree, Derby table dumps, the corpus and index roots, every read's
  * answer (`reads.jsonl`) and `result.json`.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val workload = o("workload")
    val in = o("in")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val seed = o("seed").toLong
    val cpus = o("cpus").toInt
    val meta = mapper.readTree(new File(s"$in/meta.json"))
    val res = mutable.LinkedHashMap.empty[String, Any]
    if (o.get("bootstrap").contains("1")) {
      // build the standing corpus under --work: week0's refresh
      val spark = session(cpus)
      val (_, s) = timed(Pipeline.refreshCorpus(spark, s"$in/week0.parquet",
        s"$work/index", s"$work/corpus"))
      res("bootstrap_s") = s
      writeResult(work, res)
      spark.stop()
      return
    }

    // set-up: process start -> main, then the session built several
    // times, the last one kept; the reported set-up time uses the
    // median of the repetitions
    val startMs = ProcessHandle.current().info().startInstant().get()
      .toEpochMilli
    res("boot_s") = (System.currentTimeMillis() - startMs) / 1e3
    val reps = 3
    var spark: SparkSession = null
    val setupTimes = (1 to reps).map { i =>
      val (s, dt) = timed(session(cpus))
      if (i < reps) s.stop() else spark = s
      dt
    }
    res("setup_reps_s") = setupTimes

    val layers = mutable.LinkedHashMap.empty[String, Double]
    val reads = new PrintWriter(s"$work/reads.jsonl")
    try {
      if (workload == "corpus_week")
        corpusWeek(spark, in, work, seconds, traced, seed, meta, res, layers,
          reads)
      else
        etl(spark, in, work, seconds, traced, seed, meta, res, layers, reads)
    } finally reads.close()
    res("layers") = layers
    writeResult(work, res)
    spark.stop()
  }

  private def writeResult(work: String, res: mutable.Map[String, Any])
      : Unit = {
    val pw = new PrintWriter(s"$work/result.json")
    try pw.println(Json(res)) finally pw.close()
  }

  /** A session with `graft.Main`'s settings, but for one: shuffle
    * partitions equal to the local cores instead of Spark's default 200.
    * At 200 every ETL job runs ~3,600 tasks whatever its input size
    * (45-65 s on 4 cores for a 2,400-row feed), which no run of this
    * benchmark's length can hold; the README records that cost. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** A fixed CPU loop plus one fixed small Spark job: host drift. */
  def canary(spark: SparkSession, cpus: Int): Double = {
    val t = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    val n = spark.range(0L, 2000000L, 1L, cpus)
      .selectExpr("sum(id % 7)").head().getLong(0)
    require(x != 0L && n > 0L)
    (System.nanoTime() - t) / 1e6
  }

  /** The canary, printed at the start of every run's timed part. */
  def runCanary(spark: SparkSession, res: mutable.Map[String, Any]): Unit = {
    val ms = canary(spark, spark.sparkContext.defaultParallelism)
    res("canary_ms") = ms
    println(f"canary_ms=$ms%.3f")
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.trim.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally s.close()
    }
  }

  def dataFiles(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    } finally s.close()
  }

  private def strings(n: JsonNode): IndexedSeq[String] =
    n.elements().asScala.map(_.asText()).toIndexedSeq

  /** Closed loop, one client: `warm` rounds untimed, then whole rounds
    * until `seconds` have passed. Each read's answer is kept for the
    * checks; only failures are caught, and counted. */
  def readPhase(seconds: Double, warm: Int, round: Seq[() => Map[String, Any]],
      out: PrintWriter, res: mutable.Map[String, Any]): Int = {
    val lat = mutable.ArrayBuffer.empty[Double]
    var n = 0
    var failed = 0
    var r = 0
    var deadline = Long.MaxValue
    while (r < warm || System.nanoTime() < deadline) {
      if (r == warm) deadline = System.nanoTime() + (seconds * 1e9).toLong
      round.foreach { q =>
        val t = System.nanoTime()
        val rec = try q() catch {
          case e: Exception =>
            failed += 1
            Map("error" -> e.toString)
        }
        val ms = (System.nanoTime() - t) / 1e6
        if (r >= warm) lat += ms
        n += 1
        out.println(Json(rec ++ Map("ms" -> ms, "warm" -> (r < warm))))
      }
      r += 1
    }
    res("read_ms") = lat.toSeq
    res("reads_per_round") = round.size
    res("reads_attempted") = n
    res("reads_failed") = failed
    n
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  // ------------------------------------------------------------- ETL

  private val derbyDdl: Seq[String] = Seq(
    """ALTER TABLE dim_date ALTER COLUMN "date" NOT NULL""",
    """ALTER TABLE dim_date ADD PRIMARY KEY ("date")""") ++
    // Derby receives Spark strings as CLOB and cannot index them: every
    // index over the country column is left out
    Sinks.indexDdl(quote = c => "\"" + c + "\"")
      .filterNot(_.contains("\"country\""))

  private val servingTables: Seq[String] = Seq("dim_risk", "dim_country",
    "dim_asn", "dim_date", "fact_count") ++
    StarSchema.Granularities.map("agg_risk_country_" + _)

  def etl(spark: SparkSession, in: String, work: String, seconds: Double,
      traced: Boolean, seed: Long, meta: JsonNode,
      res: mutable.Map[String, Any], layers: mutable.Map[String, Double],
      reads: PrintWriter): Unit = {
    val refCfg = Map("risk_csv" -> s"$in/risk.csv",
      "country_csv" -> s"$in/country.csv", "asn_csv" -> s"$in/asn.csv")
    def dim(name: String, schema: org.apache.spark.sql.types.StructType) =
      RefDataMain.resolveDim(spark, refCfg, Map.empty, name, schema)
    val dimRisk = dim("risk", Schemas.dimRisk)
    val dimCountry = dim("country", Schemas.dimCountry)
    val dimAsn = dim("asn", Schemas.dimAsn)
    val feeds = new File(s"$in/feeds").listFiles().map(_.getPath).sorted
      .toSeq
    val threshold = meta.get("threshold").asLong()
    runCanary(spark, res)

    val counters = if (traced) Some(new Counters(spark)) else None
    val outDir = s"$work/serve"
    val url = "jdbc:derby:memory:serve;create=true"
    val before = counters.map(_.snapshot())
    val t0 = System.currentTimeMillis()
    val (_, jobS) = timed {
      val out = Pipeline.run(spark, feeds, dimRisk, dimCountry, dimAsn,
        outDir, threshold)
      Pipeline.serveJdbc(out, dimRisk, url, ddl = derbyDdl,
        preDdl = Sinks.dropServingTablesDdl(cascade = false))
      RefDataMain.refresh(spark, refCfg, url)
    }
    val t1 = System.currentTimeMillis()
    res("job_s") = jobS
    res("peak_rss_mb") = peakRssMb()
    res("written_mb") = dirBytes(outDir) / 1e6
    counters.foreach(c => pipelineLayer(c, before.get, t0, t1, layers))
    // Pipeline.run leaves the aggregate and the cube fact persisted;
    // the read phase should not run beside them
    spark.catalog.clearCache()

    // reads over the published parquet tree, shaped like the reference
    // API: a country's per-risk weekly totals, one cube cell, one ASN
    val rnd = new scala.util.Random(seed)
    val days = strings(meta.get("days")).map(LocalDate.parse)
    val countries = strings(meta.get("read_countries"))
    val asns = meta.get("read_asns").elements().asScala.map(_.asLong())
      .toIndexedSeq
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
    val fact = s"$outDir/fact_count"
    val weekly = () => {
      val d0 = days(rnd.nextInt(math.max(1, days.size - 6)))
      val c = pick(countries)
      Map("kind" -> "weekly", "from" -> d0.toString,
        "to" -> d0.plusDays(6).toString, "country" -> c,
        "rows" -> rowsOf(spark.read.parquet(fact)
          .where(col("date").between(lit(d0.toString).cast("date"),
            lit(d0.plusDays(6).toString).cast("date")) &&
            col("country") === c)
          .groupBy("risk")
          .agg(sum("count").as("count"),
            sum("count_amplified").as("count_amplified"))))
    }
    val cell = () => {
      val g = pick(StarSchema.Granularities.toIndexedSeq)
      val d = truncate(pick(days), g)
      val c = if (rnd.nextInt(4) == 0) "T" else pick(countries)
      Map("kind" -> "cell", "granularity" -> g, "date" -> d.toString,
        "country" -> c,
        "rows" -> rowsOf(spark.read.parquet(s"$outDir/agg_risk_country_$g")
          .where(col("date") === lit(d.toString).cast("date") &&
            col("country") === c)
          .select("risk", "count", "count_amplified")))
    }
    val asnRows = () => {
      val a = pick(asns)
      val f = spark.read.parquet(fact).where(col("asn") === a)
      val da = spark.read.parquet(s"$outDir/dim_asn")
      Map("kind" -> "asn", "asn" -> a,
        "rows" -> rowsOf(f.join(da, f("asn") === da("number"))
          .select(f("date").cast("string"), f("risk"), f("country"),
            f("count"), f("count_amplified"), da("title"),
            da("country"))))
    }
    val readBefore = counters.map(_.snapshot())
    val n = readPhase(seconds, 1, Seq(weekly, cell, asnRows), reads, res)
    counters.foreach(c => readLayer(c, readBefore.get, n, layers))

    if (traced) etlLayers(spark, counters.get, feeds, dimRisk, dimCountry,
      dimAsn, threshold, refCfg, s"$work/serve_traced", layers)
    dumpDerby(url, s"$work/derby")
  }

  def truncate(d: LocalDate, g: String): LocalDate = g match {
    case "week" => d.minusDays(d.getDayOfWeek.getValue - 1L)
    case "month" => d.withDayOfMonth(1)
    case "quarter" =>
      LocalDate.of(d.getYear, (d.getMonthValue - 1) / 3 * 3 + 1, 1)
    case "year" => LocalDate.of(d.getYear, 1, 1)
  }

  private def pipelineLayer(c: Counters, before: Totals, t0: Long,
      t1: Long, layers: mutable.Map[String, Double]): Unit = {
    val d = c.snapshot() - before
    layers("pipeline.jobs") = d.jobs.toDouble
    layers("pipeline.stages") = d.stages.toDouble
    layers("pipeline.tasks") = d.tasks.toDouble
    layers("pipeline.idle_between_jobs_s") = c.idleSeconds(t0, t1)
    layers("pipeline.executor_cpu_s") = d.cpuNs / 1e9
    layers("pipeline.gc_s") = d.gcMs / 1e3
  }

  private def readLayer(c: Counters, before: Totals, n: Int,
      layers: mutable.Map[String, Double]): Unit = {
    val d = c.snapshot() - before
    layers("read.files_per_query") = d.filesScanned.toDouble / n
    layers("read.mb_per_query") = d.bytesRead / 1e6 / n
  }

  /** The traced decomposition of `Pipeline.run` → `serveJdbc` →
    * `RefDataMain.refresh`: the same public calls in the same order,
    * each materialized on its own so its time and counters stand
    * alone. The extra materializations are the tracing overhead. */
  private def etlLayers(spark: SparkSession, c: Counters, feeds: Seq[String],
      dimRisk: DataFrame, dimCountry: DataFrame, dimAsn: DataFrame,
      threshold: Long, refCfg: Map[String, String], outDir: String,
      layers: mutable.Map[String, Double]): Unit = {
    val mem = StorageLevel.MEMORY_AND_DISK
    def layer[T](name: String)(f: => T): (T, Totals) = {
      val b = c.snapshot()
      val (r, s) = timed(f)
      layers(name) = s
      (r, c.snapshot() - b)
    }
    val raw = Sources.logentryCsv(spark, feeds).persist(mem)
    val (nRaw, scan) = layer("sources.scan_s")(raw.count())
    layers("sources.rows") = nRaw.toDouble
    layers("sources.mb_in") = feeds.map(f => new File(f).length()).sum / 1e6
    layers("sources.tasks") = scan.tasks.toDouble

    val agg = RiskAggregation.aggregate(raw, threshold).persist(mem)
    val (nAgg, aggT) = layer("agg.dedup_s")(agg.count())
    layers("agg.shuffle_mb") = aggT.shuffleWrite / 1e6
    layers("agg.spill_mb") = aggT.spill / 1e6
    val tuples = RiskAggregation.dailyTuples(raw)
    layers("agg.distinct_rows") = tuples.count().toDouble
    val groups = tuples.groupBy("date", "asn", "risk", "country").count()
      .count()
    layers("agg.groups_kept_ratio") = nAgg.toDouble / math.max(1L, groups)
    val counts = RiskAggregation.amplify(agg, dimRisk).persist(mem)
    layer("agg.amplify_s")(counts.count())
    raw.unpersist()

    layer("sinks.unload_s")(Sinks.singleFileCsv(counts, s"$outDir/unload"))
    val fact = counts.withColumn("date", to_date(col("date")))
    val dimDate = StarSchema.dimDate(fact).persist(mem)
    layer("star.dim_date_s")(dimDate.count())
    val cubes = StarSchema.buildCubes(fact).map { case (g, df) =>
      g -> df.persist(mem) }
    val (_, cubeT) = layer("star.cubes_s")(cubes.values.foreach(_.count()))
    layers("star.shuffle_mb") = cubeT.shuffleWrite / 1e6

    val country = DimRepair.repairCountries(fact, dimCountry).persist(mem)
    val (nCountry, _) = layer("repair.country_s")(country.count())
    val asn = DimRepair.repairAsns(fact, dimAsn).persist(mem)
    val (nAsn, _) = layer("repair.asn_s")(asn.count())
    layers("repair.rows_added") =
      (nCountry - dimCountry.count() + nAsn - dimAsn.count()).toDouble

    layer("sinks.parquet_s") {
      Sinks.indexedParquet(fact, s"$outDir/fact_count",
        partitionCols = Seq("date"), sortCols = Seq("country", "risk"))
      cubes.foreach { case (g, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/agg_risk_country_$g")
      }
      dimDate.write.mode("overwrite").parquet(s"$outDir/dim_date")
      country.write.mode("overwrite").parquet(s"$outDir/dim_country")
      asn.write.mode("overwrite").parquet(s"$outDir/dim_asn")
    }
    layers("sinks.files_written") = dataFiles(outDir).toDouble

    val url = "jdbc:derby:memory:serve_traced;create=true"
    val tables = Seq("dim_risk" -> dimRisk, "dim_country" -> country,
      "dim_asn" -> asn, "dim_date" -> dimDate, "fact_count" -> fact) ++
      cubes.toSeq.map { case (g, df) => s"agg_risk_country_$g" -> df }
    val (_, jdbcS) = timed {
      Sinks.servingDdl(url, Sinks.dropServingTablesDdl(cascade = false),
        ignoreErrors = true)
      tables.foreach { case (t, df) =>
        Sinks.jdbc(df, url, t, mode = "overwrite") }
    }
    layers("sinks.jdbc_s") = jdbcS
    layers("sinks.jdbc_rows_per_s") = tables.map(_._2.count()).sum / jdbcS
    layer("sinks.ddl_s")(Sinks.servingDdl(url, derbyDdl))
    layer("refdata.refresh_s")(RefDataMain.refresh(spark, refCfg, url))
    spark.catalog.clearCache()
  }

  /** Every serving table on the Derby target, dumped with plain JDBC
    * (no Spark) as TSV with a header; NULL is `\N`, and backslash, tab
    * and newline inside a value are escaped with a backslash. */
  def dumpDerby(url: String, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val conn = java.sql.DriverManager.getConnection(url)
    try servingTables.foreach { t =>
      val rs = conn.createStatement().executeQuery(s"SELECT * FROM $t")
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(md.getColumnLabel)
      val pw = new PrintWriter(s"$dir/$t.tsv")
      try {
        pw.println(cols.map(_.toLowerCase).mkString("\t"))
        while (rs.next()) pw.println(cols.indices.map { i =>
          val v = rs.getString(i + 1)
          if (v == null) "\\N"
          else v.flatMap {
            case '\\' => "\\\\"
            case '\n' => "\\n"
            case '\t' => "\\t"
            case c => c.toString
          }
        }.mkString("\t"))
      } finally { pw.close(); rs.close() }
    } finally conn.close()
  }

  // ----------------------------------------------------- corpus_week

  def corpusWeek(spark: SparkSession, in: String, work: String,
      seconds: Double, traced: Boolean, seed: Long, meta: JsonNode,
      res: mutable.Map[String, Any], layers: mutable.Map[String, Double],
      reads: PrintWriter): Unit = {
    // the standing corpus (week0's refresh) is already under --work
    val idx = s"$work/index"
    val corpus = s"$work/corpus"
    runCanary(spark, res)

    val counters = if (traced) Some(new Counters(spark)) else None
    val bytes0 = dirBytes(idx) + dirBytes(corpus)
    val before = counters.map(_.snapshot())
    val t0 = System.currentTimeMillis()
    val (_, jobS) = timed(
      Pipeline.refreshCorpus(spark, s"$in/week1.parquet", idx, corpus))
    val t1 = System.currentTimeMillis()
    res("job_s") = jobS
    res("peak_rss_mb") = peakRssMb()
    res("written_mb") = (dirBytes(idx) + dirBytes(corpus) - bytes0) / 1e6
    counters.foreach { c =>
      pipelineLayer(c, before.get, t0, t1, layers)
      layers("dedup.index_files") = dataFiles(idx).toDouble
    }

    import spark.implicits._
    val lookups = new scala.util.Random(seed).shuffle(
      spark.read.parquet(s"$in/lookups.parquet").select("doc_id", "text")
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1))))
    var next = 0
    val lookup = () => {
      val (id, text) = lookups(next % lookups.size)
      next += 1
      Map("kind" -> "lookup", "qid" -> id,
        "rows" -> rowsOf(Dedup.nearDupAgainstIndex(spark,
          Seq((id, text)).toDF("doc_id", "text"), s"$idx/minhash")))
    }
    val readBefore = counters.map(_.snapshot())
    val n = readPhase(seconds, 1, Seq(lookup), reads, res)
    counters.foreach(c => readLayer(c, readBefore.get, n, layers))

    if (traced) {
      // the probes the weekly refresh runs, each on its own, against an
      // untouched copy of the standing index (after the timed job, so
      // the traced job_s starts from the same cold JVM as untraced)
      val probeIdx = s"$work/index_probe"
      val docs = spark.read.parquet(s"$in/week1.parquet")
        .select("doc_id", "text")
      def layer(name: String)(df: => DataFrame): Unit =
        layers(name) = timed(df.count())._2
      layer("dedup.within_batch_s")(Dedup.nearDupPairs(docs))
      layer("dedup.probe_minhash_s")(
        Dedup.nearDupAgainstIndex(spark, docs, s"$probeIdx/minhash"))
      layer("dedup.probe_hamming_s")(Dedup.hammingCandidatesAgainstIndex(
        spark, Dedup.simhash(docs), s"$probeIdx/hamming"))
      layer("dedup.probe_chunks_s")(
        Dedup.dedupChunksAgainstIndex(spark, docs, s"$probeIdx/chunk"))
    }
  }
}

/** Minimal JSON writer for the result and read records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case r: Row => apply(r.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
