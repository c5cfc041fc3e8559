package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench is the driver's only perf signal: a throwing query must
  * surface as a failure, never as a (fast) timing.
  */
class BenchSpec extends SparkSuite {

  private val ok: (SparkSession, String) => DataFrame =
    (s, _) => s.range(10).toDF("id")
  private val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new RuntimeException("deliberately broken")
  // fails only inside the action, not at plan time — the realistic shape.
  // A filter (not a projection: count() prunes those away) that divides
  // by zero under ANSI mode throws during execution.
  private val lazyBoom: (SparkSession, String) => DataFrame = (s, _) => {
    import org.apache.spark.sql.functions._
    s.range(10).toDF("id").filter(expr("10 div (id - 5) >= -100"))
  }

  test("a throwing query records a -1 sentinel, not its wall time") {
    val (results, errors) = Bench.runQueries(
      spark, sf(), Seq("good" -> ok, "bad" -> boom), passes = 2)
    assert(errors === Set("bad"))
    val byName = results.toMap
    assert(byName("bad") === -1.0)
    assert(byName("good") > 0.0)
  }

  test("an action-time failure is caught too") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val (results, errors) = Bench.runQueries(
        spark, sf(), Seq("lazybad" -> lazyBoom), passes = 1)
      assert(errors === Set("lazybad"))
      assert(results.toMap.apply("lazybad") === -1.0)
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("errors poison headline_total and appear in the JSON line") {
    val json = Bench.renderJson(
      Seq("good" -> 0.42, "bad" -> -1.0), Set("bad"), "sf0.1")
    assert(json.contains(""""value":-1.000"""))
    assert(json.contains(""""errors":["bad"]"""))
    assert(json.contains(""""bad":-1"""))
  }

  test("clean runs keep the exact legacy JSON shape (no errors key)") {
    val json = Bench.renderJson(
      Seq(Bench.Headline.head -> 0.50, "qxx_other" -> 0.25),
      Set.empty, "sf0.1")
    assert(!json.contains("errors"))
    assert(!json.contains("dropped"))
    assert(json.contains(""""value":0.500"""))
    assert(json.startsWith("""{"metric":"headline_total""""))
  }

  test("the stdout line never exceeds the tail-capture budget; " +
      "headline and error entries always survive the trim") {
    // 300 synthetic queries would render ~7 KB untrimmed
    val many = (1 to 300).map(i => f"q${i}%03d_synthetic_name" -> i * 0.01)
    val results = Bench.Headline.map(_ -> 0.5) ++ many ++
      Seq("qzz_broken" -> -1.0)
    val json = Bench.renderJson(results, Set("qzz_broken"), "sf0.1")
    assert(json.length <= Bench.LineBudget, s"len ${json.length}")
    assert(json.contains(""""dropped":"""))
    Bench.Headline.foreach(h => assert(json.contains("\"" + h + "\":")))
    assert(json.contains(""""qzz_broken":-1"""))
    assert(json.contains(""""errors":["qzz_broken"]"""))
    assert(json.endsWith(""","sf":"sf0.1"}"""))
    // the full render (no budget) keeps everything and stays parseable
    val full = Bench.renderJson(results, Set("qzz_broken"), "sf0.1",
      Int.MaxValue)
    assert(!full.contains("dropped"))
    many.foreach { case (k, _) => assert(full.contains("\"" + k + "\":")) }
  }

  test("a mass-failure round still fits the budget: erred map entries " +
      "then the errors array itself give way, with counts") {
    // every query broken: nothing unprotected to drop — the old loop
    // returned an over-budget line and the tail capture cut "value" off
    // exactly when everything was broken
    val names = (1 to 120).map(i => f"q${i}%03d_some_longish_name")
    val results = names.map(_ -> -1.0)
    val json = Bench.renderJson(results, names.toSet, "sf0.1")
    assert(json.length <= Bench.LineBudget, s"len ${json.length}")
    assert(json.startsWith("""{"metric":"headline_total","value":-1.000"""))
    assert(json.contains(""""errors_omitted":"""))
    assert(json.endsWith(""","sf":"sf0.1"}"""))
  }

  test("the real query inventory stays within budget, trimming at most " +
      "a few cheap entries") {
    // every current query at a realistic 4-char time — the full
    // inventory sits AT the physical ceiling, so a handful of cheap
    // entries may trim (disclosed + preserved in the full-detail file
    // target/bench_full_<sf>_c<cpus>.json), but wholesale trimming
    // means names outgrew the capture window
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 0.55)
    val json = Bench.renderJson(results, Set.empty, "sf0.1")
    assert(json.length <= Bench.LineBudget, s"len ${json.length}")
    val dropped = """"dropped":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt).getOrElse(0)
    // anchored on what SURVIVES, not on what trims: the 1880-byte
    // ceiling physically fits ~70 entries at current name lengths, so
    // past that every added query trims one cheap entry BY DESIGN
    // (disclosed via dropped:N, full detail preserved in
    // target/bench_full_<sf>_c<cpus>.json) — a dropped-count cap would
    // fail on steady inventory growth alone. The failure mode this
    // canary exists for is WHOLESALE trimming — a name-length regression
    // blowing half the line away — which shows as the SURVIVOR count
    // collapsing below the physical fit (r9: 95 entries → 71 kept;
    // r13: 108 entries → 71 kept).
    assert(results.size - dropped >= 65,
      s"only ${results.size - dropped} of ${results.size} entries " +
        "survived the trim — query names have outgrown the driver " +
        "capture window")
    Bench.Headline.foreach(h => assert(json.contains("\"" + h + "\":")))
  }

  test("once-per-run samples: the line carries the min-of-N marker; " +
      "the sample arrays render while they fit and are the first " +
      "thing dropped under budget") {
    val samples = Map(
      "q100_corpus_refresh" -> List(14.2, 13.1),
      "q135_stream_bm25" -> List(16.2, 4.4))
    val results = Seq(Bench.Headline.head -> 0.50,
      "q100_corpus_refresh" -> 13.1, "q135_stream_bm25" -> 4.4)
    val json = Bench.renderJson(results, Set.empty, "sf0.1",
      Bench.LineBudget, None, samples)
    assert(json.contains(""""once_min_of":2"""), json)
    assert(json.contains(""""q135_stream_bm25":[16.2,4.4]"""), json)
    // under a budget that can't fit the samples, the marker survives
    // and the sample arrays give way BEFORE any query entry
    val tight = Bench.renderJson(results, Set.empty, "sf0.1",
      230, None, samples)
    assert(tight.length <= 230, s"len ${tight.length}")
    assert(tight.contains(""""once_min_of":2"""), tight)
    assert(!tight.contains("once_samples"), tight)
    assert(tight.contains(""""q100_corpus_refresh":13.1"""), tight)
    // no samples ⇒ no marker (the legacy shape)
    val plain = Bench.renderJson(results, Set.empty, "sf0.1")
    assert(!plain.contains("once_min_of"))
  }

  test("headline_min renders in the head when supplied, absent otherwise") {
    val results = Seq(Bench.Headline.head -> 0.50, "qxx_other" -> 0.25)
    val withMin = Bench.renderJson(results, Set.empty, "sf0.1",
      Bench.LineBudget, Some(0.437))
    assert(withMin.contains(""","headline_min":0.437,"queries":"""))
    val without = Bench.renderJson(results, Set.empty, "sf0.1")
    assert(!without.contains("headline_min"))
  }
}
