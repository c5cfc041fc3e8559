package graft

import org.apache.spark.sql.SparkSession

import graft.config.Config
import graft.model.Schemas
import graft.sources.Sources

/** Production entry point — the analog of the reference's
  * `python main.py` (reference main.py:555-560): load the env-templated
  * config, read the reference dims, run the full pipeline.
  *
  * Usage: `runMain graft.Main [configPath]` with `GRAFT_FEED_PATHS`
  * (comma-separated) and `GRAFT_OUT_DIR` set.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val configPath =
      if (args.nonEmpty) args(0) else "/root/repo/fixtures/config.json"
    val (cfg, inv) = Config.loadAll(configPath)

    // spark-submit injects the master on a cluster; default to local
    // threads when launched directly. One shuffle partition per core, as
    // in CorpusMain: at Spark's default 200 every ETL run pays ~3,600
    // tasks (45-135 s on 4 cores) whatever the feed's size
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val master = sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]")
    val spark = SparkSession.builder()
      .appName("graft")
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)

    // dims resolve through explicit keys or the config's inventory of
    // datapackage descriptor URLs (see RefDataMain.resolveDim)
    val dimRisk = RefDataMain.resolveDim(spark, cfg, inv, "risk",
      Schemas.dimRisk)
    val dimCountry = RefDataMain.resolveDim(spark, cfg, inv, "country",
      Schemas.dimCountry)
    val dimAsn = RefDataMain.resolveDim(spark, cfg, inv, "asn",
      Schemas.dimAsn)

    // E1 step 2 (reference main.py:106-125): flatten the cleaned data's
    // datapackage into the clean.manifest artifact when a dest is
    // configured
    cfg.get("dest_path").foreach { dest =>
      Sources.writeBackManifest(spark, dest)
    }

    val out = Pipeline.run(spark,
      feedPaths = cfg("feed_paths").split(",").toSeq,
      dimRisk = dimRisk, dimCountry = dimCountry, dimAsn = dimAsn,
      outDir = cfg("out_dir"),
      threshold = cfg("country_count_threshold").toLong)

    // E2 serving hand-off when an RDS-style target is configured —
    // `rds_uri` is the reference's key (a postgres:// uri,
    // config.json:3); `rds_url` accepts an explicit jdbc: url
    cfg.get("rds_uri").orElse(cfg.get("rds_url")).foreach { raw =>
      val (url, user, password) = Config.jdbcFromUri(raw)
      Pipeline.serveJdbc(out, dimRisk, url,
        user = cfg.getOrElse("rds_user", user),
        password = cfg.getOrElse("rds_password", password))
    }

    println(s"counts=${out.counts.count()} " +
      s"dim_date=${out.dimDate.count()} " +
      out.cubes.map { case (g, df) => s"cube_$g=${df.count()}" }
        .mkString(" "))
    // every staged-dim consumer has materialized by now — drop the
    // staging artifacts (reference main.py:84: end-of-run tmpdir rmtree)
    Sources.cleanupStagedFetches(spark)
    spark.stop()
  }
}
