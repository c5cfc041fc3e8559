package graft

import org.apache.spark.sql.SparkSession

/** Dev-only per-job profiler for the optimization rounds (not part of
  * the driver contract; the [[PlanDump]] sibling): runs named
  * `SparkEntry.queries` entries under the SAME session configuration
  * as [[Bench]] and prints one line per Spark job — wall ms and the
  * first graft frame of the job's call site — so a composed lifecycle
  * entry's cost decomposes into its constituent actions (guide §1:
  * measure first; §1.2: find the passes to remove).
  *
  * Usage: `runMain graft.Trace <query...>`. Data dir from
  * `SPARK_GRAFT_SF_DIR` (by default the local sf0.1 testdata directory,
  * as in [[Bench]]), core count from `SPARK_GRAFT_CPUS`.
  */
object Trace {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Trace <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val jobLog = new java.util.concurrent.ConcurrentHashMap[
      Int, (String, Long)]()
    // SQL actions run their jobs on a helper thread
    // (withThreadLocalCaptured), so the stage-details stack has no
    // graft frame — map job → SQL execution (via the job's
    // spark.sql.execution.id property) and use the execution's
    // DESCRIPTION (the user-thread call site) instead
    val sqlDesc = new java.util.concurrent.ConcurrentHashMap[
      Long, String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case s: org.apache.spark.sql.execution.ui
                .SparkListenerSQLExecutionStart =>
              sqlDesc.put(s.executionId, s.description)
            case _ => ()
          }
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val det = js.stageInfos.headOption.map(_.details).getOrElse("")
          val fromStack = det.split("\n")
            .find(l => l.contains("graft.") && !l.contains("graft.Trace"))
          val fromSql = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => Option(sqlDesc.get(id.toLong)))
          val cs = fromStack.orElse(fromSql)
            .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?"))
            .trim
          jobLog.put(js.jobId, (cs, js.time))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(jobLog.get(je.jobId)).foreach { case (cs, t0) =>
            println(f"[job] ${je.jobId}%4d ${je.time - t0}%6d ms  $cs")
          }
      })
    // same warmup as Bench so the first traced query is not charged
    // listing/codegen/JIT floors the bench does not charge it
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10000).selectExpr("id % 7 AS k").groupBy("k").count()
      .orderBy("count").collect()
    Seq("lineitem", "orders", "customer", "events", "documents",
      "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
      catch { case _: Throwable => }
    }
    for (q <- args.toSeq) {
      SparkEntry.cleanIndexScratch()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(q)(spark, sfDir).count()
        println(f"[trace] $q total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch {
        case e: Throwable =>
          println(s"[trace] $q FAILED after " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s: $e")
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
