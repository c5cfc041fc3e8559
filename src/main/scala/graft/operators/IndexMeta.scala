package graft.operators

import org.apache.spark.sql.SparkSession

/** Per-JVM cache of driver-side index-metadata reads, keyed on a
  * `params/` file stamp — the one mechanism behind every "read the
  * stored geometry once, not once per probe/trigger" surface here
  * ([[graft.streaming.StreamingAgg]]'s bridge metadata,
  * [[Similarity.readIvfStorage]]'s storage dispatch, and every index
  * family's probe-side params reader in [[Dedup]] and [[Similarity]]).
  *
  * The cached values are immutable for the life of an index: signature
  * params and IVF geometry never change after the write —
  * rebuild/migration are maintenance passes that REWRITE `params/`,
  * and the stamp (file names + mtimes + lengths from ONE listStatus,
  * a metadata call, not a Spark job) changes with it, making the stale
  * entry unreachable. Parquet part-file names carry fresh UUIDs per
  * write, so even a same-millisecond same-size rewrite re-stamps. A
  * missing `params/` falls through to `read`, whose own error names
  * the broken index; a handful of dead entries per rebuild is the
  * whole cost.
  */
object IndexMeta {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def paramsStamp(spark: SparkSession, indexDir: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$indexDir/params")
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(s =>
          s"${s.getPath.getName}@${s.getModificationTime}#${s.getLen}")
        .sorted.mkString(",")
    } catch { case _: java.io.FileNotFoundException => "absent" }
  }

  /** Return `read`'s value for (`kind`, `indexDir`) under the current
    * `params/` stamp, computing it once per JVM per stamp (two threads
    * missing the same key together may both read; the first value
    * stored wins). `read` runs OUTSIDE the map's lock, so a cached
    * reader may itself call a cached reader — the bridges cache slices
    * of the families' params readers, which are cached too. */
  def cached[A <: AnyRef](spark: SparkSession, kind: String,
      indexDir: String)(read: => A): A = {
    val key = s"$kind:$indexDir:${paramsStamp(spark, indexDir)}"
    val hit = cache.get(key)
    if (hit != null) hit.asInstanceOf[A]
    else {
      val v = read
      val prev = cache.putIfAbsent(key, v)
      (if (prev == null) v else prev).asInstanceOf[A]
    }
  }
}
