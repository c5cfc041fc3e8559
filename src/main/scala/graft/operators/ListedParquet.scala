package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A parquet read over partition directories whose files the DRIVER
  * lists, one Hadoop `listStatus` per directory — the relation
  * `spark.read.option("basePath", root).parquet(dirs: _*)` builds, minus
  * Spark's file discovery. That discovery hands more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
  * to a distributed "Listing leaf files and directories" job of one task
  * per path; here no Spark job runs before the scan.
  *
  * The listed files prime the [[InMemoryFileIndex]]'s
  * [[FileStatusCache]], so the index lists nothing itself (it lists
  * only cache misses, and a `refresh` clears the cache and lists for
  * real). Partition inference under `basePath = root` is the index's
  * own, so `<part>=<int>` stays a partition column and dynamic
  * partition pruning plants on it as on a `DataFrameReader` read.
  *
  * The listing is serial. On a local file system a `listStatus` is a
  * directory read, and hundreds of them cost less than the listing job
  * they replace; on an object store, where each call is a remote
  * request, a batch naming hundreds of buckets pays those in turn.
  */
private[operators] object ListedParquet {

  /** `dirs` (partition directories under `root`) read as one parquet
    * relation. `schema` None takes the data columns from the footer of
    * the first listed file (Spark's own non-merging inference, read on
    * the driver). None when there is no file to infer from — the caller
    * falls back to a `DataFrameReader` read, which fails as before. */
  def read(spark: SparkSession, root: String, dirs: Seq[Path],
      schema: Option[StructType]): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listed = dirs.map(d => d -> leafFiles(d.getFileSystem(conf), d))
    val cols = schema.orElse(listed.iterator.flatMap(_._2)
      .find(f => !f.getPath.getName.startsWith("_"))
      .map(f => footerSchema(conf, f)))
    cols.map { full =>
      val cache = new FileStatusCache {
        private val leaves = new java.util.concurrent.ConcurrentHashMap[
          Path, Array[FileStatus]]()
        listed.foreach { case (d, fs) => leaves.put(d, fs.toArray) }
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
          Option(leaves.get(p))
        override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit =
          leaves.put(p, fs)
        override def invalidateAll(): Unit = leaves.clear()
      }
      val options = Map("basePath" -> root)
      val index = new InMemoryFileIndex(spark, dirs, options, schema, cache)
      val parts = index.partitionSchema.fieldNames.toSet
      val data = StructType(full.filterNot(f => parts(f.name)))
      spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, nullable(data).asInstanceOf[StructType],
        None, new ParquetFileFormat, options)(spark))
    }
  }

  /** A file's columns as Spark infers them without merging: the Spark
    * schema its writer stored, else the converted parquet schema. */
  private def footerSchema(conf: Configuration, f: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get)
        .convert(meta.getSchema))
  }

  /** The files under `dir` as Spark's file index lists them: entries
    * whose names Spark skips are dropped (`HadoopFSUtils
    * .shouldFilterOutPathName`: `_`/`.` prefixes other than parquet
    * summary files, `._COPYING_` suffixes — so `.crc`, `_SUCCESS`,
    * `_temporary`), sub-directories are recursed, top-level files come
    * first, and each file carries its block locations. */
  private def leafFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val (subdirs, files) = fs.listStatus(dir).toSeq
      .filterNot(s => skipped(s.getPath.getName)).partition(_.isDirectory)
    files.map(located(fs, _)) ++
      subdirs.flatMap(d => leafFiles(fs, d.getPath))
  }

  private def skipped(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  // no permission/owner, as in Spark's listing: reading them on the
  // local file system starts a process per file
  private def located(fs: FileSystem, f: FileStatus): FileStatus = f match {
    case l: LocatedFileStatus => l
    case _ => new LocatedFileStatus(f.getLen, f.isDirectory,
      f.getReplication, f.getBlockSize, f.getModificationTime, 0L,
      null, null, null, if (f.isSymlink) f.getSymlink else null, f.getPath,
      false, false, false, fs.getFileBlockLocations(f, 0, f.getLen))
  }

  /** Every level nullable, as `DataSource` reads a file's data schema. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), true)
    case other => other
  }
}
