package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet file metadata for the layout and versioning layers — the one
  * place that resolves a Hadoop FileSystem, decides which files under a
  * directory are DATA, and opens a parquet footer.
  *
  * THE DATA-FILE RULE ([[dataFiles]]): a file under the directory, at any
  * depth (hive-partitioned datasets keep theirs in `key=value`
  * subdirectories), whose name ends in `.parquet` and whose path below
  * the directory has no segment starting with `_` or `.` — so the
  * `_graft_zonemap` / `_graft_bloom` sidecars, `_SUCCESS` markers and
  * `.crc` checksums are never data.
  *
  * THE FOOTER READER ([[footer]]): opens one file's footer, hands it to
  * the caller and closes it. It takes a plain Hadoop `Configuration`, so
  * driver code and executor closures (a `SerializableConfiguration`'s
  * value) share it. */
private[graft] object FsUtil {
  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The data files under `dir`, lazily and in listing order: a caller
    * that stops early (the first footer, an emptiness probe) lists no
    * further. */
  def dataFiles(spark: SparkSession, dir: String)
      : Iterator[LocatedFileStatus] = {
    val p = new Path(dir)
    val f = fs(spark, p)
    val base = f.makeQualified(p).toString
    val it = f.listFiles(p, true)
    new Iterator[LocatedFileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = it.next()
    }.filter { st =>
      val path = st.getPath
      path.getName.endsWith(".parquet") &&
        !path.toString.stripPrefix(base).split('/')
          .exists(s => s.startsWith("_") || s.startsWith("."))
    }
  }

  /** Open `file`'s parquet footer, apply `f` to it, close it. */
  def footer[A](file: Path, conf: Configuration)(f: ParquetMetadata => A): A = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try f(reader.getFooter)
    finally reader.close()
  }

  /** The Spark row schema a Spark-written file records in its footer
    * (`org.apache.spark.sql.parquet.row.metadata`) — None for a file
    * another writer produced. */
  def sparkSchema(spark: SparkSession, file: Path): Option[StructType] =
    footer(file, spark.sparkContext.hadoopConfiguration)(schemaOf)

  private def schemaOf(m: ParquetMetadata): Option[StructType] =
    Option(m.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Per data file under `dir`, lazily and in listing order, its
    * footer's row count and Spark row schema ([[sparkSchema]]): ONE
    * listing and a sequential driver-side pass, one footer open per file
    * consumed — a caller that stops early (an emptiness probe, the first
    * file's schema) opens no further. */
  def footers(spark: SparkSession,
      dir: String): Iterator[(Long, Option[StructType])] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, dir).map(st => footer(st.getPath, conf)(m =>
      (m.getBlocks.asScala.map(_.getRowCount).sum, schemaOf(m))))
  }
}
