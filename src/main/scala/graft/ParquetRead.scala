package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet read with the schema resolved on the driver.
  *
  * `spark.read.parquet(p)` without a schema infers one by running a Spark
  * job (`ParquetFileFormat.mergeSchemasInParallel`) that reads a single
  * footer when `mergeSchema` is off: about 100 ms of scheduling per read,
  * independent of the data, paid on every served read. This reads that
  * same footer on the driver and hands Spark the schema, so the read
  * plans without a job.
  *
  * The footer is the one Spark's `mergeSchema=false` inference picks
  * (`ParquetUtils.inferSchema`): over the leaf files of all `paths`,
  * sorted by path, a `_common_metadata` summary first, then `_metadata`,
  * then the first data file. Leaves are listed as `InMemoryFileIndex`
  * lists them: recursive, skipping names that start with `_` (unless they
  * hold `=`, i.e. a partition directory) or `.`, and `._COPYING_` files.
  * The footer converts through Spark's own `readSchemaFromFooter` and a
  * converter built from the live session conf, so the session's parquet
  * flags (`nanosAsLong`, binary-as-string, ...) apply as they would in
  * inference. ParquetReadSpec asserts schema parity with
  * `spark.read.parquet` and that no job runs.
  *
  * Nothing is memoized: every call lists the paths and reads the footer
  * afresh, so a replaced file is seen on the next read. When no leaf file
  * exists the read falls back to `spark.read.parquet`, which raises
  * Spark's own error. */
object ParquetRead {

  def apply(spark: SparkSession, paths: String*): DataFrame =
    schema(spark, paths: _*) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema `spark.read.parquet(paths: _*)` would infer, or None when
    * the paths hold no parquet leaf file. */
  private def schema(spark: SparkSession, paths: String*): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val leaves = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      roots(fs, fs.makeQualified(path)).flatMap { r =>
        if (r.isDirectory) listLeaves(fs, r.getPath)
        else if (hidden(r.getPath.getName)) Nil
        else Seq(r)
      }
    }.sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.find(f => !summary(f.getPath.getName)))
      .map(readFooter(spark, conf, _))
  }

  /** `SparkHadoopUtil.globPathIfNecessary`: only a path holding a glob
    * character is globbed (Hadoop's globber would mangle a plain path
    * holding `%` escapes, such as the gold cache roots). */
  private def roots(fs: FileSystem, path: Path): Seq[FileStatus] =
    if (path.toString.exists("{}[]*?\\".contains(_)))
      Option(fs.globStatus(path)).toSeq.flatten
    else if (fs.exists(path)) Seq(fs.getFileStatus(path))
    else Nil

  private def summary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  /** `HadoopFSUtils.shouldFilterOutPathName`. */
  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith("_common_metadata") &&
      !name.startsWith("_metadata")
  }

  private def listLeaves(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) listLeaves(fs, s.getPath) else Seq(s))

  private def readFooter(spark: SparkSession, conf: Configuration,
      file: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
