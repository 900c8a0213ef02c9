package graft.sources.v2

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The WRITE half of the DataSource V2 surface (the read half is
  * [[SyntheticProvider]]): a line-format sink implementing the full V2
  * commit protocol the way every transactional writer must —
  *
  *  - each task's [[DataWriter]] streams rows to a STAGING file
  *    (`_tmp/part-<partition>-<task>`), never the final name;
  *  - task `commit()` returns the staged name as its commit message;
  *    speculative/failed attempts `abort()` and delete their staging;
  *  - job `commit()` atomically renames exactly the files named in the
  *    commit messages into place and drops `_SUCCESS` LAST — a reader
  *    either sees a complete committed output or none of it;
  *  - job `abort()` removes the staging tree, leaving no partial
  *    output (asserted in LineSinkSpec).
  *
  * This is the same two-phase discipline Merge/Versioned use at the
  * table level, here at the V2 task/job protocol level where Spark
  * drives it. Line format keeps the IO trivial (tab-joined fields of
  * atomic types) so the protocol, not a codec, is what is under test.
  *
  * Scale posture: writers stream row-at-a-time with O(1) state; the
  * commit message is one file name per task; job commit is |tasks|
  * renames on the driver — the standard V2 cost model.
  */
/** Oracle-checked round trip through the sink: write `nation` out via
  * the V2 protocol (fixture cached per source-content fingerprint, the
  * AvroBronze discipline), read the committed lines back with the text
  * source, parse, and aggregate per region — while DuckDB computes the
  * same aggregate from the parquet directly. A hash match proves the
  * write path is LOSSLESS end to end, not just protocol-correct. */
object LineSink {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  /** Fault-injection point for V2StreamingWriteSpec: invoked from
    * [[LineStreamingWrite.commit]] on the driver with
    * ("before-epoch-commit" | "before-epoch-marker", epochId). Tests
    * swap in a throwing hook to kill the query at a precise commit
    * step; production value is a no-op. */
  @volatile var streamCrashHook: (String, Long) => Unit = (_, _) => ()

  /** Rows of every COMMITTED epoch (an `epoch=<id>` directory whose
    * `_COMMITTED` marker exists) as raw text lines — the read
    * contract of the streaming sink: an epoch missing its marker is
    * invisible, so readers see old-or-new, never a torn epoch. */
  def readCommitted(spark: SparkSession, path: String): DataFrame = {
    val dirs = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("epoch=") &&
        new java.io.File(f, "_COMMITTED").isFile)
      .map(f => s"${f.getAbsolutePath}/part-*")
    if (dirs.isEmpty) spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value", StringType))))
    else spark.read.text(dirs: _*)
  }

  private def fingerprint(dir: String): String = {
    val entries = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def fixture(spark: SparkSession, dir: String): String = {
    val root = s"target/line_sink/${new java.io.File(dir).getName}"
    val fp = fingerprint(dir)
    val fpFile = new java.io.File(s"$root/_SOURCE_FINGERPRINT")
    val cached = new java.io.File(s"$root/_SUCCESS").isFile &&
      fpFile.isFile &&
      new String(java.nio.file.Files.readAllBytes(fpFile.toPath),
        "UTF-8") == fp
    if (!cached) {
      graft.Fs.deleteTree(java.nio.file.Paths.get(root))
      spark.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name"), col("n_regionkey").cast("long").as("rk"))
        .repartition(3)
        .write.format("graft.sources.v2.LineSinkProvider")
        .option("path", root).mode("append").save()
      java.nio.file.Files.write(fpFile.toPath, fp.getBytes("UTF-8"))
    }
    root
  }

  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = fixture(spark, dir)
    spark.read.text(s"$root/part-*")
      .filter(length($"value") > 0)
      .select(split($"value", "\t").as("f"))
      .select($"f".getItem(0).cast("long").as("k"),
        $"f".getItem(1).as("n_name"),
        $"f".getItem(2).cast("long").as("rk"))
      .groupBy($"rk")
      .agg(count(lit(1)).as("n_nations"),
        min($"n_name").as("first_name"),
        sum($"k").as("key_sum"))
      .orderBy($"rk")
  }

  val roundtripSql: String =
    s"""SELECT CAST(n_regionkey AS BIGINT) AS rk,
       |  COUNT(*) AS n_nations,
       |  MIN(n_name) AS first_name,
       |  CAST(SUM(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS key_sum
       |FROM nation GROUP BY 1 ORDER BY rk NULLS FIRST""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v2_sink_roundtrip" -> roundtrip)
  val oracles: Map[String, String] = Map(
    "v2_sink_roundtrip" -> roundtripSql)
}

class LineSinkProvider extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  // a pure sink: reads are not supported, so schema inference is the
  // caller's query schema (passed to getTable)
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(Nil)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LineSinkTable(schema,
      Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException("LineSink requires a 'path'")))
}

class LineSinkTable(schema: StructType, path: String)
    extends Table with SupportsWrite {
  override def name(): String = s"line_sink($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new LineBatchWrite(info.schema(), path)
        override def toStreaming: StreamingWrite =
          new LineStreamingWrite(info.schema(), path)
      }
    }
}

case class LineTaskCommit(stagedFile: String) extends WriterCommitMessage

class LineBatchWrite(schema: StructType, path: String) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new LineWriterFactory(schema, path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = Paths.get(path)
    Files.createDirectories(root)
    messages.foreach { case LineTaskCommit(staged) =>
      val src = Paths.get(staged)
      Files.move(src, root.resolve(src.getFileName),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    // marker LAST: presence == every task file is in place
    Files.write(root.resolve("_SUCCESS"), Array.emptyByteArray)
    deleteTree(root.resolve("_tmp"))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteTree(Paths.get(path).resolve("_tmp"))

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}

class LineWriterFactory(schema: StructType, path: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new LineDataWriter(schema, path, partitionId, taskId)
}

/** The STREAMING half of the V2 write protocol — the epoch-id analogue
  * of the `batch=<epochId>` idempotent-sink recipe, expressed through
  * Spark's own commit coordination instead of foreachBatch:
  *
  *  - task writers stage to `_tmp/epoch-<e>-part-<p>-<t>` (the same
  *    never-the-final-name rule as the batch writer);
  *  - `commit(epochId, msgs)` REPLACES `epoch=<epochId>/` wholesale
  *    (delete → move staged files in → `_COMMITTED` marker LAST), so a
  *    post-crash replay of epoch N — which Spark re-runs with the SAME
  *    epoch id from its write-ahead log — rewrites rather than
  *    re-appends N's rows: exactly-once end to end;
  *  - a reader ([[LineSink.readCommitted]]) counts only marker-bearing
  *    epochs, so a crash between move and marker leaves the torn
  *    epoch invisible (old-or-new, never partial);
  *  - `abort` deletes the failed attempt's staging; leftover staged
  *    files from a crashed attempt are swept by the prefix cleanup on
  *    the eventual successful commit.
  *
  * Fault injection: [[LineSink.streamCrashHook]] fires before the
  * epoch move and before the marker write; V2StreamingWriteSpec kills
  * the query at each point and proves old-or-new visibility plus
  * exactly-once resume through the V2 protocol (the StreamCrashCommit
  * discipline, one layer down). */
class LineStreamingWrite(schema: StructType, path: String)
    extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new LineStreamWriterFactory(schema, path)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    LineSink.streamCrashHook("before-epoch-commit", epochId)
    val root = Paths.get(path)
    val epochDir = root.resolve(s"epoch=$epochId")
    // Replaying an epoch whose marker ALREADY landed (crash after the
    // marker write but before Spark recorded the batch in its commit
    // log): the old in-place rebuild deleted the live dir first, so
    // committed rows transiently vanished for concurrent readers.
    // Instead, stage the replacement beside the live dir (a `_`-prefix
    // name, invisible to readCommitted's `epoch=` glob) and swap via
    // rename — committed visibility never regresses past the instant
    // of the rename pair. A marker-LESS torn dir was never visible, so
    // it is still rebuilt in place.
    val live = Files.exists(epochDir.resolve("_COMMITTED"))
    val target =
      if (live) root.resolve(s"_staged-epoch=$epochId") else epochDir
    deleteTree(target) // replay of epoch N replaces N, never appends
    Files.createDirectories(target)
    messages.foreach {
      case LineTaskCommit(staged) =>
        val src = Paths.get(staged)
        // strip the epoch staging prefix so committed files carry the
        // same part-* names as the batch sink's
        val dest = src.getFileName.toString.stripPrefix(s"epoch-$epochId-")
        Files.move(src, target.resolve(dest),
          StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      case _ => ()
    }
    LineSink.streamCrashHook("before-epoch-marker", epochId)
    // marker LAST: presence == every task file of the epoch is in place
    // (for the staged-replay path the marker completes the staged copy
    // BEFORE the swap, so a crash here leaves the old epoch intact and
    // visible — old-or-new still holds)
    Files.write(target.resolve("_COMMITTED"), Array.emptyByteArray)
    if (live) {
      val old = root.resolve(s"_old-epoch=$epochId")
      deleteTree(old)
      Files.move(epochDir, old)
      Files.move(target, epochDir)
      deleteTree(old)
    }
    // sweep staged leftovers of crashed attempts of THIS epoch only —
    // close the directory stream (a long-running stream commits one
    // epoch per trigger; a leaked fd per commit exhausts the process)
    val tmp = root.resolve("_tmp")
    if (Files.exists(tmp)) {
      val s = Files.list(tmp)
      try s
        .filter(p => p.getFileName.toString.startsWith(s"epoch-$epochId-"))
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case LineTaskCommit(staged) => Files.deleteIfExists(Paths.get(staged))
      case _ => ()
    }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}

class LineStreamWriterFactory(schema: StructType, path: String)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LineDataWriter(schema, path, partitionId, taskId,
      Some(f"epoch-$epochId-part-$partitionId%05d-$taskId"))
}

class LineDataWriter(schema: StructType, path: String, partitionId: Int,
    taskId: Long, stagedName: Option[String] = None)
    extends DataWriter[InternalRow] {
  private val staged = Paths.get(path, "_tmp",
    stagedName.getOrElse(f"part-$partitionId%05d-$taskId"))
  Files.createDirectories(staged.getParent)
  private val out = Files.newBufferedWriter(staged, StandardCharsets.UTF_8)

  private def fmt(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) "" else dt match {
      case LongType => row.getLong(i).toString
      case DoubleType => row.getDouble(i).toString
      case StringType => row.getUTF8String(i).toString
      case other => row.get(i, other).toString
    }

  override def write(row: InternalRow): Unit = {
    val line = schema.fields.indices
      .map(i => fmt(row, i, schema.fields(i).dataType)).mkString("\t")
    out.write(line); out.write("\n")
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    LineTaskCommit(staged.toString)
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(staged)
  }

  override def close(): Unit = out.close()
}
