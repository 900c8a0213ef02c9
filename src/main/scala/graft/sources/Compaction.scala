package graft.sources

import org.apache.spark.sql.SparkSession

/** Small-files compaction (`[EXT]` lake maintenance): rewrite a
  * parquet directory into ~`targetBytes`-sized files. The Avro capture
  * fixture taught the lesson at harness scale (52k ~9KB files cost
  * 379s to scan — see AvroBronze); at 100 TB a capture/streaming sink
  * produces exactly this pathology continuously, and scan cost is
  * dominated by file count until someone compacts. This is the
  * explicit maintenance pass: one narrow read, a round-robin
  * `repartition(n)` sized from the directory's actual bytes, one
  * write — no shuffle key needed, no driver-side data.
  *
  * Written to a fresh directory then atomically swapped in by rename
  * (same staged-swap contract, and honest caveat, as [[Merge]]: table
  * formats with a transaction log close the atomicity gap).
  */
object Compaction {

  private def dirBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length).sum

  private def fileCount(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Compact `dir` in place; returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val before = fileCount(dir)
    val n = math.max(1, math.ceil(dirBytes(dir).toDouble / targetBytes).toInt)
    val staged = dir + ".compact"
    graft.ParquetRead(spark, dir).repartition(n)
      .write.mode("overwrite").parquet(staged)
    val live = new java.io.File(dir)
    val old = new java.io.File(dir + ".old")
    require(live.renameTo(old), s"swap failed: $dir -> $old")
    require(new java.io.File(staged).renameTo(live), s"swap failed: $staged -> $dir")
    org.apache.commons.io.FileUtils.deleteDirectory(old)
    (before, fileCount(dir))
  }
}
