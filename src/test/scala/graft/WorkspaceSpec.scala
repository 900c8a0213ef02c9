package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import graft.sources.OrcLake

/** The derived-data workspace: a registered query returns the same rows
  * from an empty workspace and from a warm one, for every declared tier;
  * nothing lands under the workspace root outside a declared tier; and a
  * fixture is rebuilt when a file inside a directory-shaped source table
  * is rewritten in place. */
class WorkspaceSpec extends SparkSpec {

  /** One registered query per group of tiers it reads. The `rehearsal`
    * tier belongs to the `tools.ScaleRehearsal` dev tool, which no
    * registered query reads. */
  private val readers: Seq[(String, Seq[String])] = Seq(
    "media_meta" -> Seq("media_images"),
    "media_frames" -> Seq("media_gifs"),
    "media_wav_meta" -> Seq("media_wavs"),
    "dq_lsh_preflight" -> Seq("graft_sig_cache", "graft_phash_cache",
      "graft_wavfp_cache", "graft_srp_cache"),
    "embed_ivf_topk_indexed" -> Seq("graft_ivf_cache"),
    "gold_monthly" -> Seq("graft_gold_cache"),
    "orc_lake_agg" -> Seq("orc_lake"),
    "silver_avro_capture" -> Seq("avro_bronze"),
    "json_corrupt_audit" -> Seq("json_lake"),
    "silver_xml_ingest" -> Seq("xml_bronze"),
    "silver_csv_ingest" -> Seq("csv_bronze"),
    "v2_sink_roundtrip" -> Seq("line_sink"))

  private def children(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }

  test("every declared tier but the rehearsal lake has a reader") {
    assert(Workspace.tiers.toSet -- readers.flatMap(_._2) == Set("rehearsal"))
  }

  for ((query, tiers) <- readers)
    test(s"$query returns the same rows cold and warm (${tiers.mkString(", ")})") {
      val fn = SparkEntry.queries(query)
      Workspace.reset()
      val cold = fn(spark, sf0001).collect().toSeq
      tiers.foreach(t => assert(Files.isDirectory(Workspace.root.resolve(t)), s"$t not built"))
      val warm = fn(spark, sf0001).collect().toSeq
      assert(cold.nonEmpty)
      assert(warm == cold)
    }

  test("every table root under a cache tier holds only its manifest, a per-file record and generations") {
    val caches = Workspace.tiers.filter(t => t.startsWith("graft_") && t.endsWith("_cache"))
    Workspace.reset()
    readers.filter(_._2.exists(caches.contains)).foreach { case (q, _) =>
      SparkEntry.queries(q)(spark, sf0001).collect()
    }
    caches.foreach { t =>
      // graft_<kind>_cache/v<version>/<lake>/<table>
      val tables = children(Workspace.root.resolve(t)).flatMap(children).flatMap(children)
      assert(tables.nonEmpty, s"$t holds no table")
      tables.foreach { table =>
        val names = children(table).map(_.getFileName.toString)
        assert(names.contains("_MANIFEST") && names.contains("_SOURCE_FILES") &&
          names.forall(n => n == "_MANIFEST" || n == "_SOURCE_FILES" || n.startsWith("gen=")),
          s"$table holds $names")
        assert(Files.readAllLines(table.resolve("_SOURCE_FILES")).get(0).endsWith("\tper-file"),
          s"$table's record is not per-file")
      }
    }
  }

  test("every directory under the workspace root is a declared tier") {
    val stray = children(Workspace.root).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filterNot(Workspace.tiers.contains)
    assert(stray.isEmpty, s"undeclared roots $stray under ${Workspace.root}")
  }

  test("reset deletes the tiers and leaves a non-tier sibling in place") {
    val sibling = Workspace.root.resolve("not_a_tier")
    Files.createDirectories(sibling)
    Files.write(sibling.resolve("keep"), Array[Byte](1))
    try {
      Workspace.reset()
      assert(Workspace.tiers.forall(t => !Files.exists(Workspace.root.resolve(t))))
      assert(Files.isRegularFile(sibling.resolve("keep")))
    } finally Fs.deleteTree(sibling)
  }

  test("a file rewritten in place inside a directory-shaped table rebuilds the fixture") {
    val lake = Files.createTempDirectory("workspace_lake")
    val orc = Paths.get(Workspace.lake("orc_lake", lake.toString))
    val tmp = Files.createTempDirectory("workspace_part")
    try {
      val table = Files.createDirectories(lake.resolve("lineitem.parquet"))
      val file = table.resolve("all.parquet")
      Files.copy(Paths.get(s"$sf0001/lineitem.parquet"), file)
      def agg() = OrcLake.orcAgg(spark, lake.toString).collect().toSeq
      val before = agg()
      // rewrite the file's bytes in place: the table directory's own
      // length and mtime stay as they were
      val tableTime = Files.getLastModifiedTime(table)
      spark.read.parquet(file.toString).filter(col("l_quantity") < 30)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.write(file, Files.readAllBytes(
        children(tmp).find(_.getFileName.toString.endsWith(".parquet")).get))
      Files.setLastModifiedTime(table, tableTime)
      val after = agg()
      Fs.deleteTree(orc)
      val rebuilt = agg()
      assert(rebuilt != before, "the rewrite did not change the answer")
      assert(after == rebuilt, "the fixture was served stale")
    } finally Seq(orc, lake, tmp).foreach(Fs.deleteTree)
  }
}
