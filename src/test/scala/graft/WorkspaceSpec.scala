package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import graft.sources.{Incremental, OrcLake}

/** The derived-data workspace: a registered query returns the same rows
  * from an empty workspace and from a warm one, for every declared tier,
  * and the warm call rewrites no freshness record; nothing lands under
  * the workspace root outside a declared tier; and a fixture is rebuilt
  * when a file of the one table it reads, or its writer's code, changes,
  * and only then. */
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

  /** Every freshness record under tier `t`, with its mtime. */
  private def records(t: String): Map[Path, java.nio.file.attribute.FileTime] = {
    val base = Workspace.root.resolve(t)
    if (!Files.isDirectory(base)) Map.empty
    else {
      val walk = Files.walk(base)
      try walk.iterator().asScala.filter(_.getFileName.toString == "_SOURCE_FILES")
        .map(p => p -> Files.getLastModifiedTime(p)).toMap
      finally walk.close()
    }
  }

  /** The data files under fixture root `root`: a write names them anew. */
  private def dataFiles(root: Path): Set[String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    finally walk.close()
  }

  /** A fresh lake holding copies of `tables` of the sf0.001 lake. */
  private def lakeOf(prefix: String, tables: String*): Path = {
    val lake = Files.createTempDirectory(prefix)
    tables.foreach(t => Files.copy(Paths.get(s"$sf0001/$t.parquet"), lake.resolve(s"$t.parquet")))
    lake
  }

  /** Rewrites parquet file `file` in place with its rows of `l_quantity < 30`. */
  private def shrink(file: Path): Unit = {
    val tmp = Files.createTempDirectory("workspace_part")
    try {
      spark.read.parquet(file.toString).filter(col("l_quantity") < 30)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.write(file, Files.readAllBytes(
        children(tmp).find(_.getFileName.toString.endsWith(".parquet")).get))
    } finally Fs.deleteTree(tmp)
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
      val built = tiers.map(records)
      tiers.zip(built).foreach { case (t, r) => assert(r.nonEmpty, s"$t holds no record") }
      val warm = fn(spark, sf0001).collect().toSeq
      assert(cold.nonEmpty)
      assert(warm == cold)
      assert(tiers.map(records) == built, "the warm call rewrote a freshness record")
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

  test("every fixture tier root but the rehearsal lake holds a per-file record and no lake fingerprint") {
    val fixtures = Workspace.tiers.filterNot(t => t == "rehearsal" || t.endsWith("_cache"))
    Workspace.reset()
    readers.filter(_._2.exists(fixtures.contains)).foreach { case (q, _) =>
      SparkEntry.queries(q)(spark, sf0001).collect()
    }
    fixtures.foreach { t =>
      val roots = children(Workspace.root.resolve(t))
      assert(roots.nonEmpty, s"$t holds no fixture")
      roots.foreach { root =>
        val names = children(root).map(_.getFileName.toString)
        assert(names.contains("_SOURCE_FILES") && !names.contains("_SOURCE_FINGERPRINT"),
          s"$root holds $names")
        assert(Files.readAllLines(root.resolve("_SOURCE_FILES")).get(0).endsWith("\tper-file"),
          s"$root's record is not per-file")
      }
    }
  }

  test("a rewritten lineitem file rebuilds the lineitem fixtures and leaves the documents ones") {
    val lake = lakeOf("workspace_precision", "lineitem", "documents")
    val roots = Seq("orc_lake", "json_lake").map(k => Paths.get(Workspace.lake(k, lake.toString)))
    def run() = Seq("orc_lake_agg", "json_corrupt_audit")
      .map(q => SparkEntry.queries(q)(spark, lake.toString).collect().toSeq)
    try {
      val before = run()
      val built = roots.map(dataFiles)
      val jsonRecords = records("json_lake")
      shrink(lake.resolve("lineitem.parquet"))
      val after = run()
      assert(dataFiles(roots.head) != built.head, "orc_lake was not rebuilt")
      assert(after.head != before.head, "the rewrite did not change the ORC answer")
      assert(dataFiles(roots(1)) == built(1), "json_lake was rebuilt for a table it does not read")
      assert(records("json_lake") == jsonRecords &&
        jsonRecords.contains(roots(1).resolve("_SOURCE_FILES")), "json_lake's record moved")
      assert(after(1) == before(1))
    } finally (roots :+ lake).foreach(Fs.deleteTree)
  }

  test("a fixture whose record names another writer kernel is rebuilt") {
    val lake = lakeOf("workspace_kernel", "lineitem")
    val root = Paths.get(Workspace.lake("orc_lake", lake.toString))
    val rec = root.resolve("_SOURCE_FILES")
    try {
      val first = OrcLake.orcAgg(spark, lake.toString).collect().toSeq
      val kernel = Incremental.readRecord(root.toString).get.kernel
      val built = dataFiles(root)
      // the state an edit to OrcLake$ finds on disk: a record whose
      // header names the kernel the old code had
      val lines = Files.readAllLines(rec).asScala.toSeq
      Files.write(rec, (s"kernel\t${java.lang.Long.toHexString(kernel ^ 0x5a5aL)}\tper-file" +:
        lines.tail).mkString("\n").getBytes("UTF-8"))
      assert(OrcLake.orcAgg(spark, lake.toString).collect().toSeq == first)
      assert(Incremental.readRecord(root.toString).get.kernel == kernel)
      assert(built.nonEmpty && (dataFiles(root) intersect built).isEmpty,
        "the fixture written under the old kernel was served")
    } finally Seq(root, lake).foreach(Fs.deleteTree)
  }

  test("a write that throws leaves no record and the next call rebuilds the fixture") {
    val lake = lakeOf("workspace_crash", "lineitem")
    val root = Workspace.lake("orc_lake", lake.toString)
    try {
      val lineitem = Tables(spark, lake.toString, "lineitem")
      intercept[IllegalStateException] {
        Workspace.fixture(root, lineitem) { r =>
          // part of the returned-lines partition, then the writer dies
          lineitem.filter(col("l_returnflag") === "R")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
              "l_discount", "l_linestatus", "l_returnflag").limit(5)
            .write.partitionBy("l_returnflag").format("orc").save(r)
          throw new IllegalStateException("writer died")
        }
      }
      assert(Files.isDirectory(Paths.get(root)))
      assert(!Files.exists(Paths.get(root, "_SOURCE_FILES")), "a failed write left a record")
      val next = OrcLake.orcAgg(spark, lake.toString).collect().toSeq
      assert(Files.exists(Paths.get(root, "_SOURCE_FILES")))
      Fs.deleteTree(Paths.get(root))
      val cold = OrcLake.orcAgg(spark, lake.toString).collect().toSeq
      assert(next == cold, "the half-written fixture was served")
    } finally Seq(Paths.get(root), lake).foreach(Fs.deleteTree)
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
