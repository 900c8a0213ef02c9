package graft

import java.io.File
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.DataFrame

import graft.sources.Incremental

/** Every on-disk tier of derived data, under `target/` of the working
  * directory: fixture lakes keyed by [[lake]], incremental tiers keyed by
  * [[cache]] (README "Derived data"). Both are judged fresh by one
  * predicate over one per-file record: [[fixture]] for the lakes,
  * `sources.Incremental.refresh` for the caches. The CSV lake is not
  * keyed by scale factor (`csv_bronze/data`): its oracle SQL embeds the
  * absolute file glob and `SparkEntry.oracleSql`, the driver contract,
  * is built without a source dir, so a run over another lake rewrites
  * it through the gate. The test JVM runs in its own working directory
  * (`build.sbt`), so tests share no tier with Verify or Bench. */
object Workspace {

  /** The tier directory names, one per kind. */
  val tiers: Seq[String] =
    Seq("media_images", "media_gifs", "media_wavs", "orc_lake", "avro_bronze",
      "json_lake", "xml_bronze", "csv_bronze", "line_sink", "rehearsal") ++
      Seq("sig", "phash", "wavfp", "srp", "ivf", "gold").map(k => s"graft_${k}_cache")

  /** The workspace root, absolute. */
  def root: Path = Paths.get("target").toAbsolutePath

  private def tier(name: String): Path = {
    require(tiers.contains(name), s"undeclared workspace tier $name")
    root.resolve(name)
  }

  /** A fixture lake's root: `target/<kind>/<name of dir>`. */
  def lake(kind: String, dir: String): String =
    tier(kind).resolve(new File(dir).getName).toString

  /** An incremental tier's root for source lake `dir` at derive-kernel
    * `version`: `target/graft_<kind>_cache/v<version>/<URL-encoded dir>`. */
  def cache(kind: String, version: Int, dir: String): String =
    tier(s"graft_${kind}_cache").resolve(s"v$version")
      .resolve(java.net.URLEncoder.encode(dir, "UTF-8")).toString

  /** Deletes every declared tier; the rest of `target/` (sbt's build
    * output) stays. */
  def reset(): Unit = tiers.foreach(t => Fs.deleteTree(root.resolve(t)))

  /** The gated fixture write: returns `root` as it stands when its
    * freshness record (the `_SOURCE_FILES` of
    * [[graft.sources.Incremental]]) names the code fingerprint of `write`
    * and the size and mtime of every file `source` scans, the one
    * predicate every derived tier is judged by
    * (`Incremental.current`); otherwise deletes `root`, runs
    * `write(root)` and commits the record last, by an atomic rename. A
    * crash at any point leaves no record, or one that does not match, so
    * the next call rebuilds. `source` is the one file scan the fixture is
    * derived from, and `write` derives only from that table: a fixture
    * is rebuilt when that table's files or the code of the class that
    * holds `write` change, and not when another table of the lake does. */
  def fixture(root: String, source: DataFrame)(write: String => Unit): String = {
    val files = Incremental.sourceFiles(source)
    val kernel = Incremental.deriveFingerprint(write)
    if (!Incremental.readRecord(root).exists(Incremental.current(_, kernel, files))) {
      Fs.deleteTree(Paths.get(root))
      write(root)
      Incremental.writeRecord(root, Incremental.Record(kernel, files))
    }
    root
  }
}
