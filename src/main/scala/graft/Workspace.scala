package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Every on-disk tier of derived data, under `target/` of the working
  * directory: fixture lakes keyed by [[lake]], incremental tiers keyed by
  * [[cache]] (README "Derived data"). The CSV and XML lakes are not keyed
  * by scale factor (`<kind>/data`): the CSV oracle SQL embeds the
  * absolute file glob and `QueryModule.oracles` is built without a
  * source dir; the XML lake shares the key. A run over another lake
  * rewrites them through the fingerprint gate. The test JVM runs in its own working directory
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

  /** The fingerprint-gated fixture write: returns `root` as it stands when
    * its `_SUCCESS` marker and `_SOURCE_FINGERPRINT` match the current
    * [[fingerprint]] of `dir`; otherwise deletes `root`, runs `write(root)`
    * and records the fingerprint last, by an atomic rename, so a crash
    * mid-write leaves a root the next call rebuilds. Without the
    * fingerprint a regenerated lake under the same path would be served
    * its stale fixture while the oracle reads the new data. */
  def fixture(root: String, dir: String)(write: String => Unit): String = {
    val fp = fingerprint(dir)
    val fpFile = Paths.get(root, "_SOURCE_FINGERPRINT")
    val fresh = Files.isRegularFile(Paths.get(root, "_SUCCESS")) &&
      Files.isRegularFile(fpFile) && new String(Files.readAllBytes(fpFile), UTF_8) == fp
    if (!fresh) {
      Fs.deleteTree(Paths.get(root))
      write(root)
      val tmp = Files.createTempFile(Paths.get(root), "_fingerprint.", ".tmp")
      Files.write(tmp, fp.getBytes(UTF_8))
      Files.move(tmp, fpFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    root
  }

  /** Content fingerprint of source lake `dir`: the MD5 of
    * `path:length:mtime` over every `*.parquet` table in it. A
    * directory-shaped table contributes each leaf data file under it
    * (the names Spark reads: no `_` or `.` prefix), since rewriting a
    * file inside a directory changes neither the directory's length nor
    * its mtime. */
  private def fingerprint(dir: String): String = {
    val base = Paths.get(dir)
    def hidden(p: Path): Boolean = base.relativize(p).iterator().asScala
      .exists(n => n.toString.startsWith("_") || n.toString.startsWith("."))
    val files = Option(base.toFile.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).toSeq.flatMap { t =>
        val walk = Files.walk(t.toPath)
        try walk.iterator().asScala.filter(p => Files.isRegularFile(p) && !hidden(p)).toList
        finally walk.close()
      }
    val entries = files.map(p => base.relativize(p).toString -> p.toFile).sortBy(_._1)
      .map { case (name, f) => s"$name:${f.length}:${f.lastModified}" }
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("|").getBytes(UTF_8))
      .map("%02x".format(_)).mkString
  }
}
