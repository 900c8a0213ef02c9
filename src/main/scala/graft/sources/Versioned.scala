package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned table snapshots with time travel (SURVEY.md §2.1 S7
  * extension) — the smallest useful slice of what Delta/Iceberg table
  * formats provide over a plain parquet sink:
  *
  *  - every write lands in a fresh UNIQUELY-NAMED data directory and
  *    becomes visible only when its per-version commit marker
  *    `_COMMIT_N` (content = the data directory it publishes) is
  *    created — an ATOMIC put-if-absent, so readers either see a
  *    complete version or not at all, and two writers can never both
  *    claim the same version number (the Delta-log commit protocol:
  *    data files first, then one conditional put of log entry N);
  *  - `read(root)` resolves the latest committed version at plan time;
  *    `read(root, Some(n))` time-travels to any retained snapshot;
  *  - `rollback(n)` is a METADATA operation: it commits a new version
  *    whose marker points at version n's data — no data rewrite, and
  *    the botched version stays readable for forensics.
  *
  * Optimistic concurrency is enforced AT THE COMMIT POINT, not by a
  * racy check-then-act: the `_COMMIT_N` marker is created with
  * `Files.createLink` (hard-link a fully-written temp file to the
  * marker name), which atomically fails with
  * [[FileAlreadyExistsException]] when another writer committed N
  * first. A writer that passed the precheck but lost the race gets a
  * [[Versioned.VersionConflictException]]; its orphaned data directory
  * is uncommitted garbage that [[Versioned.vacuum]] reclaims. On an
  * object store the same primitive is a conditional put
  * (`If-None-Match: *`); on HDFS, `create(..., overwrite=false)`.
  *
  * Scale posture: snapshots are directory pointers, so time travel
  * costs nothing at read time (the scan is an ordinary pruned parquet
  * read of one directory); what a real table format adds on top is
  * file-level manifests (partial-commit granularity) and compaction of
  * the version history — the read/commit semantics are the same.
  */
object Versioned {

  /** Optimistic-concurrency conflict: another writer committed the
    * version this writer was about to claim (or the table had already
    * advanced past the version it read) — the transactional-format
    * contract that keeps two concurrent jobs from silently overwriting
    * each other. Detected ATOMICALLY at the commit marker, so even two
    * writers that interleave check→write→commit cannot both win. */
  final class VersionConflictException(msg: String)
    extends RuntimeException(msg)

  /** Test-only fault injection: runs after the data write, before the
    * commit-marker put — the window a writer can die in (or another
    * writer can sneak a commit into). Production value is a no-op. */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  private def markerPath(root: String, v: Long): JPath =
    Paths.get(root, s"_COMMIT_$v")

  private def listNames(r: JPath): Seq[String] = {
    if (!Files.isDirectory(r)) return Seq.empty
    val s = Files.list(r)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  private def listMarkers(root: String): Seq[Long] =
    listNames(Paths.get(root))
      .filter(_.startsWith("_COMMIT_"))
      .map(_.stripPrefix("_COMMIT_").toLong)

  /** Highest committed version, or None for an empty root. A version
    * exists iff its commit marker does — in-flight or crashed writers
    * leave no marker and are invisible here. */
  def latestVersion(root: String): Option[Long] = {
    val vs = listMarkers(root)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Directory that holds `version`'s data — the marker's content (a
    * rollback commit's marker simply names an older version's dir). */
  private def dataDir(root: String, version: Long): String = {
    val m = markerPath(root, version)
    require(Files.exists(m), s"no committed version $version at $root")
    s"$root/${new String(Files.readAllBytes(m), "UTF-8").trim}"
  }

  /** Atomic put-if-absent of `_COMMIT_v` naming `dirName`: write the
    * content to a temp file, hard-link it to the marker name (atomic;
    * fails iff the marker exists), drop the temp. Returns false when
    * another writer owns `v`. */
  private def tryCommit(root: String, v: Long, dirName: String): Boolean = {
    val tmp = Files.createTempFile(Paths.get(root), s"_commit_$v.", ".tmp")
    try {
      Files.write(tmp, dirName.getBytes("UTF-8"))
      try { Files.createLink(markerPath(root, v), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** Commit `df` as the next version; returns the new version number.
    *
    * Schema enforcement (the `overwriteSchema` contract of
    * transactional table formats, reference ipynb:1297-1303): by
    * default a commit whose schema differs from the current version is
    * REFUSED — silent schema drift is how a typo'd column becomes a
    * production outage. Passing `overwriteSchema = true` evolves the
    * table: the new snapshot carries the new schema, while every
    * retained older version keeps its own (each snapshot's parquet
    * footers are self-describing), so time travel across the evolution
    * boundary reads each era with the schema it was written under.
    *
    * Concurrency: with `expectedVersion = Some(e)` the commit succeeds
    * only as version e+1 — if any other writer claims e+1 first (even
    * between this writer's precheck and its commit), the atomic marker
    * put fails and a [[VersionConflictException]] is thrown; re-read
    * and retry. Without `expectedVersion` (a blind snapshot publisher)
    * the writer auto-bumps past competing commits: each snapshot is
    * self-contained, so "latest number wins" is the documented
    * semantics, and no writer ever overwrites another's data directory
    * (every attempt writes to a unique dir). */
  def write(df: DataFrame, root: String,
      overwriteSchema: Boolean = false,
      expectedVersion: Option[Long] = None): Long = {
    Files.createDirectories(Paths.get(root))
    val cur0 = latestVersion(root)
    expectedVersion.foreach { exp =>
      if (cur0 != Some(exp))
        throw new VersionConflictException(
          s"optimistic commit conflict: expected table at version $exp " +
            s"but found ${cur0.fold("empty")(_.toString)} — re-read and retry")
    }
    if (!overwriteSchema) {
      cur0.foreach { cur =>
        val existing = df.sparkSession.read.parquet(dataDir(root, cur)).schema
        // compare (name, type) shape only: parquet read-back is always
        // nullable, so strict StructType equality would reject every
        // in-memory frame with non-null columns
        def shape(s: org.apache.spark.sql.types.StructType) =
          s.fields.map(f => (f.name, f.dataType)).toSeq
        require(shape(existing) == shape(df.schema),
          s"schema change rejected (overwriteSchema=false): table has " +
            s"${existing.simpleString} but the write carries " +
            s"${df.schema.simpleString}")
      }
    }
    // data first, into an attempt-unique dir: invisible until committed
    val dirName = s"d-${java.util.UUID.randomUUID.toString.take(8)}"
    df.write.mode("errorifexists").parquet(s"$root/$dirName")
    beforeCommitHook()
    var next = cur0.map(_ + 1).getOrElse(0L)
    while (!tryCommit(root, next, dirName)) {
      if (expectedVersion.isDefined)
        throw new VersionConflictException(
          s"optimistic commit conflict: version $next was committed by a " +
            s"concurrent writer after this writer read ${expectedVersion.get} " +
            "— re-read and retry (orphan data dir reclaimed by vacuum)")
      next += 1 // blind publisher: bump past the competing commit
    }
    next
  }

  /** Roll back to `version` as a new commit (metadata-only: the new
    * marker names the old version's data directory). */
  def rollback(root: String, version: Long): Long = {
    val cur = latestVersion(root)
      .getOrElse(throw new IllegalStateException("empty table"))
    val targetDir = dataDir(root, version).stripPrefix(s"$root/")
    var next = cur + 1
    while (!tryCommit(root, next, targetDir)) next += 1
    next
  }

  /** Read the latest committed version, or time-travel to `asOf`. */
  def read(spark: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame = {
    val v = asOf.orElse(latestVersion(root))
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    spark.read.parquet(dataDir(root, v))
  }

  /** Expire history: physically delete data directories referenced only
    * by versions older than the last `keepLast` — the retention/VACUUM
    * maintenance a real table format schedules. REFERENCE-AWARE: a
    * retained rollback commit's marker names an older version's data,
    * so that directory survives expiration even when its own version
    * number is out of the retention window (deleting it would corrupt
    * the CURRENT table). Returns the versions whose data was deleted;
    * time travel to them now fails (their markers are removed), reads
    * of every retained version are untouched (asserted in
    * VersionedSpec).
    *
    * Scale posture: pure manifest/directory metadata work — cost ∝
    * |expired versions|, independent of data volume. */
  def expire(root: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must retain at least the latest version")
    val latest = latestVersion(root).getOrElse(return Seq.empty)
    val oldestKept = math.max(0L, latest - keepLast + 1)
    val all = listMarkers(root).sorted
    val referenced = all.filter(_ >= oldestKept).map(v => dataDir(root, v)).toSet
    val deletable = all.filter(v => v < oldestKept &&
      !referenced.contains(dataDir(root, v)))
    deletable.foreach { v =>
      graft.Fs.deleteTree(Paths.get(dataDir(root, v)))
      Files.deleteIfExists(markerPath(root, v))
    }
    deletable
  }

  /** Reclaim data directories no commit marker references — the debris
    * of writers that died (or lost an OCC race) between data write and
    * commit. Safe only when no writer is in flight (a live writer's
    * data dir is unreferenced until its marker lands) — the same
    * retention caveat as Delta's VACUUM, which solves it with an age
    * threshold. Returns the deleted directory names. */
  def vacuum(root: String): Seq[String] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return Seq.empty
    val referenced = listMarkers(root).map(v =>
      Paths.get(dataDir(root, v)).getFileName.toString).toSet
    val orphans = listNames(r)
      .filter(n => n.startsWith("d-") && !referenced.contains(n)
        && Files.isDirectory(r.resolve(n)))
    orphans.foreach(n => graft.Fs.deleteTree(r.resolve(n)))
    orphans
  }
}
