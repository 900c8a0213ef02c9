package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE-style keyed upsert (SURVEY.md §2.1 S7 extension): the
  * reference refreshes gold with `mode("overwrite")` (full recompute,
  * ipynb:1297-1303); at 100 TB gold must instead absorb increments. On
  * a transactional format (Delta/Iceberg) this is `MERGE INTO`; this
  * gives the same converging semantics:
  *
  *   matched keys    -> replaced by the update row
  *   unmatched keys  -> inserted
  *   absent from upd -> carried over unchanged
  *
  * Idempotent: re-applying the same update batch converges to the same
  * state, so at-least-once delivery upstream converges (same contract
  * as the streaming goldSink).
  *
  * COMMIT: each upsert publishes a new [[Versioned]] snapshot — data
  * written to a fresh immutable directory, visible only after the
  * atomic commit-marker put. A writer killed mid-upsert leaves readers
  * on the old snapshot (asserted in AtomicCommitSpec), replacing the
  * round-5 staged swap whose delete+rename window could strand a
  * reader with no table at all. Reading the target from its committed
  * snapshot also means the merge plan never scans files the write is
  * about to replace — no checkpoint/materialization needed. Bonus of
  * the version chain: every gold state is time-travelable and
  * [[Versioned.expire]] handles retention.
  *
  * Scale posture: one full-outer join on the merge keys (shuffle both
  * sides once) + a snapshot rewrite. A real format adds file-level
  * manifests so unmatched FILES survive without rewrite; the
  * partition-targeted variant of that discipline is [[Incremental]].
  */
object Merge {

  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String]): Unit = {
    val merged = Versioned.latestVersion(path) match {
      case None => updates
      case Some(_) =>
        val target = Versioned.read(spark, path)
        val u = updates.columns.foldLeft(updates)((d, c) =>
          d.withColumnRenamed(c, s"__u_$c"))
        val cond = keys.map(k => target(k) === u(s"__u_$k")).reduce(_ && _)
        val matched = u(s"__u_${keys.head}").isNotNull
        target.join(u, cond, "full_outer")
          .select(target.columns.toIndexedSeq.map { c =>
            when(matched, u(s"__u_$c")).otherwise(target(c)).as(c)
          }: _*)
    }
    Versioned.write(merged, path)
    ()
  }

  /** Current committed state of an upsert target. */
  def read(spark: SparkSession, path: String): DataFrame =
    Versioned.read(spark, path)

  /** Targeted erasure (the GDPR delete) over a `partCol`-partitioned
    * parquet target: remove every row whose `keyCol` is in `keys`,
    * rewriting ONLY the partitions that contain such rows — untouched
    * partitions keep their exact files (asserted by mtime in
    * MergeSpec). Returns the affected partition values.
    *
    * Mechanics: survivors of the hit partitions are materialized
    * (localCheckpoint) BEFORE the overwrite — a lazy plan would read
    * the very files the dynamic overwrite replaces; a partition whose
    * every row is erased produces no survivor row, which dynamic
    * overwrite would silently skip, so emptied partitions are removed
    * explicitly.
    *
    * Scale posture: the erase cost is proportional to the partitions
    * the keys live in, never the table — with a key-clustered layout
    * (z-order/bucketing) that is a handful of files per subject. Table
    * formats add a transaction log and deletion vectors on top; the
    * partition-targeted dataflow is the same.
    *
    * Commit: operates IN PLACE on a plain hive-partitioned lake
    * (dynamic partition overwrite), so unlike [[upsert]]/[[Incremental]]
    * the per-partition replacement is not atomic under concurrent
    * readers — acceptable for the erasure use case (convergent,
    * idempotent, re-runnable); route through [[Incremental]] when
    * snapshot-consistent readers are required. */
  def deleteKeys(spark: SparkSession, path: String, partCol: String,
      keyCol: String, keys: Seq[Any],
      maxParts: Int = Incremental.MaxDriverParts): Seq[String] = {
    val target = graft.ParquetRead(spark, path)
    // hit partitions stay a DataFrame for the data path (broadcast
    // semi-join); driver only ever sees the bounded NAME list it needs
    // for the filesystem deletes below. `keys` itself is caller-provided
    // (a GDPR request batch), inherently driver-sized.
    val hitDf = target.filter(col(keyCol).isin(keys: _*))
      .select(col(partCol).cast("string")).distinct()
    val hit = Incremental.collectParts(hitDf, maxParts)
    if (hit.isEmpty) return Nil
    val survivors = Incremental
      .semiRestrict(target, col(partCol).cast("string"), hitDf)
      .filter(!col(keyCol).isin(keys: _*))
      .localCheckpoint()
    // emptied = hit partitions with no survivor row; dynamic overwrite
    // silently skips them, so they are removed explicitly. Computed
    // distributed, collected bounded (⊆ hit) — and BEFORE the overwrite,
    // while hitDf's lazy plan still reads the pre-delete files.
    val emptied = Incremental.collectParts(
      hitDf.toDF("p").except(
        survivors.select(col(partCol).cast("string").as("p"))), maxParts)
    survivors.write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partCol)
      .parquet(path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- emptied)
      fs.delete(new Path(s"$path/$partCol=$p"), true)
    hit
  }
}
