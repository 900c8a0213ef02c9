package graft.llm

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Workspace}
import graft.sources.Incremental
import org.apache.spark.sql.functions.col

/** `embed_ivf_topk_indexed`: the amortized ANN serving path — answers
  * come from the materialized model and index, and a repeat invocation
  * over an unchanged corpus must NOT rebuild anything (the manifest
  * commits are the witness: their mtimes are stable across calls). */
class IvfTopkIndexedSpec extends SparkSpec {

  test("repeat probe reuses the committed index and is deterministic") {
    val first = Similarity.ivfTopkIndexed(spark, sf0001).collect().toSeq
    assert(first.nonEmpty && first.size == 15) // 5 queries x top-3

    val root = Workspace.cache("ivf", Similarity.IvfIndexVersion, sf0001)
    val manifests = Seq("model", "index").map(t => Paths.get(root, t, "_MANIFEST"))
    val mtimes = manifests.map(Files.getLastModifiedTime(_))

    val second = Similarity.ivfTopkIndexed(spark, sf0001).collect().toSeq
    assert(second == first, "repeat probe diverged")
    assert(manifests.map(Files.getLastModifiedTime(_)) == mtimes,
      "unchanged corpus triggered a model or index rebuild")
  }

  test("a code change with the same corpus rebuilds the model and the index") {
    val work = Files.createTempDirectory("ivf_kernel").toString
    val root = Workspace.cache("ivf", Similarity.IvfIndexVersion, work)
    /** The table's record kernel, and its files rewritten as a build under
      * kernel `old` leaves them: that kernel in the record header, the
      * manifest fingerprints XORed with it instead of the current one. */
    def kernel(table: String): Long = Incremental.readRecord(s"$root/$table").get.kernel
    def age(table: String, old: Long): Unit = {
      val now = kernel(table)
      val rec = Paths.get(root, table, "_SOURCE_FILES")
      val lines = Files.readAllLines(rec).asScala.toSeq
      Files.write(rec, (s"kernel\t${java.lang.Long.toHexString(old)}\tper-file" +: lines.tail)
        .mkString("\n").getBytes("UTF-8"))
      val man = Paths.get(root, table, "_MANIFEST")
      Files.write(man, Files.readAllLines(man).asScala.map { l =>
        val f = l.split("\t", 5)
        (f.take(2) ++ Seq((f(2).toLong ^ now ^ old).toString) ++ f.drop(3)).mkString("\t")
      }.mkString("\n").getBytes("UTF-8"))
    }
    def gen(table: String): Long = Incremental.currentEntries(s"$root/$table").map(_.gen).max
    try {
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .write.parquet(s"$work/embeddings.parquet")
      val first = Similarity.ivfTopkIndexed(spark, work).collect().toSeq
      val (modelK, indexK) = (kernel("model"), kernel("index"))
      val modelFp = Incremental.currentEntries(s"$root/model").head.fp
      assert(indexK == Incremental.dependentKernel(modelK, modelFp))
      // the model and the index kernels are both Similarity$'s code
      // fingerprint: the state an edit to that class finds on disk
      val old = modelK ^ 0x5a5aL
      age("model", old)
      age("index", Incremental.dependentKernel(old, modelFp ^ modelK ^ old))
      val built = Seq("model", "index").map(gen)
      assert(Similarity.ivfTopkIndexed(spark, work).collect().toSeq == first)
      assert(Seq("model", "index").map(gen).zip(built).forall { case (a, b) => a > b },
        "a code change must rebuild the model and the whole index")
      assert(kernel("model") == modelK && kernel("index") == indexK)
    } finally {
      graft.Fs.deleteTree(Paths.get(root))
      graft.Fs.deleteTree(Paths.get(work))
    }
  }

  test("a regenerated or changed corpus leaves one live generation per table") {
    val work = Files.createTempDirectory("ivf_gens").toString
    def write(drop: Boolean): Unit = {
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val max = emb.agg(org.apache.spark.sql.functions.max(col("vec_id"))).head.getLong(0)
      (if (drop) emb.filter(col("vec_id") =!= max) else emb)
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    }
    val root = Workspace.cache("ivf", Similarity.IvfIndexVersion, work)
    /** Per table: the generation directories on disk and the ones the
      * manifest references. */
    def gens(table: String): (Set[Long], Set[Long]) = {
      val s = Files.list(Paths.get(root, table))
      val onDisk = try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("gen=")).map(_.stripPrefix("gen=").toLong).toSet
      finally s.close()
      (onDisk, Incremental.currentEntries(s"$root/$table").map(_.gen).toSet)
    }
    def oneLive(): Map[String, Long] = Seq("model", "index").map { t =>
      val (onDisk, live) = gens(t)
      assert(live.size == 1 && onDisk == live, s"$t: generations $onDisk, referenced $live")
      t -> live.head
    }.toMap
    try {
      write(drop = false)
      val first = Similarity.ivfTopkIndexed(spark, work).collect().toSeq
      val built = oneLive()
      for (_ <- 1 to 2) {
        write(drop = false)
        assert(Similarity.ivfTopkIndexed(spark, work).collect().toSeq == first)
        assert(oneLive() == built, "a regeneration with the same rows rebuilt")
      }
      write(drop = true)
      assert(Similarity.ivfTopkIndexed(spark, work).collect().size == 15)
      val changed = oneLive()
      assert(changed.forall { case (t, g) => g > built(t) },
        s"a corpus change must rebuild the model and the whole index: $built -> $changed")
    } finally {
      graft.Fs.deleteTree(Paths.get(root))
      graft.Fs.deleteTree(Paths.get(work))
    }
  }
}
