package graft.llm

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Workspace}

/** `embed_ivf_topk_indexed`: the amortized ANN serving path — answers
  * come from the fingerprint-keyed materialized index, and a repeat
  * invocation over an unchanged corpus must NOT rebuild anything (the
  * manifest commit is the witness: its mtime is stable across calls). */
class IvfTopkIndexedSpec extends SparkSpec {

  test("repeat probe reuses the committed index and is deterministic") {
    val first = Similarity.ivfTopkIndexed(spark, sf0001).collect().toSeq
    assert(first.nonEmpty && first.size == 15) // 5 queries x top-3

    // the committed manifest for this corpus fingerprint
    val manifest = {
      val walk = Files.walk(Paths.get(Workspace.cache("ivf", Similarity.IvfIndexVersion, sf0001)))
      try walk.iterator().asScala.filter(_.getFileName.toString == "_MANIFEST")
        .maxBy(Files.getLastModifiedTime(_))
      finally walk.close()
    }
    val mtime = Files.getLastModifiedTime(manifest)

    val second = Similarity.ivfTopkIndexed(spark, sf0001).collect().toSeq
    assert(second == first, "repeat probe diverged")
    assert(Files.getLastModifiedTime(manifest) == mtime,
      "unchanged corpus triggered an index rebuild")
  }

  test("a regenerated corpus leaves one fp= root: superseded roots are deleted") {
    val work = Files.createTempDirectory("ivf_roots").toString
    def regenerate(): Unit =
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    val lakeKey = Paths.get(Workspace.cache("ivf", Similarity.IvfIndexVersion, work))
    def roots() = {
      val s = Files.list(lakeKey)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("fp=")).toList.sorted
      finally s.close()
    }
    try {
      regenerate()
      val first = Similarity.ivfTopkIndexed(spark, work).collect().toSeq
      val firstRoots = roots()
      assert(firstRoots.size == 1)
      for (_ <- 1 to 2) {
        regenerate()
        assert(Similarity.ivfTopkIndexed(spark, work).collect().toSeq == first)
        val now = roots()
        assert(now.size == 1 && now != firstRoots, s"IVF roots after a regeneration: $now")
      }
    } finally {
      graft.Fs.deleteTree(lakeKey)
      graft.Fs.deleteTree(Paths.get(work))
    }
  }
}
