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
}
