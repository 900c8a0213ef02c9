package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.xbean.asm9.{ClassReader, ClassVisitor, ClassWriter, Label,
  MethodVisitor, Opcodes}

/** Round-15 serve-path contract (`Incremental.serve`): the read path of
  * a materialized derivation must cost a manifest-resolved read when
  * the source's FILE METADATA is unchanged — never a per-read row-hash
  * scan (the r14 gold-serve 2.5× floor regression) — while a real
  * source mutation still flows through the row-hash tier and rebuilds
  * exactly the touched partitions. Plus the cache-hygiene guarantee:
  * a changed derive-kernel fingerprint invalidates EVERY committed
  * partition, so an edited kernel can never serve data the old kernel
  * produced. */
class ServeSpec extends SparkSpec {

  private val partCol = "ym"

  private def derive(src: DataFrame): DataFrame =
    src.groupBy(col(partCol))
      .agg(count(lit(1)).as("n_orders"),
        graft.Det.xsum(col("o_totalprice")).as("revenue"))

  private def withFixture(f: (String, String) => Unit): Unit = {
    val work = Files.createTempDirectory("serve_spec").toFile.getAbsolutePath
    graft.Tables(spark, sf0001, "orders")
      .withColumn(partCol, date_format(col("o_orderdate"), "yyyy-MM"))
      .write.parquet(s"$work/source")
    f(s"$work/source", s"$work/gold")
  }

  private def readSrc(p: String) = spark.read.parquet(p)

  test("unchanged source serves read-only; mutation refreshes one partition") {
    withFixture { (srcPath, outPath) =>
      val first = Incremental.serve(spark, readSrc(srcPath), partCol,
        derive, outPath).collect().toSet
      assert(first.nonEmpty)
      val manifest = Paths.get(outPath, "_MANIFEST")
      val sig = Paths.get(outPath, "_SOURCE_FILES")
      assert(Files.exists(manifest) && Files.exists(sig),
        "serve must commit both the manifest and the freshness record")
      val mMtime = Files.getLastModifiedTime(manifest)
      val sMtime = Files.getLastModifiedTime(sig)

      // repeat serve: identical rows, and NEITHER commit artifact is
      // rewritten — the witness that the file-metadata gate short-
      // circuited before the refresh (a refresh over a fresh source
      // commits nothing, but the record rewrite would bump sMtime)
      val second = Incremental.serve(spark, readSrc(srcPath), partCol,
        derive, outPath).collect().toSet
      assert(second == first)
      assert(Files.getLastModifiedTime(manifest) == mMtime &&
        Files.getLastModifiedTime(sig) == sMtime,
        "unchanged source must not re-commit")

      // mutate ONE month: the gate trips, the row-hash tier localizes
      // the rebuild to that month, and the serve reflects the new row
      val target = "1995-03"
      readSrc(srcPath).filter(col(partCol) === target).limit(1)
        .withColumn("o_orderkey", lit(888888888L))
        .write.mode("append").parquet(srcPath)
      def genDirOf(part: String) = Incremental.currentEntries(outPath)
        .find(_.part == part).map(e => (e.gen, e.dir)).get
      val untouched = genDirOf("1995-04")
      val third = Incremental.serve(spark, readSrc(srcPath), partCol,
        derive, outPath)
      val n = third.filter(col(partCol) === target)
        .select("n_orders").head.getLong(0)
      val exp = readSrc(srcPath).filter(col(partCol) === target).count()
      assert(n == exp, "serve after mutation must reflect the new row")
      assert(genDirOf(target)._1 > untouched._1,
        "the mutated month must live in a NEW generation")
      assert(genDirOf("1995-04") == untouched,
        "an untouched month must keep its committed generation")
    }
  }

  test("a kernel fingerprint change invalidates every committed partition") {
    withFixture { (srcPath, outPath) =>
      def d1(src: DataFrame): DataFrame =
        src.groupBy(col(partCol)).agg(count(lit(1)).as("n"))
      def d2(src: DataFrame): DataFrame =
        src.groupBy(col(partCol)).agg((count(lit(1)) * 2).as("n"))
      val v1 = Incremental.serve(spark, readSrc(srcPath), partCol,
        d1 _, outPath, kernelFp = Some(1L))
        .agg(sum(col("n"))).head.getLong(0)

      // the HAZARD the fingerprint exists to close, pinned as spec:
      // an edited kernel under an UNCHANGED fingerprint serves the old
      // kernel's data (this is exactly what a same-file lambda edit
      // looked like before round 15, when nothing hashed the kernel)
      val stale = Incremental.serve(spark, readSrc(srcPath), partCol,
        d2 _, outPath, kernelFp = Some(1L))
        .agg(sum(col("n"))).head.getLong(0)
      assert(stale == v1, "unchanged fp must serve the committed data")

      // fingerprint bump: every partition reads stale, the whole table
      // rebuilds under the new kernel in one refresh
      val fresh = Incremental.serve(spark, readSrc(srcPath), partCol,
        d2 _, outPath, kernelFp = Some(2L))
        .agg(sum(col("n"))).head.getLong(0)
      assert(fresh == 2 * v1,
        s"fp change must rebuild under the new kernel (got $fresh, want ${2 * v1})")
    }
  }

  test("deriveFingerprint hashes the enclosing classfile, deterministically") {
    val a = Incremental.deriveFingerprint(derive _)
    val b = Incremental.deriveFingerprint(derive _)
    assert(a == b, "same kernel must fingerprint identically across expansions")
    assert(a != 0L)
  }

  /** `classfile` re-emitted through ASM with every line number mapped by
    * `line` and every `ldc` constant by `ldc`. */
  private def rewrite(classfile: Array[Byte], line: Int => Int,
      ldc: AnyRef => AnyRef): Array[Byte] = {
    val out = new ClassWriter(0)
    new ClassReader(classfile).accept(new ClassVisitor(Opcodes.ASM9, out) {
      override def visitMethod(access: Int, name: String, desc: String,
          sig: String, exceptions: Array[String]): MethodVisitor =
        new MethodVisitor(Opcodes.ASM9, super.visitMethod(access, name, desc, sig, exceptions)) {
          override def visitLineNumber(l: Int, start: Label): Unit =
            super.visitLineNumber(line(l), start)
          override def visitLdcInsn(v: AnyRef): Unit = super.visitLdcInsn(ldc(v))
        }
    }, 0)
    out.toByteArray
  }

  test("the kernel fingerprint ignores line numbers and sees a changed constant") {
    val cls = "graft.sources.Incremental$"
    val in = getClass.getClassLoader.getResourceAsStream(s"${cls.replace('.', '/')}.class")
    val bytes = try in.readAllBytes() finally in.close()
    val same = rewrite(bytes, identity, identity)
    val shifted = rewrite(bytes, _ + 2, identity)
    assert(!java.util.Arrays.equals(same, shifted), "no line number was shifted")
    assert(Incremental.codeFingerprint(cls, shifted) == Incremental.codeFingerprint(cls, bytes))
    val edited = rewrite(bytes, identity, {
      case "_MANIFEST" => "_MANIFEST2"
      case v => v
    })
    assert(!java.util.Arrays.equals(same, edited), "no constant was changed")
    assert(Incremental.codeFingerprint(cls, edited) != Incremental.codeFingerprint(cls, bytes))
  }
}
