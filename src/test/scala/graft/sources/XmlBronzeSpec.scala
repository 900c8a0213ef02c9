package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
import graft.SparkSpec
import graft.pipeline.FlightPipeline

/** XML ingestion boundary (Spark 4 native XML datasource): the
  * encode→decode loop over multi-file XML reproduces the typed silver
  * fixture BIT-EXACTLY (shortest-round-trip double text + correctly
  * rounded parse — lossless by construction). */
class XmlBronzeSpec extends SparkSpec {

  test("XML round trip: row count, schema types, bit-exact value parity") {
    val out = XmlBronze.silverXml(spark, sf0001)
    val src = FlightPipeline.silver(spark, sf0001)
    assert(out.count() == src.count())
    val types = out.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("year") == IntegerType && types("month") == IntegerType)
    assert(types("carrier") == StringType && types("airport_name") == StringType)
    assert(types("arr_delay") == DoubleType && types("carrier_delay") == DoubleType)
    assert(out.exceptAll(src).count() == 0)
    assert(src.exceptAll(out).count() == 0)
  }

  test("streaming XML ingest drains the directory to the same typed rows") {
    import org.apache.spark.sql.streaming.Trigger
    val root = XmlBronze.writeXml(spark, sf0001)
    val q = XmlBronze.silverXmlStream(spark, root)
      .writeStream.format("memory").queryName("xml_stream_sink")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow did not terminate")
    val streamed = spark.table("xml_stream_sink")
    val batch = XmlBronze.silverXml(spark, sf0001)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("XML scan uses the explicit schema (no inference) over 16 files") {
    val root = XmlBronze.writeXml(spark, sf0001)
    val df = XmlBronze.readXml(spark, root)
    assert(df.schema == XmlBronze.readSchema)
    val files = new java.io.File(root).listFiles()
      .filter(f => f.getName.startsWith("part-")).toSeq
    assert(files.size == 16, s"expected 16 xml part files, got ${files.size}")
  }

  test("two lakes get two XML roots, and writing the second leaves the first's record") {
    val other = Files.createTempDirectory("xml_other")
    Files.copy(Paths.get(s"$sf0001/lineitem.parquet"), other.resolve("lineitem.parquet"))
    try {
      val first = XmlBronze.writeXml(spark, sf0001)
      val rec = Paths.get(first, "_SOURCE_FILES")
      val built = Files.getLastModifiedTime(rec)
      val second = XmlBronze.writeXml(spark, other.toString)
      assert(second != first && second == XmlBronze.xmlRoot(other.toString))
      assert(Files.isRegularFile(Paths.get(second, "_SOURCE_FILES")))
      assert(Files.getLastModifiedTime(rec) == built, "the second lake rewrote the first's XML")
    } finally Seq(Paths.get(XmlBronze.xmlRoot(other.toString)), other).foreach(graft.Fs.deleteTree)
  }
}
