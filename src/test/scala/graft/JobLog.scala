package graft

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Lists the Spark jobs a block launches, each by its description when
  * Spark sets one (file listing does), else by the name of its final
  * stage (its call site). Each block runs under its own value of a local
  * property (inherited by the threads Spark starts for it), and the list
  * waits for a marker job submitted after the block: the listener bus
  * delivers job starts in submission order, so once the marker's start
  * has arrived every job of the block has been seen. */
final class JobLog(spark: SparkSession) {
  private val key = "graft.test.joblog"
  /** (tag, description or final stage name) of every tagged job start. */
  private val seen = new ConcurrentLinkedQueue[(String, String)]()
  private val next = new AtomicLong()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        .foreach(t => seen.add(t -> Option(e.properties.getProperty(
          "spark.job.description")).getOrElse(e.stageInfos.maxBy(_.stageId).name)))
  }
  spark.sparkContext.addSparkListener(listener)

  /** `body`'s result and the jobs it launched, named as above. */
  def apply[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = s"block-${next.incrementAndGet()}"
    val prev = sc.getLocalProperty(key)
    val out = try { sc.setLocalProperty(key, tag); body }
    finally sc.setLocalProperty(key, s"$tag-end")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(key, prev)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!seen.asScala.exists(_._1 == s"$tag-end")) {
      require(System.nanoTime() < deadline, "listener never saw the marker job")
      Thread.sleep(5)
    }
    (out, seen.asScala.collect { case (`tag`, site) => site }.toSeq)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
