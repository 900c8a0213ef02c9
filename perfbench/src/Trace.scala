package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Engine counters of one operation, summed over its jobs, stages and
  * tasks. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var scanBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Public-listener attribution of Spark's execution to the benchmark's
  * operations: every job carries the operation id in the local property
  * [[Meter.OpKey]] (streaming jobs inherit it from the thread that
  * started the query), and its stages and tasks are charged to that
  * operation. */
final class Meter extends SparkListener {
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val byOp = mutable.Map[String, OpCounters]()
  @volatile private var started = 0L
  @volatile private var ended = 0L

  private def counters(op: String): OpCounters =
    byOp.synchronized(byOp.getOrElseUpdate(op, new OpCounters))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started += 1
    val op = Option(e.properties).map(_.getProperty(Meter.OpKey)).orNull
    if (op != null) {
      e.stageIds.foreach(stageOp.put(_, op))
      counters(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op = stageOp.get(e.stageInfo.stageId)
    if (op != null) {
      val c = counters(op)
      c.stages += 1
      c.tasks += e.stageInfo.numTasks
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    val m = e.taskMetrics
    if (op != null && m != null) {
      val c = counters(op)
      c.runMs += m.executorRunTime
      c.scanBytes += m.inputMetrics.bytesRead
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Waits until every job the listener saw start has also been seen to
    * end: the bus delivers a job's stage and task events before its end
    * event, so the counters are then complete. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      stable = if (started == ended) stable + 1 else 0
    }
  }

  def snapshot(): Map[String, OpCounters] = byOp.synchronized(byOp.toMap)
}

object Meter {
  val OpKey = "perfbench.op"
}

/** One timed region of an operation. `parent` names the enclosing span
  * of the same operation ("" for the operation's root span). */
final case class Span(op: String, name: String, parent: String,
    t0: Long, t1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Spans are kept in memory while tracing is on and written out at the
  * end; untraced runs record nothing. */
final class Tracer {
  @volatile var on = false
  val spans = mutable.ArrayBuffer[Span]()

  def add(op: String, name: String, parent: String, t0: Long, t1: Long): Unit =
    if (on) spans += Span(op, name, parent, t0, t1)

  /** JSON lines, one span each, with its self time (the span minus its
    * direct children). */
  def lines(origin: Long): Seq[String] = {
    val childTime = mutable.Map[(String, String), Long]().withDefaultValue(0L)
    spans.foreach(s => childTime((s.op, s.parent)) += s.t1 - s.t0)
    spans.toSeq.map { s =>
      Json.obj(Seq(
        "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.t0 - origin) / 1e9, "dur_s" -> s.seconds,
        "self_s" -> (s.t1 - s.t0 - childTime((s.op, s.name))) / 1e9))
    }
  }
}

/** Minimal JSON writer for the benchmark's result and span files. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
