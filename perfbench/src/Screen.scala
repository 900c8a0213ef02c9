package perfbench

import scala.util.control.NonFatal

/** Screens registry queries for the registry_mix draw.
  *
  * `Screen --list` prints every registry query with its module.
  * `Screen <lake> <cpus> <query>...` runs each named query twice on the
  * lake (cache cleared in between) and prints one JSON line per query
  * with its module, both latencies, whether both results hashed the
  * same, and any error. */
object Screen {
  def main(args: Array[String]): Unit = {
    val registry = graft.SparkEntry.queries
    if (args.headOption.contains("--list")) {
      registry.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        println(Json.obj(Seq("name" -> name, "module" -> Ctx.moduleOf(fn))))
      }
      return
    }
    val lake = args(0)
    val spark = Main.session(args(1))
    spark.sparkContext.setLogLevel("ERROR")
    graft.Det.silenceBenignWindowWarning()
    args.drop(2).map(n => n -> registry(n)).foreach { case (name, fn) =>
      def once(): (Double, (Long, Long)) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val h = Ctx.materialize(fn(spark, lake))
        ((System.nanoTime() - t0) / 1e9, h)
      }
      val fields: Seq[(String, Any)] =
        try {
          val (s1, h1) = once()
          val (s2, h2) = once()
          Seq("s1" -> s1, "s2" -> s2, "stable" -> (h1 == h2), "rows" -> h1._2)
        } catch { case NonFatal(e) => Seq("error" -> e.toString.take(300)) }
      println(Json.obj(Seq("name" -> name, "module" -> Ctx.moduleOf(fn)) ++ fields))
      System.out.flush()
    }
    spark.stop()
  }
}
