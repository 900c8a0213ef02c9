package graft.tools

/** Dev utility: run one registered query N times under Bench's session
  * and print per-run seconds. Each run materializes the full rows
  * through the `noop` sink, as Bench does; `graft.tools.Plans` dumps
  * the plan. Usage: `runMain graft.tools.ProfileOne <query> [sfDir] [n]`. */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Bench.session(graft.Bench.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to n) {
      spark.catalog.clearCache() // no cross-run reuse of persist()ed plans
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"== run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
