package graft

/** Registry-wide plan audit: EVERY registered query must (a) build and
  * plan without error at sf0.001, (b) contain no CartesianProduct —
  * the plan shape that turns into |A|×|B| work at any scale, and
  * (c) contain no interpreted row-at-a-time UDF node (ScalaUDF /
  * BatchEvalPython) — the codegen killers. Per-query gates live in
  * PlanSpec; this is the blanket no-regression sweep, so a NEW query
  * with a pathological plan fails CI the day it lands, not at the
  * next bench.
  *
  * BroadcastNestedLoopJoin is NOT blanket-banned: the registry's only
  * BNLJ sites are 1-row broadcast aggregates (corpus stats, global
  * totals) and the deliberately-honest `join_range` baseline whose
  * banded rewrite is the scale path — those are asserted individually
  * in PlanSpec.
  *
  * The same pass flags the sort-sampling double-execute: a global ORDER
  * BY plans a `rangepartitioning` exchange whose RangePartitioner runs
  * a sampling job over its whole input, so an object kernel
  * (`MapPartitions`/`MapElements`: a media decode, a fingerprint) below
  * that exchange with no materialized barrier (`Scan ExistingRDD`, the
  * local checkpoint) between runs twice. Found by hand three times
  * (WAV twice, then the image/GIF tier); a query whose plan has the
  * signature without the double run is allowlisted with its reason. */
class RegistryPlanAuditSpec extends SparkSpec {

  /** Queries with the sort-sampling signature but no double run. */
  private val sortSamplingAllowed = Map(
    "media_channel_stats" ->
      "its groupBy exchange materializes the kernel output below the sort")

  test("all registered queries plan clean: no cartesian, no interpreted UDFs") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct"))
          failures += s"$name: CartesianProduct"
        if (plan.contains("ScalaUDF") || plan.contains("BatchEvalPython"))
          failures += s"$name: interpreted UDF node"
        val kernel = plan.contains("MapPartitions") || plan.contains("MapElements")
        if (plan.contains("rangepartitioning") && kernel &&
            !plan.contains("Scan ExistingRDD") && !sortSamplingAllowed.contains(name))
          failures += s"$name: sort sampling re-runs an object kernel " +
            "(no barrier between it and the rangepartitioning exchange)"
      } catch {
        case e: Throwable =>
          failures += s"$name: failed to plan — ${e.getMessage.take(200)}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every oracle key has a registered query (no orphan oracles)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }
}
