package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: `explain("formatted")` output of registered queries under
  * Bench's session.
  *
  *   runMain graft.tools.Plans                        # rewrites PLANS.md
  *   runMain graft.tools.Plans <outDir> <query>...    # <outDir>/<query>.txt
  *
  * With no arguments it regenerates PLANS.md for the headline queries,
  * committed so plan regressions are visible in review diffs (the
  * readable companion to PlanSpec's hard gates). With a directory and
  * query names it writes one file per query there, the before/after
  * evidence of an optimization, and leaves PLANS.md alone. Plans are
  * taken at SPARK_GRAFT_SF_DIR, default sf0.001 (plan SHAPE is what
  * matters; AQE re-plans at runtime are gated separately in AqeSpec). */
object Plans {

  private val headline = Seq(
    "silver_json_pipeline", // codegen'd decode->parse chain, no UDF
    "join_broadcast_dim",   // BroadcastHashJoin
    "join_range_banded",    // band rewrite: equi join, no nested loop
    "join_asof_native",     // custom AsOfJoinExec, co-partitioned merge
    "tpch_q2",              // decorrelated MIN + TakeOrdered
    "tpch_q21",             // semi + anti on the shared scan
    "topk_orders",          // TakeOrderedAndProject
    "dedup_neardup_pairs",  // banded equi joins only
    "dedup_clusters",       // star-contraction rounds
    "embed_ivf_topk",       // broadcast centroids, probed cells
    "embed_knn_graph_autok", // K∝N cell-bucketed knn, two-phase skinny rank
    "stat_ks_drift",        // grid-sized windows, integer-exact ECDF max
    "text_heavy_guaranteed", // two-pass sketch + broadcast candidates
    "agg_quantile_two_scan", // histogram locate + broadcast-pruned exact pick
    "media_meta",           // mapPartitions decode over the binary lake
    "embed_covariance",     // single-pass Gram aggregation, no explode join
    "stat_ols_brand",       // one-pass sufficient-statistics regression
    "agg_bitmap_distinct",  // bitmap buffers shuffle, never raw keys
    "embed_outlier_lof",    // LOF joins over the knn edge list
    "er_fellegi_sunter",    // brand-blocked pair join, broadcast u-estimate
    "text_wordpiece",       // broadcast vocab map, encode-once-per-word join
    "events_shapley_attrib", // 2^n-bounded containment joins after user rollup
    "media_phash_clusters", // band equi-joins + popcount verify + star rounds
    "stat_auc_lpm",         // bounded score-grid window over the LPM chassis
    "stat_hill_tail",       // WindowGroupLimit top-k rank below the exchange
    // round 12/13 additions worth a committed plan shape:
    "dq_lsh_preflight",     // 3-family bucket histograms, map-side combined
    "dedup_lsh_indexed",    // index scan + broadcast delta band probe
    "media_phash_semdedup", // contraction + broadcast cell join, no pairs
    "media_wav_neardup",    // fp contraction + 4 band joins, popcount inside
    "events_uplift_qini",   // two-level CDF rank over the score grid
    "events_ab_bayes",      // two-level order-statistic rank (no arm sort)
    "dedup_route_audit",    // gate rollup + hot-band argmax, 3-row verdict
    "media_wav_semdedup",   // fp contraction + broadcast 2^7-cell join
    "orders_newsvendor",    // (brand, qty) grid cumulative, bounded windows
    // round 14:
    "dedup_routed_gate",    // priced route + codegen sig probe of the index
    "gold_carrier")         // incremental-served gold: manifest-resolved read

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Bench.session(graft.Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Det.silenceBenignWindowWarning()
    def plan(name: String): String =
      graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode).trim
    if (args.isEmpty) {
      val sections = headline.map { name =>
        s"## `$name`\n\n```\n${plan(name)}\n```\n"
      }
      val md = ("# PLANS — formatted physical plans of the headline queries " +
        "(generated by `graft.tools.Plans`)\n\n" +
        "Shape-level audit trail: regenerate after plan-affecting changes; " +
        "hard assertions live in `PlanSpec`/`AqeSpec`.\n\n") +
        sections.mkString("\n")
      Files.write(Paths.get("PLANS.md"), md.getBytes("UTF-8"))
      println(s"PLANS.md: ${headline.size} plans")
    } else {
      val outDir = Files.createDirectories(Paths.get(args(0)))
      args.drop(1).foreach { name =>
        val f = outDir.resolve(s"$name.txt")
        Files.write(f, (plan(name) + "\n").getBytes("UTF-8"))
        println(f)
      }
    }
    spark.stop()
  }
}
