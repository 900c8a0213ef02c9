package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off sf1 scale rehearsal (dev tool, not part of the gated bench):
  * amplifies the sf0.1 `documents`/`embeddings` tables 10× with a
  * deterministic mix of near-duplicates (even copy index — head/tail
  * salted, shingle structure mostly preserved) and fully distinct docs
  * (odd copy index — every word re-hashed), then drives the
  * dedup → cluster and ANN chains end-to-end, recording per-stage wall
  * time, output rows, shuffle read/write volume, and the LSH/IVF bucket
  * second moments (Σ|bucket|²) that the 100 TB scale claims rest on.
  * Results land in SCALE.md.
  *
  * Amplification happens in `target/rehearsal` — the driver's testdata
  * tree is never touched. Runs under Bench's session at
  * `SPARK_GRAFT_CPUS` slots (SCALE.md's rehearsals ran at 32).
  */
object ScaleRehearsal {

  private class ShuffleMeter extends SparkListener {
    @volatile var read = 0L
    @volatile var write = 0L
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        read += m.shuffleReadMetrics.totalBytesRead
        write += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    // optional 3rd arg: comma-separated stage-name filter, so a new
    // operator's growth row doesn't require re-running the whole chain
    val onlyStages = args.lift(2).map(_.split(",").toSet)
    val dir = "target/rehearsal"
    val spark = graft.Bench.session(graft.Bench.cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- amplify ----
    val k = explode(sequence(lit(0), lit(copies - 1))).as("k")
    spark.read.parquet(s"$srcDir/documents.parquet")
      .select($"*", k)
      .select(
        ($"doc_id" + $"k" * 10000000L).as("doc_id"),
        when($"k" === 0, $"text")
          .when($"k" % 2 === 1, concat_ws(" ",
            expr("transform(split(text, ' '), w -> substr(md5(concat(w, '#', CAST(k AS STRING))), 1, 8))")))
          .otherwise(concat_ws(" ",
            concat(lit("v"), $"k".cast("string")), $"text",
            md5(concat($"doc_id".cast("string"), lit("/"), $"k".cast("string")))))
          .as("text"),
        $"lang", $"source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select($"*", k)
      .select(
        ($"vec_id" + $"k" * 10000000L).as("vec_id"),
        when($"k" === 0, $"embedding")
          .when($"k" % 2 === 1,
            expr("reverse(transform(embedding, x -> CAST(-x AS FLOAT)))"))
          .otherwise(expr(
            "transform(embedding, x -> CAST(x + k * 0.0004 AS FLOAT))"))
          .as("embedding"),
        $"label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // events: each copy is an independent user population (ids offset,
    // histories preserved) — journey counts grow linearly while the
    // K×K transition/scenario structures the attribution tier iterates
    // on stay FIXED, which is exactly the scale claim to rehearse
    spark.read.parquet(s"$srcDir/events.parquet")
      .select($"*", k)
      .select(
        ($"event_id" + $"k" * 1000000000L).as("event_id"),
        $"ts",
        ($"user_id" + $"k" * 10000000L).as("user_id"),
        $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // orders/lineitem (round 12): each copy is an independent customer/
    // part population — order keys offset in lockstep across the two
    // tables so the orders⋈lineitem join stays exact, so the bipartite
    // purchase graph (graph_hits_bipartite) and the per-part demand
    // series (orders_croston) grow as `copies` DISJOINT instances:
    // edge volume and part count scale linearly while per-part series
    // length and the score-vector iteration structure stay fixed —
    // exactly the claim those operators make
    spark.read.parquet(s"$srcDir/orders.parquet")
      .select($"*", k)
      .withColumn("o_orderkey", $"o_orderkey" + $"k" * 1000000000L)
      .withColumn("o_custkey", $"o_custkey" + $"k" * 100000000L)
      .drop("k")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.read.parquet(s"$srcDir/lineitem.parquet")
      .select($"*", k)
      .withColumn("l_orderkey", $"l_orderkey" + $"k" * 1000000000L)
      .withColumn("l_partkey", $"l_partkey" + $"k" * 100000000L)
      .withColumn("l_suppkey", $"l_suppkey" + $"k" * 100000000L)
      .drop("k")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // part/customer (round 13): dimension copies in lockstep with the
    // fact-key offsets above, so dim⋈fact joins stay exact — the brand
    // and nation grids stay FIXED per copy while observation counts
    // grow linearly (the newsvendor/EOQ/FD-audit scale claim)
    spark.read.parquet(s"$srcDir/part.parquet")
      .select($"*", k)
      .withColumn("p_partkey", $"p_partkey" + $"k" * 100000000L)
      .drop("k")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    spark.read.parquet(s"$srcDir/customer.parquet")
      .select($"*", k)
      .withColumn("c_custkey", $"c_custkey" + $"k" * 100000000L)
      .drop("k")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val nEvts = spark.read.parquet(s"$dir/events.parquet").count()
    println(s"amplified: $nDocs docs, $nVecs vectors, $nEvts events " +
      s"(x$copies from $srcDir)")

    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    def stage(name: String)(df: => DataFrame): Unit = {
      if (onlyStages.exists(!_.contains(name))) return
      val (r0, w0) = (meter.read, meter.write)
      val t0 = System.nanoTime()
      val rows = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      println(f"| $name | $rows | $secs%.1f | ${(meter.read - r0) / 1e6}%.1f | ${(meter.write - w0) / 1e6}%.1f |")
    }

    println("| stage | rows out | sec | shuffle read MB | shuffle write MB |")
    println("|---|---|---|---|---|")
    stage("dedup_minhash_sig")(graft.llm.Dedup.minhashSig(spark, dir))
    // OPH head-to-head: same corpus, one md5 per shingle instead of four
    stage("dedup_minhash_oph")(graft.llm.Dedup.minhashOph(spark, dir))
    // bucket second moment — the number that bounds candidate work
    val sig = graft.llm.Dedup.minhashSig(spark, dir).cache()
    val sq = sig.groupBy("band_a").count().agg(sum($"count" * $"count")).head.getLong(0)
    val sqB = sig.groupBy("band_b").count().agg(sum($"count" * $"count")).head.getLong(0)
    val maxBucket = sig.groupBy("band_a").count().agg(max("count")).head.getLong(0)
    println(f"Σ|bucket|² band_a=$sq band_b=$sqB max|bucket|=$maxBucket corpus²=${nDocs * nDocs}")
    stage("dedup_neardup_pairs")(graft.llm.Dedup.neardupPairs(spark, dir))
    stage("dedup_clusters")(graft.llm.Cluster.clusters(spark, dir))
    stage("graph_label_prop")(graft.llm.Cluster.labelProp(spark, dir))
    // chunk-level exact dedup: one explode + one hash groupBy
    stage("dedup_chunk_exact")(graft.llm.Dedup.chunkExact(spark, dir))
    stage("dedup_keep_best")(graft.llm.Cluster.keepBest(spark, dir))
    // IVF cell second moment
    val cells = spark.read.parquet(s"$dir/embeddings.parquet")
      .groupBy("label").count()
    val csq = cells.agg(sum($"count" * $"count")).head.getLong(0)
    println(f"IVF Σ|cell|²=$csq vs corpus²=${nVecs * nVecs}")
    // single-pass Gram covariance: shuffle bytes should stay ~flat
    // (one 2 KB buffer per partition) while scan rows grow with copies
    stage("embed_covariance")(graft.llm.Similarity.covariance(spark, dir))
    stage("embed_ivf_topk")(graft.llm.Similarity.ivfTopk(spark, dir))
    stage("embed_ivf_autok")(graft.llm.Similarity.ivfAutoK(spark, dir))
    // the K∝N claim: auto-K cells keep Σ|cell|² ≈ 250·N (linear) while
    // the fixed-K label cells above grow as N²/K
    val autok = graft.llm.Similarity.ivfAutoK(spark, dir).cache()
    val aSq = autok.agg(sum($"n_vectors" * $"n_vectors")).head.getLong(0)
    val aMax = autok.agg(max($"n_vectors")).head.getLong(0)
    val aK = autok.select("k").head.getLong(0)
    println(s"auto-K: K=$aK Σ|cell|²=$aSq max|cell|=$aMax " +
      s"(fixed-K Σ|cell|²=$csq, 250·N=${250 * nVecs})")
    // The fixed-label knn is the PROVEN superlinear stage (root-caused at
    // ×25: Σ|bucket|² = N²/K at fixed K — SCALE.md:235). Re-measuring it
    // at ×100 would cost ~an hour to re-prove a settled point, so high
    // copy counts run only the scale-safe composition it motivates.
    if (copies <= 10)
      stage("embed_knn_graph")(graft.llm.Similarity.knnGraph(spark, dir))
    else
      println(s"| embed_knn_graph | skipped at x$copies (superlinear, root-caused at x25) | | | |")
    // the composition the scale story ends on: same k-NN output contract,
    // bucketed by the K∝N cells instead of the fixed label buckets
    stage("embed_knn_graph_autok")(graft.llm.Similarity.knnGraphAutoK(spark, dir))
    // LOF rides the auto-K knn edge list: joins+aggs over |V|·k rows
    stage("embed_outlier_lof")(graft.llm.Similarity.lofOutliers(spark, dir))
    // round-8 continuation tier: each rides an already-measured chassis
    // (candidate graph, auto-K cells, term dictionary, decoded pixels)
    stage("graph_modularity")(graft.llm.Cluster.modularity(spark, dir))
    stage("embed_triplets")(graft.llm.Similarity.triplets(spark, dir))
    stage("text_burstiness")(graft.llm.TextStats.burstiness(spark, dir))
    stage("corpus_quality_lpm")(graft.llm.Curate.qualityLpm(spark, dir))
    stage("dq_k_anonymity")(graft.star.Warehouse.kAnonymity(spark, dir))
    // FIXTURE SPLIT (round 14, r13 verdict item 5): the media lakes are
    // fixture GENERATION (PNG/BMP/WAV encode of the amplified corpus),
    // not operator work — ×25 media_image_entropy was 115.5 s of which
    // most was this one-time encode. Warm both lakes here as their own
    // timed rows so every media stage below grades the OPERATOR only.
    val mediaBacked = (n: String) => n.startsWith("media") ||
      n.startsWith("dq_lsh") || n.startsWith("dedup_route")
    if (!onlyStages.exists(s => !s.exists(mediaBacked))) {
      val tImg = System.nanoTime()
      graft.multimodal.Media.writeImages(spark, dir)
      println(f"| fixture_image_lake_encode | - | ${(System.nanoTime() - tImg) / 1e9}%.1f | - | - |")
      val tWav = System.nanoTime()
      graft.multimodal.Media.writeWavs(spark, dir)
      println(f"| fixture_wav_lake_encode | - | ${(System.nanoTime() - tWav) / 1e9}%.1f | - | - |")
    }
    stage("media_channel_stats")(
      graft.multimodal.Media.channelStatsQuery(spark, dir))
    // round 9: variable-length maximal-match dedup (candidate-driven
    // anchor join — the amplifier's duplicate families are its worst
    // case), bigram-LM scoring (two |tokens|-row aggs + one join), and
    // the two tokenizer apply tiers (encode-once-per-distinct-word)
    stage("dedup_max_span")(graft.llm.Curate.maxSpan(spark, dir))
    stage("text_lm_surprisal")(graft.llm.Curate.lmSurprisal(spark, dir))
    stage("text_unigram_tokenize")(
      graft.llm.Curate.unigramTokenize(spark, dir))
    stage("embed_binary_quant")(graft.llm.Similarity.binaryQuant(spark, dir))
    // round 9 (second wave): the composed curation funnel (its decontam
    // leg joins the corpus shingle stream to the broadcast eval set —
    // the amplifier's duplicate families stress the groupBy), hybrid
    // RRF (|tokens| broadcast semi-join + two WindowGroupLimit legs),
    // Poisson bootstrap (B×|users| grid, event-volume-independent),
    // and the A-ES stratified sample (WindowGroupLimit reservoir)
    stage("corpus_pipeline_funnel")(
      graft.llm.Curate.pipelineFunnel(spark, dir))
    stage("embed_rrf_hybrid")(graft.llm.Similarity.rrfHybrid(spark, dir))
    stage("corpus_weighted_sample")(
      graft.llm.Curate.weightedSample(spark, dir))
    // round 9 (third wave): greedy k-center (k rounds × N broadcast
    // dots — the linear-per-round claim), DSIR score→resample
    // composition (vocab-bounded aggs + WindowGroupLimit), Zipf OLS
    // (vocab groupBy + per-lang top-1000 windows)
    stage("embed_kcenter_coreset")(
      graft.llm.Similarity.kcenterCoreset(spark, dir))
    stage("corpus_dsir_resample")(graft.llm.Curate.dsirResample(spark, dir))
    stage("text_zipf_fit")(graft.llm.TextStats.zipfFit(spark, dir))
    // round 9 (fourth wave): KN smoothing (|tokens|-row bigram aggs +
    // |bigram-types| reaggs), WordPiece apply (encode-once-per-distinct-
    // word over a bounded vocab), synchronous Louvain (one degree agg +
    // one edge join), t-closeness (|QI×band| grid windows), Brier bins
    // (rides the LPM chassis), mutual kNN (self-join over |V|·k edges —
    // rides knnGraph's fixed-label buckets, so it inherits that stage's
    // high-copy guard)
    stage("text_kneser_ney")(graft.llm.Curate.kneserNey(spark, dir))
    stage("text_wordpiece")(graft.llm.Curate.wordpieceTokenize(spark, dir))
    stage("graph_louvain_step")(graft.llm.Cluster.louvainStep(spark, dir))
    stage("dq_t_closeness")(graft.star.Inference.tCloseness(spark, dir))
    stage("stat_brier_calibration")(
      graft.star.Inference.brierCalibration(spark, dir))
    if (copies <= 25)
      stage("embed_mutual_knn")(graft.llm.Similarity.mutualKnn(spark, dir))
    else
      println(s"| embed_mutual_knn | skipped at x$copies (rides the fixed-label knn, superlinear — the autoK composition is the measured path) | | | |")
    stage("embed_mutual_knn_autok")(
      graft.llm.Similarity.mutualKnnAutoK(spark, dir))
    // round 9 (seventh wave): URL canonicalization (map-only expression
    // chain + one canonical-key groupBy) and the three-family tokenizer
    // bake-off (three word-grain encoders + one shared token scan)
    stage("dedup_url_canonical")(graft.llm.Dedup.urlCanonical(spark, dir))
    stage("text_tokenizer_trio")(graft.llm.Curate.tokenizerTrio(spark, dir))
    // round 10: collocation LLR + TextRank (both bounded by the bigram
    // vocabulary, which Heaps-grows sublinearly), readability (map-only
    // rollup), AUC (rides the LPM chassis + the bounded quantized-score
    // grid), Heaps fit (the vocabGrowth chassis + |buckets| OLS),
    // BFS layers (4 frontier equi-joins over the candidate graph),
    // JL distortion (linear successor-pair equi-join, 33 dots/pair)
    stage("text_dunning_llr")(graft.llm.Search.dunningLlr(spark, dir))
    stage("text_textrank")(graft.llm.Search.textrank(spark, dir))
    stage("text_readability")(graft.llm.TextStats.readability(spark, dir))
    stage("stat_auc_lpm")(graft.star.Inference.aucLpm(spark, dir))
    stage("text_heaps_fit")(graft.llm.Curate.heapsFit(spark, dir))
    stage("graph_bfs_layers")(graft.llm.Cluster.bfsLayers(spark, dir))
    stage("embed_jl_distortion")(
      graft.llm.Similarity.jlDistortion(spark, dir))
    // round 10, late wave: LM gap (two vocab-bounded count tables +
    // one bigram-key scoring join), DP release (|cells| map), cluster
    // purity (rides the measured star-contraction chassis)
    stage("text_lm_gap")(graft.llm.Curate.lmGap(spark, dir))
    stage("dq_dp_release")(graft.star.Warehouse.dpRelease(spark, dir))
    stage("dedup_cluster_purity")(
      graft.llm.Cluster.clusterPurity(spark, dir))
    // round 11: attribution tier over the amplified events (one
    // user-keyed window pass; all iteration on K-bounded frames),
    // the NMI/ARI companion on the star-contraction chassis, the
    // two-NN intrinsic dimension on the auto-K cells, and the full
    // image-dedup composition (decode + LSH + 1-job-per-round CC)
    stage("events_shapley_attrib")(
      graft.star.Attribution.shapleyAttribution(spark, dir))
    stage("events_attrib_removal")(
      graft.star.Attribution.removalAttribution(spark, dir))
    stage("dedup_cluster_nmi_ari")(
      graft.llm.Cluster.clusterNmiAri(spark, dir))
    stage("embed_intrinsic_dim")(
      graft.llm.Similarity.intrinsicDim(spark, dir))
    stage("media_phash_clusters")(
      graft.multimodal.Media.phashClusters(spark, dir))
    // round 12: the checkpointed HITS iteration (the row r11 owed),
    // seeded PPR (same chassis), the LSH pre-flight gate (strictly
    // cheaper than the first dedup shuffle it prices), the coarse
    // semdedup contract (the linear-output fallback for the regime
    // that killed pairwise banding at ×100 — THE row that proves it),
    // the delta-probe served from the incremental signature index,
    // and the two embedding audits (broadcast-K map pass + bounded
    // probe legs)
    stage("graph_hits_bipartite")(
      graft.llm.Cluster.hitsBipartite(spark, dir))
    stage("graph_ppr_seeded")(graft.llm.Cluster.pprSeeded(spark, dir))
    // round 14: the gate rides the index tier — the FIRST invocation
    // builds the sig/phash/wav indexes (one-time, amortized across
    // every later gate run and the indexed dedup/ANN serves), the
    // second is the steady-state serve. Both rows are the receipt.
    stage("dq_lsh_preflight_build")(graft.llm.Dedup.lshPreflight(spark, dir))
    stage("dq_lsh_preflight")(graft.llm.Dedup.lshPreflight(spark, dir))
    stage("media_phash_semdedup")(
      graft.multimodal.Media.phashSemDedup(spark, dir))
    stage("dedup_lsh_indexed")(graft.llm.Dedup.lshIndexed(spark, dir))
    stage("embed_silhouette")(graft.llm.Similarity.silhouette(spark, dir))
    stage("embed_ann_ndcg")(graft.llm.Similarity.annNdcg(spark, dir))
    stage("media_wav_fingerprint")(
      graft.multimodal.Media.wavFingerprintQuery(spark, dir))
    stage("orders_croston")(graft.star.Calendar.croston(spark, dir))
    stage("stat_kruskal_wallis")(
      graft.star.Aggs.statKruskalWallis(spark, dir))
    stage("stat_friedman")(graft.star.Aggs.statFriedman(spark, dir))
    stage("events_uplift_qini")(graft.star.Warehouse.upliftQini(spark, dir))
    stage("graph_adamic_adar")(graft.llm.Cluster.adamicAdar(spark, dir))
    stage("media_wav_neardup")(graft.multimodal.Media.wavNeardup(spark, dir))
    stage("parts_abc_xyz")(graft.star.Warehouse.abcXyz(spark, dir))
    // round 13: the two-level-rank Bayesian readout (the selection
    // stage must stay flat-ish — the r12 verdict's weak item), the
    // productized routing decision (×100 must route the
    // hash-degenerate phash family coarse and the text family
    // pairwise — printed per family), the coarse audio tier, and the
    // bounded-grid stat/inventory/diffusion/DQ rows
    stage("events_ab_bayes")(graft.star.Warehouse.abBayes(spark, dir))
    if (!onlyStages.exists(!_.contains("dedup_route_audit"))) {
      val (r0, w0) = (meter.read, meter.write)
      val t0 = System.nanoTime()
      val ra = graft.llm.Dedup.routeAudit(spark, dir).collect()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"| dedup_route_audit | ${ra.length} | $secs%.1f | " +
        f"${(meter.read - r0) / 1e6}%.1f | ${(meter.write - w0) / 1e6}%.1f |")
      ra.foreach(r => println(s"route: ${r.mkString(" | ")}"))
    }
    stage("media_wav_semdedup")(
      graft.multimodal.Media.wavSemDedup(spark, dir))
    stage("stat_welch_ttest")(graft.star.Warehouse.welchTTest(spark, dir))
    stage("stat_mcnemar")(graft.star.Warehouse.mcnemar(spark, dir))
    stage("stat_cochran_q")(graft.star.Aggs.statCochranQ(spark, dir))
    stage("orders_newsvendor")(graft.star.Calendar.newsvendor(spark, dir))
    stage("parts_eoq")(graft.star.Calendar.partsEoq(spark, dir))
    stage("events_bass_diffusion")(
      graft.star.Calendar.bassDiffusion(spark, dir))
    stage("dq_fd_violations")(graft.star.Inference.fdViolations(spark, dir))
    stage("graph_pseudo_diameter")(
      graft.llm.Cluster.pseudoDiameter(spark, dir))
    // round-13 second wave: the image-modality entropy filter (decode
    // scan + histogram shuffle bounded at 256 rows/image), the
    // obsolescence-aware TSB fold (dense per-part grids), and three
    // bounded-grid planning/survival rows
    stage("media_image_entropy")(
      graft.multimodal.Media.imageEntropy(spark, dir))
    stage("orders_croston_tsb")(graft.star.Calendar.crostonTsb(spark, dir))
    stage("orders_safety_stock")(
      graft.star.Calendar.safetyStock(spark, dir))
    stage("events_hazard_table")(
      graft.star.EventWindows.hazardTable(spark, dir))
    stage("orders_abc_migration")(
      graft.star.Warehouse.abcMigration(spark, dir))
    spark.stop()
  }
}
