package graft
import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: one JSON line with per-query seconds over SPARK_GRAFT_SF_DIR.
 *
 * Measures STEADY-STATE throughput: each query executes once untimed (Catalyst analysis,
 * Janino/whole-stage-codegen class compilation, broadcast builds — one-time costs a
 * long-running engine amortizes across thousands of executions) and the second execution
 * is timed. Cold single-shot times at small SF are dominated by plan compilation
 * (~0.5-1.5 s/query measured), which says nothing about 100 TB scan/shuffle efficiency —
 * the thing this benchmark exists to track.
 *
 * Output-size discipline: the driver captures only a bounded TAIL of stdout (~2 KB
 * measured in rounds 1-2 — both recorded `parsed: null` because the full 120-query
 * JSON line was longer than the capture window and lost its opening brace). The line
 * therefore (a) rounds times to milliseconds and (b) details only the headline queries,
 * folding the rest into `other_sec` — while `value` stays the TOTAL across all queries.
 *
 * Timeout survivability (r13, after BENCH_r12 recorded rc=124/parsed:null): a bounded
 * `"partial":true` checkpoint line is emitted every 25 queries so a mid-run kill still
 * leaves the latest cumulative state in the captured tail, and past a soft wall budget
 * (SPARK_GRAFT_BUDGET_SEC, default 1500 s — only a degraded host ever crosses it)
 * remaining queries run ONCE, cold, instead of warm-up+timed (counted in
 * `n_single_exec`) so the suite finishes inside the driver's timeout.
 */
object Bench {
  /** Build `df` and execute its FULL plan; returns the seconds both took. `count()`
    * would let Catalyst prune every final projection (pure-projection queries would time
    * nothing); the noop sink runs each operator and expression end-to-end and discards
    * rows executor-side — no driver collect. Then, untimed, free the pins the frame still
    * reads (`Pins.release`; every operator frees the rest itself): pins left in place
    * accumulate across the suite and degrade later queries' block-manager behavior
    * (q_pagerank measured 13.8 s in-suite vs 3.0 s isolated when they did), so a leak
    * shows up in the sweep instead of being wiped. */
  private def exec(df: => org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    val frame = df
    try { frame.write.format("noop").mode("overwrite").save(); (System.nanoTime() - t0) / 1e9 }
    finally Pins.release(frame)
  }

  /** Queries that get a per-name entry in the emitted JSON (the rest aggregate into
    * `other_sec`): the whole TPC-H + DS packs and the heaviest pipeline operators —
    * the ones whose regressions matter at 100 TB. */
  private val Headline: Set[String] = Set(
    "tpch_q1", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q7", "tpch_q8",
    "tpch_q9", "tpch_q10", "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q17",
    "tpch_q18", "tpch_q19", "tpch_q21", "tpch_q22",
    "q_ds_channels", "q_ds_grouping", "q_ds_yoy", "q_ds_above_avg", "q_ds_snowflake",
    "q_ds_topn_window", "q_ds_cross_channel", "q_ds_exists_chain", "q_ds_multi_band",
    "text_bm25", "q_profile",
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_components", "dedup_corpus", "dedup_embedding", "dedup_embedding_exact",
    "ann_bruteforce", "ann_lsh", "ann_ivf",
    "text_quality", "text_tokens", "text_langid", "text_fingerprint",
    "q_count_distinct", "q_window_rank", "q_percentile", "q_percentile_sort",
    "q_join_large", "q_range_join",
    "q_asof_join", "q_topk_per_key", "multimodal_decode", "sample_stratified",
    "text_chunk", "dedup_winnow", "dedup_contamination", "sample_split", "sample_per_key",
    "dedup_segments", "dedup_spans", "text_perplexity", "sample_shuffle",
    "ann_quantized", "ann_rrf", "q_ds_rollup_topn", "q_ds_cumulative",
    "q_ds_reachability",
    "q_triangles", "q_pagerank", "q_bfs",
    // r12: the heaviest sf1 entries that previously hid inside other_sec — the
    // driver's stdout line should see a regression in these, not a file diff
    "q_sssp", "q_label_prop", "q_rfm", "q_basket_lift",
    "q_feature_mi", "text_kn_top", "text_tfidf",
    // r14 (VERDICT r13 What's-wrong #1): the blind spots the r13 driver run exposed —
    // q_kcore was the #1 sf1 entry and q_equidepth_bins the #2 sf0.1 entry, both
    // invisible inside other_sec (also drops the duplicate q_ds_reachability literal)
    "q_kcore", "q_equidepth_bins", "q_mad_outliers", "q_json_funcs",
    "q_cms_rollup", "text_zipf",
    "tpch_q2", "tpch_q11", "tpch_q16", "tpch_q20",
    "tpcds_q6", "tpcds_q51", "tpcds_q67", "tpcds_q74", "tpcds_q27", "tpcds_q68",
    "tpcds_q10", "tpcds_q43", "tpcds_q46", "tpcds_q53", "tpcds_q59", "tpcds_q63",
    "tpcds_q65", "tpcds_q89", "tpcds_ss_max",
    "tpcds_q1", "tpcds_q2", "tpcds_q9", "tpcds_q21", "tpcds_q25", "tpcds_q29",
    "tpcds_q31", "tpcds_q37", "tpcds_q50", "tpcds_q82", "tpcds_q88", "tpcds_q93",
    "tpcds_q97",
    "tpcds_q13", "tpcds_q15", "tpcds_q20", "tpcds_q22", "tpcds_q32", "tpcds_q45",
    "tpcds_q48", "tpcds_q58", "tpcds_q69", "tpcds_q86", "tpcds_q87", "tpcds_q96",
    "tpcds_q5", "tpcds_q26", "tpcds_q30", "tpcds_q33", "tpcds_q40", "tpcds_q56",
    "tpcds_q60", "tpcds_q61", "tpcds_q71", "tpcds_q77", "tpcds_q78", "tpcds_q80",
    "tpcds_q81", "tpcds_q83", "tpcds_q85", "tpcds_q91", "tpcds_q92",
    "tpcds_q4", "tpcds_q11", "tpcds_q16", "tpcds_q17", "tpcds_q18", "tpcds_q28",
    "tpcds_q35", "tpcds_q38", "tpcds_q39a", "tpcds_q44", "tpcds_q47", "tpcds_q49",
    "tpcds_q57", "tpcds_q62", "tpcds_q70", "tpcds_q75", "tpcds_q90", "tpcds_q94",
    "tpcds_q99",
    "tpcds_q8", "tpcds_q41", "tpcds_q54", "tpcds_q66", "tpcds_q72", "tpcds_q84",
    "tpcds_q95",
    "tpcds_q14a", "tpcds_q14b", "tpcds_q23a", "tpcds_q23b", "tpcds_q24a",
    "tpcds_q24b", "tpcds_q64", "tpcds_q76", "tpcds_q39b",
    "tpcds_q14_v27", "tpcds_q24_v27",
    "tpcds_q5a", "tpcds_q10a", "tpcds_q18a", "tpcds_q22a", "tpcds_q27a",
    "tpcds_q35a", "tpcds_q36a", "tpcds_q51a", "tpcds_q67a", "tpcds_q70a",
    "tpcds_q77a", "tpcds_q80a", "tpcds_q86a",
    "ssb_q1_1", "ssb_q2_1", "ssb_q3_1", "ssb_q4_1", "ssb_q4_2", "ssb_q4_3")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Local-iteration escape hatch: run only queries whose name contains the filter.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val spark = GraftSession.get(s"local[$cpus]", cpus.toInt)
    // ERROR-only logging: the driver parses a bounded stdout TAIL; executor/cleaner WARNs
    // (localCheckpoint unpersist, MapPartitionsRDD) have wedged the JSON line out of the
    // capture window every round so far (BENCH_r01-r05 all record parsed:null).
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the JVM itself (parquet reader, shuffle, codegen infrastructure).
    try {
      // direct read, not TableIO.parquet, on purpose: the warm-up costs the same on every commit
      exec(spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count())
      exec(spark.range(1000).selectExpr("sum(id)"))
    } catch { case _: Throwable => () }
    // by name, so two sweeps run each query after the same predecessors
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names.exists(n.contains) }
      case None        => SparkEntry.queries
    }).toSeq.sortBy(_._1)
    // Locale.ROOT: the scala f-interpolator uses the default locale — a comma-decimal
    // locale would emit {"value":6,123,...} and break the driver's JSON parse.
    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Timeout survivability (BENCH_r12 was rc=124/parsed:null — the single JSON line was
    // emitted LAST, so a driver-timeout kill lost the whole run):
    //  (a) every 25 queries a BOUNDED cumulative checkpoint line ("partial":true, same
    //      schema, top-15 detail, <=2 KB) goes to stdout, so the driver's bounded tail
    //      capture ALWAYS holds the latest parsable state even if the process is killed;
    //  (b) past a soft wall-clock budget (SPARK_GRAFT_BUDGET_SEC, default 1500 s — a
    //      healthy sf0.1 run finishes well under it) remaining queries drop the untimed
    //      warm-up pass and time their single cold execution. Only a degraded host ever
    //      crosses the budget, so healthy runs keep steady-state semantics unchanged;
    //      a degraded run trades compile-time inflation on the tail queries (~0.5-1.5 s
    //      each, reported via n_single_exec) for finishing inside the driver's timeout.
    val suiteT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - suiteT0) / 1e9
    val budgetSec = sys.env.get("SPARK_GRAFT_BUDGET_SEC").map(_.toDouble).getOrElse(1500.0)
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var nSingleExec = 0
    def partialLine(): String = {
      val okNow = acc.filter(_._2 >= 0)
      val failedNow = acc.collect { case (k, v) if v < 0 => k }.toSeq.sorted
      val top = okNow.toSeq.sortBy(-_._2).take(15)
      val topSet = top.map(_._1).toSet
      val otherNow = okNow.collect { case (k, v) if !topSet.contains(k) => v }.sum
      val qsNow = top.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
      val failedJsonNow = failedNow.take(15).map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${ms(okNow.values.sum)},"unit":"sec","partial":true,""" +
        s""""n_queries":${acc.size},"n_failed":${failedNow.size},"failed":$failedJsonNow,""" +
        s""""n_single_exec":$nSingleExec,"other_sec":${ms(otherNow)},"queries":$qsNow,""" +
        s""""sf":"$sfDir"}"""
    }
    var qIdx = 0
    for ((name, fn) <- selected) {
      // Periodic full GC so the ContextCleaner actually releases prior queries' shuffle
      // files and broadcasts: with a large heap, GC (the cleaner's trigger) can otherwise
      // not run for the whole suite and accumulated state degrades later queries — the
      // round-2 suite measured individual queries up to 6x slower in-suite than isolated.
      // (A real cluster's executors hit GC naturally; local[32] with 24g does not.)
      qIdx += 1
      if (qIdx % 10 == 0) System.gc()
      val singleExec = elapsedSec > budgetSec
      if (singleExec) nSingleExec += 1
      val t = try {
        // The warm-up's pins are freed, so the timed run pays for materializing its own
        // cached frames (the gram frame of the dedup pipelines): in round 2 the suite's
        // caches were never dropped, and accumulated cached relations evicted each other
        // (dedup_ngram_jaccard measured 23 s under that pressure vs 6 s in isolation).
        if (!singleExec) exec(fn(spark, sfDir)) // untimed warm-up: plan + codegen compile
        exec(fn(spark, sfDir)) // timed execution (steady-state unless past budget)
      } catch { case _: Throwable => -1.0 }
      acc(name) = t
      if (qIdx % 25 == 0) { System.out.println(partialLine()); System.out.flush() }
    }
    val results = acc
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val ok = results.filter(_._2 >= 0) // -1.0 sentinels must not deflate the sums
    // Cap the stdout line's per-query detail at the 40 slowest headline queries: ~70
    // entries x ~18 chars pushed the line past the driver's ~2 KB tail capture (the
    // opening brace fell off => parsed:null). Full detail always lands in bench_full.json.
    val detailed = ok.filter { case (k, _) => Headline.contains(k) || only.isDefined }
      .toSeq.sortBy(-_._2).take(40).toMap
    val otherSec = ok.collect { case (k, v) if !detailed.contains(k) => v }.sum
    val qs = detailed.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full per-query detail persists to a local file (stdout stays bounded — see Scaladoc):
    // the emitted line caps detail at the headline set, which left 86 of 154 queries
    // invisible inside other_sec; a regression in any of them now shows up in a file diff.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    val allQs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":${ms(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,""" +
      s""""n_single_exec":$nSingleExec,"queries":$allQs,"sf":"$sfDir"}"""
    try {
      val pw = new java.io.PrintWriter(fullPath, "UTF-8")
      try pw.println(fullJson) finally pw.close()
    } catch { case _: Throwable => () } // detail file is best-effort; the stdout line is the contract
    val line = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},""" +
      s""""n_failed":${failed.size},"failed":$failedJson,"n_single_exec":$nSingleExec,""" +
      s""""other_sec":${ms(otherSec)},"queries":$qs,"sf":"$sfDir"}"""
    spark.stop()
    // Emit the JSON line LAST, after Spark's shutdown logging, alone on its own line and
    // flushed — and kept under the driver's tail-capture window (see Scaladoc).
    System.out.println(line)
    System.out.flush()
  }
}
