package graft

import java.nio.file.{Files, Paths}

import graft.tools.Measure
import org.apache.spark.sql.SparkSession

/** Benchmark main: headline queries (TPC-H-shaped + operator
  * microbenches, mirroring the reference's benchmark/tpc-h and
  * benchmark/operators suites) on SPARK_GRAFT_SF_DIR, in the PRODUCTION
  * session (`Engine.session`): the join-reorder extension, AQE and the
  * object-hash-agg threshold are part of what is measured.
  *
  * Protocol (the idle gate, forks, contention record and sacrificial
  * group are [[graft.tools.Measure]]'s):
  *   - the parent runs no Spark. It forks one child JVM with a
  *     [[ChildHeap]] heap per [[GroupSize]] queries, so no query is
  *     measured more than GroupSize-1 queries deep into a JVM's life. A
  *     child that fails falls back to an in-parent measurement, so the
  *     record never silently misses a query. A contended group gets one
  *     forked re-run; its numbers replace the originals only if the
  *     re-run itself ran clean;
  *   - a child first runs every query of its group once, untimed (a
  *     fresh JVM's first queries are otherwise JIT ramp). Each query
  *     then gets one more untimed run and [[Reps]] timed cold reps, plus
  *     [[ExtraReps]] when their median is under [[SubSecond]] or their
  *     max/min spread exceeds [[SpreadGoal]];
  *   - "queries" is the per-query median and "value" their sum;
  *     "queries_min" is the best rep; "variance" is the max/min ratio,
  *     over the min/max-trimmed reps once there are >= 7.
  * The full record goes to BENCH.json; the last stdout line is a
  * fixed-size {"metric","value","unit","sf","detail"} object, so a
  * bounded tail capture always holds it, and a copy goes to
  * BENCH_COMPACT.json. Without BENCH_COMMIT=1 both files get a `.new`
  * suffix, so no dev or re-run clobbers the committed record.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "q12_priority_count", "q14_promo_revenue",
    "join_pk_fk", "join_n2m", "join_5way_star",
    "group_by_single", "group_by_multi", "group_by_salted_skew",
    "agg_global", "order_by_topk",
    "dedup_exact", "dedup_minhash_lsh", "sim_knn_bruteforce",
    "text_quality_score", "events_sessionize", "events_asof_join",
    "dialect_q1",
    "dedup_containment", "pipeline_pack_sequences", "pipeline_decontaminate",
    "embed_outlier_filter", "events_window_hopping", "doc_chunk_tokens",
    "dedup_semantic", "dedup_bloom_filter", "stats_length_quantiles",
    "stats_approx_distinct", "pipeline_topk_per_lang",
    "text_token_df", "events_funnel", "text_normalize",
    "pipeline_shuffle_shards", "dedup_substring",
    "events_retention", "events_hourly_spikes", "events_user_stats",
    "text_lang_confusion", "stats_source_profile",
    "text_boilerplate", "text_boilerplate_strip", "events_funnel_k",
    "events_transitions", "dedup_cluster_lsh",
    "events_moving_avg", "pipeline_mix_sources", "sim_ann_ivf_pq",
    "events_attribution", "stats_value_corr", "media_image_dims",
    "events_json_extract", "stats_rollup_profile", "stats_lang_pivot",
    "text_bpe_pairs", "media_wav_meta", "orders_running_total",
    "pipeline_curriculum", "text_heavy_hitters",
    "events_hourly_users", "join_salted_skew", "text_doc_keywords",
    "pipeline_contamination_score", "orders_pareto",
    "stats_source_drift", "dedup_incremental", "text_bpe_train",
    "pipeline_shard_manifest",
    "search_tfidf_topk", "orders_basket_pairs", "events_session_paths",
    "events_cdc_compact", "join_bloom_prefilter",
    "events_scd2", "events_anomaly_mad", "pipeline_snapshot_diff",
    "text_collocations", "events_rfm", "search_phrase_hits",
    "events_user_streaks", "pipeline_quality_calibrate",
    "embed_dim_profile", "text_compression_ratio",
    "media_mp4_meta", "dedup_cluster_star", "embed_covariance",
    "stats_ks_drift", "stats_vocab_growth", "events_asof_nearest",
    "pipeline_split_leakage", "search_bm25_topk",
    "pipeline_mix_temperature", "events_interarrival", "sim_knn_graph",
    "orders_ship_latency", "media_crc_check",
    "text_charclass_profile", "events_bot_score", "embed_pca_project",
    "sim_kmeans", "pipeline_weighted_sample", "stats_zipf_slope",
    "pipeline_quality_classifier", "pipeline_cluster_sample",
    "pipeline_end_to_end", "sim_graph_centrality",
    "sim_knn_outliers",
    "sim_ann_hnsw", "embed_quantize_int8", "embed_matryoshka_eval",
    "sim_ann_binary", "text_perplexity_bucket",
    "media_flac_meta", "media_mp3_meta")

  val Reps = 5
  val ExtraReps = 4
  val SubSecond = 1.0
  val SpreadGoal = 2.0
  /** Queries per forked JVM: few enough that accumulated session state
    * cannot contaminate late queries, enough to amortize the ~10 s
    * JVM+Spark start over ~10 measurements. */
  val GroupSize = 10
  /** Child heap: the build.sbt default, stated so that the invoker's
    * heap never reaches a measurement. */
  val ChildHeap = "8g"

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** One cold rep in seconds; -1 if the query failed. */
  private def runOnce(spark: SparkSession, name: String): Double =
    try Measure.coldRep(spark)(SparkEntry.queries(name)(spark, sfDir))._1
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      -1.0
    }

  /** One untimed run, then adaptively many timed cold reps. */
  private def measure(spark: SparkSession, name: String): Seq[Double] = {
    runOnce(spark, name)
    val base = (1 to Reps).map(_ => runOnce(spark, name)).filter(_ >= 0)
    val times =
      if (base.nonEmpty &&
          (Measure.median(base) < SubSecond || base.max / base.min > SpreadGoal))
        base ++ (1 to ExtraReps).map(_ => runOnce(spark, name)).filter(_ >= 0)
      else base
    if (times.isEmpty) Seq(-1.0) else times
  }

  /** Child side: `--group <out> <q1,q2,...> [--warmonly]` writes one
    * `name\tt1,t2,...` line per query to <out>; the sacrificial
    * `--warmonly` child runs the untimed pass only. */
  private def runGroup(args: Array[String]): Unit = {
    val names = args(2).split(",").toSeq.filter(_.nonEmpty)
    val spark = Engine.session("graft-bench")
    names.foreach(runOnce(spark, _))
    val lines =
      if (args.contains("--warmonly")) Nil
      else names.map(n => s"$n\t${measure(spark, n).map(t => f"$t%.4f").mkString(",")}")
    Files.writeString(Paths.get(args(1)), lines.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Forks one group; None unless the child ran and reported every query. */
  private def forkGroup(names: Seq[String], idx: Int)
      : (Option[Seq[(String, Seq[Double])]], Measure.Contention) = {
    val (res, stat) = Measure.fork("graft.Bench", ChildHeap, Seq(names.mkString(",")))
    res.left.foreach(r => System.err.println(s"[bench] group $idx: $r"))
    val parsed = res.toOption.map(_.filter(_.contains('\t')).map { l =>
      val Array(n, ts) = l.split('\t')
      n -> ts.split(',').toSeq.map(_.toDouble)
    })
    if (stat.contended) System.err.println(f"[bench] group $idx CONTENDED: " +
      f"external_cpu_frac ${stat.externalCpuFrac}%.3f, steal ${stat.stealPct}%.1f%%, load ${stat.loadStart}%.2f")
    (parsed.filter(_.map(_._1).toSet == names.toSet), stat)
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 3 && args(0) == "--group") return runGroup(args)

    // dev loop only: BENCH_ONLY=q1,q6 runs a subset
    val queriesToRun = sys.env.get("BENCH_ONLY")
      .map(s => headline.filter(s.split(',').map(_.trim).toSet))
      .getOrElse(headline)

    val loadStart = Measure.loadAvg
    val idleWaitedS = Measure.awaitIdle("bench")
    val loadAtFirstGroup = Measure.loadAvg
    System.err.println(
      f"[bench] idle gate: waited $idleWaitedS%.0f s, load $loadStart%.2f -> $loadAtFirstGroup%.2f")
    Measure.sacrifice("bench", "graft.Bench", ChildHeap,
      Seq(queriesToRun.take(GroupSize).mkString(","), "--warmonly"))
    // created only if a fork fails: children measure on a host where
    // the parent runs no Spark
    var fallback: Option[SparkSession] = None
    // (idx, contention, retried, retry_clean) per group
    val groupStats =
      scala.collection.mutable.ListBuffer.empty[(Int, Measure.Contention, Boolean, Boolean)]
    val queryContended = scala.collection.mutable.Map.empty[String, Boolean]
    val results: Seq[(String, Seq[Double])] =
      queriesToRun.grouped(GroupSize).zipWithIndex.flatMap { case (g, i) =>
        val (res, stat) = forkGroup(g, i)
        val (finalRes, finalStat, retried, retryClean) =
          if (stat.contended && res.isDefined) {
            System.err.println(s"[bench] group $i: one forked re-run")
            val (res2, stat2) = forkGroup(g, i)
            if (res2.isDefined && !stat2.contended) (res2, stat2, true, true)
            else (res, stat, true, false)
          } else (res, stat, false, false)
        groupStats += ((i, finalStat, retried, retryClean))
        g.foreach(n => queryContended(n) = finalStat.contended)
        finalRes.getOrElse {
          System.err.println(s"[bench] group $i: in-process fallback")
          val spark = fallback.getOrElse {
            val s = Engine.session("graft-bench"); fallback = Some(s); s
          }
          g.map(n => n -> measure(spark, n))
        }
      }.toSeq

    def fmt(v: Double) = f"$v%.4f"
    def obj(f: Seq[Double] => Double) =
      results.map { case (k, v) => "\"" + k + "\":" + fmt(f(v)) }
        .mkString("{", ",", "}")
    def spread(v: Seq[Double]): Double = {
      if (v.min <= 0) return -1.0
      val s = if (v.length >= 7) v.sorted.slice(1, v.length - 1) else v
      s.max / s.min
    }
    val reps = results.map { case (k, v) => "\"" + k + "\":" + v.length }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(r => Measure.median(r._2)).filter(_ >= 0).sum
    val totalMin = results.map(_._2.min).filter(_ >= 0).sum
    val driverMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    // the end load is echoed but flips nothing: the bench's own Spark
    // drives the 1-min average past any idle cap
    val loadEnd = Measure.loadAvg
    val loadWarn = loadAtFirstGroup > Runtime.getRuntime.availableProcessors / 5.0
    val notes =
      """"notes":{""" +
      """"sacrificial_group":"one untimed forked group (the first """ +
      GroupSize + """ queries) ran before any timed group — start-of-run """ +
      """contention and cold-page-cache absorption; in no number",""" +
      """"sim_graph_centrality":"median excludes the sharedKnnEdges build """ +
      """(priced separately under sim_knn_graph) — the edge list became """ +
      """session-shared in round 10, so r9-and-earlier medians for this """ +
      """query included the build and are not comparable",""" +
      """"sim_knn_outliers":"same: consumes the session-shared edge list, """ +
      """build excluded from its median"}"""
    val groupsJson = groupStats.map { case (i, s, retried, retryClean) =>
      s"""{"idx":$i,"load_start":${fmt(s.loadStart)},""" +
        s""""external_cpu_frac":${fmt(s.externalCpuFrac)},""" +
        s""""steal_pct":${fmt(s.stealPct)},""" +
        s""""contended":${s.contended},""" +
        s""""retried":$retried,"retry_clean":$retryClean}"""
    }.mkString("[", ",", "]")
    val qContJson = results.map { case (k, _) =>
      "\"" + k + "\":" + queryContended.getOrElse(k, false)
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_min":${fmt(totalMin)},""" +
      s""""queries":${obj(Measure.median)},"variance":${obj(spread)},"driver_mem_mb":$driverMb,""" +
      s""""load_avg":[${fmt(loadStart)},${fmt(loadEnd)}],"load_warning":$loadWarn,""" +
      s""""idle_gate":{"threshold":${fmt(Measure.IdleLoadMax)},"waited_s":${fmt(idleWaitedS)},""" +
      s""""load_at_first_group":${fmt(loadAtFirstGroup)}},"groups":$groupsJson,""" +
      s""""queries_contended":$qContJson,$notes,""" +
      s""""group_size":$GroupSize,"sf":"$sfDir","queries_min":${obj(_.min)},"reps":$reps,"runs":$runs}"""
    val commitRun = sys.env.get("BENCH_COMMIT").contains("1")
    val fullPath = if (commitRun) "BENCH.json" else "BENCH.json.new"
    val compactPath =
      if (commitRun) "BENCH_COMPACT.json" else "BENCH_COMPACT.json.new"
    try Files.writeString(Paths.get(fullPath), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    // build.sbt sets StdoutOutput + showSuccess := false, so under
    // `sbt runMain graft.Bench` this is the raw last stdout line
    val compact = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","detail":"$fullPath"}"""
    try Files.writeString(Paths.get(compactPath), compact + "\n")
    catch { case _: Throwable => () }
    println(compact)
    fallback.foreach(_.stop())
  }
}
