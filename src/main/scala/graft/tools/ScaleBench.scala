package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Engine, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof benchmark: derive an N× corpus (default 10×) from a base
  * corpus in a scratch directory and measure the heavy pipeline
  * operators at both scales. Near-linear median growth is the pass
  * shape; anything superlinear is called out in README.
  *
  * The N× corpus is NOT N identical copies: identical copies would give
  * every document/vector N-1 exact duplicates, growing near-dup OUTPUT
  * quadratically and making any dedup op look superlinear for workload
  * reasons rather than plan reasons. Each copy is key-shifted and
  * content-perturbed (see [[derive]]) so per-copy duplicate structure
  * is preserved while cross-copy similarity stays background-level.
  *
  * Timings come from forked child JVMs with a [[ChildMem]] heap, behind
  * [[Measure]]'s idle gate and sacrificial child, each op as cold reps
  * at base then at N×; a failed child's group is re-measured in-process
  * and tagged `in_process`, with the reason in `fork_failures`.
  *
  * Usage: `runMain graft.tools.ScaleBench [baseDir] [scratchDir] [out]
  * [copies] [reps]`. Defaults: the sf0.1 testdata corpus,
  * /tmp/graft_scale/sf1, SCALEBENCH.json, 10, 3. Dev loops:
  * SCALEBENCH_RECALL_ONLY=1 skips the timing sweep;
  * SCALEBENCH_SKIP=op1,op2 skips ops, recorded in `skipped`. */
object ScaleBench {

  val DefaultCopies = 10
  val Ops: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_containment", "dedup_cluster",
    "dedup_cluster_lsh",
    "pipeline_pack_sequences", "events_sessionize",
    "sim_neardup_lsh", "sim_ann_ivf", "sim_ann_ivf_pq", "dedup_semantic",
    "dedup_substring",
    "text_bpe_pairs", "text_heavy_hitters",
    "dedup_incremental",
    "search_tfidf_topk", "text_collocations", "events_session_paths",
    "events_cdc_compact", "events_scd2",
    "dedup_cluster_star", "embed_dim_profile", "embed_covariance",
    "pipeline_quality_calibrate", "events_user_streaks",
    "text_compression_ratio",
    "sim_knn_graph", "events_interarrival", "pipeline_mix_temperature",
    "search_bm25_topk", "events_bot_score", "text_charclass_profile",
    "embed_pca_project",
    "sim_kmeans", "pipeline_weighted_sample", "stats_zipf_slope",
    "pipeline_quality_classifier", "pipeline_cluster_sample",
    "pipeline_end_to_end", "sim_graph_centrality",
    "sim_knn_outliers",
    "text_bpe_train",
    "sim_ann_hnsw",
    "embed_quantize_int8", "events_rfm",
    "sim_ann_binary", "text_perplexity_bucket")

  /** Ops measured against a DEDICATED derived corpus instead of the
    * shared perturbed one (directory = scratch + suffix). The shared
    * corpus salts every word per copy, which makes cross-copy token
    * frequencies disjoint, so at 100× no token reaches the Misra-Gries
    * n/64+1 threshold and `text_heavy_hitters` would emit 0 rows. The
    * `_hh` fixture is documents-only, identical copies at shifted
    * doc_ids: relative token frequencies are preserved exactly, so the
    * base corpus's heavy hitters survive at any copy count. */
  val OpScratchSuffix: Map[String, String] =
    Map("text_heavy_hitters" -> "_hh")

  /** ANN ops re-scored for recall@5 at the big corpus: ANN recall can
    * decay with corpus growth while the oracle-SF gates stay green.
    * The gates are HIGHER than the small-SF QualityGates thresholds
    * because each op's capacity scales with the corpus (PQ shortlist
    * ∝ corpus, IVF lists ∝ √N with probes ∝ lists), so recall at N×
    * must hold, not merely not collapse. */
  val RecallOps: Seq[(String, Double)] = Seq(
    ("sim_ann_lsh", 0.8), ("sim_ann_ivf", 0.8), ("sim_ann_pq", 0.8),
    ("sim_ann_ivf_pq", 0.8),
    // gated at the committed HNSW_CURVE.json operating point (ef=128
    // measures 0.96 at the 100× corpus)
    ("sim_ann_hnsw", 0.9),
    // binary quantization's shortlist is ∝ corpus (the pqShortlist
    // argument), so recall RISES with scale (0.66 at 500 vectors,
    // 0.82 at 5 000); gated at the family floor
    ("sim_ann_binary", 0.8))

  /** Build the N× corpus (idempotent: skipped if the directory
    * already holds all three tables). The perturbations are exact at
    * ANY copy count:
    *  - documents: every word of copy i > 0 gets the suffix `⁅i⁆` —
    *    a bijection on word shingles, so within-copy Jaccard /
    *    containment / MinHash dup structure is EXACTLY preserved
    *    while cross-copy shingle sets are fully disjoint (a Caesar
    *    shift would collide at copies ≥ 26).
    *  - embeddings: copy i multiplies each dimension d by the sign of
    *    hash(d, i) — within-copy dot products are bit-preserved
    *    (s_d² = 1), cross-copy dots become sign-noise at random-
    *    background level (a rotation would collide at copies ≥ 64).
    *  - events: event_id and user_id shifted (N× users, same
    *    per-user timeline density; raw nanos `ts` kept as int64). */
  def derive(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    val done = Seq("documents", "embeddings", "events").forall(t =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$outDir/$t.parquet")))
    if (done) return
    new java.io.File(outDir).mkdirs()
    val Off = 10_000_000L

    def nfold(name: String, copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = name match {
        // raw read keeps events.ts in its on-disk form (int64 nanos →
        // derived plain INT64, or µs timestamp → derived µs
        // timestamp); Engine.table normalizes either at read time.
        // The legacy-nanos flag is needed for the nanos generation and
        // harmless for µs (sessions not built by Engine.session
        // reject TIMESTAMP(NANOS) otherwise)
        case "events" =>
          if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
              .forall(_ != "true"))
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.parquet(s"$baseDir/events.parquet")
        case _ => spark.read.parquet(s"$baseDir/$name.parquet")
      }
      (0 until copies).map(i => copy(base, i))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

    nfold("documents", (df, i) => {
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1⁅" + i + "⁆")
      df.select(
        (col("doc_id") + i * Off).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        // the perturbation grows every word: recompute n_chars so the
        // derived corpus keeps the n_chars = length(text) invariant
        // (any n_chars-consuming op added to Ops would otherwise run
        // on silently inconsistent data)
        (if (i == 0) col("n_chars") else length(text).cast("long"))
          .as("n_chars"))
    })
    nfold("embeddings", (df, i) => df.select(
      (col("vec_id") + i * Off).as("vec_id"),
      (if (i == 0) col("embedding")
       else zip_with(col("embedding"),
         sequence(lit(0), lit(63)),
         (x, d) => when(pmod(xxhash64(d, lit(i)), lit(2)) === 0, x)
           .otherwise(-x))).as("embedding"),
      col("label")))
    nfold("events", (df, i) => df.select(
      (col("event_id") + i * Off).as("event_id"),
      col("ts"),
      (col("user_id") + i * Off).as("user_id"),
      col("event_type"), col("value"), col("props")))
  }

  /** Build the dedicated heavy-hitters corpus (see [[OpScratchSuffix]]):
    * documents only, IDENTICAL copies at shifted doc_ids — token
    * frequencies scale exactly with the copy count, so relative
    * frequencies (and therefore the MG survivor set) are invariant and
    * the 100× row measures both the sketch pass and the recount join
    * on real output. Idempotent like [[derive]]. */
  def deriveHh(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$outDir/documents.parquet"))) return
    new java.io.File(outDir).mkdirs()
    val Off = 10_000_000L
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    (0 until copies).map(i => base.select(
        (col("doc_id") + i * Off).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Ops per forked JVM. */
  val GroupSize = 4

  /** Child heap: the heaviest group (the four big dedup shuffles, 226M+
    * pair rows at 100×) does not fit the 8g default, and a child is the
    * only JVM working while it runs. */
  val ChildMem = "24g"

  private def coldS(spark: SparkSession, op: String, dir: String): Double =
    Measure.coldRep(spark)(SparkEntry.queries(op)(spark, dir))._1

  /** Output row count at `dir`, from a separate count() after the timed
    * reps. Exact-pair twins emit quadratically more rows on the
    * planted-duplicate corpus, so a wall ratio is only readable against
    * output growth: wall/out_rows ~flat = output-bound, rising = a plan
    * residue to chase. */
  private def outRows(spark: SparkSession, op: String, dir: String): Long = {
    val n = SparkEntry.queries(op)(spark, dir).count()
    spark.sharedState.cacheManager.clearCache()
    n
  }

  /** (base_s, xN_s, out rows at base, out rows at N×): at each scale one
    * untimed rep, then the median of `reps` cold reps and the output
    * rows. reps == 0, the sacrificial child, runs the untimed reps only. */
  private def measureOp(spark: SparkSession, op: String, baseDir: String,
      scratch: String, reps: Int): (Double, Double, Long, Long) = {
    def at(dir: String): (Double, Long) = {
      coldS(spark, op, dir)
      if (reps == 0) (0.0, 0L)
      else (Measure.median((1 to reps).map(_ => coldS(spark, op, dir))),
        outRows(spark, op, dir))
    }
    val (b, ob) = at(baseDir)
    val (x, ox) = at(scratch + OpScratchSuffix.getOrElse(op, ""))
    (b, x, ob, ox)
  }

  /** Child side: `--group <out> <base> <scratch> <reps> <op1,op2,...>`
    * writes one `op\tbase\txN\toutB\toutN` line per op. */
  private def groupRun(args: Array[String]): Unit = {
    val Array(_, out, baseDir, scratch, reps, names) = args.take(6)
    val spark = Engine.session("graft-scalebench")
    val lines = names.split(",").filter(_.nonEmpty).map { op =>
      val (b, x, ob, ox) = measureOp(spark, op, baseDir, scratch, reps.toInt)
      f"$op\t$b%.4f\t$x%.4f\t$ob\t$ox"
    }
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    spark.stop()
  }

  private def forkGroup(names: Seq[String], baseDir: String, scratch: String,
      reps: Int): (Either[String, Seq[(String, Double, Double, Long, Long)]], Measure.Contention) = {
    val (res, stat) = Measure.fork("graft.tools.ScaleBench", ChildMem,
      Seq(baseDir, scratch, reps.toString, names.mkString(",")))
    (res.flatMap { lines =>
      val parsed = lines.map { l =>
        val p = l.split("\t")
        (p(0), p(1).toDouble, p(2).toDouble, p(3).toLong, p(4).toLong)
      }
      if (parsed.map(_._1) == names) Right(parsed)
      else Left(s"child exited 0 but wrote ${parsed.length}/${names.length} rows")
    }, stat)
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 6 && args(0) == "--group") return groupRun(args)
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val outPath = args.lift(2).getOrElse("SCALEBENCH.json")
    val copies = args.lift(3).map(_.toInt).getOrElse(DefaultCopies)
    val reps = args.lift(4).map(_.toInt).getOrElse(3)
    val spark = Engine.session("graft-scalebench")
    derive(spark, baseDir, scratch, copies)
    deriveHh(spark, baseDir, scratch + "_hh", copies)

    val rows = Seq("documents", "embeddings", "events").map { t =>
      t -> (Engine.table(spark, baseDir, t).count(),
        Engine.table(spark, scratch, t).count())
    }
    rows.foreach { case (t, (b, x)) =>
      System.err.println(s"[scalebench] $t: $b rows -> $x rows") }

    val recallOnly = sys.env.contains("SCALEBENCH_RECALL_ONLY")
    val skip = sys.env.get("SCALEBENCH_SKIP")
      .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty)
    if (skip.nonEmpty)
      System.err.println(s"[scalebench] EXPLICITLY SKIPPED: ${
        skip.toSeq.sorted.mkString(", ")}")
    // skips and fork failures are recorded IN the JSON: the record
    // carries its own coverage statement
    val skipped = scala.collection.mutable.ListBuffer.empty[(String, String)]
    skip.toSeq.sorted.foreach(op => skipped += ((op, "env:SCALEBENCH_SKIP")))
    val forkFailures = scala.collection.mutable.ListBuffer.empty[(Int, Seq[String], String)]
    val idleWaitedS = Measure.awaitIdle("scalebench")
    System.err.println(f"[scalebench] idle gate: waited $idleWaitedS%.0f s before first timed group")
    val todo = if (recallOnly) Seq.empty[String] else Ops.filterNot(skip)
    val sacrificed = todo.nonEmpty && Measure.sacrifice("scalebench",
      "graft.tools.ScaleBench", ChildMem,
      Seq(baseDir, scratch, "0", todo.take(GroupSize).mkString(",")))
    val groupSteal = scala.collection.mutable.ListBuffer.empty[Double]
    val stealRun0 = Measure.cpuSnapshot()
    val results = todo.grouped(GroupSize).zipWithIndex.flatMap { case (g, i) =>
        val (out, stat) = forkGroup(g, baseDir, scratch, reps)
        groupSteal += stat.stealPct
        if (stat.stealPct > 2.0) System.err.println(
          f"[scalebench] group $i: hypervisor steal ${stat.stealPct}%.1f%% of cpu time")
        out match {
          case Right(rows) =>
            rows.map { case (op, b, x, ob, ox) => (op, b, x, ob, ox, false) }
          case Left(reason) =>
          forkFailures += ((i, g, reason))
          System.err.println(
            s"[scalebench] group $i: in-process fallback ($reason)")
          // per op: one op that cannot run at this scale must not take
          // the sweep's record with it
          g.flatMap { op =>
            try {
              val (b, x, ob, ox) = measureOp(spark, op, baseDir, scratch, reps)
              Some((op, b, x, ob, ox, true))
            } catch { case e: Throwable =>
              System.err.println(
                s"[scalebench] $op skipped (fallback failed): ${e.getMessage}")
              skipped += ((op, s"fallback_failed: ${e.getClass.getSimpleName}"))
              None
            }
          }
        }
      }.map { case (op, base, xN, outB, outN, inProc) =>
        val ratio = xN / base
        System.err.println(
          f"[scalebench] $op%-26s base $base%7.2f s   ${copies}x $xN%7.2f s   ratio $ratio%5.2f   out $outB%,d -> $outN%,d" +
            (if (inProc) "   [in-process]" else ""))
        (op, base, xN, ratio, outB, outN, inProc)
      }.toSeq

    // recall@5 at the big corpus vs brute force over the same queries
    // (query ids < 10 live in copy 0, unperturbed). Driver-side sets
    // are 10 queries × 5 neighbors — measurement, not a data path.
    def pairs(name: String, d: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, d).select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs("sim_knn_bruteforce", scratch)
    val recalls = RecallOps.map { case (op, th) =>
      val r = if (bf.isEmpty) 1.0
        else (pairs(op, scratch) & bf).size.toDouble / bf.size
      spark.sharedState.cacheManager.clearCache()
      System.err.println(
        f"[scalebench] $op%-26s recall@5 $r%.3f >= $th%.2f " +
          (if (r + 1e-12 >= th) "PASS" else "FAIL"))
      (op, r, th)
    }

    // an op that emits rows at base but ZERO at N× measures a
    // sweep-corpus artifact, not the op: named in the record so a
    // vacuous row never reads as coverage
    val vacuous = results.collect {
      case (op, _, _, _, outB, outN, _) if outB > 0 && outN == 0 => op
    }
    vacuous.foreach(op => System.err.println(
      s"[scalebench] VACUOUS SCALE ROW: $op emits 0 rows at ${copies}x " +
        "(nonzero at base) — the N-x measurement exercises no output path"))

    def fmt(d: Double) = f"$d%.4f"
    val stealRunPct = Measure.stealPct(stealRun0, Measure.cpuSnapshot())
    val json = s"""{"copies":$copies,"reps":$reps,"base":"$baseDir","child_mem":"$ChildMem","sacrificial_child":$sacrificed,"idle_waited_s":${fmt(idleWaitedS)},"steal_pct":${fmt(stealRunPct)},"group_steal_pct":[${groupSteal.map(fmt).mkString(",")}],"rows":{""" +
      rows.map { case (t, (b, x)) => s""""$t":[$b,$x]""" }.mkString(",") +
      s"""},"ops":{""" +
      results.map { case (op, b, x, r, outB, outN, inProc) =>
        // ratio_out: output growth at N× — read the wall ratio against
        // it (wall/out ~flat = output-bound, not a plan residue)
        val ratioOut = if (outB > 0) outN.toDouble / outB else 0.0
        s""""$op":{"base_s":${fmt(b)},"x${copies}_s":${fmt(x)},"ratio":${fmt(r)},""" +
          s""""out_rows":[$outB,$outN],"ratio_out":${fmt(ratioOut)}""" +
          OpScratchSuffix.get(op).map(s => s""","corpus":"scratch$s"""").getOrElse("") +
          (if (inProc) ""","in_process":true}""" else "}")
      }.mkString(",") + s"""},"vacuous":[""" +
      vacuous.map(op => s""""$op"""").mkString(",") +
      s"""],"fork_failures":[""" +
      forkFailures.map { case (i, g, reason) =>
        s"""{"group":$i,"ops":[${g.map(o => s""""$o"""").mkString(",")}],""" +
          s""""reason":${Measure.jsonString(reason)}}"""
      }.mkString(",") + s"""],"skipped":[""" +
      skipped.map { case (op, why) =>
        s"""{"op":"$op","reason":"$why"}"""
      }.mkString(",") + s"""],"recall_at_5":{""" +
      recalls.map { case (op, r, th) =>
        s""""$op":{"recall":${fmt(r)},"threshold":${fmt(th)},"pass":${r + 1e-12 >= th}}"""
      }.mkString(",") + "}}"
    Files.writeString(Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
