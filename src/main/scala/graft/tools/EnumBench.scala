package graft.tools

import graft.optimizer.JoinReorder
import graft.optimizer.JoinReorder.{JoinGraph, PlanEnumerator, Rel}

/** Planning-time benchmark over synthetic join graphs — the role of
  * the reference's `benchmark/plan-enumerators` suite: time every
  * registered enumerator plus representative heuristic-search
  * strategies on chain/cycle/star/clique topologies at
  * n = 10/15/20 relations.
  *
  * Exponential enumerators run under a wall-clock budget; a timeout is
  * recorded — and the enumerator skipped at larger sizes / denser
  * topologies — rather than waited out: "DP cannot finish within
  * budget at n = 20 on star/clique while heuristic search returns in
  * milliseconds" IS the SIGMOD'23 headline this artifact demonstrates
  * (ref HeuristicSearchPlanEnumerator.hpp preamble). Timed-out worker
  * threads are daemons abandoned until JVM exit, which is why this is
  * a standalone main and not a ScalaTest.
  *
  * Usage: `runMain graft.tools.EnumBench [budgetMs] [outPath]` —
  * defaults 3000 ms, ENUMBENCH.json. No Spark session needed: graph
  * enumeration is pure driver-side planning. */
object EnumBench {

  private def graph(n: Int, seed: Int, shape: String): JoinGraph = {
    val rnd = new scala.util.Random(seed)
    val rels = (0 until n).map(i =>
      Rel(null, math.pow(10, 2 + rnd.nextInt(4)) * (1 + rnd.nextDouble()), i)).toVector
    val e = null: org.apache.spark.sql.catalyst.expressions.Expression
    val edges = shape match {
      case "chain" => (0 until n - 1).map(i => (i, i + 1, e))
      case "cycle" => (0 until n - 1).map(i => (i, i + 1, e)) :+ ((n - 1, 0, e))
      case "star" => (1 until n).map(i => (0, i, e))
      case "clique" => for (i <- 0 until n; j <- i + 1 until n) yield (i, j, e)
    }
    JoinGraph(rels, edges.toSeq, Nil)
  }

  final case class Res(name: String, shape: String, n: Int,
      ms: Double, timeout: Boolean, cost: Double)

  /** Run `enum.enumerate(g)` on a daemon thread with a budget; on
    * timeout the thread is INTERRUPTED and the enumerator unwinds at
    * its next hot-path poll ([[JoinReorder.EnumerationCancelled]]).
    * Round 11 learned the hard way that merely abandoning daemon
    * threads does not work: at a 20 s JOB budget the accumulated
    * spinning threads stole 20 of 32 cores and stalled every
    * subsequent timed run — cancelled threads must actually STOP for
    * later measurements to mean anything. */
  private def timedRun(en: PlanEnumerator, g: JoinGraph,
      budgetMs: Long): (Double, Boolean, Double) = {
    val done = new java.util.concurrent.CompletableFuture[(Double, Double)]()
    val t = new Thread(() => {
      try {
        val t0 = System.nanoTime
        val tree = en.enumerate(g)
        done.complete(((System.nanoTime - t0) / 1e6, tree.cost))
      } catch { case e: Throwable => done.completeExceptionally(e) }
    })
    t.setDaemon(true)
    t.start()
    try {
      val (ms, cost) = done.get(budgetMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      (ms, false, cost)
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        t.interrupt()
        (budgetMs.toDouble, true, Double.NaN)
    }
  }

  /** One JOB-workload row: per-enumerator plan cost (NaN on timeout)
    * and the DP-optimal cost it is ratioed against. */
  final case class JobRes(query: String, n: Int, nEdges: Int,
      optCost: Double, optBy: String, costs: Seq[(String, Double)],
      ms: Seq[(String, Double)], timeouts: Seq[String])

  /** Grade every enumerator on the reference's own JOB / job-light
    * join graphs ([[JobGraphs]]) with cardinality_gen-injected
    * per-subproblem cardinalities — plan COST vs the DP optimum, the
    * metric the reference's enumerator experiments use (synthetic
    * shapes above grade TIME; this grades plan QUALITY on realistic
    * irregular graphs). */
  private def jobSection(candidates: Seq[(String, PlanEnumerator)],
      budgetMs: Long): Seq[JobRes] = {
    import graft.optimizer.CardinalityGen
    // the ratio anchor is the CONNECTED-space DP optimum (the plan
    // space every exact DP variant enumerates, ref PlanEnumerator.cpp
    // :92-93,:225). PEall is excluded from the anchor pool: it
    // deliberately includes Cartesian products (ref :33) and may grade
    // BELOW 1.0 where an injected cross product wins — that is the
    // plan-space difference, not a DP defect.
    val dpFamily = Set("dpsize", "dpsizeopt", "dpsizesub",
      "dpsub", "dpsubopt", "dpccp")
    val queries = JobGraphs.load().sortBy(q => (q.aliases.size, q.id))
    // an enumerator that timed out at size n is skipped at >= n
    val timeoutAt = scala.collection.mutable.Map.empty[String, Int]
    queries.flatMap { q =>
      val n = q.aliases.size
      if (n > 20) {
        System.err.println(s"[enumbench] ${q.id}: n=$n > 20, skipped")
        None
      } else {
        val cfg = CardinalityGen.Config(seed = q.id.hashCode.toLong,
          correlated = n <= JobGraphs.CorrelatedMaxRels)
        val inject = CardinalityGen.generate(n, q.edges, cfg)
          .map { case (s, c) => s -> c.toDouble }
        val rels = (0 until n).map(i =>
          Rel(null, inject(Set(i)), i)).toVector
        val e = null: org.apache.spark.sql.catalyst.expressions.Expression
        val g = JoinGraph(rels, q.edges.map { case (a, b) => (a, b, e) },
          Nil, inject = inject)
        val runs = candidates.map { case (name, en) =>
          if (timeoutAt.get(name).exists(_ <= n))
            (name, Double.NaN, budgetMs.toDouble, true)
          else {
            val (ms, to, cost) = timedRun(en, g, budgetMs)
            if (to) timeoutAt(name) = n
            (name, cost, ms, to)
          }
        }
        val finished = runs.filter(!_._4)
        if (finished.isEmpty) None
        else {
          val dpDone = finished.filter(r => dpFamily(r._1.toLowerCase))
          // DP is exact w.r.t. the injected cost model; if every DP
          // variant timed out, the best finisher anchors the ratio and
          // `opt_by` records that it is only a lower-bound proxy
          val optPool = if (dpDone.nonEmpty) dpDone else finished
          val opt = optPool.minBy(_._2)
          System.err.println(f"[enumbench] ${q.id}%-22s n=$n%-3d opt=${opt._2}%12.0f by ${opt._1}")
          Some(JobRes(q.id, n, q.edges.size, opt._2,
            (if (dpDone.nonEmpty) "" else "best_finisher:") + opt._1,
            runs.map(r => r._1 -> r._2), runs.map(r => r._1 -> r._3),
            runs.filter(_._4).map(_._1)))
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val budgetMs = args.lift(0).map(_.toLong).getOrElse(3000L)
    val outPath = args.lift(1).getOrElse("ENUMBENCH.json")
    // the JOB plan-quality section gets its own, larger budget: the
    // synthetic section WANTS tight-budget timeouts (the "DP can't
    // finish n=20 clique in 3 s, HS returns in ms" headline), but the
    // JOB section's exact DPs are the grading ANCHOR — a 3 s budget
    // left DPsize/DPsizeOpt/TDbasic/TDMinCutAGaT at 52-54/55 finished.
    // Any residual timeout is recorded per-graph in job[].timeouts.
    val jobBudgetMs = args.lift(2).map(_.toLong).getOrElse(20000L)
    val shapes = Seq("chain", "cycle", "star", "clique") // by density
    val density = shapes.zipWithIndex.toMap
    val sizes = Seq(10, 15, 20)
    val Reps = 3

    val hsStrategies = Seq(
      "HeuristicSearch_goo_AStar" -> JoinReorder.resolve("HeuristicSearch"),
      "HeuristicSearch_goo_beam2" ->
        JoinReorder.resolve("HeuristicSearch", hsSearch = "beam_search"),
      "HeuristicSearch_goo_dynamic_beam" ->
        JoinReorder.resolve("HeuristicSearch", hsSearch = "dynamic_beam_search"),
      "HeuristicSearch_goo_anytimeAStar" ->
        JoinReorder.resolve("HeuristicSearch", hsSearch = "anytimeastar"),
      // bottom-up heuristics under plain A*. NONE of these carries an
      // optimality guarantee: the reference flags sum<BottomUp>
      // explicitly INADMISSIBLE (hpp:1733-1735 — subproblem sizes can
      // exceed the join results they lead to, over-estimating remaining
      // cost), and lookahead/avg_sel/goo define no is_admissible member
      // at all (the concept at util/HeuristicSearch.hpp:66 treats that
      // as inadmissible). They are the plan-QUALITY-per-millisecond
      // configurations, graded as such.
      "HeuristicSearch_sum_AStar" ->
        JoinReorder.resolve("HeuristicSearch", hsHeuristic = "sum"),
      "HeuristicSearch_lookahead_AStar" ->
        JoinReorder.resolve("HeuristicSearch", hsHeuristic = "lookahead"),
      "HeuristicSearch_avg_sel_AStar" ->
        JoinReorder.resolve("HeuristicSearch", hsHeuristic = "avg_sel"),
      // the ADMISSIBLE configurations — the only (state space ×
      // heuristic) pairs the reference marks is_admissible = true:
      // zero (hpp:1709, any space) and sum<TopDown> (hpp:1757). Under
      // plain (unweighted, unbeamed) A* these must return EXACTLY
      // optimal plans on every graph they finish — asserted below
      // against the DP anchor. zero-A* is Dijkstra: optimal and
      // hopeless at scale ("dramatically underestimates", hpp:1724) —
      // its timeouts at small n ARE the datapoint.
      "HeuristicSearch_sum_topdown_AStar" ->
        JoinReorder.resolve("HeuristicSearch", hsSpace = "topdown",
          hsHeuristic = "sum"),
      "HeuristicSearch_zero_AStar" ->
        JoinReorder.resolve("HeuristicSearch", hsHeuristic = "zero"))

    /** Heuristic admissibility per the reference's own flags — true
      * only where `is_admissible = true` is declared AND the search
      * method is plain A* (optimal search + admissible heuristic =
      * optimal plan, ref HeuristicSearchPlanEnumerator.cpp:596). DP
      * enumerators are exact, not heuristic — no flag. */
    val admissible: Map[String, Boolean] = Map(
      "HeuristicSearch_goo_AStar" -> false,
      "HeuristicSearch_goo_beam2" -> false,
      "HeuristicSearch_goo_dynamic_beam" -> false,
      "HeuristicSearch_goo_anytimeAStar" -> false,
      "HeuristicSearch_sum_AStar" -> false,      // sum<BottomUp>, hpp:1735
      "HeuristicSearch_lookahead_AStar" -> false,
      "HeuristicSearch_avg_sel_AStar" -> false,
      "HeuristicSearch_sum_topdown_AStar" -> true, // hpp:1757
      "HeuristicSearch_zero_AStar" -> true)        // hpp:1709
    val candidates: Seq[(String, PlanEnumerator)] =
      hsStrategies ++ JoinReorder.enumerators.values.toSeq.sortBy(_.name)
        .map(en => en.name -> en)

    val results = Seq.newBuilder[Res]
    for ((name, en) <- candidates) {
      // JIT warm-up on a small graph before any timed run
      en.enumerate(graph(8, 1, "chain"))
      // first timeout at (shape, n) skips same-or-denser shapes at ≥ n
      var timeouts = List.empty[(String, Int)]
      for (n <- sizes; shape <- shapes) {
        val skip = timeouts.exists { case (s, tn) =>
          density(s) <= density(shape) && n >= tn
        }
        if (!skip) {
          val g = graph(n, 7, shape)
          val (ms0, to0, cost0) = timedRun(en, g, budgetMs)
          if (to0) {
            timeouts ::= (shape, n)
            results += Res(name, shape, n, ms0, timeout = true, cost0)
            System.err.println(f"[enumbench] $name%-34s $shape%-6s n=$n%-3d TIMEOUT (> $budgetMs ms)")
          } else {
            val times = ms0 +: (2 to Reps).map(_ => timedRun(en, g, budgetMs)._1)
            val med = Measure.median(times)
            results += Res(name, shape, n, med, timeout = false, cost0)
            System.err.println(f"[enumbench] $name%-34s $shape%-6s n=$n%-3d $med%10.2f ms")
          }
        } else {
          results += Res(name, shape, n, budgetMs.toDouble, timeout = true, Double.NaN)
        }
      }
    }
    val all = results.result()

    // headline: at n=20 on star and clique, best heuristic-search time
    // vs best DP-family time (timeout counts as the budget)
    val dpFamily = Set("peall", "dpsize", "dpsizeopt", "dpsizesub",
      "dpsub", "dpsubopt", "dpccp", "tdbasic", "tdmincutagat")
    def best(shape: String, n: Int, pred: String => Boolean): Double =
      all.filter(r => r.shape == shape && r.n == n && pred(r.name)).map(_.ms).min
    val headline = for (shape <- Seq("star", "clique")) yield {
      val hs = best(shape, 20, _.toLowerCase.startsWith("heuristicsearch"))
      val dp = best(shape, 20, n => dpFamily(n.toLowerCase))
      (shape, hs, dp, hs < dp)
    }

    // ---- JOB / job-light plan-quality section
    val job = jobSection(candidates, jobBudgetMs)
    // per-enumerator: geometric-mean cost ratio + optimal-plan count
    // over the queries it finished
    val jobSummary = candidates.map { case (name, _) =>
      val ratios = job.flatMap { r =>
        r.costs.find(_._1 == name).map(_._2).filter(!_.isNaN)
          .map(c => c / r.optCost)
      }
      val geo = if (ratios.isEmpty) Double.NaN
        else math.exp(ratios.map(x => math.log(math.max(x, 1e-12))).sum / ratios.size)
      val nOpt = ratios.count(_ <= 1.0 + 1e-9)
      // total planning time over the workload (timeouts at budget) —
      // the quality numbers above only mean something next to this
      val msTotal = job.flatMap(_.ms.find(_._1 == name).map(_._2)).sum
      (name, geo, nOpt, ratios.size, msTotal)
    }
    jobSummary.sortBy(_._2).foreach { case (n2, g, o, f, ms) =>
      val tag = admissible.get(n2) match {
        case Some(true) => "  [admissible]"
        case Some(false) => "  [inadmissible]"
        case None => ""
      }
      System.err.println(f"[enumbench] JOB summary $n2%-34s geo-ratio ${g}%8.3f optimal $o%3d/${f}%d  ${ms}%9.1f ms$tag")
    }

    // the admissibility CONTRACT, enforced at record time: an
    // admissible heuristic under plain A* must land exactly on the DP
    // optimum on every JOB graph it finishes — anything else is an
    // implementation bug, and the record run fails loudly rather than
    // committing a number a reviewer would have to adjudicate.
    for ((name, _, _, _, _) <- jobSummary if admissible.getOrElse(name, false)) {
      val bad = job.flatMap { r =>
        r.costs.find(_._1 == name).map(_._2).filter(!_.isNaN)
          .filter(_ > r.optCost * (1.0 + 1e-9)).map(c => (r.query, c / r.optCost))
      }
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"$name is flagged admissible but graded above optimal on: " +
            bad.map { case (q, ratio) => f"$q ($ratio%.4f)" }.mkString(", "))
    }

    def fmt(d: Double) = if (d.isNaN) "null" else f"$d%.3f"
    val json = new StringBuilder
    json ++= s"""{"budget_ms":$budgetMs,"headline":["""
    json ++= headline.map { case (s, hs, dp, wins) =>
      s"""{"shape":"$s","n":20,"best_hs_ms":${fmt(hs)},"best_dp_ms":${fmt(dp)},"hs_beats_dp":$wins}"""
    }.mkString(",")
    json ++= """],"results":["""
    json ++= all.map(r =>
      s"""{"name":"${r.name}","shape":"${r.shape}","n":${r.n},"ms":${fmt(r.ms)},"timeout":${r.timeout},"cost":${fmt(r.cost)}}""")
      .mkString(",")
    json ++= s"""],"job_budget_ms":$jobBudgetMs,"job_summary":["""
    json ++= jobSummary.map { case (n2, g, o, f, ms) =>
      // admissible: true/false per the reference's is_admissible flags
      // (HS strategies only); enumerators that are exact over the
      // connected plan space (the ratio anchor's space) carry
      // "exact":true instead. PEall is exact over the LARGER
      // cross-product-inclusive space — its sub-1.0 rows are the
      // plan-space split, so it is deliberately not flagged; TDGOO/
      // GOO/IKKBZ/LinearizedDP are greedy/heuristic.
      val adm = admissible.get(n2).map(_.toString).getOrElse("null")
      val exactConnected = Set("dpsize", "dpsizeopt", "dpsizesub",
        "dpsub", "dpsubopt", "dpccp", "tdbasic", "tdmincutagat")
      val exact = exactConnected(n2.toLowerCase)
      s"""{"name":"$n2","geo_ratio":${fmt(g)},"optimal":$o,"finished":$f,""" +
        s""""ms_total":${fmt(ms)},"admissible":$adm,"exact":$exact}"""
    }.mkString(",")
    json ++= """],"job":["""
    json ++= job.map { r =>
      val ratios = r.costs.map { case (n2, c) =>
        "\"" + n2 + "\":" + fmt(if (c.isNaN) Double.NaN else c / r.optCost)
      }.mkString("{", ",", "}")
      val tos = r.timeouts.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"query":"${r.query}","n":${r.n},"edges":${r.nEdges},""" +
        s""""opt_cost":${fmt(r.optCost)},"opt_by":"${r.optBy}","ratios":$ratios,""" +
        s""""timeouts":$tos}"""
    }.mkString(",")
    json ++= "]}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json.toString)
    println(json.toString)
  }
}
