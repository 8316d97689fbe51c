package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Engine, SparkEntry}

/** Solo profiler for ONE operator. When an op's number swings between
  * records, group sweeps cannot separate host contention, an AQE
  * strategy flip between runs, and JVM-state contamination from group
  * predecessors; this tool isolates all three:
  *
  *  - SOLO, fresh JVM: the tool is itself the fresh JVM, so no group
  *    predecessor can contaminate the measurement.
  *  - Per-REP contention: each timed rep carries its own steal window
  *    and the 1-min load at its start, so a contended rep is visible
  *    next to its wall.
  *  - Per-REP final plan: each rep is a [[Measure.coldRep]], whose
  *    QueryExecution holds the final adaptive plan of that run. The
  *    record fingerprints every plan and flags `plan_flip` when two
  *    reps disagree; one plan text per distinct fingerprint is dumped
  *    beside the record.
  *
  * Usage: runMain graft.tools.SoloProfile <op> <dir> [reps=3]
  *        [out=SOLO_<op>.json] — the dir is any corpus directory (an
  * oracle SF or an N× scratch derived by [[ScaleBench]]). */
object SoloProfile {

  def main(args: Array[String]): Unit = {
    val op = args.lift(0).getOrElse(
      sys.error("usage: SoloProfile <op> <dir> [reps] [out]"))
    val dir = args.lift(1).getOrElse(sys.error("missing <dir>"))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val outPath = args.lift(3).getOrElse(s"SOLO_$op.json")
    val spark = Engine.session(s"graft-solo-$op")
    def rep() = Measure.coldRep(spark)(SparkEntry.queries(op)(spark, dir))

    rep() // untimed warm-up
    val runs = (1 to reps).map { i =>
      val load0 = Measure.loadAvg
      val st0 = Measure.cpuSnapshot()
      val (wall, qe) = rep()
      val steal = Measure.stealPct(st0, Measure.cpuSnapshot())
      val plan = qe.executedPlan.toString
      val fp = Measure.fingerprint(plan)
      System.err.println(f"[solo] $op rep $i: wall $wall%7.2f s  steal $steal%5.2f%%  load@start $load0%4.1f  " +
        fp.filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(" "))
      (wall, steal, load0, fp, plan)
    }

    val fps = runs.map(_._4)
    val walls = runs.map(_._1)
    runs.map(r => (r._4, r._5)).distinctBy(_._1).zipWithIndex.foreach { case ((_, p), i) =>
      val f = Paths.get(outPath.stripSuffix(".json") + s"_plan$i.txt")
      Files.writeString(f, p)
      System.err.println(s"[solo] plan variant $i -> $f")
    }

    def fmt(d: Double) = f"$d%.4f"
    val json = s"""{"op":"$op","dir":${Measure.jsonString(dir)},"reps":$reps,""" +
      s""""walls_s":[${walls.map(fmt).mkString(",")}],""" +
      s""""steal_pct":[${runs.map(r => fmt(r._2)).mkString(",")}],""" +
      s""""load_at_start":[${runs.map(r => fmt(r._3)).mkString(",")}],""" +
      s""""spread":${fmt(walls.max / walls.min)},"plan_flip":${fps.distinct.length > 1},""" +
      s""""plan_fingerprints":[""" +
      fps.map(fp => "{" + fp.toSeq.sortBy(_._1).map {
        case (k, v) => s""""$k":$v""" }.mkString(",") + "}").mkString(",") +
      "]}"
    Files.writeString(Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
