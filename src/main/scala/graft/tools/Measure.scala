package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.QueryExecution

/** The measurement core every timing tool ([[graft.Bench]],
  * [[ScaleBench]], [[SoloProfile]], [[HnswCurve]]) runs through. The
  * policy below is stated once, here:
  *
  *  - Cold rep ([[coldRep]]): build the DataFrame and execute its OWN
  *    QueryExecution inside the timed window, stop the clock, then
  *    clear the Spark cache. An operator's internal `.cache()` is
  *    rebuilt by every rep instead of being reused from the previous
  *    one, and the QueryExecution handed back holds the final adaptive
  *    plan of exactly the measured run ([[fingerprint]]).
  *  - Idle gate ([[awaitIdle]]): before the first timed work, block
  *    until the 1-min load average is at most [[IdleLoadMax]] (a fixed
  *    near-idle level, independent of core count), for at most
  *    [[IdleWaitMaxS]]; an always-busy host delays, never hangs, a run.
  *  - Fork ([[fork]]): each measured group runs in a fresh JVM with this
  *    JVM's classpath and flags, except that every inherited heap flag
  *    is replaced by the heap the caller states — an invoker's heap
  *    never leaks into a measurement.
  *  - Contention ([[Contention]]): every forked group records the
  *    1-min load at fork, the share of machine CPU spent on work other
  *    than the child while it ran (/proc/stat busy time minus the
  *    child's own CPU, which the kernel adds to this process's
  *    reaped-children times), and hypervisor steal%. Steal is the one
  *    channel neither load nor busy time can see. -1 means
  *    unavailable, and an unavailable measurement never flips
  *    `contended`.
  *  - Sacrificial group ([[sacrifice]]): a forked sweep first runs its
  *    first group once in a child, untimed, results discarded, so the
  *    build's tail, the JVM page-in and the first parquet reads land
  *    outside every timed rep.
  *  - Summary: the [[median]] of the reps. */
object Measure {

  val IdleLoadMax = 2.0
  val IdleWaitMaxS = 600
  /** Share of machine CPU used outside the child: 10% absorbs the
    * idle parent and kernel noise; a competing build shows up at 30%+. */
  val ExternalCpuWarn = 0.10
  val StealWarnPct = 5.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** One cold rep: (wall seconds, the executed QueryExecution). Building
    * `df` is inside the window — operators do driver-side work there.
    * The cache is cleared even when the rep fails. */
  def coldRep(spark: SparkSession)(df: => DataFrame): (Double, QueryExecution) =
    try {
      val t0 = System.nanoTime
      val qe = df.queryExecution
      spark.sparkContext.runJob(qe.toRdd,
        (it: Iterator[InternalRow]) => while (it.hasNext) it.next())
      ((System.nanoTime - t0) / 1e9, qe)
    } finally spark.sharedState.cacheManager.clearCache()

  /** Strategy-relevant features of the FINAL adaptive plan; a change in
    * any of them between reps on the same data is a plan flip. */
  private val Markers = Seq(
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "AQEShuffleRead", "skewed=true", "coalesced")

  def fingerprint(plan: String): Map[String, Int] = {
    // the stringified AdaptiveSparkPlan carries the initial plan too,
    // which would double every marker
    val finalOnly = plan.split("== Initial Plan ==")(0)
    Markers.map(m => m -> m.r.findAllIn(finalOnly).length).toMap
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Blocks until the host is near-idle or the wait budget is spent;
    * returns the seconds waited. */
  def awaitIdle(tag: String): Double = {
    val t0 = System.nanoTime
    def waited = (System.nanoTime - t0) / 1e9
    var l = loadAvg
    while (l > IdleLoadMax && waited < IdleWaitMaxS) {
      System.err.println(
        f"[$tag] host busy (1-min load $l%.1f > $IdleLoadMax%.1f) — waiting 10 s")
      Thread.sleep(10000)
      l = loadAvg
    }
    waited
  }

  private def firstLine(path: String): Option[String] =
    scala.util.Try(Files.readAllLines(Paths.get(path)).get(0)).toOption

  /** The aggregate `cpu` line's first 8 fields, user..steal, in jiffies.
    * The kernel already folds guest and guest_nice into user and nice,
    * so summing all ten fields would count guest time twice and
    * understate steal on exactly the virtualised hosts it exists for. */
  def cpuFields(line: String): Array[Long] =
    line.trim.split("\\s+").slice(1, 9).map(_.toLong)

  /** None when /proc/stat is unreadable: a missing snapshot means
    * "unavailable", never zero (diffed against a live snapshot a zero
    * would give steal since boot). */
  def cpuSnapshot(): Option[Array[Long]] =
    firstLine("/proc/stat").flatMap(l => scala.util.Try(cpuFields(l)).toOption)

  def stealPct(before: Option[Array[Long]], after: Option[Array[Long]]): Double =
    (before, after) match {
      case (Some(a), Some(b)) if b.sum > a.sum => 100.0 * (b(7) - a(7)) / (b.sum - a.sum)
      case _ => -1.0
    }

  /** Busy CPU seconds across all cores: every field but idle and iowait. */
  private def busyS(s: Array[Long]): Double = (s.sum - s(3) - s(4)) / 100.0

  /** CPU seconds of this process's reaped children (cutime + cstime,
    * fields 16 and 17, counted after the `(comm)` field). */
  private[graft] def childCpuS(): Option[Double] = firstLine("/proc/self/stat").map { l =>
    val f = l.substring(l.lastIndexOf(')') + 2).split(" ")
    (f(13).toLong + f(14).toLong) / 100.0
  }

  final case class Contention(loadStart: Double, externalCpuFrac: Double,
      stealPct: Double) {
    def contended: Boolean =
      externalCpuFrac > ExternalCpuWarn ||
        (externalCpuFrac < 0 && loadStart > IdleLoadMax * 2) ||
        stealPct > StealWarnPct
  }

  /** Runs `main --group <file> args` in a fresh JVM (see the fork
    * policy above) with `-Xmx$heap`. Its stdout is discarded and its
    * stderr echoed. Returns the lines it wrote to <file>, or Left with
    * its exit code and last stderr line, plus the run's contention. */
  def fork(main: String, heap: String, args: Seq[String])
      : (Either[String, Seq[String]], Contention) = {
    val out = Files.createTempFile("graft-measure-", ".tsv")
    val load0 = loadAvg
    val (cpu0, child0, t0) = (cpuSnapshot(), childCpuS(), System.nanoTime)
    def contention = {
      val (cpu1, child1) = (cpuSnapshot(), childCpuS())
      val wallS = (System.nanoTime - t0) / 1e9
      val ext = (cpu0, cpu1, child0, child1) match {
        case (Some(a), Some(b), Some(c0), Some(c1)) if wallS > 0 =>
          math.max(0.0, busyS(b) - busyS(a) - (c1 - c0)) /
            (wallS * Runtime.getRuntime.availableProcessors)
        case _ => -1.0
      }
      Contention(load0, ext, stealPct(cpu0, cpu1))
    }
    try {
      val inherited = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
      val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
        inherited ++ Seq(s"-Xmx$heap", "-cp", sys.props("java.class.path"),
          main, "--group", out.toString) ++ args
      val p = new ProcessBuilder(cmd.asJava)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
      // the reason quoted on failure: the last error-looking line, else the last
      var (last, lastError) = ("no stderr", Option.empty[String])
      scala.io.Source.fromInputStream(p.getErrorStream).getLines().foreach { l =>
        System.err.println(l)
        last = l
        if (Seq("Error", "Exception", "Killed", "insufficient memory").exists(l.contains))
          lastError = Some(l)
      }
      val rc = p.waitFor()
      if (rc == 0) (Right(Files.readAllLines(out).asScala.toSeq), contention)
      else (Left(s"child exited $rc (heap $heap): ${lastError.getOrElse(last).take(300)}"),
        contention)
    } catch { case e: Throwable =>
      (Left(s"fork machinery: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"),
        Contention(load0, -1.0, -1.0))
    } finally Files.deleteIfExists(out)
  }

  /** The sacrificial first group (see the policy above): true if it ran. */
  def sacrifice(tag: String, main: String, heap: String, args: Seq[String]): Boolean = {
    System.err.println(s"[$tag] sacrificial child (untimed): ${args.mkString(" ")}")
    val res = fork(main, heap, args)._1
    res.left.foreach(r => System.err.println(s"[$tag] sacrificial child failed: $r"))
    res.isRight
  }
}
