package perfbench

import java.lang.management.ManagementFactory
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Engine, EngineSession, QueryResult, SparkEntry}
import graft.optimizer.JoinReorderRule
import graft.parser.Ast.SelectStmt
import graft.parser.Parser
import org.apache.spark.perfbench.ListenerBusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run inside one pinned JVM.
  *
  * Reads a run spec (written by run.py), sets up `setups` times (fresh
  * SparkContext, catalog registration, untimed warm-up), then runs
  * `run_passes` closed-loop passes over the spec's ops with one client. Every op goes through graft's public
  * API: `Parser.parse` + `EngineSession.executeStmt` (dialect),
  * `Engine.sql` (ANSI SQL) or `SparkEntry.queries` (operators). The
  * layer split forces `optimizedPlan` and `executedPlan` on the same
  * `QueryExecution` that `collect()` then runs, so traced and untraced
  * passes do the same work. In a traced run, odd passes record spans,
  * listener totals and GC; even passes do not, and comparing the two
  * (after the first pass) gives the tracing overhead. Output rows, spans and totals go to one JSON file; run.py
  * checks the rows and derives the metrics. */
object Main {

  /** `dir` overrides the run's input directory (warm-up on small inputs). */
  final case class Op(id: String, kind: String, cls: String, text: String,
      check: String, indexed: Boolean, joins: Int, dir: String)

  private def ops(n: JsonNode): Vector[Op] = n.elements().asScala.map { o =>
    def s(k: String) = Option(o.get(k)).filter(!_.isNull).map(_.asText).orNull
    Op(s("id"), s("kind"), s("cls"), s("text"), s("check"),
      Option(o.get("indexed")).exists(_.asBoolean),
      Option(o.get("joins")).map(_.asInt).getOrElse(0), s("dir"))
  }.toVector

  /** Spans of traced passes: name, start ns, end ns, parent index, op key. */
  final class Tracer {
    var on = false
    val spans = mutable.ArrayBuffer.empty[(String, Long, Long, Int, String)]
    private var stack = List.empty[Int]
    def apply[T](name: String, op: String)(f: => T): T =
      if (!on) f
      else {
        val idx = spans.length
        spans += ((name, System.nanoTime, 0L, stack.headOption.getOrElse(-1), op))
        stack = idx :: stack
        try f
        finally {
          spans(idx) = spans(idx).copy(_3 = System.nanoTime)
          stack = stack.tail
        }
      }
  }

  /** Task totals per op, keyed by the job group the op ran under. */
  final class ExecListener extends SparkListener {
    final class Acc {
      var stages, tasks, failed = 0L
      var cpuNs, schedMs, shufW, shufR, spill, peakMem = 0L
    }
    val byOp = mutable.Map.empty[String, Acc]
    private val stageOp = mutable.Map.empty[Int, String]
    private def acc(stage: Int) = stageOp.get(stage).map(byOp.getOrElseUpdate(_, new Acc))
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => e.stageIds.foreach(stageOp(_) = g))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      acc(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      acc(e.stageId).foreach { a =>
        a.tasks += 1
        if (e.reason != org.apache.spark.Success) a.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          val i = e.taskInfo
          a.schedMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        }
      }
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** JSON for one collected value; timestamps as naive UTC ISO text. */
  def json(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb ++= "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) quote(d.toString, sb) else sb ++= d.toString
    case f: Float => json(f.toDouble, sb)
    case b: java.math.BigDecimal => sb ++= b.toPlainString
    case x @ (_: Boolean | _: Int | _: Long | _: Short | _: Byte) => sb ++= x.toString
    case s: String => quote(s, sb)
    case t: Instant => quote(TsFmt.format(LocalDateTime.ofInstant(t, ZoneOffset.UTC)), sb)
    case t: LocalDateTime => quote(TsFmt.format(t), sb)
    case t: java.sql.Timestamp => json(t.toInstant, sb)
    case d: LocalDate => quote(d.toString, sb)
    case d: java.sql.Date => quote(d.toString, sb)
    case r: Row => seq(r.toSeq, sb)
    case a: Array[Byte] => quote(a.map("%02x".format(_)).mkString, sb)
    case m: scala.collection.Map[_, _] =>
      seq(m.toSeq.map { case (k, x) => Seq(k, x) }.sortBy(_.head.toString), sb)
    case s: scala.collection.Iterable[_] => seq(s.toSeq, sb)
    case other => quote(other.toString, sb)
  }
  private def seq(xs: Seq[Any], sb: StringBuilder): Unit = {
    sb += '['
    xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; json(x, sb) }
    sb += ']'
  }
  def quote(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  /** Order-free fingerprint of a result; doubles at 9 significant digits
    * so that re-association noise in parallel sums does not count. */
  private def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Iterable[_] => s.map(canon).mkString("[", ",", "]")
      case other => String.valueOf(other)
    }
    val h = rows.map(r => canon(r)).sorted
    f"${scala.util.hashing.MurmurHash3.orderedHash(h.toSeq)}%08x-${rows.length}"
  }

  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(new java.io.File(args(0)))
    val workload = spec.get("workload").asText
    val dir = spec.get("dir").asText
    val nPasses = spec.get("run_passes").asInt
    val traced = spec.get("trace").asBoolean
    val nSetups = spec.get("setups").asInt
    val cpus = spec.get("cpus").asInt
    val warmup = ops(spec.get("warmup"))
    val passes = spec.get("passes").elements().asScala.map(ops).toVector
    val entryNames = passes.flatten.filter(_.kind == "entry").map(_.text).distinct
    val entries = SparkEntry.queries.filter { case (k, _) => entryNames.contains(k) }
    val oracleNames = spec.get("oracle_names").elements().asScala.map(_.asText).toSet
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => oracleNames(k) }

    val tracer = new Tracer
    var spark: SparkSession = null
    var sess: EngineSession = null

    def force(df: DataFrame, key: String): (Array[Row], Seq[String]) = {
      tracer("optimizer", key)(df.queryExecution.optimizedPlan)
      tracer("optimizer.phys", key)(df.queryExecution.executedPlan)
      (tracer("exec", key)(df.collect()), df.columns.toSeq)
    }

    def execute(op: Op, key: String): (Array[Row], Seq[String]) = tracer("op", key) {
      op.kind match {
        case "dialect" =>
          val stmts = tracer("parser", key)(Parser.parse(op.text))
          var out: (Array[Row], Seq[String]) = (null, Nil)
          stmts.foreach {
            case s: SelectStmt =>
              val df = tracer("planner", key)(sess.executeStmt(s) match {
                case QueryResult(df) => df
                case other => sys.error(s"not a query: $other")
              })
              out = force(df, key)
            case st => tracer("storage.write", key)(sess.executeStmt(st))
          }
          out
        case "sql" => force(tracer("planner", key)(Engine.sql(spark, dir, op.text)), key)
        case "entry" =>
          val in = Option(op.dir).getOrElse(dir)
          force(tracer("operators.build", key)(entries(op.text)(spark, in)), key)
      }
    }

    // ---- set-up, several times; the timed loop uses the last one
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = (0 until nSetups).map { i =>
      val t0 = System.nanoTime
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = Engine.session("perfbench", s"local[$cpus]")
      val t1 = System.nanoTime
      workload match {
        case "tpch_dialect" => sess = EngineSession.withTestdata(spark, dir)
        case "dialect_dml" =>
          sess = new EngineSession(spark)
          sess.execute("CREATE DATABASE bench; USE bench;")
        case _ => Engine.registerViews(spark, dir)
      }
      val t2 = System.nanoTime
      warmup.foreach { op =>
        execute(op, "warmup")
        if (op.kind == "entry") spark.catalog.clearCache()
      }
      val t3 = System.nanoTime
      val sinceStart =
        if (i == 0) System.currentTimeMillis - jvmStartMs else (t3 - t0) / 1e6
      Seq("session_ms" -> (t1 - t0) / 1e6, "register_ms" -> (t2 - t1) / 1e6,
        "warmup_ms" -> (t3 - t2) / 1e6, "total_ms" -> sinceStart)
    }

    // ---- timed closed loop
    val listener = new ExecListener
    val records = new StringBuilder
    val seenFp = mutable.Set.empty[(String, String)]
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var timedNs = 0L
    var p = 0
    while (p < nPasses) {
      val tracedPass = traced && p % 2 == 1
      tracer.on = tracedPass
      if (tracedPass) spark.sparkContext.addSparkListener(listener)
      var passNs = 0L
      passes(p % passes.length).zipWithIndex.foreach { case (op, i) =>
        val key = s"$p.$i"
        spark.sparkContext.setJobGroup(key, op.id, interruptOnCancel = false)
        val reorders0 = JoinReorderRule.reorderCount
        val gc0 = gcMs()
        val t0 = System.nanoTime
        val res = try Right(execute(op, key)) catch { case e: Throwable => Left(e) }
        val ns = System.nanoTime - t0
        val gc = gcMs() - gc0
        val reorders = JoinReorderRule.reorderCount - reorders0
        spark.sparkContext.clearJobGroup()
        passNs += ns
        // ---- untimed: fingerprint, write-side check, cache release
        val sb = new StringBuilder
        sb ++= s"""{"pass":$p,"i":$i,"key":"$key","id":"""; quote(op.id, sb)
        sb ++= s""","cls":"${op.cls}","ms":${ns / 1e6},"traced":$tracedPass"""
        sb ++= s""","gc_ms":$gc,"reorders":$reorders,"joins":${op.joins},"indexed":${op.indexed}"""
        res match {
          case Left(e) =>
            sb ++= ""","ok":false,"err":"""
            quote(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500), sb)
          case Right((rows, cols)) =>
            sb ++= ""","ok":true"""
            if (rows != null) {
              val fp = fingerprint(rows)
              sb ++= s""","fp":"$fp","cols":"""; seq(cols, sb)
              if (seenFp.add((op.id, fp))) { sb ++= ""","rows":"""; seq(rows.toSeq, sb) }
            }
        }
        if (op.check != null) {
          try {
            val df = sess.query(op.check)
            sb ++= s""","arms":${df.queryExecution.analyzed.collectLeaves().size}"""
            sb ++= ""","check":"""; seq(df.collect().toSeq, sb)
          } catch { case e: Throwable =>
            sb ++= ""","check_err":"""; quote(String.valueOf(e.getMessage).take(500), sb)
          }
        }
        if (op.kind == "entry") {
          sb ++= s""","pinned_after":${spark.sparkContext.getPersistentRDDs.size}"""
          spark.catalog.clearCache()
        }
        sb ++= "}\n"
        records ++= sb
      }
      if (tracedPass) {
        ListenerBusShim.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      passWall += ((tracedPass, passNs / 1e6))
      timedNs += passNs
      p += 1
    }
    tracer.on = false

    // ---- one result file
    val rss = scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get
    }.getOrElse(-1.0)
    val out = new StringBuilder
    out ++= "{\"workload\":"; quote(workload, out)
    out ++= s""","passes_run":$p,"timed_s":${timedNs / 1e9},"peak_rss_mb":$rss"""
    out ++= s""","heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"cores":$cpus"""
    out ++= ""","jvm_flags":"""
    seq(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq, out)
    out ++= ""","setups":["""
    out ++= setups.map(_.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      .mkString(",")
    out ++= "],\"pass_wall\":"
    seq(passWall.map { case (t, ms) => Seq(t, ms) }.toSeq, out)
    out ++= ",\"oracles\":{"
    out ++= oracles.toSeq.map { case (k, v) =>
      val sb = new StringBuilder; quote(k, sb); sb += ':'; quote(v, sb); sb.toString
    }.mkString(",")
    out ++= "},\"exec\":{"
    out ++= listener.byOp.toSeq.map { case (k, a) =>
      s""""$k":{"stages":${a.stages},"tasks":${a.tasks},"failed":${a.failed},""" +
        s""""cpu_ns":${a.cpuNs},"sched_ms":${a.schedMs},"shuffle_w":${a.shufW},""" +
        s""""shuffle_r":${a.shufR},"spill":${a.spill},"peak_mem":${a.peakMem}}"""
    }.mkString(",")
    out ++= "},\"spans\":"
    seq(tracer.spans.toSeq.map { case (n, a, b, par, k) => Seq(n, a, b, par, k) }, out)
    out ++= ",\"ops\":[\n"
    out ++= records.toString.linesIterator.mkString(",\n")
    out ++= "]}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(spec.get("out").asText), out)
    spark.stop()
  }
}
