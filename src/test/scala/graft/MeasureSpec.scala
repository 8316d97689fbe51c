package graft

import graft.tools.Measure
import org.scalatest.funsuite.AnyFunSuite

/** Child side of the fork tests: `--group <out> heap` writes this JVM's
  * max heap to <out>; `--group <out> fail` exits 3 after one stderr line. */
object MeasureProbe {
  def main(args: Array[String]): Unit = args(2) match {
    case "heap" =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
        Runtime.getRuntime.maxMemory.toString + "\n")
    case _ =>
      System.err.println("probe: boom")
      sys.exit(3)
  }
}

class MeasureSpec extends AnyFunSuite {
  import TestSession._

  test("median of odd and even sample counts") {
    assert(Measure.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Measure.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Measure.median(Seq(7.0)) == 7.0)
  }

  test("steal: a missing snapshot is -1 and guest time is not counted twice") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val before = Measure.cpuFields("cpu  0 0 0 0 0 0 0 0 0 0")
    val after = Measure.cpuFields("cpu  30 10 10 40 0 0 0 10 25 5")
    assert(after.sum == 100, "guest fields must not enter the total")
    assert(Measure.stealPct(Some(before), Some(after)) == 10.0)
    assert(Measure.stealPct(None, Some(after)) == -1.0)
    assert(Measure.stealPct(Some(before), None) == -1.0)
    assert(Measure.stealPct(Some(after), Some(after)) == -1.0, "empty window")
  }

  test("a child that exits non-zero is a failure quoting its last stderr line") {
    val (res, _) = Measure.fork("graft.MeasureProbe", "256m", Seq("fail"))
    assert(res.isLeft)
    val reason = res.swap.toOption.get
    assert(reason.contains("exited 3") && reason.contains("probe: boom"), reason)
  }

  test("a child gets the stated heap, not the parent's") {
    val parentMax = Runtime.getRuntime.maxMemory
    val child0 = Measure.childCpuS()
    val (res, stat) = Measure.fork("graft.MeasureProbe", "256m", Seq("heap"))
    val childMax = res.toOption.get.head.toLong
    assert(childMax <= 256L * 1024 * 1024 && childMax > 200L * 1024 * 1024,
      s"child maxMemory $childMax")
    assert(parentMax > 2 * childMax, s"parent maxMemory $parentMax")
    // the child's CPU reaches the contention record through the
    // parent's reaped-children times
    for (c0 <- child0; c1 <- Measure.childCpuS()) assert(c1 > c0)
    if (Measure.cpuSnapshot().isDefined) assert(stat.externalCpuFrac >= 0)
  }

  test("a cold rep leaves the cache empty, also when it fails") {
    val (wall, qe) = Measure.coldRep(spark) {
      val t = spark.range(1000).toDF("x").cache()
      t.join(t.withColumnRenamed("x", "y"), t("x") === org.apache.spark.sql.functions.col("y"))
    }
    assert(wall > 0)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(Measure.fingerprint(qe.executedPlan.toString).values.sum > 0)
    intercept[IllegalStateException] {
      Measure.coldRep(spark) {
        spark.range(10).toDF("x").cache()
        throw new IllegalStateException("rep failed")
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
