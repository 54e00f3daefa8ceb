package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession =
    Session.start(2, new File("target/test-work").getAbsolutePath)

  override def afterAll(): Unit = spark.stop()

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    assert(Stats.samplesNeeded(0.9) == 100)
    assert(Stats.samplesNeeded(0.5) == 20)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 0.5, minTail = 1).contains(3.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time subtracts the union of child spans, clipped to the parent") {
    val op = Span(1, -1, "op", "q", 0.0, 10.0)
    val build = Span(2, 1, "SparkEntry", "q", 0.0, 4.0)
    val action = Span(3, 1, "action", "q", 3.0, 6.0) // overlaps build
    val late = Span(4, 1, "late", "q", 9.0, 12.0) // runs past its parent
    val job = Span(5, 2, "job 0", "q", 1.0, 2.0) // grandchild of op
    val all = Seq(op, build, action, late, job)
    assert(Spans.selfTime(op, all) == 3.0)
    assert(Spans.selfTime(build, all) == 3.0)
    assert(Spans.selfTime(job, all) == 1.0)
    assert(Spans.covered(Seq((0.0, 1.0), (2.0, 3.0), (0.5, 2.5)), 0.0, 10.0) == 3.0)
  }

  test("the seed and the pass fix each pass's op order") {
    val ops = Workloads.structure.ops
    assert(Workloads.order(ops, 7, 1) == Workloads.order(ops, 7, 1))
    assert(Workloads.order(ops, 7, 1).sorted == ops.sorted)
    assert(Workloads.order(ops, 7, 1) != Workloads.order(ops, 7, 2))
    assert(Workloads.order(ops, 7, 1) != Workloads.order(ops, 8, 1))
  }

  test("the number of warm passes depends on the run length only") {
    val w = Workload(Seq("q"), warmS = 2)
    assert(w.warmPasses(1) == 3)
    assert(w.warmPasses(10) == 5)
  }

  test("an output passes only with its recorded digest") {
    val rec = Map("a" -> "3:1:2")
    assert(Expected.check("a", Digest(3, 1, 2), rec).isEmpty)
    assert(Expected.check("a", Digest(3, 1, 3), rec).isDefined)
    assert(Expected.check("missing", Digest(1, 0, 0), rec).isDefined)
    val recorded = Expected.load("expected.json")
    Workloads.all.values.flatMap(_.ops).foreach(op => assert(recorded.contains(op), op))
  }

  test("the digest ignores row order, partitioning and column order") {
    val df = spark.range(1000).select(col("id"),
      (col("id") % 7).cast("string").as("s"), (col("id") * 0.5).as("d"))
    val d = Digest.of(df)
    assert(d.rows == 1000)
    assert(Digest.of(df.repartition(5)) == d)
    assert(Digest.of(df.orderBy(col("id").desc)) == d)
    assert(Digest.of(df.select("d", "s", "id")) == d)
    assert(Digest.of(df.withColumn("d", when(col("id") === 500, 0.0)
      .otherwise(col("d")))) != d)
    assert(Digest.of(df.union(df.limit(1))) != d)
  }

  test("a tiny sf0.001 pass of each workload runs every op") {
    val data = new File("data/sf0.001").getAbsolutePath
    for ((name, w) <- Workloads.all) {
      val r = new Runner(spark, 2, data, Map.empty)
      w.ops.foreach(op => r.runOp(op, 0, check = false))
      assert(r.failures.isEmpty, s"$name: ${r.failures}")
      assert(r.attempted == w.ops.size)
    }
  }
}
