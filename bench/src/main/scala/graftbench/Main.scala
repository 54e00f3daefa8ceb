package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM. `run.py` launches it once per set-up measurement
  * (`mode=setup`) and once for the measured run (`mode=run`); `mode=record`
  * writes every op's output for the one-time oracle cross-check.
  *
  * Arguments are `key=value` pairs: mode, workload, seed, seconds, trace,
  * data, work, launched_ms, out, expected, cores. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Session.start(cores, a("work"))
    // The program's query registry is loaded as part of set-up, so work
    // moved into its initialisation shows in setup_s.
    require(graft.SparkEntry.queries.nonEmpty)
    val setupS = (System.currentTimeMillis() - a("launched_ms").toLong) / 1e3
    val out = a("mode") match {
      case "setup" => s"""{"setup_s": $setupS}"""
      case "run" =>
        val r = new Runner(spark, cores, a("data"), Expected.load(a("expected")))
        val w = Workloads.all(a("workload"))
        val trace = a("trace") == "1"
        r.run(w.ops, a("seed").toLong, w.warmPasses(a("seconds").toDouble), trace,
          a("work"), setupS)
      case "record" => Record.run(spark, a("data"), a("work"))
    }
    Files.writeString(Paths.get(a("out")), out)
    // A set-up-only JVM has nothing to flush; the run's directory holding
    // Spark's scratch files is removed by the next run.
    if (a("mode") == "setup") Runtime.getRuntime.halt(0)
    spark.stop()
  }
}

object Session {
  /** Bench's session settings, with every path inside `work`. Bench's
    * generic warm-up query is left out: each run's first pass is its cold
    * pass, which the warm passes' medians leave out. */
  def start(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** The recorded output digest of each op, from `expected.json`. */
object Expected {
  def load(path: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    (parse(Files.readString(Paths.get(path))) \ "ops").extract[Map[String, JValue]]
      .map { case (op, v) => op -> (v \ "digest").extract[String] }
  }

  /** None when `d` is what was recorded for `op`, else why not. */
  def check(op: String, d: Digest, expected: Map[String, String]): Option[String] =
    expected.get(op) match {
      case None => Some("no recorded output")
      case Some(want) => if (d.toString == want) None else Some(s"digest $d, recorded $want")
    }
}

final case class OpResult(latency: Double, window: OpWindow)

object Json {
  /** A JSON string literal: quotes, backslashes and control characters escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** One measured run: a cold pass and `warmPasses` warm passes over a
  * workload's ops, each op timed from the start of its `SparkEntry` call to
  * the end of its action, and its output checked. */
final class Runner(spark: SparkSession, cores: Int, data: String,
                   expected: Map[String, String]) {
  private val sc = spark.sparkContext
  private val clock = new Clock
  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcSeconds = gcs.map(_.getCollectionTime).sum / 1e3
  private val MB = 1024.0 * 1024.0

  var attempted = 0
  val failures = mutable.ArrayBuffer[String]()
  val leaks = mutable.LinkedHashMap[String, Int]()

  /** Runs one op; None when it threw or its output was wrong. */
  def runOp(op: String, pass: Int, check: Boolean): Option[OpResult] = {
    val id = s"$pass/$op"
    val persisted = sc.getPersistentRDDs.size
    sc.setLocalProperty(Tracer.OpProperty, id)
    sc.setJobDescription(op)
    attempted += 1
    val result = try {
      val t0 = clock.now()
      val df: DataFrame = graft.SparkEntry.queries(op)(spark, data)
      val t1 = clock.now()
      val d = Digest.of(df)
      val t2 = clock.now()
      (if (check) Expected.check(op, d, expected) else None) match {
        case Some(why) => failures += s"$op: $why"; None
        case None => Some(OpResult(t2 - t0, OpWindow(pass, op, id, t0, t1, t2)))
      }
    } catch {
      case e: Throwable =>
        failures += s"$op: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    } finally {
      sc.setLocalProperty(Tracer.OpProperty, null)
      sc.setJobDescription(null)
    }
    // Leak probe, outside the timed region: whatever the op left
    // persisted after the session's cache is cleared.
    spark.catalog.clearCache()
    val leaked = sc.getPersistentRDDs.size - persisted
    if (leaked > 0) leaks(op) = leaks.getOrElse(op, 0) + leaked
    result
  }

  def run(ops: Seq[String], seed: Long, warmPasses: Int, trace: Boolean, work: String,
          setupS: Double): String = {
    val tracer = if (trace) Some(new Tracer(spark, clock, cores)) else None
    val spans = mutable.ArrayBuffer[Span]()
    var nextId = 0
    def newId(): Int = { nextId += 1; nextId }

    val walls, cpus, heaps = mutable.ArrayBuffer[Double]()
    val latencies = mutable.ArrayBuffer[(String, Double)]()
    val tracedWalls, untracedWalls = mutable.ArrayBuffer[Double]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val leakedPerPass = mutable.ArrayBuffer[Double]()
    // Pass 0 is the JVM's cold pass (class loading, JIT, first codegen);
    // the end-to-end times are medians over the warm passes after it.
    for (pass <- 0 to warmPasses) {
      // A traced run traces its even warm passes only: the difference of
      // the traced and untraced medians is the tracing overhead, and with
      // untraced passes on both sides the JVM's warming trend cancels.
      val traced = trace && pass > 0 && pass % 2 == 0
      if (traced) tracer.get.attach()
      val leakedBefore = leaks.values.sum
      val cpu0 = cpu.getProcessCpuTime
      val gc0 = gcSeconds
      val results = Workloads.order(ops, seed, pass).flatMap(runOp(_, pass, check = true))
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      val gcS = gcSeconds - gc0
      val wall = results.map(_.latency).sum
      // Heap still in use after a full collection, outside the timed region.
      // The second collection comes after Spark's cleaner has had time to
      // drop the broadcast and shuffle state the first one released.
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
      walls += wall; cpus += cpuS; heaps += heap
      if (pass > 0) latencies ++= results.map(r => r.window.op -> r.latency)
      leakedPerPass += (leaks.values.sum - leakedBefore).toDouble
      if (traced) {
        val compile = tracer.get.detach()
        val windows = results.map(_.window)
        val passSpan = Span(newId(), -1, s"pass $pass", "",
          windows.map(_.start).minOption.getOrElse(0.0), windows.map(_.end).maxOption.getOrElse(0.0))
        spans += passSpan
        val phaseIds = mutable.Map[(String, Boolean), Int]()
        windows.foreach { w =>
          val opSpan = Span(newId(), passSpan.id, "op", w.op, w.start, w.end)
          val build = Span(newId(), opSpan.id, "SparkEntry", w.op, w.start, w.buildEnd)
          val action = Span(newId(), opSpan.id, "action", w.op, w.buildEnd, w.end)
          spans ++= Seq(opSpan, build, action)
          phaseIds((w.id, true)) = build.id
          phaseIds((w.id, false)) = action.id
        }
        spans ++= tracer.get.jobSpans(windows, (id, inBuild) => phaseIds((id, inBuild)), () => newId())
        layers += tracer.get.passMetrics(windows, compile) +
          ("jvm.gc_pause_s" -> gcS) + ("jvm.heap_after_gc_mb" -> heap)
        tracedWalls += wall
      } else if (pass > 0) untracedWalls += wall
    }
    val diag = mutable.LinkedHashMap[String, String](
      "warm_passes" -> warmPasses.toString,
      "warm_op_samples" -> latencies.size.toString,
      "op_p90_s" -> Stats.percentile(latencies.map(_._2).toSeq, 0.9).map(v => f"$v%.4f")
        .getOrElse(s"not reported: ${latencies.size} samples, ${Stats.samplesNeeded(0.9)} needed"),
      "pass_walls_s" -> walls.map(w => f"$w%.3f").mkString("[", ",", "]"),
      // Process CPU counts the JIT compiler threads, which are busiest in
      // exactly these first passes; it spread 26 % between runs, too wide
      // to gate on, so it is reported here only.
      "cpu_s" -> f"${Stats.median(cpus.tail.toSeq)}%.3f",
      "leaking_ops" -> leaks.map { case (k, v) => s"$k=$v" }.mkString("[", ",", "]"))
    val perOp = latencies.groupBy(_._1).values.map(l => Stats.median(l.map(_._2).toSeq)).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("wall_s", Stats.median(walls.tail.toSeq), "s"),
        ("op_p50_s", Stats.median(perOp), "s"),
        ("heap_mb", Stats.median(heaps.toSeq), "MB"),
        ("ok_frac", (attempted - failures.size).toDouble / attempted, "frac"))
      else {
        val keys = layers.head.keys.toSeq.sorted
        val perLayer = keys.map(k => (k, Stats.median(layers.map(_(k)).toSeq), Tracer.unit(k)))
        val overhead = Stats.median(tracedWalls.toSeq) - Stats.median(untracedWalls.toSeq)
        Files.writeString(Paths.get(s"$work/spans.json"), Spans.toJson(spans.toSeq))
        perLayer ++ Seq(
          ("jvm.leaked_rdds", Stats.median(leakedPerPass.toSeq), "count"),
          ("jvm.pass_drift", walls.last / walls(1), "ratio"),
          ("trace.overhead_s", overhead, "s"))
      }
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
    val failed = failures.map(Json.str)
    val d = diag.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
    s"""{"setup_s": $setupS, "attempted": $attempted, "failed": ${failures.size}, "failures": ${failed.mkString("[", ",", "]")}, "metrics": {${m.mkString(", ")}}, "diagnostics": {${d.mkString(", ")}}}"""
  }
}

/** Writes each op's output as parquet plus its oracle SQL, in the layout
  * `tools/compare_oracle.py` reads, and each op's digest taken twice, at
  * two points of one JVM's life, to show it is stable. */
object Record {
  def run(spark: SparkSession, data: String, work: String): String = {
    val ops = Workloads.all.values.flatMap(_.ops).toSeq.distinct.sorted
    def digests(): Map[String, Digest] = ops.map { op =>
      op -> Digest.of(graft.SparkEntry.queries(op)(spark, data))
    }.toMap
    val first = digests()
    val second = digests()
    ops.foreach { op =>
      graft.SparkEntry.queries(op)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/record/$op")
    }
    import Json.{str => q}
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.writeString(Paths.get(s"$work/record/oracle_sql.json"),
      oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    ops.map { op =>
      val (a, b) = (first(op), second(op))
      s"""${q(op)}: {"digest": ${q(a.toString)}, "stable": ${a == b}}"""
    }.mkString("{", ",\n", "}")
  }
}
