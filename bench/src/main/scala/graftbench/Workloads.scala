package graftbench

/** A named op list from `graft.SparkEntry.queries`, with the time one warm
  * pass over it took on the reference host (4 cores, sf0.01). */
final case class Workload(ops: Seq[String], warmS: Double) {
  /** Warm passes in a run that measures about `seconds` of warm passes on
    * the reference host. The count is fixed by the workload, never by the
    * speed of the code under test, so both sides of a comparison do the
    * same work: the JVM keeps warming for tens of passes, and a pass count
    * that grew with speed would flatter a faster program twice. */
  def warmPasses(seconds: Double): Int = math.max(3, math.round(seconds / warmS).toInt)
}

/** The benchmark's workloads. Each pass runs every op once, in an order
  * drawn from the run's seed and the pass number, so no op always pays the
  * cold start of the JVM. */
object Workloads {
  /** Per-structure, ProteoFAV-analog queries; each is mostly fixed cost
    * (planning, codegen, scheduling). */
  val structure: Workload = Workload(warmS = 2.2, ops = Seq(
    "q_filter_eq", "q_annotation_agg", "q_sifts_dbs", "q_table_merger",
    "q_centroid", "q_dssp_full_chain"))

  /** The write side: micro-batches, state stores, checkpoints, file sinks. */
  val stream: Workload = Workload(warmS = 2.8, ops = Seq(
    "q_stream_dedup", "q_stream_upsert", "q_stateful_sessions",
    "q_export_shards"))

  val all: Map[String, Workload] =
    Map("structure" -> structure, "stream" -> stream)

  /** The op order of one pass: a permutation fixed by (seed, pass). */
  def order(ops: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
}
