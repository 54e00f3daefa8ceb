package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place graft's entry points (Bench, Verify, Prof, Cli) and the
  * test session build a SparkSession and pick which registry queries run. */
object Session {
  /** Settings `sources.Tables.load` relies on. events.parquet's `ts` comes
    * as TIMESTAMP(NANOS) or as non-UTC-adjusted micros depending on the
    * generator; with these two parquet settings both read as something
    * `Tables.normalizeNanoTs` turns into plain µs TIMESTAMP, and UTC keeps
    * timestamp rendering host-independent. */
  val settings: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  def builder(master: String): SparkSession.Builder =
    SparkSession.builder().master(master).config(settings)

  /** The local session Bench, Verify and Prof run on: `SPARK_GRAFT_CPUS`
    * cores (default 4), one shuffle partition per core. Bucketed-table
    * queries saveAsTable into the warehouse, so it lives outside the
    * working tree. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registry queries `only` names (comma-separated, from
    * `SPARK_GRAFT_ONLY` by default); unset means all of them. An unknown
    * name fails the run: a typo must not turn into a run of zero queries
    * that reports as fast and clean. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
  : Map[String, (SparkSession, String) => DataFrame] = {
    val all = SparkEntry.queries
    only.fold(all) { s =>
      val names = s.split(",", -1).map(_.trim).toSeq
      val unknown = names.filterNot(all.contains)
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names unknown queries: " +
        unknown.map("\"" + _ + "\"").mkString(", "))
      all.filter { case (name, _) => names.contains(name) }
    }
  }
}
