package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (JVM-wide). */
object GraftSpark {
  lazy val spark: SparkSession = {
    val s = Session.builder("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Base class: shared spark + implicits. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpark.spark
  lazy val sqlImplicits = spark.implicits
}
