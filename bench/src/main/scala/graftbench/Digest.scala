package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col

/** Order-independent digest of a query's whole output: the row count and
  * two 32-bit-lane sums of a 64-bit hash of each row's binary form.
  * Columns are taken in name order, as the DuckDB oracle compare does.
  * Computing it is the op's action: every column of every row is produced,
  * as with a noop write, and the physical plan is run as planned. */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows:$lo:$hi"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val sorted = df.select(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val qe = sorted.queryExecution
    val schema = sorted.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("graftbench digest")) {
      qe.toRdd.mapPartitions { rows =>
        val project = UnsafeProjection.create(schema)
        var n, lo, hi = 0L
        rows.foreach { r =>
          val u = project(r)
          val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1; lo += h & 0xffffffffL; hi += h >>> 32
        }
        Iterator(Digest(n, lo, hi))
      }.collect()
    }
    Digest(parts.map(_.rows).sum, parts.map(_.lo).sum, parts.map(_.hi).sum)
  }
}
