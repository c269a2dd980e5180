package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution

/** Order-independent result signature: row count plus the sum of each
  * row's hash. The fold runs on the executors over the query's own
  * executed plan, inside one action, so every row and column is produced
  * exactly as a user's collect would produce it: no aggregate is put on
  * top of the plan, so Catalyst can neither prune columns nor drop the
  * final sort. */
final case class Signature(rows: Long, hash: Long) {
  override def toString: String = s"$rows\t$hash"
}

object Signature {
  def parse(s: String): Signature = {
    val Array(r, h) = s.split("\t")
    Signature(r.toLong, h.toLong)
  }

  def of(df: DataFrame): Signature = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("signature")) {
      qe.executedPlan.execute().mapPartitions { it =>
        val unsafe = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r => n += 1; h += unsafe(r).hashCode() }
        Iterator((n, h))
      }.collect().foldLeft(Signature(0L, 0L)) { case (s, (n, h)) =>
        Signature(s.rows + n, s.hash + h)
      }
    }
  }
}
