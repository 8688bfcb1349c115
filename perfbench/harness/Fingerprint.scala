package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.SQLExecution

/** The timed action: an order-insensitive fingerprint over every output
  * column of the frame's already-planned physical plan.
  *
  * It runs `queryExecution.toRdd`, so the plan that executes is exactly the
  * one the plan phase forced, and no column or sort can be pruned away the
  * way a bare `.count()` lets Catalyst do. Per row it takes `xxhash64` of all
  * columns; the fingerprint is (rows, xor of hashes, sum of hashes mod p),
  * so duplicate rows still change it.
  */
object Fingerprint {
  private val P = 1000000007L

  def of(df: DataFrame): String = {
    val qe = df.queryExecution
    val attrs = qe.executedPlan.output
    val hash = BindReferences.bindReference(XxHash64(attrs, 42L): Expression, attrs)
    SQLExecution.withNewExecutionId(qe, Some("graftbench fingerprint")) {
      val parts = qe.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(Seq(hash))
        var n = 0L; var x = 0L; var s = 0L
        rows.foreach { r =>
          val h = proj(r).getLong(0)
          n += 1; x ^= h; s = (s + java.lang.Math.floorMod(h, P)) % P
        }
        Iterator((n, x, s))
      }.collect()
      val n = parts.map(_._1).sum
      val x = parts.foldLeft(0L)(_ ^ _._2)
      val s = parts.foldLeft(0L)((a, p) => (a + p._3) % P)
      f"$n:$x%016x:$s"
    }
  }
}
