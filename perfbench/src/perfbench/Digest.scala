package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}

/** The benchmark's consuming action. It executes the key's own plan with
  * its full output schema (as `queryExecution.toRdd` does) and, in the
  * same pass, folds the row count and an order-sensitive digest of every
  * output row, so checking the output costs no extra execution.
  *
  * The digest is a polynomial hash over the whole row sequence:
  * H = Σ h(row_i)·B^(n-1-i) mod 2^64. Each partition folds its own rows;
  * the driver joins the partitions in partition order with
  * H = H·B^len + H_part, so the value depends on the global row order
  * but not on where the partition boundaries fall. */
object Digest {
  private val B = 0x100000001b3L

  def consume(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      lazy val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val r = it.next() match {
          case u: UnsafeRow => u
          case o => proj(o)
        }
        h = h * B + XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset,
          r.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    var n = 0L
    var h = 0L
    parts.foreach { case (pn, ph) =>
      h = h * pow(B, pn) + ph
      n += pn
    }
    (n, h)
  }

  private def pow(b: Long, e: Long): Long = {
    var r = 1L
    var x = b
    var k = e
    while (k > 0) {
      if ((k & 1L) == 1L) r *= x
      x *= x
      k >>= 1
    }
    r
  }

  def hex(h: Long): String = f"$h%016x"
}
