package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a query's output rows: the row count
  * plus the wrapping sum of each row's 64-bit hash. Each row is
  * projected to its UnsafeRow bytes first, so the hash sees the
  * values, never the physical row class the plan happened to emit.
  * A sum (not an xor) keeps duplicate rows from cancelling. */
final case class Digest(rows: Long, hash: Long) {
  def render(withHash: Boolean): String =
    if (withHash) f"$rows:$hash%016x" else rows.toString
}

object Digest {
  private val Seed = 42L

  def of(rdd: RDD[InternalRow], schema: StructType): Digest = {
    val (n, h) = rdd.mapPartitions { it =>
      lazy val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { row =>
        val u = row match {
          case u: UnsafeRow => u
          case other => proj(other)
        }
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, Seed)
        n += 1
      }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    Digest(n, h)
  }
}
