package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Row count plus the wrapping sum of a 64-bit hash of each row's
  * `UnsafeRow` bytes. The sum makes the digest independent of row order
  * and partitioning, while any changed, added or dropped row changes it.
  */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  def hex: String = f"$sum%016x"
}

object Digest {
  val Zero: Digest = Digest(0L, 0L)
  private val Seed = 42L

  def ofRow(r: UnsafeRow): Long =
    XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, Seed)

  /** Folds one partition's rows; rows that are not already unsafe are
    * converted with a projection over `schema`.
    */
  def fold(schema: StructType, rows: Iterator[InternalRow]): Digest = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    var n = 0L
    var s = 0L
    rows.foreach { r =>
      val u = r match {
        case u: UnsafeRow => u
        case other        => toUnsafe(other)
      }
      n += 1
      s += ofRow(u)
    }
    Digest(n, s)
  }

  /** Executes the frame's physical plan unchanged and consumes every output
    * row, under a SQL execution id as a Dataset action would run it.
    */
  def consume(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench.sink")) {
      qe.toRdd
        .mapPartitions(it => Iterator.single(fold(schema, it)))
        .collect()
        .foldLeft(Zero)(_ + _)
    }
  }

  /** Hash of a schema's field names and types. */
  def schemaHash(schema: StructType): String = {
    val b = schema.catalogString.getBytes("UTF-8")
    val p = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    f"${XXH64.hashUnsafeBytes(b, p.toLong, b.length, Seed)}%016x"
  }
}
