package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class DigestSuite extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType), StructField("x", DoubleType)))

  private def row(id: Long, name: String, x: Double): InternalRow =
    InternalRow(id, if (name == null) null else UTF8String.fromString(name), x)

  private val rows = (1L to 50L).map(i => row(i, s"n$i", i * 0.5)) :+ row(51L, null, -0.0)

  private def digest(rs: Seq[InternalRow]): Digest = Digest.fold(schema, rs.iterator)

  test("the digest does not depend on row order or partitioning") {
    val whole = digest(rows)
    assert(digest(rows.reverse) == whole)
    assert(digest(scala.util.Random.shuffle(rows)) == whole)
    val parts = rows.grouped(7).map(digest).foldLeft(Digest.Zero)(_ + _)
    assert(parts == whole)
    assert(whole.rows == rows.size)
  }

  test("a changed row changes the digest, with the row count unchanged") {
    val whole = digest(rows)
    val changedValue = rows.updated(10, row(11L, "n11", 5.5000001))
    val changedString = rows.updated(10, row(11L, "n12", 5.5))
    val changedNull = rows.updated(50, row(51L, "", -0.0))
    Seq(changedValue, changedString, changedNull).foreach { rs =>
      val d = digest(rs)
      assert(d.rows == whole.rows)
      assert(d.hex != whole.hex)
    }
  }

  test("a dropped or duplicated row changes the count and the digest") {
    val whole = digest(rows)
    assert(digest(rows.tail) != whole)
    assert(digest(rows :+ rows.head) != whole)
    assert(digest(rows :+ rows.head).rows == whole.rows + 1)
  }

  test("unsafe and generic forms of the same row hash alike") {
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
    val unsafe = rows.map(r => proj(r).copy())
    assert(digest(unsafe) == digest(rows))
  }

  test("the schema hash sees names and types") {
    val h = Digest.schemaHash(schema)
    assert(Digest.schemaHash(schema) == h)
    assert(Digest.schemaHash(schema.add("y", IntegerType)) != h)
    assert(Digest.schemaHash(StructType(schema.fields.updated(2, StructField("x", FloatType)))) != h)
  }
}
