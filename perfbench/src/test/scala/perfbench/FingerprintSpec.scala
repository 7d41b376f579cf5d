package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType),
    StructField("tags", ArrayType(StringType)),
    StructField("attrs", MapType(StringType, IntegerType)),
    StructField("amount", DecimalType(18, 2))))

  private def row(id: Long, score: Double, tags: Seq[String],
      attrs: Map[String, Int], amount: String): Row =
    Row(id, score, tags, attrs, new java.math.BigDecimal(amount))

  private val rows = Seq(
    row(1, 0.5, Seq("a", "b"), Map("x" -> 1, "y" -> 2), "10.25"),
    row(2, -0.0, Seq(), Map(), "0.00"),
    row(3, Double.NaN, null, null, "-3.10"))

  test("row order does not change the fingerprint") {
    assert(Fingerprint.of(schema, rows) ==
      Fingerprint.of(schema, rows.reverse))
  }

  test("column order does not change the fingerprint") {
    val perm = Seq(3, 0, 4, 2, 1)
    val s2 = StructType(perm.map(schema.fields(_)))
    val r2 = rows.map(r => Row.fromSeq(perm.map(r.get)))
    assert(Fingerprint.of(schema, rows) == Fingerprint.of(s2, r2))
  }

  test("map entry order does not change the fingerprint") {
    val r2 = rows.updated(0,
      row(1, 0.5, Seq("a", "b"), scala.collection.immutable.ListMap(
        "y" -> 2, "x" -> 1), "10.25"))
    assert(Fingerprint.of(schema, rows) == Fingerprint.of(schema, r2))
  }

  test("a single changed cell changes the fingerprint") {
    val base = Fingerprint.of(schema, rows)
    val changed = Seq(
      row(1, 0.5000000000000001, Seq("a", "b"), Map("x" -> 1, "y" -> 2),
        "10.25"),
      row(1, 0.5, Seq("b", "a"), Map("x" -> 1, "y" -> 2), "10.25"),
      row(1, 0.5, Seq("a", "b"), Map("x" -> 1, "y" -> 3), "10.25"),
      row(1, 0.5, Seq("a", "b"), Map("x" -> 1, "y" -> 2), "10.26"),
      row(4, 0.5, Seq("a", "b"), Map("x" -> 1, "y" -> 2), "10.25"))
    changed.foreach { r =>
      assert(Fingerprint.of(schema, rows.updated(0, r)) != base, r)
    }
    // -0.0 and 0.0 differ bitwise, and a null differs from an empty array
    assert(Fingerprint.of(schema, rows.updated(1,
      row(2, 0.0, Seq(), Map(), "0.00"))) != base)
    assert(Fingerprint.of(schema, rows.updated(1,
      row(2, -0.0, null, Map(), "0.00"))) != base)
  }

  test("duplicate rows count") {
    assert(Fingerprint.of(schema, rows :+ rows.head) !=
      Fingerprint.of(schema, rows))
    assert(Fingerprint.of(schema, rows).startsWith("3:"))
  }
}
