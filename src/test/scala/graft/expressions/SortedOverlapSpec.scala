package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** graft_sorted_overlap must count exactly what
  * size(array_intersect(a, b)) counts whenever both inputs are sorted
  * and duplicate-free — the invariant every call site
  * (array_sort(array_distinct(hash)) fingerprints) upholds.
  */
class SortedOverlapSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = graft.SparkSuite.session
    Hash64.register(s)
    s
  }

  test("kernel: empty, disjoint, identical, interleaved, ragged") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    def arr(xs: Long*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    assert(SortedOverlap.compute(arr(), arr(1L, 2L)) === 0)
    assert(SortedOverlap.compute(arr(1L, 3L), arr(2L, 4L)) === 0)
    assert(SortedOverlap.compute(arr(1L, 2L, 3L), arr(1L, 2L, 3L)) === 3)
    assert(SortedOverlap.compute(
      arr(-5L, 1L, 7L, 9L), arr(1L, 2L, 7L, 10L)) === 2)
    assert(SortedOverlap.compute(arr(Long.MinValue, 0L, Long.MaxValue),
      arr(Long.MinValue, Long.MaxValue)) === 2)
  }

  test("SQL parity with size(array_intersect) on sorted distinct arrays") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random cases, overlap forced by a small
    // value domain; one DataFrame so the fused expression runs through
    // the real codegen path
    val rnd = new scala.util.Random(42)
    val cases = (1 to 200).map { _ =>
      def mk() = Array.fill(rnd.nextInt(40))(rnd.nextLong() % 50)
        .distinct.sorted
      (mk(), mk())
    }
    val rows = cases.toDF("a", "b")
      .selectExpr("graft_sorted_overlap(a, b) as fused",
        "size(array_intersect(a, b)) as reference")
      .collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("null input propagates to SQL NULL like size(array_intersect)") {
    val s = spark
    // a null of the accepted type: array<bigint> without null elements
    val noNulls = ArrayType(LongType, containsNull = false)
    val r = s.range(1)
      .select(lit(null).cast(noNulls).as("a"), expr("array(1L, 2L)").as("b"))
      .selectExpr("graft_sorted_overlap(a, b) as x").head()
    assert(r.isNullAt(0))
  }

  test("arrays that may hold null elements are rejected") {
    val s = spark
    // array(1L, null) has type array<bigint> with containsNull = true;
    // the merge walk would read the null as 0
    val boom = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("select graft_sorted_overlap(array(1L, null), array(0L, 1L))")
        .collect()
    }
    assert(boom.getMessage.contains("graft_sorted_overlap"))
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("select graft_sorted_overlap(array(0L, 1L), " +
        "cast(null as array<bigint>))").collect()
    }
  }
}
