package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{expr, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The generated-code cache holds more plan shapes than Spark's default
  * 100 entries, so a plan shape rerun on fresh data after a hundred
  * others reuses its compiled classes instead of recompiling them. */
class CodegenCacheSpec extends AnyFunSuite with SharedSpark {

  test("a plan shape rerun after 120 other shapes compiles no new class") {
    import spark.implicits._
    // A literal inside an aggregate stays in the generated code (a
    // projection over a LocalRelation would be folded by the optimizer
    // and generate nothing), so each k is a distinct whole-stage class.
    def shape(k: Int, data: Seq[Long]): Long =
      data.toDF("id").agg(sum(expr(s"id * $k + $k"))).head().getLong(0)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = compiles.getCount
    assert(shape(1, Seq(1L, 2L, 3L)) == 9L)
    assert(compiles.getCount > first, "the first shape must compile its classes")
    for (k <- 2 to 121) shape(k, Seq(1L, 2L, 3L))
    val before = compiles.getCount
    assert(shape(1, Seq(7L, 8L)) == 17L)
    assert(compiles.getCount == before,
      s"the first shape recompiled ${compiles.getCount - before} classes")
  }
}
