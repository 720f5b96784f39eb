package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CosineExprSpec extends AnyFunSuite with SharedSpark {

  test("native cosine expression ≡ higher-order formulation, bit for bit") {
    val e = core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"))
    val pairs = a.join(b, col("ib") === col("ia") + 1)
    val diff = pairs.select(
      VectorFunctions.cosine(col("va"), col("vb")).as("native"),
      VectorFunctions.cosineHof(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("native cosine handles orthogonal, identical and zero vectors") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0), 0.0),
      (Array(1.0, 2.0), Array(1.0, 2.0), 1.0),
      (Array(0.0, 0.0), Array(1.0, 2.0), 0.0))
      .toDF("a", "b", "want")
    val got = df.select(VectorFunctions.cosine($"a", $"b").as("c"), $"want").collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("Tables.load registers graft's functions once per session") {
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(graft.plans.CosineSimilarity.name)
    def entry() = (registry.lookupFunction(id).get, registry.lookupFunctionBuilder(id).get)
    core.Tables.load(spark, "/root/testdata/sf0.001", "region")
    val (info0, builder0) = entry()
    core.Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val (info1, builder1) = entry()
    assert(info1 eq info0, "the second load replaced the registered function")
    assert(builder1 eq builder0, "the second load replaced the function builder")
  }
}
