package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Posting-list shape of the exact PPJoin kernels at a SF: per-gram
  * prefix/full posting counts, the enumerated join mass, the fused
  * path's chunk count, and the bytes the chunk-explode would REPLICATE
  * through the repartition exchange — the numbers that decide whether
  * bucket-style fusion pays for these kernels.
  *
  * Usage: runMain graft.tools.PpMassProbe [dir]
  */
object PpMassProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.registerFunctions(
      graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt
      ).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup
    val tau = 0.4
    val docs = graft.core.Tables.documents(spark, dir)
    val norm = udf { t: String =>
      if (t == null) null
      else t.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ") }
    val reps = docs
      .select(col("doc_id"), norm(col("text")).as("__norm"))
      .filter(col("__norm").isNotNull)
      .groupBy(col("__norm")).agg(min(col("doc_id")).as("__id"))
    val sets = reps.select(col("__id"),
      Dedup.wordShingleSet(5)(col("__norm")).as("__sh"))
      .withColumn("__n", size(col("__sh"))).filter(col("__n") > 0)
    val grams = sets.select(col("__id"), col("__n"),
      explode(col("__sh")).as("__g"))
    val dfc = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    // exact per-gram prefix postings: rank each doc's grams by (df, gram)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__df"), col("__g"))
    val ranked = grams.join(dfc, "__g")
      .withColumn("__rk", row_number().over(w))
    val prefixes = ranked
      .filter(col("__rk") <= col("__n") - ceil(lit(tau) * col("__n") - lit(1e-9)) + 1)
    val pc = prefixes.groupBy("__g").agg(count(lit(1)).as("__ca"))
    val fc = ranked.groupBy("__g").agg(count(lit(1)).as("__cb"))
    val joined = pc.join(fc, Seq("__g"))
    val chunkPairs = 131072L
    val stats = joined.select(
      sum(col("__ca") * (col("__ca") - 1) / 2).cast("long").as("jacMass"),
      sum(col("__ca") * col("__cb")).cast("long").as("contMass"),
      sum(greatest(lit(1L), (col("__ca") * (col("__ca") - 1) / 2
        + lit(chunkPairs - 1)) / chunkPairs)).cast("long").as("jacChunks"),
      sum(greatest(lit(1L), (col("__ca") * col("__cb")
        + lit(chunkPairs - 1)) / chunkPairs)).cast("long").as("contChunks"),
      sum(greatest(lit(1L), (col("__ca") * (col("__ca") - 1) / 2
        + lit(chunkPairs - 1)) / chunkPairs) * col("__ca") * 24)
        .cast("long").as("jacDupBytes"),
      sum(greatest(lit(1L), (col("__ca") * col("__cb")
        + lit(chunkPairs - 1)) / chunkPairs) * (col("__ca") + col("__cb")) * 28)
        .cast("long").as("contDupBytes"),
      max(col("__ca")).as("maxPrefixDf"), max(col("__cb")).as("maxFullDf"),
      count(lit(1)).as("grams")).head()
    println(s"[pp-mass] $dir $stats")
    spark.stop()
  }
}
