package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query is fully materialized through the noop sink — a bare
  * `count()` would let Catalyst prune the projections and undercount the
  * real work.
  *
  * Output contract: stdout carries two lines, both with
  * `"metric":"total"`; consumers tell them apart by their keys, and
  * neither line is renamed or reshaped (round tooling parses both).
  * {{{
  *   {"metric":"total","value":<sec>,"unit":"sec","queries":{"<name>":<sec>,…},
  *    "failed":["<name>",…],"sf":"<dir>"}
  *   {"metric":"total","value":<sec>,"unit":"sec","n":<queries>,"nfailed":<k>,
  *    "sf":"<dir>","cpus":<c>,"queries_file":"<path>"}
  * }}}
  * The first (full) line has the per-query map and is also written to
  * `BENCH_SELF_<sf>_c<cpus>.json` and `BENCH_SELF.json`; the second
  * (summary, under 200 chars) repeats the total, counts the queries and
  * failures and names the file holding the full line, so a tail-limited
  * capture that truncates the first line still parses. Both totals are
  * the same sum of per-query seconds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.registerFunctions(
      graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt
      ).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup on the smallest SF so per-query numbers measure
    // the plan, not JIT.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // Optional comma-separated filter for iterating on one query's plan.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Dev-only: time each query N times and report the fastest, to
    // separate JIT/codegen warmup from real plan cost. The driver never
    // sets this, so its numbers stay single-shot (default 1).
    val repeat = sys.env.get("SPARK_GRAFT_BENCH_REPEAT").map(_.toInt).getOrElse(1)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = selected.map { case (name, fn) =>
      var ok = true
      val times = (0 until repeat).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          ok = false
        }
        (System.nanoTime() - t0) / 1e9
      }
      if (repeat > 1)
        System.err.println(s"[bench] $name runs: ${times.map(t => f"$t%.2f").mkString(", ")}")
      val elapsed = times.min
      // Stream every per-query time as it lands: a long board killed
      // mid-run (wall-clock budget, wedged query) used to lose EVERY
      // completed measurement because the JSON only prints at the end.
      System.err.println(f"[bench] $name%s done: $elapsed%.3f s")
      // Hermetic per-query timing: release anything the query left behind
      // (cached plans, streaming memory-sink views) and let the JVM
      // settle, so query N+1 measures its own plan, not query N's
      // residue. Scratch-parquet intermediates live on disk and survive.
      // Runs OUTSIDE the timed region: each query still pays for its own
      // materialization work inside it.
      spark.catalog.clearCache()
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      // Streaming queries leave their state-store providers loaded in
      // the executor JVM after stop() (HDFS-backed maps the maintenance
      // thread keeps alive) — with 8 streaming queries in the suite that
      // residue taxes every later query's GC. Unload them; the next
      // streaming query transparently reloads from its checkpoint.
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      // Terminated queries also stay referenced by the stream manager
      // (for awaitAnyTermination bookkeeping) — with 10+ streaming
      // queries that pins every sink/plan until reset.
      spark.streams.resetTerminated()
      System.gc()
      (name, elapsed, ok)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    // Failed queries stay in "queries" (their elapsed is real) but are
    // called out here so a partial run can't pass for a clean one.
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // Structured copy for consumers that can't rely on an untruncated
    // stdout capture (sbt prefixes and log tails have eaten the line
    // before — BENCH_r07/r15/r16 all recorded parsed:null because the
    // ~6 KB line exceeds a 2 KB tail capture): ALWAYS write one JSON
    // file, same payload, so the round record is self-describing
    // regardless of the capture. The default filename is stamped with
    // the SF-dir basename and the core count so that a second run at a
    // different core count (the driver benches at two) does not clobber
    // the first; the unstamped BENCH_SELF.json is also kept current for
    // consumers that look there. Override with SPARK_GRAFT_BENCH_OUT.
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    val stamped = s"BENCH_SELF_${sfName}_c$cpus.json"
    val outPaths = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(Seq(_)).getOrElse(Seq(stamped, "BENCH_SELF.json"))
    outPaths.foreach { outPath =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line)
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }
    }
    // Short trailing summary (<200 chars): survives tail-limited captures
    // that truncate the full line above, so the total/failure count is
    // always parseable even when the per-query map is not.
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"nfailed":${results.count(!_._3)},"sf":"$sfDir","cpus":$cpus,"queries_file":"${outPaths.head}"}""")
    spark.stop()
  }
}
