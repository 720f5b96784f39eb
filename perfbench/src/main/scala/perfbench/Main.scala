package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{TableSpec, TableStore}

/** What a workload shares with the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, work: File)

/** One closed-loop workload: a sequence of equal-cost ops, each fed fresh
  * input, each checked against a computation made apart from the program.
  */
trait Workload {
  /** Measured ops per second of `--seconds`, so a run on the reference box
    * measures about that long while every run does the same ops. */
  def opsPerSecond: Double
  /** Ops run before measuring, from the warm-up curve in the README. */
  def warmupOps: Int
  /** Generate the inputs and preload history into a fresh store at `dir`. */
  def prepare(dir: File): Unit
  /** Start anything long-running over the last prepared store. */
  def start(): Unit = ()
  /** Run op `i` (warm-up ops first, then measured ones) and return the
    * new input rows it delivered. */
  def op(i: Int): Long
  /** Check op `i`'s outputs; runs after the op, outside its timing. */
  def check(i: Int): Boolean
  /** Whole-run checks on the final state; false makes the run incorrect. */
  def finalCheck(): Boolean = true
  /** Root of the workload's TableStore tables. */
  def storeRoot: File
  /** The workload's tables, for the traced live-file count. */
  def tables: Seq[(TableStore, TableSpec)]
  /** Per-workload extra trace metrics (the streaming progress split). */
  def traceMetrics(measuredOps: Int): Map[String, Double] = Map.empty
  def traceDetail: String = "null"
  def stop(): Unit = ()
}

object Main {
  /** Spark task threads. The ops are dominated by per-job driver work on
    * small inputs, so two threads run them as fast as four and leave the
    * other cores of a 4-core box to JIT, GC and the driver. */
  val SparkThreads = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val result = new File(opts("result"))

    val cores = math.min(SparkThreads, Runtime.getRuntime.availableProcessors())
    val spark = graft.core.GraftSession.registerFunctions(
      graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s: $what")
    mark("session ready")
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, seed, work)
    val w: Workload = workload match {
      case "futures_eod" => new FuturesEod(ctx)
      case "tick_bars" => new TickBars(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val measuredOps = math.max(2, math.round(seconds * w.opsPerSecond).toInt)
    mark("workload built")

    val tPrep = System.nanoTime()
    w.prepare(new File(work, "store"))
    val prepS = (System.nanoTime() - tPrep) / 1e9
    w.start()
    mark("prepared")

    var failed = 0
    val opWall = mutable.ArrayBuffer[Double]()
    val warmWall = mutable.ArrayBuffer[Double]()
    val opCpu = mutable.ArrayBuffer[Double]()
    val perOp = mutable.ArrayBuffer[String]()
    var rows = 0L
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def runOp(i: Int, measured: Boolean): Unit = {
      tracer.op = i
      tracer.measured = measured
      val c0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val ok = try {
        val n = w.op(i)
        val dt = (System.nanoTime() - t0) / 1e9
        val dc = (cpuBean.getProcessCpuTime - c0) / 1e9
        if (measured) { opWall += dt; opCpu += dc; rows += n } else warmWall += dt
        val good = w.check(i)
        if (!good) System.err.println(s"[perfbench] op $i failed its check")
        if (trace)
          perOp += s"""{"op":$i,"measured":$measured,"wall_s":${Json.num(dt)},""" +
            s""""rows":$n,"ok":$good,"scratch_mb":${Json.num(Files.scratchMb())},""" +
            s""""store_mb":${Json.num(Files.sizeMb(w.storeRoot))}}"""
        good
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $i threw: $e")
          e.printStackTrace()
          false
      }
      if (!ok) failed += 1
    }

    val tWarm = System.nanoTime()
    (0 until w.warmupOps).foreach(i => runOp(i, measured = false))
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val liveStart = if (trace) Files.live(w.tables) else Files.Live(0, 0L)
    val steal0 = CpuStat.read()
    (w.warmupOps until w.warmupOps + measuredOps).foreach(i => runOp(i, measured = true))
    val steal1 = CpuStat.read()
    tracer.measured = false

    // live heap as the forced GC left it: each heap pool's usage right after
    // its last collection, unaffected by threads allocating since then. The
    // pauses let Spark's ContextCleaner drop the broadcasts and shuffles the
    // previous GC found unreachable, so the last GC sees them gone.
    (0 until 3).foreach { k => if (k > 0) Thread.sleep(500); System.gc() }
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / Files.MB
    val storeMb = Files.sizeMb(w.storeRoot)
    val scratchMb = Files.scratchMb()
    val live = if (trace) Files.live(w.tables) else Files.Live(0, 0L)

    mark("measured")
    val tFinal = System.nanoTime()
    val correct = try w.finalCheck() catch {
      case e: Exception =>
        System.err.println(s"[perfbench] final check threw: $e")
        false
    }
    w.stop()
    val finalS = (System.nanoTime() - tFinal) / 1e9

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_s_p50", Stats.median(opWall.toSeq), "s"),
        ("rows_per_s", rows / opWall.sum, "rows/s"),
        ("cpu_s_per_op", opCpu.sum / measuredOps, "s"),
        ("heap_live_mb", heapMb, "MB"),
        ("store_mb", storeMb, "MB"))
      else {
        tracer.drain()
        val attributed = Layers.attribute(tracer.spans.toSeq, tracer.fold)
        val layers = Layers.names
        val layer = Layers.metrics(attributed, tracer.fold, measuredOps, layers)
        val units = Layers.kinds.toMap
        val written = layer.collect { case (k, v) if k.startsWith("TableStore.") &&
          k.endsWith(".output_mb") => v }.sum * measuredOps
        val growthMb = (live.bytes - liveStart.bytes) / Files.MB
        val stream = Seq("stream.addBatch_ms", "stream.queryPlanning_ms",
          "stream.walCommit_ms", "stream.state_rows").map(_ -> 0.0).toMap
        val extra = stream ++ w.traceMetrics(measuredOps) ++ Map(
          "TableStore.write_amp" -> (if (growthMb > 0) written / growthMb else 0.0),
          "TableStore.live_files" -> live.files.toDouble,
          "Scratch.disk_mb" -> scratchMb)
        val extraUnits = Map("stream.state_rows" -> "rows", "TableStore.write_amp" -> "ratio",
          "TableStore.live_files" -> "count", "Scratch.disk_mb" -> "MB")
        val traceFile = new File(work, "trace.json")
        TraceFile.write(traceFile, tracer, attributed, perOp.toSeq, w.traceDetail,
          Map("write_amp_written_mb" -> written, "write_amp_live_growth_mb" -> growthMb))
        System.err.println(s"[perfbench] trace written to $traceFile")
        layers.flatMap(l => Layers.kinds.map { case (k, u) =>
          (s"$l.$k", layer(s"$l.$k"), units(k)) }) ++
          extra.toSeq.sortBy(_._1).map { case (k, v) =>
            (k, v, extraUnits.getOrElse(k, if (k.endsWith("_ms")) "ms" else "count")) }
      }

    val steal = CpuStat.stealShare(steal0, steal1)
    val attempted = w.warmupOps + measuredOps
    val out = new StringBuilder
    out ++= s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{"""
    out ++= metrics.map { case (k, v, u) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    out ++= "}}"
    val info = f"cpu_steal_share=${steal}%.4f measured_ops=$measuredOps " +
      f"warmup_ops=${w.warmupOps} warmup_walls_s=${warmWall.map(t => f"$t%.3f").mkString(",")} " +
      f"op_walls_s=${opWall.map(t => f"$t%.3f").mkString(",")} " +
      f"prepare_s=$prepS%.1f warmup_s=$warmS%.1f final_check_s=$finalS%.1f"
    Files.writeText(result, info + "\n" + out.toString + "\n")
    mark("result written")
    spark.stop()
    mark("stopped")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The guest's CPU steal share from `/proc/stat` (read only). */
object CpuStat {
  /** (steal, total) jiffies of the aggregate cpu line, or None. */
  def read(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().find(_.startsWith("cpu ")) finally src.close()
      line.map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]:
        // guest time is already inside user, so the total stops at steal
        val total = f.take(8).sum
        (if (f.length > 7) f(7) else 0L, total)
      }
    } catch { case _: Exception => None }

  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => Double.NaN
    }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
