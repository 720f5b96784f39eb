package perfbench

import scala.collection.mutable

import perfbench.Tracer._

/** Folds the traced run's spans and jobs into per-layer metrics named
  * `<Layer>.<fn>.<kind>`, each per measured op.
  *
  * Counters (jobs, stages, CPU, GC, bytes) belong to the span that ran the
  * job, not to its ancestors; `wall_s` includes child spans and `self_s`
  * excludes them.
  */
object Layers {

  /** Layers every workload reports, called or not. */
  val names: Seq[String] = Seq(
    "TableStore.upsert", "TableStore.overwritePartitions", "TableStore.read",
    "ContinuousFutures.continuousSeries",
    "TickBarStream.microbatch",
    "Dedup.minHashDupPairsAuto", "Dedup.prefixFilterPairs", "Dedup.containmentPairs",
    "Dedup.connectedComponents")

  /** (kind, unit) for every layer. */
  val kinds: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "self_s" -> "s", "calls" -> "count", "jobs" -> "count",
    "stages" -> "count", "exec_cpu_s" -> "s", "gc_s" -> "s", "input_mb" -> "MB",
    "output_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
    "driver_only_s" -> "s", "task_skew" -> "ratio")

  private val MB = 1024.0 * 1024.0

  /** Jobs the streaming query's own thread submits carry neither a span
    * property nor a useful call site (Spark pins it to the query's start).
    * Inside a micro-batch span, `upsertingSink` runs an emptiness probe
    * (a `CollectLimit` plan), which stays with the micro-batch; every other
    * job of the trigger is the sink's `TableStore.upsert`, collected into a
    * derived child span bounded by its first and last job. */
  private def isEmptinessProbe(plan: String): Boolean = plan.contains("CollectLimit")

  final case class Attributed(spans: Seq[Span], owner: Map[Int, Int], unowned: Seq[Int])

  def attribute(spans0: Seq[Span], fold: TaskFold): Attributed = {
    val spans = mutable.ArrayBuffer[Span]() ++= spans0
    val owner = mutable.HashMap[Int, Int]()
    val unowned = mutable.ArrayBuffer[Int]()
    val derivedOf = mutable.HashMap[Int, Span]()
    val microbatches = spans0.filter(_.name == "TickBarStream.microbatch")
    fold.jobs.values.foreach { j =>
      j.spanProp match {
        case Some(s) => owner(j.id) = s
        case None =>
          microbatches.find(m => m.startMs <= j.startMs && j.startMs <= m.endMs) match {
            case Some(m) if !isEmptinessProbe(fold.planOf(j)) =>
              val d = derivedOf.getOrElseUpdate(m.id, {
                val s = Span(spans.size, "TableStore.upsert", m.id, m.op, m.measured,
                  j.startMs, j.endMs, derived = true)
                spans += s
                s
              })
              d.startMs = math.min(d.startMs, j.startMs)
              d.endMs = math.max(d.endMs, j.endMs)
              owner(j.id) = d.id
            case Some(m) => owner(j.id) = m.id
            case None => unowned += j.id
          }
      }
    }
    Attributed(spans.toSeq, owner.toMap, unowned.toSeq)
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2).toDouble
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Per-layer metrics over the measured ops, keyed `<layer>.<kind>`. */
  def metrics(a: Attributed, fold: TaskFold, measuredOps: Int,
      layers: Seq[String]): Map[String, Double] = {
    val children = a.spans.groupBy(_.parent)
    val jobsOf = a.owner.toSeq.groupBy(_._2).map { case (s, js) =>
      s -> js.map(p => fold.jobs(p._1)) }
    def descendants(s: Span): Seq[Span] =
      children.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c))
    def stagesOf(j: JobRec): Seq[StageAgg] =
      j.stageIds.flatMap(fold.stages.get).filter(_.taskMs.nonEmpty)
    val out = mutable.LinkedHashMap[String, Double]()
    layers.foreach { layer =>
      val ss = a.spans.filter(s => s.name == layer && s.measured)
      val acc = mutable.HashMap[String, Double]().withDefaultValue(0.0)
      val skews = mutable.ArrayBuffer[Double]()
      ss.foreach { s =>
        val own = jobsOf.getOrElse(s.id, Nil)
        val st = own.flatMap(stagesOf)
        val kids = children.getOrElse(s.id, Nil)
        val allJobs = (s +: descendants(s)).flatMap(d => jobsOf.getOrElse(d.id, Nil))
        acc("wall_s") += s.durMs / 1e3
        acc("self_s") += (s.durMs - covered(kids.map(k => (k.startMs, k.endMs)),
          s.startMs, s.endMs)) / 1e3
        acc("calls") += 1
        acc("jobs") += own.size
        acc("stages") += st.size
        acc("exec_cpu_s") += st.map(_.cpuNs).sum / 1e9
        acc("gc_s") += st.map(_.maxGcMs).sum / 1e3
        acc("input_mb") += st.map(_.inBytes).sum / MB
        acc("output_mb") += st.map(_.outBytes).sum / MB
        acc("shuffle_write_mb") += st.map(_.shuffleWriteBytes).sum / MB
        acc("spill_mb") += st.map(_.spillBytes).sum / MB
        acc("driver_only_s") += (s.durMs - covered(allJobs.map(j => (j.startMs, j.endMs)),
          s.startMs, s.endMs)) / 1e3
        if (st.nonEmpty) {
          val longest = st.maxBy(x => x.completedMs - x.submittedMs)
          skews += longest.taskMs.max / math.max(median(longest.taskMs.toSeq), 1.0)
        }
      }
      kinds.foreach { case (k, _) =>
        out(s"$layer.$k") =
          if (k == "task_skew") (if (skews.isEmpty) 0.0 else skews.sum / skews.size)
          else acc(k) / math.max(measuredOps, 1)
      }
    }
    out.toMap
  }
}
