package perfbench

import java.io.File

/** The traced run's record: every span (name, start, end, parent, op id),
  * every job with its owning span and call site, the per-op series and the
  * workload's own detail, written once when the run ends. */
object TraceFile {
  def write(f: File, tracer: Tracer, a: Layers.Attributed, perOp: Seq[String],
      detail: String, extra: Map[String, Double]): Unit = {
    val spans = a.spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"parent":${s.parent},"op":${s.op},""" +
        s""""measured":${s.measured},"derived":${s.derived}}"""
    }
    val jobs = tracer.fold.jobs.values.map { j =>
      val stages = j.stageIds.flatMap(id => tracer.fold.stages.get(id).map(id -> _))
        .filter(_._2.taskMs.nonEmpty)
      s"""{"id":${j.id},"span":${a.owner.getOrElse(j.id, -1)},"start_ms":${Json.num(j.startMs)},""" +
        s""""end_ms":${Json.num(j.endMs)},"stages":${stages.size},""" +
        s""""tasks":${stages.map(_._2.taskMs.size).sum},""" +
        s""""exec_cpu_s":${Json.num(stages.map(_._2.cpuNs).sum / 1e9)},""" +
        s""""call_site":${Json.str(j.callSite.linesIterator.take(6).mkString(" | "))}}"""
    }
    val body = s"""{"spans":[${spans.mkString(",\n")}],
"jobs":[${jobs.mkString(",\n")}],
"unowned_jobs":[${a.unowned.mkString(",")}],
"ops":[${perOp.mkString(",\n")}],
"extra":{${extra.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}},
"workload":$detail}
"""
    Files.writeText(f, body)
  }
}
