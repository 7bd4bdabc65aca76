package graft.perfbench

import java.nio.file.{Files, Paths}

/** Per-layer numbers from a drained trace. A job belongs to the span
  * named by its job group; an op span owns the jobs of itself and of
  * every span below it. */
final case class Layers(tr: Tracer) {
  val jobs: Seq[JobRec] = tr.listener.map(_.jobs.values.toSeq).getOrElse(Nil)
  private val plans = tr.listener.map(_.plans.toSeq).getOrElse(Nil)
  private val children = tr.spans.groupBy(_.parent)
  private val byGroup = jobs.groupBy(_.group)

  private def ids(sp: Span): Seq[Long] =
    sp.id +: children.getOrElse(sp.id, Nil).toSeq.flatMap(ids)

  def jobsOf(sp: Span): Seq[JobRec] = ids(sp).flatMap(byGroup.getOrElse(_, Nil))

  /** Span time not covered by any of its jobs, in ms. */
  def selfMs(sp: Span): Double = {
    val iv = jobsOf(sp).map(j => (math.max(j.start, sp.start), math.min(j.end, sp.end)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0
    var curS, curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) covered += curE - curS
    sp.dur - covered
  }

  /** Planning ms of the queries that started planning inside the spans. */
  def planMs(spans: Seq[Span]): Double =
    plans.filter { case (t, _) => spans.exists(sp => t >= sp.start - 1 && t <= sp.end) }.map(_._2).sum

  /** Spark runtime totals and driver self time over `spans`. */
  def spark(spans: Seq[Span]): Seq[(String, Double)] = {
    val js = spans.flatMap(jobsOf)
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_run_s" -> js.map(_.runMs).sum / 1000.0,
      "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "spark.task_queue_s" -> js.map(_.queueMs).sum / 1000.0,
      "spark.input_mb" -> js.map(_.inputB).sum / mb,
      "spark.shuffle_write_mb" -> js.map(_.shufWB).sum / mb,
      "spark.shuffle_read_mb" -> js.map(_.shufRB).sum / mb,
      "spark.spill_mb" -> js.map(_.spillB).sum / mb,
      "driver.self_s" -> spans.map(selfMs).sum / 1000.0)
  }

  /** Spans, then jobs, one JSON object a line. */
  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    tr.spans.foreach { sp =>
      sb ++= Json(Map("kind" -> "span", "id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
        "start_ms" -> sp.start, "end_ms" -> sp.end)) += '\n'
    }
    jobs.foreach { j =>
      sb ++= Json(Map("kind" -> "job", "job" -> j.id, "parent" -> j.group, "start_ms" -> j.start,
        "end_ms" -> j.end, "stages" -> j.stages, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
        "task_cpu_ms" -> j.cpuNs / 1e6, "queue_ms" -> j.queueMs)) += '\n'
    }
    Files.writeString(Paths.get(path), sb.toString)
  }
}

/** Just enough JSON for the benchmark's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case o                    => quote(o.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
