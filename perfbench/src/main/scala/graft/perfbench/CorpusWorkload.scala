package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** corpus_pipeline: passes over the `d01`–`d44` ops of
  * `SparkEntry.queries`, each op a `.count()` followed by a cache reset,
  * as graft.Bench runs them. */
final class CorpusWorkload(spark: SparkSession, args: Main.Args, tr: Tracer) {
  private val ops = Main.corpusOps
  /** op -> row count of its oracle-checked answer, -1 if the answer
    * failed the check; one `op<TAB>rows` line each */
  private val checked: Map[String, Long] = args.checked.toSeq
    .flatMap(p => Files.readAllLines(Paths.get(p)).toArray.map(_.toString))
    .map(_.split("\t")).collect { case Array(op, n) => op -> n.toLong }.toMap
  private val s = new Samples

  /** One measured op: timed, counted, its count compared with the
    * checked answer's. */
  private def measured(op: String, traced: Boolean): Unit = {
    s.attempted += 1
    try {
      val t0 = System.nanoTime()
      val n = tr.span(s"corpus.$op", traced)(SparkEntry.queries(op)(spark, args.sfDir).count())
      s.lat += ((op, (System.nanoTime() - t0) / 1e6, traced))
      checked.get(op) match {
        case Some(want) if want == n && want >= 0 => ()
        case Some(want) if want < 0 => s.fail(op, "answer did not match its oracle")
        case Some(want) => s.fail(op, s"count $n, checked answer has $want rows")
        case None => s.fail(op, "no checked answer")
      }
    } catch { case e: Throwable => s.fail(op, e.toString) }
    finally spark.catalog.clearCache()
  }

  def run(jvmStartMs: Double): Map[String, Any] = {
    s.calibrate(spark)
    // warm-up over the smallest scale factor: JIT, codegen and the
    // first footer reads move out of the timed region. The ops run
    // `cpus` at a time, which shortens set-up and changes nothing timed.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try ops.map { op =>
      pool.submit(new Runnable {
        def run(): Unit = try SparkEntry.queries(op)(spark, args.warmupDir).count() catch { case _: Throwable => () }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    spark.catalog.clearCache()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val passes = Gen.corpusPlan(args.seed, ops, 64)
    val base = Map[String, Any](
      "digest" -> Gen.digest(passes.iterator.map(_.mkString(","))), "setup_s" -> setupS)
    if (!tr.on) {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      // whole passes only, so every run times the same op mix; another
      // pass starts only if one more like the last still ends in time
      var done = 0
      var last = 0.0
      while (done == 0 || elapsed + last <= args.seconds) {
        val p0 = elapsed
        passes(done).foreach(measured(_, traced = false))
        last = elapsed - p0
        done += 1
      }
      val secs = elapsed
      s.recheck(spark)
      val lat = s.lat.map(_._2).toSeq
      base ++ result ++ Map(
        "samples" -> lat.size,
        "seconds" -> secs,
        "metrics" -> Map(
          "setup_s" -> setupS,
          "p50_ms" -> Main.quantile(lat, 0.5),
          "p90_ms" -> Main.quantile(lat, 0.9),
          "ops_per_s" -> lat.size / secs),
        "extra" -> Map("corpus_docs_per_s" -> 5000.0 * done / secs, "passes" -> done))
    } else {
      // every op once traced and once untraced, in seeded order; the
      // order within each pair alternates so neither side is always warm
      passes(0).zipWithIndex.foreach { case (op, i) =>
        val first = i % 2 == 0
        measured(op, traced = first)
        measured(op, traced = !first)
      }
      tr.drain()
      val l = Layers(tr)
      val opSpans = tr.spans.filter(_.parent == 0).toSeq
      val m = mutable.LinkedHashMap[String, Double]()
      m ++= l.spark(opSpans)
      m("plans.plan_ms") = l.planMs(opSpans) / math.max(1, opSpans.size)
      m("plans.plan_share") = l.planMs(opSpans) / math.max(1e-9, opSpans.map(_.dur).sum)
      m("trace.overhead_frac") = s.overheadFrac
      // the ops at >= 1 s or >= 10 jobs in sizing, then the rest together
      val named = Seq("d03", "d12", "d16", "d25", "d29", "d30", "d41", "d44")
      val (mine, rest) = opSpans.partition(sp => named.contains(sp.name.stripPrefix("corpus.").take(3)))
      mine.foreach { sp =>
        val d = sp.name.stripPrefix("corpus.").take(3)
        m(s"corpus.op.$d.ms") = sp.dur
        m(s"corpus.op.$d.jobs") = l.jobsOf(sp).size.toDouble
      }
      m("corpus.rest.ms") = rest.map(_.dur).sum
      m("corpus.rest.jobs") = rest.map(l.jobsOf(_).size).sum.toDouble
      args.traceOut.foreach(l.writeJsonl(_))
      base ++ result ++ Map("samples" -> s.lat.size, "layers" -> m.toMap)
    }
  }

  private def result: Map[String, Any] =
    Map("attempted" -> s.attempted, "failed" -> s.failed, "failures" -> s.failures.toMap, "probe_ms" -> s.probeMs)
}
