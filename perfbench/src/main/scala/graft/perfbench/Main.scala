package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side. `perfbench/run.py` builds it and starts it
  * once per run, with one client thread driving the engine through its
  * public functions (closed loop). It writes one JSON object to `--out`;
  * run.py adds the oracle verdicts and prints the result line.
  *
  * Modes:
  *  - `--trace 0`: set up, then time the workload for `--seconds`.
  *  - `--trace 1`: set up traced, then run a fixed seeded op list in
  *    which each op kind alternates between untraced and traced calls,
  *    and report the per-layer numbers of the traced ones.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      sfDir: String,
      warmupDir: String,
      work: String,
      out: String,
      checked: Option[String],
      traceOut: Option[String])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      m("workload"), m("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m("sf-dir"), m("warmup-dir"), m("work"), m("out"),
      m.get("checked"), m.get("trace-out"))
  }

  val corpusOps: IndexedSeq[String] = SparkEntry.queries.keys
    .filter(k => k.matches("d\\d\\d_.*") && k.take(3).drop(1).toInt <= 44).toVector.sorted

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val work = Paths.get(args.work).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val load0 = loadAvg()
    // the same session settings as graft.Bench, with every scratch
    // location inside the run's own directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res =
      try {
        val tr = new Tracer(spark, args.trace)
        args.workload match {
          case "corpus_pipeline" => new CorpusWorkload(spark, args, tr).run(t0)
          case "index_lifecycle" => new IndexWorkload(spark, args, tr, work).run(t0)
          case w                 => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } finally spark.stop()
    val load1 = loadAvg()
    val all = res ++ Map(
      "peak_rss_mb" -> peakRssMb(),
      "loadavg" -> Seq(load0, load1),
      "nproc" -> cpus)
    Files.writeString(Paths.get(args.out), Json(all))
  }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  /** Harrell–Davis estimate of the q-quantile: a Beta-weighted mean of
    * all order statistics. A run has only a few dozen samples, and one
    * order statistic jumps from run to run as neighbouring ops trade
    * places; the weighted mean does not. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(0.0)
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }
  }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally st.close()
    }
}

/** Samples and failures of one run, and the traced/untraced pairing. */
final class Samples {
  /** Times of a trivial Spark job (one empty task per core), taken in
    * set-up and again after the timed loop, never inside it. On a shared
    * host the time to schedule and run a job drifts from minute to minute;
    * the median goes into the run's context line, so a slow host can be
    * told apart from a slow engine. It scales no metric. The job is an
    * RDD count, so no engine code runs in it. */
  val probes = mutable.ArrayBuffer[Double]()
  def probe(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    sc.parallelize(0 until sc.defaultParallelism, sc.defaultParallelism).count()
    probes += (System.nanoTime() - t0) / 1e6
  }
  /** warm the probe's code paths, then take its first samples */
  def calibrate(spark: SparkSession): Unit = {
    (1 to 30).foreach(_ => probe(spark))
    probes.clear()
    (1 to 5).foreach(_ => probe(spark))
  }
  /** more samples once the timed loop has ended */
  def recheck(spark: SparkSession): Unit = (1 to 5).foreach(_ => probe(spark))
  def probeMs: Double = Main.quantile(probes.toSeq, 0.5)

  /** (kind, latency ms, traced) in call order */
  val lat = mutable.ArrayBuffer[(String, Double, Boolean)]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap[String, String]()
  /** dir listings per call, by kind */
  val listings = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()

  def fail(what: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures(what) = why.take(300)
  }
  def of(kind: String): Seq[Double] = lat.collect { case (k, v, _) if k == kind => v }.toSeq

  /** Σ traced ÷ Σ untraced − 1 over pairs matched by kind and order. */
  def overheadFrac: Double = {
    val byKind = lat.groupBy(_._1)
    var tr, un = 0.0
    byKind.values.foreach { xs =>
      val t = xs.filter(_._3).map(_._2)
      val u = xs.filterNot(_._3).map(_._2)
      t.zip(u).foreach { case (a, b) => tr += a; un += b }
    }
    if (un > 0) tr / un - 1.0 else 0.0
  }
}
