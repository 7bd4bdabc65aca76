package graft.perfbench

import graft.Tables
import graft.retrieval.Postings
import graft.similarity.Knn
import graft.sources.Layout
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** index_lifecycle: a BM25 postings index and an IVF vector index that
  * keep serving searches while rows are ingested, retracted and
  * maintained. Input batches are built driver-side from the testdata
  * rows, as a caller holding a batch in memory would pass them. */
final class IndexWorkload(spark: SparkSession, args: Main.Args, tr: Tracer, work: Path) {
  import IndexWorkload._

  private val s = new Samples
  private val tag = s"${ProcessHandle.current().pid()}_${System.nanoTime().toHexString}"
  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  /** One scale factor's rows, held driver-side. */
  private final class Source(dir: String) {
    val texts: Map[Long, String] = Tables(spark, dir).documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs: Map[Long, Seq[Float]] = Tables(spark, dir).embeddings.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    /** model centroids: vectors 0..7, as the e-series gates build them */
    def centroids: DataFrame = {
      val e = Tables(spark, dir).embeddings
        .select(col("vec_id"), Knn.asDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(Knn.dot(col("v"), col("v"))))
      e.filter(col("vec_id") < 8).select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    }
    def docs(rows: Iterable[(Long, Long)]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rows.toSeq.map { case (id, src) => Row(id, texts(src)) }: _*), docSchema)
    def vectors(rows: Iterable[(Long, Long)]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rows.toSeq.map { case (id, src) => Row(id, vecs(src)) }: _*), vecSchema)
  }

  /** The two indexes under one name and directory. */
  private final class Pair(val name: String, val dir: Path, src: Source, cents: DataFrame) {
    def bm25 = s"${name}_bm25"
    def ivf = s"${name}_ivf"
    def build(docs: Iterable[(Long, Long)], vecs: Iterable[(Long, Long)], traced: Boolean): Unit = {
      tr.span("retrieval.build", traced)(
        Postings.writeIndex(src.docs(docs), "doc_id", "text", bm25, dir.resolve("bm25").toString, buckets = 16))
      tr.span("similarity.build", traced)(
        Knn.writeIvfIndex(src.vectors(vecs), cents, "vec_id", "embedding", ivf, dir.resolve("ivf").toString, buckets = 8))
    }
    def search(terms: Seq[String]): Seq[(Long, Double)] =
      Postings.bm25TopK(Postings.livePostings(spark, bm25), Postings.statsTable(spark, bm25), terms, K)
        .select(col("doc_id"), col("score")).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def knn(q: Long): Seq[(Long, Long, Double)] =
      Knn.ivfTopK(spark, ivf, src.vectors(Seq(q -> q)), "vec_id", "embedding", K, excludeSelf = false)
        .select(col("n_id"), col("rank"), col("cos")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._2)
    def drop(): Unit = { Postings.dropIndex(spark, bm25); Knn.dropIvfIndex(spark, ivf) }
  }

  private val counts = mutable.HashMap[String, Int]().withDefaultValue(0)
  /** bytes of files that appeared under the index directory, per op kind */
  private val written = mutable.HashMap[String, Long]().withDefaultValue(0L)
  private var walkWrites = false

  private def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try st.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .map(f => f.toString -> Files.size(f)).toMap
      finally st.close()
    }

  /** false during the warm-up cycle: its ops run, and a throw counts as
    * a failure, but nothing else is recorded */
  private var recording = true

  /** One user op: timed, its directory listings counted, a throw counted
    * as a failure. In a traced run the calls of a kind go untraced,
    * traced, traced, untraced, ..., so each pair of calls has one of each
    * and neither side is always the warmer one. */
  private def op[T](kind: String, dir: Path)(body: => T): Option[T] = {
    s.attempted += 1
    if (!recording)
      try Some(body) catch { case e: Throwable => s.fail(s"warm-up $kind", e.toString); None }
    else {
      val n = counts(kind); counts(kind) = n + 1
      val traced = (n % 2 == 1) == ((n / 2) % 2 == 0)
      val before = if (walkWrites) files(dir) else Map.empty[String, Long]
      val l0 = Layout.dirListings.get()
      val t0 = System.nanoTime()
      val r =
        try Some(tr.span(s"index.$kind", traced)(body))
        catch { case e: Throwable => s.fail(kind, e.toString); None }
      val ms = (System.nanoTime() - t0) / 1e6
      s.listings.getOrElseUpdate(kind, mutable.ArrayBuffer()) += Layout.dirListings.get() - l0
      if (r.isDefined) s.lat += ((kind, ms, traced))
      if (walkWrites) written(kind) += files(dir).collect { case (f, b) if !before.contains(f) => b }.sum
      r
    }
  }

  def run(jvmStartMs: Double): Map[String, Any] = {
    s.calibrate(spark)
    // warm-up: one short lifecycle over the smallest scale factor
    val small = new Source(args.warmupDir)
    val w = new Pair(s"pbw_$tag", work.resolve("warmup"), small, small.centroids)
    val wd = small.texts.keys.toSeq.sorted
    val wv = small.vecs.keys.toSeq.sorted
    val half = (xs: Seq[Long]) => xs.take(xs.size / 2).map(i => i -> i)
    tr.span("warmup", traced = false) {
      w.build(half(wd), half(wv), traced = false)
      val nd = wd.max + 1; val nv = wv.max + 1
      Postings.appendBatch(small.docs(Seq(nd -> wd.last)), "doc_id", "text", w.bm25, batchId = 1L)
      Knn.appendIvfBatch(small.vectors(Seq(nv -> wv.last)), "vec_id", "embedding", w.ivf, batchId = 1L)
      Postings.deleteBatch(small.docs(Seq(wd.head -> wd.head)), "doc_id", "text", w.bm25, batchId = 1L)
      Knn.deleteIvfBatch(small.vectors(Seq(wv.head -> wv.head)), "vec_id", w.ivf, batchId = 1L,
        vecCol = Some("embedding"))
      w.search(Seq("spark", "merge"))
      w.knn(wv(1))
      Postings.maintainIncremental(spark, w.bm25, maxFilesPerBucket = 1, maxTombstones = 0L)
      Knn.maintainIvfIncremental(spark, w.ivf, maxFilesPerBucket = 1, maxTombstones = 0L)
      w.drop()
    }
    val warmupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val src = new Source(args.sfDir)
    val cents = src.centroids
    val plan = Gen.indexPlan(args.seed, src.texts.size, src.vecs.size, cycles = 400, Batch, Searches)
    val live = new Pair(s"pb_$tag", work.resolve("live"), src, cents)
    val liveDocs = mutable.LinkedHashMap.from(plan.initialDocs.map(i => i -> i))
    val liveVecs = mutable.LinkedHashMap.from(plan.initialVecs.map(i => i -> i))
    tr.span("index.build")(live.build(liveDocs, liveVecs, traced = true))
    val dir = live.dir
    var useful = 0
    var maintains = 0

    /** One cycle of the plan; returns its searches with their answers. */
    def cycle(cy: Gen.Cycle, batchId: Long) = {
      op("ingest", dir) {
        tr.span("retrieval.append")(Postings.appendBatch(
          src.docs(cy.ingestDocs.map(r => r.id -> r.src)), "doc_id", "text", live.bm25, batchId))
        tr.span("similarity.append")(Knn.appendIvfBatch(
          src.vectors(cy.ingestVecs.map(r => r.id -> r.src)), "vec_id", "embedding", live.ivf, batchId))
      }
      cy.ingestDocs.foreach(r => liveDocs(r.id) = r.src)
      cy.ingestVecs.foreach(r => liveVecs(r.id) = r.src)
      op("retract", dir) {
        tr.span("retrieval.delete")(Postings.deleteBatch(
          src.docs(cy.retractDocs.map(i => i -> liveDocs(i))), "doc_id", "text", live.bm25, batchId))
        tr.span("similarity.delete")(Knn.deleteIvfBatch(
          src.vectors(cy.retractVecs.map(i => i -> liveVecs(i))), "vec_id", live.ivf, batchId,
          vecCol = Some("embedding")))
      }
      cy.retractDocs.foreach(liveDocs.remove)
      cy.retractVecs.foreach(liveVecs.remove)
      val searched = cy.searches.flatMap(q => op("bm25", dir)(tr.span("retrieval.bm25")(live.search(q))).map(q -> _))
      val knned = cy.knnQueries.flatMap(q => op("knn", dir)(tr.span("similarity.knn")(live.knn(q))).map(q -> _))
      op("maintain", dir) {
        val a = tr.span("retrieval.maintain")(
          Postings.maintainIncremental(spark, live.bm25, maxFilesPerBucket = 1, maxTombstones = 0L))
        val b = tr.span("similarity.maintain")(
          Knn.maintainIvfIncremental(spark, live.ivf, maxFilesPerBucket = 1, maxTombstones = 0L))
        (a, b)
      }.filter(_ => recording).foreach { case (a, b) => useful += Seq(a, b).count(identity); maintains += 2 }
      (searched, knned)
    }

    // one untimed cycle of the plan over the live index, counted in
    // set-up: a run times only two cycles, and at this scale each cycle
    // runs faster than the one before it for the first few (cycle_ms)
    recording = false
    val w0 = System.nanoTime()
    tr.span("warmup", traced = false)(cycle(plan.cycles(0), 1L))
    val warmupCycleMs = (System.nanoTime() - w0) / 1e6
    recording = true
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    walkWrites = tr.on
    var lastSearch = Seq.empty[(Seq[String], Seq[(Long, Double)])]
    var lastKnn = Seq.empty[(Long, Seq[(Long, Long, Double)])]
    var c = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole cycles only; another cycle starts only if one more like the
    // last still ends in time
    var last = 0.0
    val cycleMs = mutable.ArrayBuffer[Double]()
    def more = if (tr.on) c < TracedCycles else c == 0 || elapsed + last <= args.seconds
    while (more) {
      val c0 = elapsed
      val (a, b) = cycle(plan.cycles(c + 1), c + 2L)
      lastSearch = a
      lastKnn = b
      c += 1
      last = elapsed - c0
      cycleMs += last * 1000
    }
    val secs = elapsed
    walkWrites = false
    s.recheck(spark)

    // ---- untimed end checks ----
    val (liveFiles, liveBytes) = Main.dirBytes(dir)
    var correct = true
    def bad(what: String, why: String): Unit = { correct = false; s.fail(what, why) }
    val checks = tr.span("index.check") {
      tr.span("retrieval.check")(Postings.checkIndex(spark, live.bm25).collect()).toSeq ++
        tr.span("similarity.check")(Knn.checkIvfIndex(spark, live.ivf).collect()).toSeq
    }
    checks.filterNot(_.getBoolean(1)).foreach(r => bad(s"check ${r.getString(0)}", r.getString(2)))
    // a fresh build over the surviving rows must answer the last cycle's
    // searches exactly as the maintained indexes did
    val fresh = new Pair(s"pbf_$tag", work.resolve("fresh"), src, cents)
    fresh.build(liveDocs, liveVecs, traced = false)
    lastSearch.foreach { case (q, got) =>
      if (fresh.search(q) != got) bad(s"bm25 ${q.mkString(" ")}", "differs from a fresh build")
    }
    lastKnn.foreach { case (q, got) =>
      if (fresh.knn(q) != got) bad(s"knn $q", "differs from a fresh build")
    }
    val (_, freshBytes) = Main.dirBytes(fresh.dir)
    val spaceAmp = liveBytes.toDouble / math.max(1L, freshBytes)

    val p50 = (k: String) => Main.quantile(s.of(k), 0.5)
    val base = Map[String, Any](
      "digest" -> plan.digest, "setup_s" -> setupS, "warmup_s" -> warmupS, "cycles" -> c, "seconds" -> secs,
      "attempted" -> s.attempted, "failed" -> s.failed, "failures" -> s.failures.toMap,
      "correct" -> correct, "samples" -> s.of("bm25").size, "probe_ms" -> s.probeMs)
    val extra = Map(
      "index_knn_p50_ms" -> p50("knn"), "index_ingest_p50_ms" -> p50("ingest"),
      "index_retract_p50_ms" -> p50("retract"), "index_maintain_p50_ms" -> p50("maintain"),
      "index_space_amp" -> spaceAmp, "live_rows" -> (liveDocs.size, liveVecs.size),
      "cycle_ms" -> (warmupCycleMs +: cycleMs.toSeq).map(_.round))
    if (!tr.on) {
      base ++ Map(
        "metrics" -> Map(
          "setup_s" -> setupS,
          "p50_ms" -> p50("bm25"),
          "p90_ms" -> Main.quantile(s.of("bm25"), 0.9),
          "ops_per_s" -> s.lat.size / secs),
        "extra" -> extra)
    } else {
      tr.drain()
      val l = Layers(tr)
      val m = mutable.LinkedHashMap[String, Double]()
      val opSpans = tr.spans.filter(sp => sp.parent == 0 && Seq("ingest", "retract", "bm25", "knn", "maintain")
        .exists(k => sp.name == s"index.$k")).toSeq
      m ++= l.spark(opSpans)
      m("plans.plan_ms") = l.planMs(opSpans) / math.max(1, opSpans.size)
      m("plans.plan_share") = l.planMs(opSpans) / math.max(1e-9, opSpans.map(_.dur).sum)
      m("trace.overhead_frac") = s.overheadFrac
      for (layer <- Seq("retrieval", "similarity");
           k <- Seq("build", "append", "delete", "bm25", "knn", "maintain", "check")) {
        val sp = tr.spans.filter(_.name == s"$layer.$k").toSeq
        if (sp.nonEmpty) {
          m(s"$layer.$k.ms") = sp.map(_.dur).sum / sp.size
          m(s"$layer.$k.jobs") = sp.map(l.jobsOf(_).size).sum.toDouble / sp.size
        }
      }
      m("retrieval.maintain.useful_frac") = if (maintains == 0) 0.0 else useful.toDouble / maintains
      Seq("ingest", "retract", "bm25", "knn", "maintain").foreach { k =>
        val xs = s.listings.getOrElse(k, mutable.ArrayBuffer())
        m(s"sources.dir_listings.$k") = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
      }
      m("sources.index_files") = liveFiles.toDouble
      m("sources.index_mb") = liveBytes / 1048576.0
      m("sources.bytes_written_mb") = written.values.sum / 1048576.0
      m("sources.write_amp") = written.values.sum.toDouble / math.max(1L, written("ingest"))
      Seq("knn", "ingest", "retract", "maintain").foreach(k => m(s"index.$k.p50_ms") = p50(k))
      m("index.space_amp") = spaceAmp
      args.traceOut.foreach(l.writeJsonl(_))
      base ++ Map("layers" -> m.toMap)
    }
  }
}

object IndexWorkload {
  /** Index lifecycle shape: rows per ingest and retract, searches of each
    * kind per cycle, top-k; every cycle ends with one maintenance. No
    * measured caller mix exists to derive these from, so the mix is a
    * choice, not a measurement: a cycle holds one op of each write kind
    * and a few searches of each kind, and every cycle has the same op mix,
    * so a run's throughput does not depend on how many cycles fit in it. */
  val Batch = 50
  val Searches = 4
  val K = 10
  /** Cycles in a traced run: each op kind gets two untraced and two
    * traced calls. */
  val TracedCycles = 4
}
