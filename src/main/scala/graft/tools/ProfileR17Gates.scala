package graft.tools

import graft.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-17 optimization-round measurement: decompose the lifecycle
  * gates (the top bench cost centers — d73/d74/d70/d55/d75/d64/d50 and
  * the IVF twins) into their maintenance phases, reporting per-phase
  * wall seconds AND the number of Spark jobs + stages each phase
  * launches. At sf0.1 the corpus is ~0.5 MB of text, so gate cost is
  * dominated by fixed per-job/per-write overhead — the job count IS
  * the cost model, and the optimization target is jobs-per-phase, not
  * bytes (guide §1: measure first; §2.4: remove work outright).
  *
  * Usage: sbt "runMain graft.tools.ProfileR17Gates [sfDir] [reps]"
  */
object ProfileR17Gates {
  def main(args: Array[String]): Unit = {
    val dir  = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var bytesRead = 0L
    // r18: SPARK_GRAFT_TRACE_ALL=1 prints every job's call site in
    // every phase (the r17 toggle traced only the maintain phase)
    @volatile var traceJobs = sys.env.get("SPARK_GRAFT_TRACE_ALL").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs += 1
        if (traceJobs) {
          val site = Option(js.properties.getProperty("callSite.short"))
            .orElse(Option(js.properties.getProperty("spark.job.description")))
            .orElse(js.stageInfos.lastOption.map(_.name))
            .getOrElse("?")
          println(s"  JOB ${site.linesIterator.next().take(120)}")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        bytesRead += sc.stageInfo.taskMetrics.inputMetrics.bytesRead
      }
    })

    def phase(label: String)(body: => Unit): Unit = {
      // listener events are async: drain the bus so each phase's counts
      // hold exactly its own jobs
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      val j0 = jobs; val s0 = stages; val b0 = bytesRead
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      println(f"PHASE $label%-34s ${dt}%7.2f s  jobs=${jobs - j0}%3d stages=${stages - s0}%3d read=${(bytesRead - b0) / 1024}%8d KiB")
    }

    val t = Tables(spark, dir)
    val P = graft.retrieval.Postings
    val K = graft.similarity.Knn

    (1 to reps).foreach { rep =>
      println(s"=== rep $rep ===")
      // ---- d73 shape: postings lifecycle + retirement ----
      val name = s"r17prof_rep$rep"
      val path = s"/tmp/graft_r17prof/rep$rep"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      phase("d73.writeIndex(16)") {
        P.writeIndex(t.documents.filter(col("doc_id") % 2 === 0), "doc_id", "text", name, path, buckets = 16)
      }
      phase("d73.appendBatch") {
        P.appendBatch(t.documents.filter(col("doc_id") % 2 === 1), "doc_id", "text", name, batchId = 1L)
      }
      phase("d73.deleteBatch") {
        P.deleteBatch(t.documents.filter(col("doc_id") % 7 === 3), "doc_id", "text", name, batchId = 2L)
      }
      traceJobs = sys.env.get("SPARK_GRAFT_TRACE_ALL").contains("1") ||
        (sys.env.get("SPARK_GRAFT_TRACE_JOBS").contains("1") && rep == reps)
      phase("d73.maintainIncremental") {
        P.maintainIncremental(spark, name, maxFilesPerBucket = 1, maxTombstones = 0L)
      }
      traceJobs = sys.env.get("SPARK_GRAFT_TRACE_ALL").contains("1")
      phase("d73.bm25TopK.count") {
        P.bm25TopK(P.livePostings(spark, name), P.statsTable(spark, name),
          Seq("merge", "hash", "vector"), 50).count()
      }
      phase("d74.termDfs") {
        P.termDfs(spark, name, Seq("batch", "scan", "vector", "spark"))
      }
      // ---- d55 tail: compactIndex after appends ----
      phase("d55.compactIndex") {
        P.compactIndex(spark, name)
      }
      // ---- d75 tail: rebucket 16 -> 64 ----
      phase("d75.rebucketIndex(64)") {
        P.rebucketIndex(spark, name, 64)
      }
      P.dropIndex(spark, name)

      // ---- e13 shape: IVF lifecycle ----
      val iname = s"r17prof_ivf_rep$rep"
      val ipath = s"/tmp/graft_r17prof/ivf_rep$rep"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ipath))
      val e = t.embeddings
        .select(col("vec_id"), K.asDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(K.dot(col("v"), col("v"))))
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
      phase("e13.writeIvfIndex(8)") {
        K.writeIvfIndex(t.embeddings.filter(col("vec_id") % 2 === 0), cents,
          "vec_id", "embedding", iname, ipath, buckets = 8)
      }
      phase("e13.appendIvfBatch") {
        K.appendIvfBatch(t.embeddings.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", iname, batchId = 1L)
      }
      phase("e13.deleteIvfBatch") {
        K.deleteIvfBatch(
          t.embeddings.filter(col("vec_id") % 9 === 2).select(col("vec_id"), col("embedding")),
          "vec_id", iname, batchId = 2L, vecCol = Some("embedding"))
      }
      phase("e13.maintainIvfIncremental") {
        K.maintainIvfIncremental(spark, iname, maxFilesPerBucket = 1, maxTombstones = 0L)
      }
      K.dropIvfIndex(spark, iname)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
