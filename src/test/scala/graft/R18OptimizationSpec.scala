package graft

import graft.sources.{IndexLifecycle, Layout}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Focused regression legs for the round-18 optimization work — each
  * pins an internals change that removed a job or a directory listing
  * against the semantics the slower r17 form guaranteed:
  *
  *  - `Layout.createEmptyTable` (the zero-JOB replacement for the
  *    zero-row writes in writeEmptyTombs/writeEmptyMarkers/clearTombs)
  *    must produce a table that reads empty, accepts insertInto, and
  *    OVERWRITES stale files from a previous build at the same path;
  *  - `Layout.parquetDirStatsAt` must fail CLOSED (rows == -1, so
  *    callers fall back to the probe job) on a nested/unexpected
  *    layout instead of undercounting (ADVICE r17), while bookkeeping
  *    entries (`_`/`.` prefixed) stay ignored;
  *  - the fused guard probes (`liveView`, `requireNotTombstoned`)
  *    must issue ONE directory listing per call — emptiness and the
  *    broadcast size gate used to pay two listings of the same dir;
  *  - `Layout.appendRowDriverSide` types each field from the catalog
  *    schema (a null is a NULL of its column's type) and refuses a
  *    value of the wrong class;
  *  - append, delete and maintain keep their job and listing counts
  *    per index kind, and so do the full check, the incremental check
  *    (first run: full + record; second run: idle) and the repair that
  *    follow them, together with the check/repair names each returns;
  *  - each public BM25 search form keeps its job and listing count
  *    over a live view with an appended batch and live tombstones.
  */
class R18OptimizationSpec extends SparkTestBase {
  import spark.implicits._

  private def freshName(tag: String) = s"r18opt_${tag}_${System.nanoTime()}"

  test("createEmptyTable: reads empty, accepts appends, overwrites stale files") {
    val name = freshName("empty")
    val path = s"/tmp/graft_r18opt/$name"
    // a previous build's stale rows at the same path…
    Seq((99L, 1L)).toDF("doc_id", "batch_id")
      .write.mode("overwrite").option("path", path).saveAsTable(name)
    assert(spark.table(name).count() === 1L)
    // …must NOT survive the empty-table (re)creation
    IndexLifecycle.writeEmptyTombs(spark, name, path, "doc_id")
    assert(spark.table(name).count() === 0L)
    assert(Layout.parquetRowCount(spark, name) === 0L)
    assert(!IndexLifecycle.tombsLive(spark, name))
    // the metadata-only table accepts the normal append path
    IndexLifecycle.appendTombs(
      Seq(1L, 2L).toDF("doc_id"), "doc_id", name, "doc_id", batchId = 1L)
    assert(spark.table(name).as[(Long, Long)].collect().toSet === Set((1L, 1L), (2L, 1L)))
    assert(IndexLifecycle.tombsLive(spark, name))
    // clearTombs' metadata-only rebuild: empty again, schema preserved
    IndexLifecycle.clearTombs(spark, name, "doc_id")
    assert(spark.table(name).columns.toSeq === Seq("doc_id", "batch_id"))
    assert(spark.table(name).count() === 0L)
    assert(Layout.parquetRowCount(spark, name) === 0L)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("parquetDirStatsAt fails closed on nested layouts, ignores bookkeeping") {
    val name = freshName("nested")
    val path = s"/tmp/graft_r18opt/$name"
    IndexLifecycle.writeEmptyTombs(spark, name, path, "doc_id")
    IndexLifecycle.appendTombs(
      Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id", name, "doc_id", batchId = 1L)
    val dir = new org.apache.hadoop.fs.Path(path)
    assert(Layout.parquetRowCountAt(spark, dir) === 3L)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bookkeeping entries (_SUCCESS already exists) stay ignored —
    // an underscore-prefixed subdir too (the _bucket_compact shape)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "_scratch_like"))
    assert(Layout.parquetRowCountAt(spark, dir) === 3L)
    // a DATA subdirectory breaks the flat-layout contract: the probe
    // must report -1 (fall back to the slow-correct job), never an
    // authoritative undercount — tombsLive then still sees the rows
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "part=0"))
    assert(Layout.parquetRowCountAt(spark, dir) === -1L)
    assert(IndexLifecycle.tombsLive(spark, name), "fallback probe must see the rows")
    // a foreign data file trips the same distrust
    fs.delete(new org.apache.hadoop.fs.Path(dir, "part=0"), true)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "data.csv"), true)
    out.write('x'); out.close()
    assert(Layout.parquetRowCountAt(spark, dir) === -1L)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("liveView and requireNotTombstoned issue ONE directory listing per guard") {
    val name = freshName("listing")
    val path = s"/tmp/graft_r18opt/$name"
    IndexLifecycle.writeEmptyTombs(spark, name, path, "doc_id")
    IndexLifecycle.appendTombs(
      Seq(7L).toDF("doc_id"), "doc_id", name, "doc_id", batchId = 1L)
    val df  = Seq((7L, "x"), (8L, "y")).toDF("doc_id", "v")
    val ids = Seq((8L, "z")).toDF("doc_id", "v")

    val before = Layout.dirListings.get()
    val live = IndexLifecycle.liveView(spark, name, "doc_id", df, "doc_id")
    val afterPlan = Layout.dirListings.get()
    assert(afterPlan - before === 1L, "liveView guard must list the tombs dir exactly once")
    assert(live.select("doc_id").as[Long].collect().toSeq === Seq(8L))

    val b2 = Layout.dirListings.get()
    IndexLifecycle.requireNotTombstoned(spark, name, "doc_id", ids, "doc_id", "spec")
    assert(Layout.dirListings.get() - b2 === 1L,
      "requireNotTombstoned guard must list the tombs dir exactly once")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("appendRowDriverSide types each field from the catalog schema") {
    import org.apache.spark.sql.types._
    val name = freshName("typed")
    Layout.createEmptyTable(spark, name, s"/tmp/graft_r18opt/$name", StructType(Seq(
      StructField("id", LongType), StructField("label", StringType))))
    // a null in a string column is a string NULL, not an INT64 column
    Layout.appendRowDriverSide(spark, name, Seq("id" -> 1L, "label" -> null))
    val back = spark.table(name).collect()
    assert(back.length === 1)
    assert(back.head.getLong(0) === 1L)
    assert(back.head.isNullAt(1), "null written into a string column must read back as null")
    // a Long into a string column is refused before anything is written
    intercept[IllegalArgumentException](
      Layout.appendRowDriverSide(spark, name, Seq("id" -> 2L, "label" -> 3L)))
    assert(spark.table(name).count() === 1L)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  /** (jobs, directory listings) of single calls: jobs are counted per
    * call in the call's own job group, after the listener bus drains. */
  private final class JobCost {
    private val sc = spark.sparkContext
    private val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobsByGroup.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    sc.addSparkListener(listener)

    def apply(label: String)(body: => Unit): (Int, Long) = {
      val group = s"${freshName("cost")}_$label"
      val l0 = Layout.dirListings.get()
      sc.setJobGroup(group, label)
      try body finally sc.clearJobGroup()
      val listings = Layout.dirListings.get() - l0
      org.apache.spark.GraftBus.drain(sc)
      (jobsByGroup.getOrDefault(group, 0).intValue, listings)
    }

    def close(): Unit = sc.removeSparkListener(listener)
  }

  test("maintenance cost per kind: jobs and directory listings of append, delete, maintain") {
    import graft.retrieval.Postings
    import graft.similarity.Knn
    val cost = new JobCost
    // (jobs, listings, names) of a check or repair call
    def named(label: String)(body: => org.apache.spark.sql.DataFrame): (Int, Long, Set[String]) = {
      var names = Set.empty[String]
      val (jobs, listings) = cost(label) { names = body.collect().map(_.getString(0)).toSet }
      (jobs, listings, names)
    }
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
      val pName = freshName("pcost")
      Postings.writeIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        pName, s"/tmp/graft_r18opt/$pName", buckets = 4)
      val postings = Seq(
        cost("append")(Postings.appendBatch(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", pName, batchId = 1L)),
        cost("delete")(Postings.deleteBatch(
          docs.filter(col("doc_id") % 7 === 3), "doc_id", "text", pName, batchId = 2L)),
        cost("maintain")(Postings.maintainIncremental(
          spark, pName, maxFilesPerBucket = 1, maxTombstones = 0L)))
      val postingsFsck = Seq(
        named("check")(Postings.checkIndex(spark, pName)),
        named("incremental")(Postings.checkIndexIncremental(spark, pName)),
        named("incremental")(Postings.checkIndexIncremental(spark, pName)),
        named("repair")(Postings.repairIndex(spark, pName)))
      Postings.dropIndex(spark, pName)

      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
      val cents = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("c_id"), Knn.asDouble(col("embedding")).as("cv"))
        .withColumn("cn", sqrt(Knn.dot(col("cv"), col("cv"))))
      val iName = freshName("icost")
      Knn.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), cents, "vec_id", "embedding",
        iName, s"/tmp/graft_r18opt/$iName", buckets = 4)
      val ivf = Seq(
        cost("append")(Knn.appendIvfBatch(
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", iName, batchId = 1L)),
        cost("delete")(Knn.deleteIvfBatch(
          emb.filter(col("vec_id") % 7 === 3), "vec_id", iName, batchId = 2L,
          vecCol = Some("embedding"))),
        cost("maintain")(Knn.maintainIvfIncremental(
          spark, iName, maxFilesPerBucket = 1, maxTombstones = 0L)))
      val ivfFsck = Seq(
        named("check")(Knn.checkIvfIndex(spark, iName)),
        named("incremental")(Knn.checkIvfIndexIncremental(spark, iName)),
        named("incremental")(Knn.checkIvfIndexIncremental(spark, iName)),
        named("repair")(Knn.repairIvfIndex(spark, iName)))
      Knn.dropIvfIndex(spark, iName)

      // (jobs, listings) per call, measured on the per-kind maintenance
      // code before it moved into IndexLifecycle. One exception: postings
      // maintain listed 11 directories there — its bucket-scoped defrag
      // listed the tombstone directory even when no bucket was
      // fragmented; the shared defrag probes it only once a bucket
      // needs a rewrite, as the IVF side always did
      assert(postings === Seq((6, 2L), (2, 2L), (19, 10L)), "postings append/delete/maintain")
      assert(ivf === Seq((3, 2L), (3, 2L), (9, 8L)), "ivf append/delete/maintain")

      // (jobs, listings, names) of full check, incremental check (first
      // run: full check + record; second run: idle) and repair, measured
      // on the per-kind fsck code before it moved into IndexLifecycle.
      // Two differences since: the idle postings incremental check lists
      // no directory (it listed the postings table for its rewritten
      // buckets even when there were none), and IVF gained the shared,
      // always-green bucket_spec_coherent row (one bucketed table cannot
      // disagree with itself; a catalog probe, no job)
      val pCheck = Set(
        "stats_total_nonnegative", "sum_dl_equals_live_tf_sum", "live_doc_count_le_stats_n",
        "stats_markers_unique", "dict_df_covers_live_postings", "bucket_spec_coherent",
        "dangling_generation", "bucket_journal_pending", "dict_delta_pending")
      val pIdle = pCheck - "live_doc_count_le_stats_n" + "fsck_scope"
      assert(postingsFsck === Seq(
        (14, 3L, pCheck),
        (16, 4L, pCheck + "fsck_scope"),
        (5, 0L, pIdle),
        (5, 1L, Set("bucket_journal_replay", "torn_delete_stats", "dict_recount", "dict_delta_resolve"))),
        "postings check/incremental/incremental/repair")
      val iCheck = Set(
        "vector_unique", "cells_from_model", "norms_consistent", "marker_log_unique",
        "bucket_spec_coherent", "dangling_generation", "bucket_journal_pending")
      assert(ivfFsck === Seq(
        (12, 1L, iCheck),
        (15, 2L, iCheck + "fsck_scope"),
        (3, 0L, iCheck + "fsck_scope"),
        (12, 0L, Set("bucket_journal_replay", "ivf_rewrite", "tombstone_mask_reset", "marker_dedup"))),
        "ivf check/incremental/incremental/repair")
    } finally cost.close()
  }

  test("bm25 cost: jobs and directory listings of one search per public form") {
    import graft.retrieval.Postings
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))
    val name = freshName("bcost")
    Postings.writeIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      name, s"/tmp/graft_r18opt/$name", buckets = 4)
    Postings.appendBatch(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", name, batchId = 1L)
    Postings.deleteBatch(docs.filter(col("doc_id") % 7 === 3), "doc_id", "text", name, batchId = 2L)
    val terms = Seq("spark", "merge", "scan")
    // every search reads the live view, as a serving caller does
    def search(q: (DataFrame, DataFrame) => DataFrame): Array[Row] =
      q(Postings.livePostings(spark, name), Postings.statsTable(spark, name)).collect()
    val cursor = search(Postings.bm25TopK(_, _, terms, 5)).last
    val cost = new JobCost
    val costs =
      try Seq(
        cost("topk")(search(Postings.bm25TopK(_, _, terms, 10))),
        cost("after")(search(Postings.bm25TopKAfter(_, _, terms, 10,
          cursor.getAs[Double]("score"), cursor.getAs[Long]("doc_id")))),
        cost("classic_rounded")(search(Postings.bm25TopKClassicRounded(_, _, terms, 10))),
        cost("multi")(search(Postings.bm25MultiTopK(_, _,
          Seq(1L -> terms, 2L -> Seq("row", "spark"), 3L -> Seq("zzz_absent")), 10))))
      finally cost.close()
    Postings.dropIndex(spark, name)
    // (jobs, listings) per search form; the one listing is the live
    // view's tombstone-directory probe. The single-query forms took 9
    // jobs and the multi form 12 while df was a separate aggregate and
    // the corpus totals a separate one-row broadcast: each paid a
    // shuffle stage plus a broadcast. The one-scan core takes df as a
    // window on the bucketed scan and carries the totals on the
    // broadcast terms rows, leaving the tombstone broadcast, the terms
    // broadcast, the score fold's shuffle stage and the result stage
    // (the multi form adds its per-query window and ordering)
    assert(costs === Seq((4, 1L), (4, 1L), (4, 1L), (7, 1L)), "topk/after/classic_rounded/multi")
  }
}
