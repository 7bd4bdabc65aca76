package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** The lifecycle of a persisted, bucketed index — shared by the posting
  * index (`graft.retrieval.Postings`) and the IVF vector index
  * (`graft.similarity.Knn`). Two layers:
  *
  *   - **primitives** over the tables every index kind has: the
  *     tombstone set, the replay-marker commit log, the live read view
  *     and the caller-contract guard;
  *   - **maintenance, fsck and repair** — full compaction and
  *     bucket-count migration, bucket-scoped defrag, tombstone
  *     retirement, the incremental maintenance and rebucket policies,
  *     the marker-guarded append, stream wrappers and drop; the full
  *     and incremental consistency checks and the repair — written once
  *     against an [[IndexLayout]], the plain description of an index's
  *     tables plus the hooks a kind supplies: a few steps around the
  *     shared rewrites, its own invariants and its own repairs.
  *
  * Invariants:
  *
  *   - **tombstones** `(id, batch_id)`: deletion stays append-only —
  *     reads anti-join the set (`liveView`), a rewrite drops the rows
  *     physically and the set clears LAST, so a crash anywhere earlier
  *     leaves tombstones live and reads still correct.
  *   - **markers** `(batch_id, kind)`: the replay-idempotence commit
  *     log. Appends and deletes occupy DISJOINT kind spaces, so an
  *     append stream and a delete stream can maintain one index with
  *     independent zero-based foreachBatch ids — the kind column stays
  *     disjoint for EMPTY batches too. Marker rows are never compacted:
  *     a delete-batch replay arriving after compaction must still no-op,
  *     even though the tombstone rows it wrote are long gone.
  *   - **caller contract** (`requireNotTombstoned`): an id whose
  *     tombstone is still live can be neither re-appended (the anti-join
  *     would hide it while its stats count it) nor re-deleted (stats
  *     would over-subtract). Enforced with a loud refusal; clearing the
  *     set re-opens the id.
  *
  * Reference anchor: the reference treats deletion as a soft-delete
  * read semantic (models.py:909-911, api/views.py:164-174); the
  * lifecycle here is the index-maintenance upgrade a 100 TB curation
  * pipeline needs on top of that semantic.
  */
object IndexLifecycle {

  /** Marker kind for committed append batches. */
  val Append = "a"

  /** Marker kind for committed delete batches. */
  val Delete = "d"

  // ---------- replay-marker commit log (batch_id, kind) ----------

  /** (Re)create an index's EMPTY marker log — catalog metadata only,
    * no Spark job (an external parquet table with no files reads as
    * empty).
    */
  def writeEmptyMarkers(spark: SparkSession, table: String, path: String): Unit =
    Layout.createEmptyTable(
      spark, table, path,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "batch_id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "kind", org.apache.spark.sql.types.StringType, nullable = false))))

  /** REFUSE a marker log in the legacy single-column layout (bare
    * `batch_id`, no `kind`): its append markers are invisible to a
    * kind-filtered replay check, so a replayed old batch would
    * re-apply. The refusal names the fix (rebuild); no automatic
    * migration — marker writes happen inside streaming foreachBatch,
    * and a silent schema rewrite racing a concurrent maintenance
    * stream is exactly the surprise a commit log must never produce.
    */
  private def requireKindColumn(spark: SparkSession, table: String): Unit =
    require(
      spark.table(table).columns.contains("kind"),
      s"marker log $table uses the legacy single-column (batch_id) layout — " +
        "rebuild the index with writeIndex/writePositionalIndex/writeIvfIndex " +
        "to adopt the kind-separated (batch_id, kind) commit log")

  /** Whether `batchId` is already committed in `kind`'s marker space
    * (a foreachBatch at-least-once replay — the caller skips the
    * whole batch).
    */
  def markerPresent(spark: SparkSession, table: String, batchId: Long, kind: String): Boolean = {
    requireKindColumn(spark, table)
    // footer min/max prune first: streaming ids are monotone, so a NEW
    // batch sits above every file's max and the probe job disappears
    // on the common path; an unprovable absence runs the filter probe
    !Layout.footerExcludesLongValue(spark, table, "batch_id", batchId) &&
    !spark.table(table)
      .filter(col("batch_id") === batchId && col("kind") === kind).isEmpty
  }

  /** Commit `batchId` in `kind`'s marker space. Callers write the
    * marker LAST: marker-first would LOSE a batch on crash,
    * marker-last can only duplicate one. One literal row, written
    * driver-side with temp-then-rename visibility — no Spark job.
    */
  def writeMarker(spark: SparkSession, table: String, batchId: Long, kind: String): Unit = {
    requireKindColumn(spark, table)
    Layout.appendRowDriverSide(spark, table, Seq("batch_id" -> batchId, "kind" -> kind))
  }

  // ---------- tombstone set (idName, batch_id) ----------

  /** (Re)create an index's EMPTY tombstone table `(idName long,
    * batch_id long, masks…)`: the ids every read anti-joins, tagged by
    * the delete batch that wrote them (so a torn delete's replay can be
    * told apart from a genuine double-delete), plus one nullable
    * `array<int>` delete-time bucket mask per named column. Without
    * masks it is the legacy two-column table, whose deletes retire by
    * trace scan.
    */
  def writeEmptyTombs(
      spark: SparkSession,
      table: String,
      path: String,
      idName: String,
      masks: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.types._
    Layout.createEmptyTable(
      spark, table, path,
      StructType(
        Seq(
          StructField(idName, LongType, nullable = false),
          StructField("batch_id", LongType, nullable = false)) ++
          masks.map(StructField(_, ArrayType(IntegerType, containsNull = true), nullable = true))))
  }

  /** The tombstone table of `layout`, with a mask column for every
    * bucketed table that declares one.
    */
  def writeEmptyTombs(spark: SparkSession, layout: IndexLayout, path: String): Unit =
    writeEmptyTombs(spark, layout.tombs, path, layout.tombId, layout.bucketed.flatMap(_.mask))

  /** Append a delete batch's tombstone rows (the ids in `ids(idCol)`,
    * cast to long, tagged `batchId`).
    */
  def appendTombs(ids: DataFrame, idCol: String, table: String, idName: String, batchId: Long): Unit =
    ids
      .select(col(idCol).cast("long").as(idName), lit(batchId).as("batch_id"))
      .write.mode("append").insertInto(table)

  /** Liveness from a footer row count; an unreadable count (-1) falls
    * back to the limit-1 probe job.
    */
  private def rowsLive(spark: SparkSession, table: String, rows: Long): Boolean =
    if (rows == -1L) !spark.table(table).isEmpty else rows > 0L

  /** Whether the tombstone set exists and is non-empty — a footer
    * probe, no job.
    */
  def tombsLive(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table) && rowsLive(spark, table, Layout.parquetRowCount(spark, table))

  /** Clear the tombstone set after a rewrite physically dropped the
    * rows. Callers run it LAST, so a crash anywhere earlier leaves the
    * tombstones live and the reads still correct. Same
    * write-new/swap/delete-old discipline as every rewrite; the empty
    * next generation is catalog metadata only and preserves the LIVE
    * schema (mask columns beyond the (id, batch_id) core included).
    */
  def clearTombs(spark: SparkSession, table: String, idName: String): Unit = {
    Layout.recoverDanglingSwap(spark, table)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    require(meta.schema.fieldNames.contains(idName), s"$table has no $idName column")
    Layout.swapGeneration(spark, table, meta) { (scratch, newDir) =>
      Layout.createEmptyTable(spark, scratch, newDir, meta.schema)
    }
  }

  /** Remove `ids` from the tombstone set — the per-bucket accounting
    * of a bucket-scoped rewrite that provably dropped EVERY physical
    * row of those ids. Same swap discipline as `clearTombs`, and run
    * after the rewrite for the same crash reason. `ids` is driver-side
    * by contract (a subset of the broadcast-sized set).
    */
  def removeTombs(spark: SparkSession, table: String, idName: String, ids: Seq[Long]): Unit =
    if (ids.nonEmpty) {
      // anti-join, not isin(ids): a wide window can hold up to
      // heavyFraction × live ids, and an isin that size blows the codegen
      // expression-size limit
      import spark.implicits._
      val idsDf = ids.toDF(idName)
      Layout.rewritePlain(spark, table)(rows =>
        rows.join(broadcast(idsDf), Seq(idName), "left_anti").select(rows.columns.map(col).toSeq: _*))
    }

  /** Broadcast hint for a tombstone-set frame, SIZE-GATED: the set is
    * slim by the compaction-cadence contract, but a deployment that
    * delays maintenance can let it reach `heavyFraction × live`, and an
    * unconditional `broadcast()` of billions of ids would OOM the
    * driver. At or below `spark.graft.tombstoneBroadcastBytes` (default
    * 64 MiB of tombstone parquet) the hint applies; above it the frame
    * joins un-hinted and AQE picks the strategy. Answers are identical
    * either way.
    */
  def maybeBroadcast(spark: SparkSession, table: String, df: DataFrame): DataFrame =
    maybeBroadcastBytes(spark, Layout.parquetBytes(spark, table), df)

  /** Bytes-known form of `maybeBroadcast`, for callers that already
    * listed the tombstone directory. A negative `bytes` (unreadable
    * metadata) declines the hint.
    */
  private[graft] def maybeBroadcastBytes(spark: SparkSession, bytes: Long, df: DataFrame): DataFrame = {
    // a malformed conf value must not throw from every path that joins
    // the tombstone set: fall back to the default, naming the key
    val default = 64L << 20
    val limit = spark.conf.getOption("spark.graft.tombstoneBroadcastBytes").map { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException =>
          System.err.println(
            s"graft: spark.graft.tombstoneBroadcastBytes='$v' is not a long — " +
              s"using the default $default")
          default
      }
    }.getOrElse(default)
    if (bytes >= 0L && bytes <= limit) broadcast(df) else df
  }

  /** Anti-join `df` against the index's tombstone set — the live read
    * view. A missing or EMPTY tombstone table reads the frame
    * untouched; otherwise a size-gated broadcast anti-join above the
    * bucketed scan, so no exchange lands on the index side and every
    * zero-shuffle and bucket-pruning plan property survives deletion.
    * ONE directory listing answers both emptiness and the size gate.
    * `dfIdName` is the id column's name in `df` (the IVF index calls
    * its vector id `n_id` on the read side).
    */
  def liveView(
      spark: SparkSession,
      table: String,
      idName: String,
      df: DataFrame,
      dfIdName: String): DataFrame =
    if (!spark.catalog.tableExists(table)) df
    else {
      val (rows, bytes) = Layout.parquetDirStats(spark, table)
      if (!rowsLive(spark, table, rows)) df
      else
        df.join(
          maybeBroadcastBytes(spark, bytes, spark.table(table).select(col(idName).as(dfIdName))),
          Seq(dfIdName), "left_anti")
    }

  /** Rewrite transform: drop tombstoned rows while a rewrite is running
    * anyway (physical deletion costs zero extra passes). Restores the
    * frame's column order — a USING join moves the key to the front,
    * and rewrites are positional.
    */
  def dropTombstonedTransform(
      spark: SparkSession,
      table: String,
      idName: String,
      dfIdName: String): DataFrame => DataFrame =
    dropTombstonedTransform(spark, table, idName, dfIdName, Layout.parquetBytes(spark, table))

  /** Bytes-known form: the size gate never re-lists the directory. */
  private[graft] def dropTombstonedTransform(
      spark: SparkSession,
      table: String,
      idName: String,
      dfIdName: String,
      bytes: Long): DataFrame => DataFrame =
    df =>
      df.join(
        maybeBroadcastBytes(spark, bytes, spark.table(table).select(col(idName).as(dfIdName))),
        Seq(dfIdName),
        "left_anti")
        .select(df.columns.map(col).toSeq: _*)

  // ---------- caller-contract guard ----------

  /** REFUSE (loudly, before any write) a batch that touches ids still
    * live in the tombstone set:
    *
    *   - an APPEND of a still-tombstoned id would be hidden by every
    *     read's anti-join while its stats row counts it;
    *   - a second DELETE of the same id would subtract its stats twice
    *     (a delete of a never-indexed id has the same signature; this
    *     guard catches the reachable interleaved-stream shape — a full
    *     membership check would cost a corpus-sized probe).
    *
    * `excludeBatchId`: a delete batch's own replay after a torn crash
    * (tombstones landed, marker didn't) legitimately re-applies, so its
    * own rows are excluded from the conflict check while a genuine
    * double-delete from a DIFFERENT batch still refuses. ONE listing
    * feeds both the emptiness probe and the broadcast size gate.
    */
  def requireNotTombstoned(
      spark: SparkSession,
      tombsTable: String,
      idName: String,
      ids: DataFrame,
      idCol: String,
      op: String,
      excludeBatchId: Option[Long] = None): Unit = {
    if (!spark.catalog.tableExists(tombsTable)) return
    val (rows, bytes) = Layout.parquetDirStats(spark, tombsTable)
    if (!rowsLive(spark, tombsTable, rows)) return
    val all = spark.table(tombsTable)
    val tombs = excludeBatchId.fold(all)(b => all.filter(col("batch_id") =!= b))
    val conflict = ids
      .select(col(idCol).cast("long").as(idName))
      .join(maybeBroadcastBytes(spark, bytes, tombs.select(col(idName))), Seq(idName))
      .limit(1).collect()
    require(
      conflict.isEmpty,
      s"$op: id ${conflict.head.getLong(0)} is still live in the tombstone set ($tombsTable) — " +
        "a tombstoned id can be neither re-appended (reads would hide it while its stats count) " +
        "nor re-deleted (stats would over-subtract); compact the index (which clears the set) first")
  }

  // ---------- compaction-policy inputs ----------

  /** Whether the index's tombstone set has grown past `max` distinct
    * ids — the read-side anti-join set must stay broadcast-sized, and
    * the compaction policy is where that contract is enforced.
    */
  def tombstonesExceed(spark: SparkSession, table: String, idName: String, max: Long): Boolean =
    max < Long.MaxValue &&
      spark.catalog.tableExists(table) &&
      spark.table(table).select(col(idName)).distinct().count() > max

  /** Whether any of `tables` (those that exist) has fragmented past
    * `maxFilesPerBucket` parquet files per bucket. Appends write at
    * most one file set per bucket per batch, so ceil(files/buckets)
    * bounds the per-bucket fragment count. Hadoop FS listing, so
    * non-file: table locations work.
    */
  def bucketsFragmentedBeyond(
      spark: SparkSession,
      tables: Seq[String],
      maxFilesPerBucket: Int): Boolean = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    tables
      .filter(spark.catalog.tableExists)
      .exists { table =>
        val meta = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
        val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(1)
        val dir = new org.apache.hadoop.fs.Path(meta.location)
        val fs  = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files =
          if (!fs.exists(dir)) 0
          else {
            val it = fs.listFiles(dir, true)
            var n  = 0
            while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
            n
          }
        (files + buckets - 1) / buckets > maxFilesPerBucket
      }
  }

  // ---------- index layout ----------

  /** One bucketed table of an index: its bucket (and sort) key, the
    * column holding the index id, the tombstone-table column that
    * carries this table's delete-time bucket mask, when deletes record
    * one, and the per-bucket live aggregates the fsck watermark records
    * for it, when it is watermarked.
    */
  final case class BucketedTable(
      name: String,
      key: String,
      idCol: String,
      mask: Option[String] = None,
      fsck: Option[BucketAgg] = None)

  /** The two per-bucket live aggregates the fsck watermark records for
    * a table (the `a1`/`a2` slots of `FsckWatermark.BucketMark`).
    * `additive`: both are sums over rows, so an added-only bucket's
    * aggregates are the recorded ones plus its added files' alone; a
    * non-additive aggregate (a distinct count) re-reads every touched
    * bucket whole.
    */
  final case class BucketAgg(a1: Column, a2: Column, additive: Boolean)

  /** What a kind adds around the shared rewrites and to the shared fsck
    * and repair; every default does nothing.
    */
  trait KindHooks {

    /** Wraps a bucket-scoped rewrite of `table` that drops tombstoned
      * rows; `ids` are the tombstoned ids, named as the table's id
      * column. Must run `rewrite` exactly once.
      */
    def aroundBucketRewrite(
        spark: SparkSession,
        table: String,
        buckets: Set[Int],
        ids: DataFrame)(rewrite: => Unit): Unit = rewrite

    /** Runs after retirement's bucket rewrites, before the set clears
      * (the last point where the tombstone evidence still exists).
      */
    def beforeClear(spark: SparkSession, ids: DataFrame): Unit = ()

    /** Runs after a full rewrite of every bucketed table, before the
      * commit logs coalesce and the set clears.
      */
    def afterFullRewrite(spark: SparkSession): Unit = ()

    /** The kind's own invariant rows: over every live row when `scope`
      * is None (the full check), over what changed since the last green
      * check otherwise (the incremental check).
      */
    def fsck(spark: SparkSession, scope: Option[FsckScope]): Seq[Finding] = Nil

    /** The kind's own repairs, run after the journal replay and before
      * the marker-log dedup, one row per repair.
      */
    def repairs(spark: SparkSession): Seq[Finding] = Nil
  }

  /** The plain description of an index that the maintenance ops run
    * against:
    *
    *   - `tombs`/`tombId`: the tombstone table and its id column;
    *   - `bucketed`: the bucketed tables, PRIMARY first — the primary's
    *     bucket count is the target a torn migration resumes to (it is
    *     always the first table swapped), and the size policies measure
    *     it;
    *   - `plain`: commit-log tables (stats, marker logs) whose ROWS are
    *     replay markers and are never collapsed, only file-coalesced;
    *   - `side`: tables the lifecycle never rewrites (dictionary,
    *     centroid model) — dropped with the index;
    *   - `markerLog`: the plain table that is the `(batch_id, kind)`
    *     marker log, when the index keeps one;
    *   - `fsckFileLog`: a plain table whose per-file fingerprints the
    *     fsck watermark records, so an incremental check can read
    *     exactly the files appended since;
    *   - `liveCount`: the exact live id count, for the heavy-fraction
    *     policy;
    *   - `idInOneRow`: the declared property that every id is exactly
    *     ONE row of the index's single bucketed table, hence lives in
    *     exactly one bucket;
    *   - `hooks`: what the kind adds (`KindHooks`).
    */
  final case class IndexLayout(
      tombs: String,
      tombId: String,
      bucketed: Seq[BucketedTable],
      plain: Seq[String],
      side: Seq[String],
      markerLog: Option[String],
      fsckFileLog: Option[String],
      liveCount: SparkSession => Long,
      idInOneRow: Boolean = false,
      hooks: KindHooks) {
    require(bucketed.nonEmpty, "an index layout needs at least one bucketed table")
    require(!idInOneRow || bucketed.size == 1, "idInOneRow holds only for a single bucketed table")
    def primary: String = bucketed.head.name
    def tables: Seq[String] = bucketed.map(_.name) ++ plain ++ side :+ tombs
  }

  private def existing(spark: SparkSession, layout: IndexLayout): Seq[BucketedTable] =
    layout.bucketed.filter(b => spark.catalog.tableExists(b.name))

  /** The distinct tombstoned ids named `as`, size-gated broadcast. */
  private def tombIds(spark: SparkSession, layout: IndexLayout, as: String, bytes: Long): DataFrame = {
    val id = if (as == layout.tombId) col(as) else col(layout.tombId).as(as)
    maybeBroadcastBytes(spark, bytes, spark.table(layout.tombs).select(id).distinct())
  }

  // ---------- full rewrite: compaction and bucket-count migration ----------

  /** Rewrite every bucketed table as one new generation — one file per
    * bucket, per-bucket sort restored — at the current bucket count
    * (`None`) or migrated to `newBuckets`. A migration is identical to
    * a fresh build of the survivors at the new count; it also retires
    * every delete-time bucket mask computed under the old modulus,
    * because the set clears.
    *
    * Order: tombstone-drop rides each table's rewrite (zero extra
    * passes); the kind's post-rewrite step runs; the commit logs'
    * FILES coalesce (each batch appended its own one-row file — their
    * rows are replay markers and stay); the tombstone set clears LAST,
    * so a crash anywhere earlier leaves tombstones live and reads
    * correct. Replayed delete batches stay no-ops: their markers live
    * in the uncompacted commit logs.
    */
  private def rewriteAll(spark: SparkSession, layout: IndexLayout, newBuckets: Option[Int]): Unit = {
    val live = tombsLive(spark, layout.tombs)
    val bytes = if (live) Layout.parquetBytes(spark, layout.tombs) else 0L
    existing(spark, layout).foreach { b =>
      val drop: DataFrame => DataFrame =
        if (!live) identity
        else dropTombstonedTransform(spark, layout.tombs, layout.tombId, b.idCol, bytes)
      newBuckets match {
        case Some(n) => Layout.rebucket(spark, b.name, n, drop)
        case None    => Layout.compact(spark, b.name, drop)
      }
    }
    layout.hooks.afterFullRewrite(spark)
    layout.plain.filter(spark.catalog.tableExists).foreach(Layout.coalescePlain(spark, _))
    if (live) clearTombs(spark, layout.tombs, layout.tombId)
  }

  /** The primary's bucket count when the bucketed tables DISAGREE —
    * the signature of a crash between a migration's sequential table
    * swaps. Answers stay correct in that state (masks and maintenance
    * key off each table's own count, and the set clears only after all
    * swaps), but the unswapped tables would keep the old parallelism
    * forever; this free metadata probe notices.
    */
  private[graft] def bucketSpecIncoherence(spark: SparkSession, layout: IndexLayout): Option[Int] = {
    val counts = existing(spark, layout).map(b => b.name -> Layout.numBuckets(spark, b.name))
    if (counts.map(_._2).distinct.size <= 1) None
    else counts.find(_._1 == layout.primary).orElse(counts.headOption).map(_._2)
  }

  /** Full compaction. A half-migrated index resumes its migration
    * instead: a plain compaction would re-compact each table at its
    * own mixed count and keep the stale parallelism forever.
    */
  def compact(spark: SparkSession, layout: IndexLayout): Unit =
    rewriteAll(spark, layout, bucketSpecIncoherence(spark, layout))

  /** Bucket-count migration of every bucketed table to `newBuckets`. */
  def rebucket(spark: SparkSession, layout: IndexLayout, newBuckets: Int): Unit = {
    require(newBuckets >= 1, "newBuckets must be >= 1")
    rewriteAll(spark, layout, Some(newBuckets))
  }

  /** Resume a torn bucket-count migration at the primary's count. The
    * resume is the full migration, not a swap of the lagging tables:
    * deletes that landed between the crash and the resume must drop
    * physically from every table before the set clears. Returns the
    * target when a resume ran.
    */
  def resumeRebucketIfIncoherent(spark: SparkSession, layout: IndexLayout): Option[Int] =
    bucketSpecIncoherence(spark, layout).map { target =>
      rebucket(spark, layout, target)
      target
    }

  /** Compaction POLICY: compact when any bucketed table fragmented past
    * `maxFilesPerBucket` (≈ appends since the last compaction) or more
    * than `maxTombstones` distinct ids are tombstoned. Returns whether
    * a compaction ran.
    */
  def compactIfFragmented(
      spark: SparkSession,
      layout: IndexLayout,
      maxFilesPerBucket: Int,
      maxTombstones: Long): Boolean = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    val run =
      tombstonesExceed(spark, layout.tombs, layout.tombId, maxTombstones) ||
        bucketsFragmentedBeyond(spark, layout.bucketed.map(_.name), maxFilesPerBucket)
    if (run) compact(spark, layout)
    run
  }

  /** Bucket-count GROWTH policy: a metadata probe (primary parquet
    * bytes per bucket) against `maxBytesPerBucket`; above it, migrate
    * to the smallest `growthFactor`-power multiple that restores the
    * bound — one call heals even a long-neglected index. A torn
    * previous migration resumes first, or the ratio would be measured
    * against a count half the index doesn't have. Deliberately not part
    * of `maintainIncremental`: a migration rewrites every table, an
    * operator-visible event the incremental policy exists to avoid.
    * Returns the new bucket count when a migration ran.
    */
  def rebucketIfOvergrown(
      spark: SparkSession,
      layout: IndexLayout,
      maxBytesPerBucket: Long,
      growthFactor: Int): Option[Int] = {
    require(maxBytesPerBucket >= 1L, "maxBytesPerBucket must be >= 1")
    require(growthFactor >= 2, "growthFactor must be >= 2")
    if (!spark.catalog.tableExists(layout.primary)) return None
    val resumed = resumeRebucketIfIncoherent(spark, layout)
    val nb    = Layout.numBuckets(spark, layout.primary)
    val bytes = Layout.parquetBytes(spark, layout.primary)
    if (bytes <= maxBytesPerBucket * nb.toLong) resumed
    else {
      val n = Layout.grownBucketCount(nb, bytes, maxBytesPerBucket, growthFactor)
      rebucket(spark, layout, n)
      Some(n)
    }
  }

  /** Two-sided bucket-count policy: grow as `rebucketIfOvergrown`;
    * shrink when per-bucket bytes fall under `minBytesPerBucket` (a
    * corpus contracted by mass deletion opens many near-empty files),
    * by `growthFactor` divisions, never below `minBuckets` and never
    * past the grow bound, so the two sides cannot oscillate.
    */
  def rebucketIfMisSized(
      spark: SparkSession,
      layout: IndexLayout,
      maxBytesPerBucket: Long,
      minBytesPerBucket: Long,
      growthFactor: Int,
      minBuckets: Int): Option[Int] = {
    require(minBytesPerBucket >= 0L, "minBytesPerBucket must be >= 0")
    require(minBuckets >= 1, "minBuckets must be >= 1")
    rebucketIfOvergrown(spark, layout, maxBytesPerBucket, growthFactor).orElse {
      if (!spark.catalog.tableExists(layout.primary) || minBytesPerBucket == 0L) None
      else {
        val nb    = Layout.numBuckets(spark, layout.primary)
        val bytes = Layout.parquetBytes(spark, layout.primary)
        val n = Layout.shrunkenBucketCount(
          nb, bytes, minBytesPerBucket, maxBytesPerBucket, growthFactor, minBuckets)
        if (n == nb) None
        else {
          rebucket(spark, layout, n)
          Some(n)
        }
      }
    }
  }

  // ---------- bucket-scoped maintenance ----------

  /** BUCKET-SCOPED compaction: rewrite only the buckets fragmented past
    * `maxFilesPerBucket` (`Layout.compactBuckets` — cost tracks the
    * touched buckets' bytes, never the index). Tombstoned rows inside a
    * rewritten bucket drop opportunistically. The set itself may only
    * shrink per bucket when `idInOneRow` holds: then every tombstoned
    * id found in a touched bucket is fully gone after the rewrite and
    * leaves the set (snapshot taken BEFORE the rewrite deletes the
    * fragments, removal AFTER it). Without the property an id's rows
    * span many buckets (a doc's postings live in its terms' buckets),
    * so only a pass that provably rewrites every trace may clear it.
    * Returns the rewritten bucket ids per table.
    */
  def compactFragmentedBuckets(
      spark: SparkSession,
      layout: IndexLayout,
      maxFilesPerBucket: Int): Map[String, Seq[Int]] = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    // ONE listing feeds the emptiness probe and the broadcast size
    // gate, paid only once some bucket actually needs a rewrite
    lazy val (tombRows, tombBytes) =
      if (!spark.catalog.tableExists(layout.tombs)) (0L, 0L)
      else Layout.parquetDirStats(spark, layout.tombs)
    lazy val live = rowsLive(spark, layout.tombs, tombRows)
    val cleared = Seq.newBuilder[Long]
    val out = existing(spark, layout).flatMap { b =>
      val frag = Layout.fragmentedBucketIds(spark, b.name, maxFilesPerBucket)
      if (frag.isEmpty) None
      else {
        if (!live) Layout.compactBuckets(spark, b.name, frag.toSet)
        else {
          val ids = tombIds(spark, layout, b.idCol, tombBytes)
          if (layout.idInOneRow) {
            val meta = spark.sessionState.catalog.getTableMetadata(
              spark.sessionState.sqlParser.parseTableIdentifier(b.name))
            cleared ++= spark.read.schema(meta.schema)
              .parquet(Layout.bucketFiles(spark, b.name, frag.toSet): _*)
              .select(col(b.idCol)).join(ids, Seq(b.idCol))
              .distinct().collect().map(_.getLong(0))
          }
          layout.hooks.aroundBucketRewrite(spark, b.name, frag.toSet, ids) {
            Layout.compactBuckets(
              spark, b.name, frag.toSet,
              dropTombstonedTransform(spark, layout.tombs, layout.tombId, b.idCol, tombBytes))
          }
        }
        Some(b.name -> frag)
      }
    }.toMap
    removeTombs(spark, layout.tombs, layout.tombId, cleared.result())
    out
  }

  /** The buckets a tombstone mask column names, or None when the mask
    * cannot be trusted: the column is absent (legacy table), some row's
    * mask is null (ids-only delete, or the table did not exist at
    * delete time), or any mask lies outside the live bucket range —
    * the index was rebuilt under a different spec since the delete, so
    * the WHOLE mask set is distrusted and retirement trace-scans. One
    * job: a null mask maps to the out-of-range sentinel [-1].
    */
  private def maskedBuckets(tombs: DataFrame, mask: String, nb: Int): Option[Set[Int]] =
    if (!tombs.columns.contains(mask)) None
    else {
      val ms = tombs
        .select(explode(when(col(mask).isNull, array(lit(-1))).otherwise(col(mask))).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      if (ms.exists(b => b < 0 || b >= nb)) None else Some(ms)
    }

  /** Retire the tombstone set WITHOUT a full-generation rewrite:
    * rewrite exactly the buckets still holding physical rows of
    * tombstoned ids (dropping them), then clear the set. Touched
    * buckets come from the delete-time masks when trusted (no index
    * scan), else from a column-pruned trace scan (id + bucket key; a
    * table bucketed by the id itself needs no scan at all). Each bucket
    * rewrite is journal-protected (a prior crash's journal replays
    * before anything is measured); the set clears LAST, so a crash
    * anywhere earlier leaves tombstones live and reads correct, and a
    * re-run finds only the remaining traces. Afterwards a retired id
    * may re-ingest. Returns the rewritten buckets per table.
    */
  def retireTombstones(spark: SparkSession, layout: IndexLayout): Map[String, Seq[Int]] = {
    if (!spark.catalog.tableExists(layout.tombs)) return Map.empty
    val (tombRows, tombBytes) = Layout.parquetDirStats(spark, layout.tombs)
    if (!rowsLive(spark, layout.tombs, tombRows)) return Map.empty
    val tombs = spark.table(layout.tombs)
    val out = existing(spark, layout).flatMap { b =>
      Layout.recoverBucketCompact(spark, b.name)
      val nb  = Layout.numBuckets(spark, b.name)
      val ids = tombIds(spark, layout, b.idCol, tombBytes)
      val touched = b.mask.flatMap(maskedBuckets(tombs, _, nb)).getOrElse {
        (if (b.key == b.idCol) ids else spark.table(b.name).join(ids, Seq(b.idCol), "left_semi"))
          .select(Layout.bucketIdExpr(col(b.key), nb).as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
      }
      if (touched.isEmpty) None
      else {
        layout.hooks.aroundBucketRewrite(spark, b.name, touched, ids) {
          Layout.compactBuckets(
            spark, b.name, touched,
            dropTombstonedTransform(spark, layout.tombs, layout.tombId, b.idCol, tombBytes))
        }
        Some(b.name -> touched.toSeq.sorted)
      }
    }.toMap
    layout.hooks.beforeClear(spark, tombIds(spark, layout, layout.tombId, tombBytes))
    clearTombs(spark, layout.tombs, layout.tombId)
    out
  }

  /** Whether a tombstone set of `nTombs` ids exceeds `heavyFraction`
    * of the live ids. With `idInOneRow` the primary's physical rows P
    * (a footer count, no job) bound the live count as
    * P - nTombs ≤ live ≤ P, so
    *   nTombs > hf·P            ⟹ heavy (live ≤ P, and live > 0),
    *   nTombs ≤ hf·(P - nTombs) ⟹ not heavy (live ≥ P - nTombs);
    * only the band in between, an unreadable footer, or an index
    * without the property pays the kind's exact live count. The
    * decision is IDENTICAL to the exact test in every decisive case.
    * (An index violating the property is already red in fsck; the
    * bound then still picks a correct mode, just maybe not the cheaper.)
    */
  private def heavy(spark: SparkSession, layout: IndexLayout, nTombs: Long, heavyFraction: Double): Boolean = {
    val p = if (layout.idInOneRow) Layout.parquetRowCount(spark, layout.primary) else -1L
    if (p >= 0L && p - nTombs > 0L && nTombs.toDouble > heavyFraction * p.toDouble) true
    else if (p >= 0L && nTombs.toDouble <= heavyFraction * (p - nTombs).toDouble) false
    else {
      val live = layout.liveCount(spark)
      live > 0 && nTombs.toDouble > heavyFraction * live.toDouble
    }
  }

  /** The incremental-first maintenance policy: a torn migration
    * resumes; tombstone pressure (more than `maxTombstones` distinct
    * ids) retires via bucket-scoped rewrites; fragmentation defrags
    * bucket-locally; commit logs and the tombstone table coalesce once
    * they pass the same per-table file bound. COST-BASED fallback: above
    * `heavyFraction` of the live ids tombstoned, effectively every
    * bucket moves, and the one-shot full rewrite is cheaper than
    * per-bucket journaled swaps and trace scans (measured ~3.1× for an
    * all-buckets retirement). Returns whether any maintenance ran.
    */
  def maintainIncremental(
      spark: SparkSession,
      layout: IndexLayout,
      maxFilesPerBucket: Int,
      maxTombstones: Long,
      heavyFraction: Double): Boolean = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    val resumed = resumeRebucketIfIncoherent(spark, layout).nonEmpty
    // one distinct count feeds both the budget check and the heavy
    // policy; distinct ids ≤ physical rows, so a footer count within
    // budget short-circuits it (no job on a healthy index)
    val nTombs =
      if (maxTombstones == Long.MaxValue || !spark.catalog.tableExists(layout.tombs)) -1L
      else {
        val physical = Layout.parquetRowCount(spark, layout.tombs)
        if (physical >= 0L && physical <= maxTombstones) physical
        else spark.table(layout.tombs).select(col(layout.tombId)).distinct().count()
      }
    val retired = nTombs > maxTombstones && {
      if (heavy(spark, layout, nTombs, heavyFraction)) compact(spark, layout)
      else retireTombstones(spark, layout) // clears the set even when every trace is gone
      true
    }
    val defragged = compactFragmentedBuckets(spark, layout, maxFilesPerBucket).nonEmpty
    // plain tables grow one FILE per committed batch (commit logs) or
    // delete batch (tombstones): coalesce them, rows preserved — replay
    // semantics and the anti-join are row-set functions
    val coalesced = (layout.plain :+ layout.tombs)
      .filter(spark.catalog.tableExists)
      .filter(t => Layout.parquetFileCount(spark, t) > maxFilesPerBucket)
      .map { t => Layout.coalescePlain(spark, t); t }
      .nonEmpty
    resumed || retired || defragged || coalesced
  }

  // ---------- fsck and repair ----------

  /** One result row: `(check, ok, detail)` of a check, `(repair,
    * applied, detail)` of a repair.
    */
  type Finding = (String, Boolean, String)

  private def frame(spark: SparkSession, rows: Seq[Finding], cols: String*): DataFrame = {
    import spark.implicits._
    rows.toDF(cols: _*)
  }

  /** Live rows of `df` — a file scan of `table` — tagged `_b` with the
    * bucket of the FILE each row was read from (the tag attaches below
    * the tombstone anti-join; `input_file_name` resolves only against a
    * single source).
    */
  private def liveByFile(spark: SparkSession, layout: IndexLayout, t: BucketedTable, df: DataFrame): DataFrame =
    liveView(spark, layout.tombs, layout.tombId, df.withColumn("_b", Layout.fileBucketId), t.idCol)

  /** One watermarked table's share of an incremental check.
    *
    *   - `diff`: its buckets against the watermark — unchanged,
    *     added-only, rewritten. A table whose aggregates are not
    *     additive counts every touched bucket as rewritten.
    *   - `added` / `rewritten`: the LIVE rows of the added files and of
    *     the rewritten buckets, read on first use, tagged `_b`.
    *   - `agg`: per-bucket aggregates, recorded + added + recomputed.
    *     Each row counts in the bucket of its physical FILE, not of its
    *     key's hash: a corrupted file holding rows that hash elsewhere
    *     must still count where it lives, or the decomposition would
    *     silently drop it. A changed tombstone set (the aggregates are
    *     live) or a table without a recorded mark recomputes the whole
    *     table, column-pruned, with no index shuffle.
    */
  final class TableScope private[IndexLifecycle] (
      spark: SparkSession,
      layout: IndexLayout,
      t: BucketedTable,
      agg0: BucketAgg,
      recorded: Option[FsckWatermark.TableMark],
      tombsChanged: Boolean) {
    private val listed = FsckWatermark.bucketFileSets(spark, t.name)
    val numBuckets: Int = listed._1
    private val files: Map[Int, Set[String]] = listed._2
    val rebucketed: Boolean = recorded.exists(_.numBuckets != numBuckets)
    val diff: FsckWatermark.Diff = {
      val d = recorded.map(FsckWatermark.diff(_, numBuckets, files))
        .getOrElse(FsckWatermark.Diff(Set.empty, Map.empty, files.keySet))
      if (agg0.additive) d else FsckWatermark.Diff(d.unchanged, Map.empty, d.touched)
    }
    lazy val added: Option[DataFrame] =
      Layout.readFiles(spark, t.name,
        diff.addedOnly.valuesIterator.flatten.map(FsckWatermark.filePath(spark, t.name, _)).toSeq)
        .map(liveByFile(spark, layout, t, _))
    lazy val rewritten: Option[DataFrame] =
      (if (diff.rewritten.isEmpty) None
       else Layout.readFiles(spark, t.name, Layout.bucketFiles(spark, t.name, diff.rewritten)))
        .map(liveByFile(spark, layout, t, _))

    /** The live rows of every added file and rewritten bucket. */
    def delta: Option[DataFrame] = (added, rewritten) match {
      case (Some(a), Some(r)) => Some(a.unionByName(r))
      case (a, r)             => a.orElse(r)
    }

    private def perBucket(live: DataFrame): Map[Int, (Long, Long)] =
      live.groupBy(col("_b")).agg(agg0.a1, agg0.a2).collect()
        .map(r => r.getInt(0) -> ((if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))))
        .toMap

    private lazy val agg: Map[Int, (Long, Long)] = recorded match {
      case Some(m) if !tombsChanged =>
        val add = added.map(perBucket).getOrElse(Map.empty)
        val rew = rewritten.map(perBucket).getOrElse(Map.empty)
        (m.buckets.keySet ++ files.keySet).iterator.map { b =>
          val kept = if (diff.rewritten(b)) None else m.buckets.get(b).map(x => (x.a1, x.a2))
          b -> Seq(kept, add.get(b), rew.get(b)).flatten
            .foldLeft((0L, 0L)) { case ((x, y), (u, v)) => (x + u, y + v) }
        }.toMap
      case _ => perBucket(liveByFile(spark, layout, t, spark.table(t.name)))
    }

    /** The two aggregates summed over every bucket. */
    def totals: (Long, Long) = (agg.valuesIterator.map(_._1).sum, agg.valuesIterator.map(_._2).sum)

    private[IndexLifecycle] def mark: FsckWatermark.TableMark =
      FsckWatermark.TableMark(numBuckets, files.map { case (b, fs) =>
        val (a1, a2) = agg.getOrElse(b, (0L, 0L))
        b -> FsckWatermark.BucketMark(fs, a1, a2)
      })
  }

  /** What the incremental check hands a kind: a `TableScope` per
    * watermarked table that exists (in layout order), whether the
    * tombstone set changed since the watermark, and the file-log files
    * added and removed since.
    */
  final class FsckScope private[IndexLifecycle] (
      spark: SparkSession,
      layout: IndexLayout,
      recorded: Option[FsckWatermark.Mark]) {
    private val tombsFp = FsckWatermark.plainFp(spark, layout.tombs)
    private val logFps  = layout.fsckFileLog.map(FsckWatermark.plainFileFps(spark, _)).getOrElse(Set.empty)
    val tombsChanged: Boolean = !recorded.exists(_.tombsFp == tombsFp)
    val tables: Seq[(String, TableScope)] =
      layout.bucketed.filter(b => spark.catalog.tableExists(b.name)).flatMap { b =>
        b.fsck.map(a => b.name -> new TableScope(
          spark, layout, b, a, recorded.flatMap(_.tables.get(b.name)), tombsChanged))
      }
    def table(name: String): Option[TableScope] = tables.collectFirst { case (`name`, s) => s }
    val logAdded: Set[String]   = logFps -- recorded.map(_.logFps).getOrElse(Set.empty)
    val logRemoved: Set[String] = recorded.map(_.logFps).getOrElse(Set.empty) -- logFps

    private[IndexLifecycle] def mark: FsckWatermark.Mark =
      FsckWatermark.Mark(tombsFp, logFps, tables.map { case (n, s) => n -> s.mark }.toMap)
  }

  /** Duplicated `(batch_id, kind)` rows of a marker log. */
  private def duplicateMarkers(spark: SparkSession, table: String): Long =
    spark.table(table)
      .groupBy(col("batch_id"), col("kind"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()

  /** The rows every index has, all catalog or listing probes but the
    * marker log's:
    *
    *   - `marker_log_unique`: a duplicate `(batch_id, kind)` marker
    *     means replay idempotence is broken for that batch id;
    *   - `bucket_spec_coherent`: mixed bucket counts are a torn
    *     migration — answers stay correct, but the unswapped tables keep
    *     the old parallelism until a maintenance entry point resumes it;
    *   - `dangling_generation`: the immediate previous generation of a
    *     table is legal reader-safe retention, anything older on disk is
    *     a leak (a crashed maintenance pass that never ran again);
    *   - `bucket_journal_pending`: a committed but uncompleted bucket
    *     compaction — every maintenance entry point replays it, repair
    *     heals it at rest.
    */
  private def sharedFindings(spark: SparkSession, layout: IndexLayout): Seq[Finding] = {
    val markers = layout.markerLog.filter(spark.catalog.tableExists).map { t =>
      val dups = duplicateMarkers(spark, t)
      ("marker_log_unique", dups == 0, s"$dups duplicated (batch_id, kind) markers")
    }
    val coherent = bucketSpecIncoherence(spark, layout) match {
      case Some(target) =>
        val counts = existing(spark, layout).map(b => s"${b.name}=${Layout.numBuckets(spark, b.name)}")
        ("bucket_spec_coherent", false,
          s"mixed bucket counts (${counts.mkString(", ")}) — any maintenance entry point " +
            s"resumes the migration to $target buckets")
      case None => ("bucket_spec_coherent", true, "bucketed tables agree on bucket count")
    }
    val leaks = layout.tables.filter(spark.catalog.tableExists)
      .flatMap(t => Layout.danglingGenerations(spark, t).map(d => s"$t -> $d"))
    val journals = layout.bucketed.map(_.name).filter(Layout.pendingBucketJournal(spark, _))
    markers.toSeq ++ Seq(
      coherent,
      ("dangling_generation", leaks.isEmpty,
        if (leaks.isEmpty) "retention bounded at one generation" else leaks.mkString("; ")),
      ("bucket_journal_pending", journals.isEmpty,
        if (journals.isEmpty) "no pending bucket-compaction journal"
        else s"committed journal awaiting replay: ${journals.mkString(", ")}"))
  }

  private def findings(spark: SparkSession, layout: IndexLayout, scope: Option[FsckScope]): Seq[Finding] =
    layout.hooks.fsck(spark, scope) ++ sharedFindings(spark, layout)

  /** The consistency check (fsck) an index needs after a crash, a
    * killed maintenance job or an operator mistake: the kind's
    * invariants over every live row plus the shared rows, one
    * `(check, ok, detail)` row each. Run it AT REST (no in-flight
    * append or delete).
    */
  def check(spark: SparkSession, layout: IndexLayout): DataFrame =
    frame(spark, findings(spark, layout, None), "check", "ok", "detail")

  /** The maintenance-cadence check: the same invariants at a cost that
    * tracks the bytes written since the last GREEN check.
    *
    *   - No watermark, or one that cannot be read: run the full check
    *     and record a watermark (`FsckWatermark`: per-bucket file sets
    *     and live aggregates) only when it is green.
    *   - Otherwise: diff each watermarked table's files into unchanged,
    *     added-only and rewritten buckets (`TableScope`), hand the scope
    *     to the kind, and advance the watermark only when green — a red
    *     result keeps the evidence window open for the next pass.
    *
    * Trust boundary: the watermark trusts a file's (name, length,
    * mtime), so a corruption that preserves all three in an untouched
    * bucket is invisible here; the periodic full `check` holds no
    * watermark trust. The result carries an `fsck_scope` row naming the
    * mode and the touched buckets.
    */
  def checkIncremental(spark: SparkSession, layout: IndexLayout): DataFrame = {
    if (!spark.catalog.tableExists(layout.primary)) return check(spark, layout)
    val wm = FsckWatermark.path(spark, layout.primary)
    val recorded = FsckWatermark.read(spark, wm)
    val scope = recorded.map(r => new FsckScope(spark, layout, Some(r)))
    val rows = findings(spark, layout, scope)
    val green = rows.forall(_._2)
    if (green) FsckWatermark.write(spark, wm, scope.getOrElse(new FsckScope(spark, layout, None)).mark)
    val detail = scope match {
      case None =>
        "full: no (or unreadable) watermark — ran the full check" +
          (if (green) "; watermark recorded" else "; RED result, watermark NOT recorded")
      case Some(s) =>
        // a one-table index needs no table label
        def label(t: String) = if (layout.bucketed.size > 1) t.drop(t.lastIndexOf('_') + 1) + " " else ""
        val tables = s.tables.map { case (t, ts) =>
          s"${label(t)}${ts.diff.touched.size}/${ts.numBuckets} buckets touched " +
            s"(${ts.diff.addedOnly.size} added-only, ${ts.diff.rewritten.size} rewritten)"
        }
        s"incremental: ${tables.mkString(", ")}; tombstones " +
          (if (s.tombsChanged) "CHANGED (live aggregates recomputed corpus-wide, column-pruned)" else "unchanged") +
          (if (green) "; watermark advanced" else "; RED result — watermark NOT advanced") +
          "; fingerprint-evading corruption in untouched buckets needs the periodic full check"
    }
    frame(spark, rows :+ (("fsck_scope", true, detail)), "check", "ok", "detail")
  }

  /** fsck that HEALS: derive each repair from the surviving tables,
    * apply it, and report one `(repair, applied, detail)` row per
    * repair. Run AT REST, like `check`.
    *
    *   - `bucket_journal_replay` runs FIRST: every other repair derives
    *     from table state, which a mid-swap file set would corrupt
    *     rather than heal;
    *   - then the kind's repairs;
    *   - `marker_dedup`: the marker log is pure replay state, duplicates
    *     are byte-identical by construction and collapse to one row per
    *     `(batch_id, kind)`.
    */
  def repair(spark: SparkSession, layout: IndexLayout): DataFrame = {
    val replayed = layout.bucketed.map(_.name)
      .filter(spark.catalog.tableExists)
      .filter(Layout.recoverBucketCompact(spark, _))
    val journal = ("bucket_journal_replay", replayed.nonEmpty,
      if (replayed.isEmpty) "no pending bucket-compaction journal"
      else s"journal replayed to convergence: ${replayed.mkString(", ")}")
    val kind = layout.hooks.repairs(spark)
    val dedup = layout.markerLog.filter(spark.catalog.tableExists).map { t =>
      val dups = duplicateMarkers(spark, t)
      if (dups == 0) ("marker_dedup", false, "marker log unique")
      else {
        Layout.rewritePlain(spark, t)(_.distinct())
        ("marker_dedup", true, s"$dups duplicated (batch_id, kind) markers collapsed")
      }
    }
    frame(spark, (journal +: kind) ++ dedup, "repair", "applied", "detail")
  }

  // ---------- write-side helpers ----------

  /** A marker-guarded idempotent append: with `batchId >= 0` a batch
    * already committed in the append marker space is skipped whole
    * (returns false); the caller-contract guard refuses tombstoned
    * ids; `write` appends; the marker commits LAST (a crash between
    * write and marker can only duplicate the batch on replay, never
    * lose it). Returns whether the batch was written.
    */
  def appendMarked(
      spark: SparkSession,
      markers: String,
      tombs: String,
      tombId: String,
      ids: DataFrame,
      idCol: String,
      op: String,
      batchId: Long)(write: => Unit): Boolean = {
    if (batchId >= 0L) {
      require(
        spark.catalog.tableExists(markers),
        s"$op: no marker table $markers — rebuild the index before idempotent appends")
      if (markerPresent(spark, markers, batchId, Append)) return false
    }
    requireNotTombstoned(spark, tombs, tombId, ids, idCol, op)
    write
    if (batchId >= 0L) writeMarker(spark, markers, batchId, Append)
    true
  }

  /** Maintain an index from a stream: `apply` runs each micro-batch
    * with its foreachBatch id (idempotent under at-least-once replay
    * by the caller's marker discipline) and returns whether it wrote.
    * foreachBatch runs in a CLONED session, whose writes refresh only
    * the clone's relation cache — so after a batch that wrote, the
    * owner session's view of `refresh` is refreshed, and a replayed or
    * empty batch pays nothing.
    */
  def foreachBatch(stream: DataFrame, refresh: Seq[String])(
      apply: (DataFrame, Long) => Boolean): DataStreamWriter[Row] = {
    val owner = stream.sparkSession
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (apply(batch, batchId))
          refresh.filter(owner.catalog.tableExists).foreach(owner.catalog.refreshTable)
      }
  }

  /** Drop every table of the index. */
  def drop(spark: SparkSession, layout: IndexLayout): Unit =
    layout.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}
