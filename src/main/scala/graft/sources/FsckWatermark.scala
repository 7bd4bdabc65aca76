package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Persisted state of the last GREEN consistency check — what makes
  * `IndexLifecycle.checkIncremental` possible: a full check pays
  * full-index cost every run, a full scan per maintenance window at
  * 100 TB.
  *
  * The watermark records, per watermarked bucketed table, each
  * bucket's FILE SET (name + length + mtime of every parquet file) plus
  * the per-bucket aggregates the global invariants decompose over
  * (e.g. live Σtf and live row counts — per-bucket because a term lives
  * entirely in its hash bucket and a doc's forward row in its doc
  * bucket, so per-bucket sums recombine exactly). The file-level diff
  * matters: an append touches most TERM buckets of a posting index
  * (any real document carries diverse terms), so a bucket-granular
  * "re-verify touched buckets" would re-read nearly the whole index
  * every window. With file sets the diff classifies each bucket as
  *
  *   - UNCHANGED (same files) — recorded aggregates reused;
  *   - ADDED-ONLY (old files all still present) — additive aggregates
  *     come from the new files alone: cost tracks appended bytes;
  *   - REWRITTEN (any old file gone) — full bucket recompute, which is
  *     exactly the byte count the rewrite itself just paid.
  *
  * The trust boundary is the file fingerprint: corruption that
  * replaces bytes while preserving a file's (name, length, mtime) is
  * invisible to the incremental pass BY DESIGN and is the reason the
  * runbook keeps a periodic FULL check (spec-pinned in
  * IncrementalFsckSpec — an injected fingerprint-evading corruption
  * stays green incrementally and goes red on the next full pass).
  *
  * Lifecycle: written ONLY after a green check (atomic tmp+rename; a
  * torn or unreadable watermark falls back to the full check, never a
  * wrong scope). Lives as a SIBLING of the anchor table's generation-0
  * base dir (`<base>.fsck`, like the dict-delta staging) so it
  * survives generation swaps — whose fresh file names then mark every
  * bucket rewritten, which is correct: a generation rewrite moved
  * every byte.
  */
private[graft] object FsckWatermark {

  /** One bucket at the last green check: its file fingerprints + two
    * table-specific aggregate slots (`IndexLifecycle.BucketAgg`).
    */
  case class BucketMark(files: Set[String], a1: Long, a2: Long)
  case class TableMark(numBuckets: Int, buckets: Map[Int, BucketMark])

  /** `tombsFp` digests the tombstone table's file set — the per-bucket
    * LIVE aggregates embed the tombstone anti-join, so any change to
    * the set invalidates the decomposition (the incremental check then
    * recomputes the aggregates corpus-wide, column-pruned — still no
    * index shuffle, far under full-fsck cost). `logFps` keeps the
    * PER-FILE fingerprints of the layout's file log (the posting
    * dictionary) so an incremental pass can identify exactly the files
    * appended since the watermark.
    */
  case class Mark(tombsFp: String, logFps: Set[String], tables: Map[String, TableMark])

  /** File-level bucket diff vs a recorded mark (see the class doc for
    * why the three-way split is the whole point).
    */
  case class Diff(unchanged: Set[Int], addedOnly: Map[Int, Set[String]], rewritten: Set[Int]) {
    def touched: Set[Int] = addedOnly.keySet ++ rewritten
  }

  def diff(old: TableMark, curNb: Int, curFiles: Map[Int, Set[String]]): Diff = {
    val ids = curFiles.keySet ++ old.buckets.keySet
    if (old.numBuckets != curNb) return Diff(Set.empty, Map.empty, ids)
    val unchanged = scala.collection.mutable.Set[Int]()
    val addedOnly = scala.collection.mutable.Map[Int, Set[String]]()
    val rewritten = scala.collection.mutable.Set[Int]()
    ids.foreach { b =>
      val o = old.buckets.get(b).map(_.files).getOrElse(Set.empty)
      val c = curFiles.getOrElse(b, Set.empty)
      if (o == c) unchanged += b
      else if (o.subsetOf(c)) addedOnly(b) = c -- o
      else rewritten += b
    }
    Diff(unchanged.toSet, addedOnly.toMap, rewritten.toSet)
  }

  private def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  private def tableDir(spark: SparkSession, table: String): Path = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    new Path(meta.location)
  }

  private def hadoopFs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The watermark path for an index anchored at `anchorTable` (its
    * primary table): `<generation-0 base of the location>.fsck`.
    */
  def path(spark: SparkSession, anchorTable: String): Path =
    new Path(Layout.baseGen(tableDir(spark, anchorTable).toString) + ".fsck")

  /** A file fingerprint's on-disk name (the part before the first
    * colon) resolved under the table's CURRENT directory.
    */
  def filePath(spark: SparkSession, table: String, fp: String): String =
    s"${tableDir(spark, table)}/${fp.takeWhile(_ != ':')}"

  private def fileFps(spark: SparkSession, table: String): Seq[String] = {
    if (!spark.catalog.tableExists(table)) return Nil
    val dir = tableDir(spark, table)
    val fs  = hadoopFs(spark, dir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .toSeq.sorted
  }

  /** Digest of a plain (unbucketed) table's parquet file set — "-" for
    * a missing table or an empty file set, so "absent" and "empty"
    * compare equal (both mean: no rows can have come from here).
    */
  def plainFp(spark: SparkSession, table: String): String = {
    val fps = fileFps(spark, table)
    if (fps.isEmpty) "-" else md5(fps.mkString("\n"))
  }

  /** Per-file fingerprints of a plain table (for a file log, whose
    * incremental check needs WHICH files appeared, not just that some
    * did).
    */
  def plainFileFps(spark: SparkSession, table: String): Set[String] =
    fileFps(spark, table).toSet

  /** Current (numBuckets, bucketId → file fingerprints) of a bucketed
    * table. Buckets with no files are simply absent from the map.
    */
  def bucketFileSets(spark: SparkSession, table: String): (Int, Map[Int, Set[String]]) = {
    val nb  = Layout.numBuckets(spark, table)
    val dir = tableDir(spark, table)
    val fs  = hadoopFs(spark, dir)
    val byBucket = (if (fs.exists(dir)) fs.listStatus(dir).iterator else Iterator.empty)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .flatMap { s =>
        Layout.bucketIdOf(s.getPath.getName)
          .map(b => b -> s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      }
      .toSeq.groupBy(_._1)
    (nb, byBucket.map { case (b, fps) => b -> fps.map(_._2).toSet })
  }

  // ---------- serialization (single text file, atomic swap) ----------

  def write(spark: SparkSession, p: Path, mark: Mark): Unit = {
    val fs  = hadoopFs(spark, p)
    val tmp = new Path(p.toString + ".tmp")
    val sb  = new StringBuilder
    sb.append("graft-fsck v2\n")
    sb.append(s"tombs ${mark.tombsFp}\n")
    mark.logFps.toSeq.sorted.foreach(f => sb.append(s"dictfile $f\n"))
    mark.tables.toSeq.sortBy(_._1).foreach { case (t, tm) =>
      sb.append(s"table $t ${tm.numBuckets}\n")
      tm.buckets.toSeq.sortBy(_._1).foreach { case (b, m) =>
        sb.append(s"b $b ${m.a1} ${m.a2}${m.files.toSeq.sorted.map(" " + _).mkString}\n")
      }
    }
    sb.append("end\n")
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"could not commit fsck watermark at $p")
  }

  /** None on absent, torn, or unparseable watermark — the caller falls
    * back to the full check (the conservative direction).
    */
  def read(spark: SparkSession, p: Path): Option[Mark] =
    try {
      val fs = hadoopFs(spark, p)
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val lines = text.split("\n")
      if (lines.isEmpty || lines.head != "graft-fsck v2" || !lines.contains("end")) return None
      var tombsFp = "-"
      val logFps = scala.collection.mutable.Set[String]()
      val tables  = scala.collection.mutable.Map[String, TableMark]()
      var curTable: String = null
      var curNb = 0
      var curBuckets = scala.collection.mutable.Map[Int, BucketMark]()
      def closeTable(): Unit =
        if (curTable != null) tables(curTable) = TableMark(curNb, curBuckets.toMap)
      lines.takeWhile(_ != "end").foreach { line =>
        val parts = line.split(" ")
        parts(0) match {
          case "tombs"    => tombsFp = parts(1)
          case "dictfile" => logFps += parts(1)
          case "table" =>
            closeTable()
            curTable = parts(1); curNb = parts(2).toInt
            curBuckets = scala.collection.mutable.Map[Int, BucketMark]()
          case "b" =>
            curBuckets(parts(1).toInt) =
              BucketMark(parts.drop(4).toSet, parts(2).toLong, parts(3).toLong)
          case _ => ()
        }
      }
      closeTable()
      Some(Mark(tombsFp, logFps.toSet, tables.toMap))
    } catch { case scala.util.control.NonFatal(_) => None }

  def delete(spark: SparkSession, p: Path): Unit = {
    val fs = hadoopFs(spark, p)
    fs.delete(p, false)
    fs.delete(new Path(p.toString + ".tmp"), false)
  }
}
