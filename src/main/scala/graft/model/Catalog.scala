package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The catalog: one named DataFrame per entity/bridge table, backed by
  * one parquet directory per table.
  *
  * Physical layout (SURVEY §4): partition hot tables by their hottest
  * filter column — `file_instance` by storage, `sequence_dataset` by
  * dataset_type — and sort by id within files so point lookups prune
  * row groups. Writes are snapshot rewrites (single writer), the batch
  * analog of the reference's transactional saves.
  */
final case class Catalog(spark: SparkSession, tables: Map[String, DataFrame]) {
  def apply(name: String): DataFrame =
    tables.getOrElse(name, throw new NoSuchElementException(s"unknown catalog table: $name"))

  /** Write every table to `dir/<name>` parquet, hive-partitioning the
    * hot tables by their dominant filter column (SURVEY §4: partition
    * pruning serves the reference's hottest predicates).
    */
  def save(dir: String, partitioning: Map[String, Seq[String]] = Catalog.DefaultPartitioning): Unit =
    tables.foreach { case (name, df) =>
      val w = df.write.mode("overwrite")
      partitioning.get(name) match {
        case Some(cols) => w.partitionBy(cols: _*).parquet(s"$dir/$name")
        case None       => w.parquet(s"$dir/$name")
      }
    }
}

object Catalog {

  /** Small-files compaction: rewrite a table directory into
    * `targetFileSizeBytes`-sized files, clustered by `sortCols` within
    * each file so min/max row-group stats prune point and range scans.
    * The file count derives from the table's actual bytes (not a fixed
    * number), so the same call is right at sf0.001 and at 100 TB —
    * compaction is the maintenance pass every long-lived ingest
    * (streaming micro-batches, per-upload appends) needs to keep scan
    * parallelism healthy.
    */
  def compact(
      spark: SparkSession,
      dir: String,
      sortCols: Seq[String],
      targetFileSizeBytes: Long = 128L * 1024 * 1024): String = {
    val df = spark.read.parquet(dir)
    // size from the REAL on-disk bytes, not optimizedPlan.stats
    // (an in-memory estimate inflated by the parquet compression
    // factor, which would emit many undersized files). Sum only
    // *.parquet data files — _SUCCESS / .crc / _metadata would skew
    // the target file count — and expand `dir` through globStatus
    // first, since spark.read.parquet above accepts glob patterns.
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs   = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataBytes(st: org.apache.hadoop.fs.FileStatus): Long =
      if (st.isDirectory) fs.listStatus(st.getPath).map(dataBytes).sum
      else if (st.getPath.getName.endsWith(".parquet")) st.getLen
      else 0L
    val roots = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
    val bytes = BigInt(roots.map(dataBytes).sum)
    val nFiles = math.max(1, (bytes / BigInt(targetFileSizeBytes)).toInt +
      (if (bytes % BigInt(targetFileSizeBytes) > 0) 1 else 0))
    val out = s"$dir.compacted"
    df.repartitionByRange(nFiles, sortCols.map(df(_)): _*)
      .sortWithinPartitions(sortCols.map(df(_)): _*)
      .write.mode("overwrite").parquet(out)
    out
  }

  /** Hot-table partition columns (mirrors the reference's hottest
    * filters: file instances by storage, datasets by type —
    * /root/reference/tantalus/api/filters.py:95,214).
    */
  val DefaultPartitioning: Map[String, Seq[String]] = Map(
    "file_instance"    -> Seq("storage_id"),
    "sequence_dataset" -> Seq("dataset_type"),
  )

  /** Empty catalog with the full schema set — the "fresh migration". */
  def empty(spark: SparkSession): Catalog =
    Catalog(
      spark,
      Schemas.all.map { case (name, schema) =>
        name -> spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      })

  /** Load a previously saved catalog directory. */
  def load(spark: SparkSession, dir: String, names: Iterable[String] = Schemas.all.keys): Catalog =
    Catalog(spark, names.map(n => n -> spark.read.parquet(s"$dir/$n")).toMap)
}
