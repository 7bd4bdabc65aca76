package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lazy loader for the driver's TPC-H-ish testdata directory
  * (TESTDATA.md). One parquet file per table; reads are lazy so a query
  * only touches the tables it names, and Catalyst pushes filters and
  * column pruning into the parquet scan.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // Schema memo (r17, guide §6): without an explicit schema every
  // `spark.read.parquet` re-infers from footers at plan time — per
  // query, per table, per bench pass; at real scale (many files)
  // inference is a distributed job. A production catalog serves the
  // schema from the metastore instead; this memo is that, per
  // process. Keyed by path; SCHEMAS only, never data or results.
  private def rd(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = Tables.schemaMemo.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  lazy val region: DataFrame     = rd("region")
  lazy val nation: DataFrame     = rd("nation")
  lazy val customer: DataFrame   = rd("customer")
  lazy val supplier: DataFrame   = rd("supplier")
  lazy val part: DataFrame       = rd("part")
  lazy val orders: DataFrame     = rd("orders")
  lazy val lineitem: DataFrame   = rd("lineitem")
  lazy val events: DataFrame     = rd("events")
  lazy val documents: DataFrame  = rd("documents")
  lazy val embeddings: DataFrame = rd("embeddings")
}

object Tables {

  private[graft] val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Invalidate the schema memo for `path` — the hook any code path
    * that REWRITES a base-table directory in-process must call
    * (ADVICE r17: the memo is
    * process-global and never expires, so a regenerated directory
    * with a different schema would otherwise be read under the stale
    * explicit schema, which parquet resolves to silent nulls instead
    * of a loud inference mismatch). `tools.BuildSf1` — the only
    * in-repo rewriter of testdata directories — calls this after its
    * rebuild; external regeneration requires a new process, where the
    * memo starts empty.
    */
  private[graft] def invalidateSchema(path: String): Unit = { schemaMemo.remove(path); () }

  /** Every table the testdata directory ships. */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register each table as a session temp view, so a pure `spark.sql`
    * workflow — which with the `graft_*` kernel functions
    * (plans.SqlFunctions) now covers the engine's full scalar surface —
    * runs against the directory without touching the Scala API. Views
    * are lazy parquet reads: scans still prune columns and push
    * filters; only the names are eagerly bound.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => spark.read.parquet(s"$dir/$n.parquet").createOrReplaceTempView(n))
}
