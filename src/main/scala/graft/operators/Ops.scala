package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Generic relational operators of the engine, re-expressing the
  * reference's Django-ORM query surface Spark-first.
  *
  * Design notes (scale):
  *  - Membership tests are LEFT SEMI / LEFT ANTI joins, never
  *    join+distinct: no fan-out, no shuffle-heavy de-dup, and Catalyst
  *    can broadcast the filter side when it is small. This replaces the
  *    reference's join-then-`.distinct()` idiom
  *    (/root/reference/tantalus/views.py:1750-1756).
  *  - Money arithmetic goes through DECIMAL(18,2) so that aggregate
  *    results are exact and independent of partial-aggregation order —
  *    required for bit-exact oracle equivalence and, at 100 TB, for
  *    run-to-run reproducibility.
  */
object Ops {

  /** Spread a single-split source across the cluster before per-row
    * heavy work (tokenizing, hashing, explodes): a small file arrives
    * as ONE input split and everything up to the first shuffle would
    * run on one core. Already-parallel inputs pass through untouched.
    *
    * Deliberately keyed by a DERIVED hash of the row id, never by the
    * id itself and never round-robin:
    *   - `repartition(col(id))` satisfies downstream joins' /
    *     aggregations' distribution requirement on that key, so
    *     EnsureRequirements inserts no exchange there — and AQE can
    *     neither skew-split nor coalesce a REPARTITION_BY_COL shuffle
    *     (ProfileR6Scale skew audit: the hot-key verify join only
    *     splits once no keyed-on-id repartition feeds it).
    *   - plain `repartition(n)` is round-robin, and Spark sorts every
    *     input partition by ALL columns first (retry determinism,
    *     sortBeforeRepartition) — a full-payload sort just to spread.
    * `hashpartitioning(hash(id))` is deterministic, sort-free, uniform,
    * and semantically distinct from `clustering(id)`, so every later
    * exchange still belongs to EnsureRequirements where AQE can
    * rewrite it.
    */
  def spread(df: DataFrame, salt: Column): DataFrame =
    if (df.rdd.getNumPartitions > 1) df
    else df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, hash(salt))

  /** Epoch-micros (long) view of an event-time column, tolerant of both
    * ways a parquet event timestamp can surface in the scan:
    *   - long epoch NANOS — timestamp[ns] physical type read under
    *     spark.sql.legacy.parquet.nanosAsLong;
    *   - TIMESTAMP / TIMESTAMP_NTZ — timestamp[us] physical type.
    * The session timezone is pinned to UTC everywhere (Verify/Bench/
    * tests), so the NTZ→LTZ cast agrees bit-for-bit with DuckDB's
    * epoch_us() over the same file. All downstream event-time
    * arithmetic (sessionization gaps, as-of bands, range frames) stays
    * in integer micros so engine and oracle cannot diverge on timestamp
    * rounding.
    *
    * The nanos path uses FLOOR division (not `div`, which truncates
    * toward zero): `unix_micros` floors, so a pre-epoch (negative)
    * nanos value would otherwise diverge by 1µs between the two
    * encodings. `x div 1000 - (x % 1000 < 0)` is exact for every long
    * (no double round-trip) and stays inside whole-stage codegen.
    */
  def tsMicros(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case LongType =>
        expr(s"`$name` div 1000 - (CASE WHEN `$name` % 1000 < 0 THEN 1 ELSE 0 END)")
      case _ => unix_micros(col(name).cast("timestamp"))
    }

  /** Exact money cast: doubles carrying 2-decimal values → DECIMAL(18,2). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-insensitive exact sum of a 2-decimal double column, returned
    * as double. Partial (map-side) aggregation still applies; decimal
    * addition is associative so the result is deterministic.
    */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** EXISTS: rows of `df` having at least one match in `other`. */
  def semiJoin(df: DataFrame, other: DataFrame, joinExpr: Column): DataFrame =
    df.join(other, joinExpr, "left_semi")

  /** NOT EXISTS: rows of `df` with no match in `other`. */
  def antiJoin(df: DataFrame, other: DataFrame, joinExpr: Column): DataFrame =
    df.join(other, joinExpr, "left_anti")

  /** Relational division (conjunctive M2M membership, J7): keys of
    * `bridge` associated with ALL of `wanted` values of `valueCol`.
    * The reference loops one extra join per tag
    * (/root/reference/tantalus/forms.py:583-587); here it is a single
    * shuffle: filter to the wanted set, de-dup (key, value), count
    * distinct values per key, keep keys hitting them all.
    */
  def division(bridge: DataFrame, keyCol: String, valueCol: String, wanted: Seq[String]): DataFrame =
    bridge
      .filter(col(valueCol).isin(wanted: _*))
      .groupBy(col(keyCol))
      .agg(countDistinct(col(valueCol)).as("n_matched"))
      .filter(col("n_matched") === wanted.size)
      .select(col(keyCol))

  /** Deterministic pagination (W1): `orderCols` must be a total order.
    * Two stages: a distributed top-((page+1)*pageSize) — Catalyst's
    * TakeOrderedAndProject, per-partition heaps then a merge, never a
    * global sort — then a row_number window over ONLY those rows to
    * address the requested page. The global window's input is bounded
    * by the page end, not the table, so the plan survives 100 TB for
    * any sane page depth. Deep OFFSET pagination is still inherently
    * O(page end) — callers should keyset-paginate (filter on last-seen
    * key) for hot paths, as the reference's cursor pagination does.
    */
  def paginate(df: DataFrame, orderCols: Seq[Column], page: Int, pageSize: Int): DataFrame = {
    val need = (page.toLong + 1) * pageSize
    require(need <= Int.MaxValue, s"page end $need overflows limit()")
    val w = Window.orderBy(orderCols: _*)
    df.orderBy(orderCols: _*)
      .limit(need.toInt)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") > page.toLong * pageSize)
  }

  /** Latest row per key (W2): the reference's `history.last()`. */
  def latestPerKey(df: DataFrame, partCols: Seq[Column], orderDesc: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderDesc.map(_.desc): _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Version diff via lag (W3): previous-row column comparison per key. */
  def lagDiff(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column], valueCol: Column, outName: String): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    df.withColumn(outName, valueCol - lag(valueCol, 1).over(w))
  }

  /** Lower-cased search blob over hop columns (§2.9 full-text search).
    * Precomputable/cacheable; `icontains` subsumes the exact-token branch.
    */
  def searchBlob(cols: Seq[Column]): Column =
    lower(concat_ws(" ", cols: _*))

  /** Empty-result guard (/root/reference/tantalus/forms.py:527-534):
    * the reference's search form rejects searches that match nothing;
    * surface that as an explicit validation instead of a silently-empty
    * DataFrame. Costs one LIMIT-1 job, not a full count.
    */
  def requireNonEmpty(df: DataFrame, what: String): DataFrame = {
    if (df.isEmpty)
      throw new IllegalArgumentException(s"$what matched no rows")
    df
  }

  /** As-of join — an operator Spark lacks natively: for every left row,
    * the latest right row of the same key with rightTime <= leftTime
    * (`direction = "backward"`, the default), or the earliest right row
    * with rightTime >= leftTime (`direction = "forward"`).
    *
    * Composed scalably (preference (a) of the extension ladder) rather
    * than as a custom SparkPlan: tag both inputs, union, and take a
    * running `last_value(right, ignoreNulls)` over (key, time) — ONE
    * shuffle on the key, no inequality-join row explosion, works on any
    * Spark without extensions. Backward sorts right rows before left
    * rows at equal timestamps and scans the preceding frame; forward is
    * the mirror — left before right at equal timestamps, `first_value`
    * over the following frame — so an exactly-simultaneous right row
    * matches in both directions (ASOF `>=` / `<=` semantics, same as
    * DuckDB's ASOF JOIN oracle).
    *
    * Left rows with no matchable right row keep a null match
    * (left-outer as-of). `tieCols` break ordering ties among right rows
    * sharing (key, time): backward keeps the LAST by tie order, forward
    * the FIRST — deterministic either way.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTime: String,
      rightTime: String,
      tieCols: Seq[String] = Seq.empty,
      matchedName: String = "matched",
      direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward", s"bad direction: $direction")
    val fwd   = direction == "forward"
    val lType = org.apache.spark.sql.types.StructType(left.schema.fields)
    val rType = org.apache.spark.sql.types.StructType(right.schema.fields)
    val lTagged = left.select(
      keyCols.map(left(_)) ++ Seq(
        left(leftTime).as("__t"),
        lit(1).as("__side"),
        struct(left.columns.toIndexedSeq.map(left(_)): _*).as("__lrow"),
        lit(null).cast(rType).as("__rrow")) ++
        tieCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__tie_$c")): _*)
    val rTagged = right.select(
      keyCols.map(right(_)) ++ Seq(
        right(rightTime).as("__t"),
        lit(0).as("__side"),
        lit(null).cast(lType).as("__lrow"),
        struct(right.columns.toIndexedSeq.map(right(_)): _*).as("__rrow")) ++
        tieCols.map(c => right(c).as(s"__tie_$c")): _*)
    // backward: rights sort before the left at equal (t, key) and the
    // running last over the preceding frame picks the latest; forward
    // mirrors every ordering choice and scans the following frame.
    val sideOrd = if (fwd) col("__side").desc else col("__side").asc
    val tieOrds = tieCols.map(c =>
      if (fwd) col(s"__tie_$c").asc_nulls_first else col(s"__tie_$c").asc_nulls_first)
    val w0 = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((Seq(col("__t"), sideOrd) ++ tieOrds): _*)
    val matched =
      if (fwd) first(col("__rrow"), ignoreNulls = true)
        .over(w0.rowsBetween(0, Window.unboundedFollowing))
      else last(col("__rrow"), ignoreNulls = true)
        .over(w0.rowsBetween(Window.unboundedPreceding, 0))
    lTagged
      .unionByName(rTagged)
      .withColumn(matchedName, matched)
      .filter(col("__side") === 1)
      .select(col("__lrow").as("left"), col(matchedName))
  }

  /** Banded range join — the second range operator Spark lacks
    * natively: all (left, right) pairs of the same key with
    * |leftTime − rightTime| <= band.
    *
    * A naive inequality join degenerates to a per-key cross product.
    * Banding makes it an EQUI-join: bucket both sides by
    * floor(t / band); a qualifying pair's buckets differ by at most 1,
    * so probing each left row against buckets {b−1, b, b+1} (a 3×
    * left-side explode, the cheap side to inflate) plus the exact
    * |Δt| <= band filter is complete and never materializes non-band
    * pairs beyond the 3-bucket neighborhood. One shuffle per side on
    * (key, bucket) — the same plan a 1000-executor cluster wants, with
    * AQE free to pick broadcast when one side is small.
    */
  def bandedRangeJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTime: String,
      rightTime: String,
      band: Long): DataFrame = {
    // exact long floor-division (pmod is non-negative): no double
    // rounding near bucket boundaries at epoch-micro magnitudes
    def bucket(t: String) = expr(s"($t - pmod($t, ${band}L)) div ${band}L")
    // the bucket column deliberately carries plans.RangeJoinBanding's
    // marker name: the optimizer rule skips joins whose condition
    // already references it, so a hand-banded join is never re-banded
    // after predicate pushdown folds the |Δt| filter into the join
    val probe = left
      .withColumn("__graft_lb", explode(array(Seq(-1, 0, 1).map(d => bucket(leftTime) + d): _*)))
    val build = right.withColumn("__graft_lb", bucket(rightTime))
    probe
      .join(build, keyCols :+ "__graft_lb")
      .filter(abs(col(leftTime) - col(rightTime)) <= band)
      .drop("__graft_lb")
  }

  /** Top-k rows per group WITHOUT a window sort: typed TopKAgg keeps a
    * bounded k-best buffer per group, pruned map-side under partial
    * aggregation — the shuffle carries ≤ k rows per (group, partition)
    * instead of every group row (see functions.TopKAgg). Output:
    * (key, rank, ordCol, idCol), rank 1-based by (ordCol desc, idCol).
    */
  def topKPerGroup(df: DataFrame, keyCol: String, ordCol: String, idCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long"), col(ordCol).cast("double"), col(idCol).cast("long"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("top"))
      .toDF(keyCol, "top")
      .select(col(keyCol), posexplode(col("top")))
      .select(
        col(keyCol),
        (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as(ordCol),
        col("col._2").as(idCol))
  }

  /** Skew-resistant two-phase aggregation: salt the key, partially
    * aggregate per (key, salt), then combine. Correct for any
    * commutative-associative aggregate pair (partial, merge) — counts,
    * decimal sums, min/max. For skewed JOINS prefer AQE's skew-join
    * splitting (`spark.sql.adaptive.skewJoin.enabled`); this helper is
    * for the hot-key aggregation case where one key dominates a shuffle
    * partition.
    */
  def saltedAgg(
      df: DataFrame,
      keyCols: Seq[String],
      salts: Int)(
      partial: Seq[(Column, String)],
      merge: Seq[(String, Column => Column)]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(keyCols.map(col) :+ monotonically_increasing_id(): _*), lit(salts)))
    val phase1 = salted
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(partial.head._1.as(partial.head._2), partial.tail.map { case (c, n) => c.as(n) }: _*)
    phase1
      .groupBy(keyCols.map(col): _*)
      .agg(
        merge.head._2(col(merge.head._1)).as(merge.head._1),
        merge.tail.map { case (n, f) => f(col(n)).as(n) }: _*)
  }

  /** Convenience: skew-resistant exact count + decimal-exact sum. */
  def saltedCountSum(df: DataFrame, keyCols: Seq[String], valueCol: Column, salts: Int = 16): DataFrame =
    saltedAgg(df, keyCols, salts)(
      Seq(count(lit(1)) -> "n", sum(dec(valueCol)) -> "s"),
      Seq("n" -> (c => sum(c)), "s" -> (c => sum(c).cast("double"))))
}
