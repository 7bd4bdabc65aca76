package graft.retrieval

import graft.functions.{Hashing, TextAnalysis}
import graft.sources.{IndexLifecycle, Layout}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted posting-list index for ad-hoc ranked retrieval — the
  * production shape of d45's BM25-style search, which hardcodes its
  * terms at plan time and re-scans the corpus for df/N stats per query.
  * A curation user searches ad-hoc terms constantly; at 100 TB the only
  * sane shape is write-once/read-many (the same trade
  * `Dedup.corpusBandIndex` + `Layout.bucketize` already make for LSH):
  *
  *   - **postings table** `(term_h, term, doc_id, tf, dl)` — one row per
  *     (document, distinct term), bucketed+sorted by `term_h` (8-byte
  *     hash of the term, `Hashing.hash60`), so an arriving query's
  *     term join reads the index co-partitioned: ZERO index-side
  *     exchange (executed-plan assert in RetrievalSpec), only the tiny
  *     terms frame moves. `dl` (doc length) rides denormalized on each
  *     posting — the classic IR layout — so scoring never joins back to
  *     the corpus.
  *   - **stats table** `(n_docs, sum_dl)` — one PARTIAL row per
  *     built/appended batch, summed at query time (O(#batches) rows).
  *     Partial rows, not a maintained total, keep every index structure
  *     APPEND-ONLY: `appendBatch` adds the batch's postings (new bucket
  *     files under the same spec — co-partitioning survives, proven in
  *     RetrievalSpec) and one stats row, never rewriting history.
  *   - per-term **df is NOT persisted**: it is exactly the posting count
  *     of the queried term, computed from the (already pruned) matched
  *     postings at query time — so it needs no maintenance on append
  *     and is always consistent with the postings themselves.
  *
  * Scoring reproduces d45's oracle-exact arithmetic bit-for-bit (the
  * log-free idf surrogate, integer-sourced doubles, and a FIXED-ORDER
  * term sum — here a rank-sorted left fold, which adds the same values
  * in the same tree shape because absent terms contribute exact 0.0 and
  * IEEE `x + 0.0 == x`). RetrievalSpec asserts the index path equals
  * the full-scan d45 ranking on identical terms.
  *
  * Reference anchor: the reference's search surface is boolean
  * icontains over a Django ORM (search_util/search_helper.py:8-49);
  * ranked ad-hoc retrieval is the training-data-pipeline upgrade, and
  * the index is what makes it serve interactive query rates.
  */
object Postings {

  /** Posting rows for a document batch: one row per (doc, distinct
    * term). One shuffle, keyed by (doc_id, term) — build-time only;
    * every query thereafter reads the bucketed layout.
    *
    * `metaCols` (the denormalized-facets shape, VERDICT r12 #5): doc-
    * constant metadata columns carried onto every posting row — the
    * same trade `dl` already makes. Facet decoration then needs no
    * forward-table join at all; the cost is index bytes (each facet
    * string repeats per distinct term of its doc). Measured against
    * the forward-table shape in ProfileR13Facets.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String, metaCols: Seq[String] = Nil): DataFrame =
    postingsFromScreened(docs.filter(col(textCol).isNotNull), idCol, textCol, metaCols)

  /** The posting lineage below the null screen — split out so
    * `writeIndex` can interpose its `observe` between screen and
    * tokenize without duplicating the pipeline. Meta columns are
    * doc-constant, so adding them to the groupBy keys changes no
    * group boundaries.
    */
  private def postingsFromScreened(
      screened: DataFrame,
      idCol: String,
      textCol: String,
      metaCols: Seq[String] = Nil): DataFrame =
    screened
      .select(
        col(idCol).cast("long").as("doc_id") +:
          TextAnalysis.tokens(col(textCol)).as("tk") +: metaCols.map(col): _*)
      .select(
        col("doc_id") +: size(col("tk")).cast("long").as("dl") +:
          explode(col("tk")).as("term") +: metaCols.map(col): _*)
      .groupBy(col("doc_id") +: col("dl") +: col("term") +: metaCols.map(col): _*)
      .agg(count(lit(1)).as("tf"))
      .select(
        Hashing.hash60(col("term")).as("term_h") +: col("term") +: col("doc_id") +:
          col("tf") +: col("dl") +: metaCols.map(col): _*)

  /** One partial corpus-stats row for a document batch. Summed at query
    * time; appended (not merged) on `appendBatch`, so the stats table is
    * as append-only as the postings. Counts every non-null-text doc
    * (even token-less ones), matching d45's full-scan N/sum_dl.
    *
    * `batchId` tags the row for idempotent streaming replay (-1 =
    * untracked batch ingest); scoring sums ignore the column.
    */
  def statsRow(docs: DataFrame, idCol: String, textCol: String, batchId: Long = -1L): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(TextAnalysis.tokenCount(col(textCol)).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("batch_id", lit(batchId))

  private def postingsTableName(name: String) = s"${name}_postings"
  private def statsTableName(name: String)    = s"${name}_stats"
  private def dictTableName(name: String)     = s"${name}_dict"
  private def forwardTableName(name: String)  = s"${name}_forward"
  private def tombsTableName(name: String)    = s"${name}_tombs"

  /** FORWARD rows for a batch: (doc_id, <metadata columns>) — the
    * per-document side of the index, bucketed by doc_id. It exists so
    * result decoration (facet counts, metadata filters on a match
    * set) joins a slim doc-keyed table instead of re-scanning the
    * corpus: the inverted side finds WHICH docs, the forward side
    * says WHAT they are. A narrow projection only — no tokenize (dl
    * already rides every posting).
    */
  def forwardRows(docs: DataFrame, idCol: String, textCol: String, metaCols: Seq[String]): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id") +: metaCols.map(col): _*)

  /** Literal bucket-pruning predicate for a plan-time terms list:
    * `term_h IN (<driver-computed hashes>)`. The broadcast join alone
    * restricts ROWS but still streams every bucket file through the
    * probe — a full index scan per query, which the r12 ladder measured
    * at e≈0.3 against corpus growth. With the literal IN on the bucket
    * column, Spark selects only the terms' buckets (SelectedBucketsCount
    * in the scan — plan-asserted in RetrievalSpec) and parquet's
    * row-group min/max on the sorted `term_h` prunes within them, so
    * scan cost tracks the queried terms, not the corpus. Semantics are
    * unchanged: the hashes are exactly the joined ones and the join
    * still verifies the term string.
    */
  private def termHashPrune(terms: Seq[String]): Column =
    col("term_h").isin(terms.map(Hashing.hash60Jvm): _*)

  /** Term-dictionary rows for a batch: the batch's DISTINCT terms with
    * their PARTIAL document frequency (posting count within the batch).
    * The dictionary serves two index roles the postings can't:
    *
    *   - **pattern resolution** — term_h bucketing destroys
    *     lexicographic order (by design — point lookups), so a
    *     prefix/wildcard query resolves its matching terms against this
    *     orders-of-magnitude-smaller table first, then drives the
    *     normal zero-shuffle hash join with the resolved list;
    *   - **stop-term policy** — `termDfs` sums the partial dfs, so a
    *     query can drop ubiquitous terms (df above a cutoff — whose
    *     idf contribution is ≈0 anyway) BEFORE touching their posting
    *     lists. At 100 TB the posting list of "the" is billions of
    *     rows; the decision to skip it must come from a
    *     dictionary-sized read, not from scanning it.
    *
    * Append-only like everything else: per-batch partial rows, summed
    * (df) or DISTINCTed (resolution) at query time.
    */
  def dictRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    dictRows(postings(docs, idCol, textCol))

  /** Dict partial from an ALREADY-BUILT postings frame (one row per
    * (term, doc), `term_h`/`term` columns present — extra doc-constant
    * meta columns are harmless, they change no group boundaries).
    * Callers that just materialized the batch's postings (appendBatch)
    * aggregate the cached rows instead of re-running the
    * tokenize+explode lineage.
    */
  def dictRows(postingsFrame: DataFrame): DataFrame =
    postingsFrame
      .groupBy(col("term_h"), col("term"))
      .agg(count(lit(1)).as("df"))

  /** Build the index: postings bucketed+sorted by `term_h` at
    * `path/postings`, stats as a plain appendable table at
    * `path/stats`. Overwrites any previous build under `name`.
    */
  def writeIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      path: String,
      buckets: Int,
      metaCols: Seq[String] = Nil,
      denormFacets: Boolean = false): Unit = {
    require(!denormFacets || metaCols.nonEmpty, "denormFacets requires metaCols")
    // ONE pass over the corpus, total. The corpus stats ride the
    // bucketize write itself as `observe()` metrics (CollectMetrics —
    // an accumulator fold inside the write job, no plan change):
    // `n_docs` counts rows right after the null screen, `sum_dl` sums
    // tf on the final postings frame (Σ tf over a doc's terms == its
    // dl by construction; a zero-token doc contributes 1 to n_docs at
    // the upstream point and 0 to sum_dl by absence — sum over zero
    // postings rows stays NULL, like statsRow's sum over zero docs).
    // Same longs as statsRow's tokenizing fold, so every downstream
    // score is bit-identical — measured in the r12 clean-window A/B:
    // re-tokenizing (statsRow) cost a second text scan; reading
    // sum(tf) back from the written files cost fixed job overhead
    // that beat the re-tokenize only past ~sf1; the observe form has
    // neither cost. The dictionary, a row SET rather than scalars,
    // still aggregates the WRITTEN postings files — a compact
    // columnar (term_h, term) read. That read is PATH-based
    // deliberately: resolving the table name here would seed THIS
    // session's relation cache with the just-built file list, and a
    // later append from a DIFFERENT session (streaming foreachBatch
    // runs in a clone) refreshes only its own cache — this session
    // would then serve the stale snapshot forever (found by
    // StreamingSpec).
    val nDocsObs = org.apache.spark.sql.Observation(s"graft_${name}_ndocs")
    val sumDlObs = org.apache.spark.sql.Observation(s"graft_${name}_sumdl")
    val frame = postingsFromScreened(
      docs.filter(col(textCol).isNotNull).observe(nDocsObs, count(lit(1)).as("n_docs")),
      idCol, textCol, if (denormFacets) metaCols else Nil)
      .observe(sumDlObs, sum(col("tf")).as("sum_dl"))
    Layout.bucketize(frame, postingsTableName(name), s"$path/postings", Seq("term_h"), buckets)
    val nDocs = nDocsObs.get("n_docs").asInstanceOf[Long]
    val sumDl = sumDlObs.get.get("sum_dl") // None only for an all-null corpus
    // the stats table is one literal row whose values are already
    // driver-side longs — create the table as catalog metadata and
    // write the row driver-side, no Spark jobs (r18)
    Layout.createEmptyTable(
      docs.sparkSession, statsTableName(name), s"$path/stats",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "n_docs", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "sum_dl", org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField(
          "batch_id", org.apache.spark.sql.types.LongType, nullable = false))))
    Layout.appendRowDriverSide(
      docs.sparkSession, statsTableName(name),
      Seq(
        "n_docs" -> nDocs,
        "sum_dl" -> sumDl.map(_.asInstanceOf[Long]).map(Long.box).orNull,
        "batch_id" -> -1L))
    // Dict build reads the TABLE, not the path (r18): the bucketed
    // scan's HashPartitioning(term_h) satisfies the groupBy(term_h,
    // term) clustering, so the aggregation runs WITHOUT an exchange —
    // at 100 TB that shuffle was term-cardinality-sized; locally it
    // was one extra job + one schema-inference job (the path read
    // re-inferred from footers). The r12 stale-snapshot trap this
    // path-read used to dodge (a table-name read seeds THIS session's
    // relation cache with the just-built file list, which a LATER
    // append from a cloned streaming session would never refresh) is
    // closed deterministically below: the seeded entry is dropped via
    // refreshTable as soon as the dict write completes.
    docs.sparkSession.table(postingsTableName(name))
      .groupBy(col("term_h"), col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").option("path", s"$path/dict").saveAsTable(dictTableName(name))
    docs.sparkSession.catalog.refreshTable(postingsTableName(name))
    if (metaCols.nonEmpty)
      Layout.bucketize(
        forwardRows(docs, idCol, textCol, metaCols),
        forwardTableName(name), s"$path/forward", Seq("doc_id"), buckets)
    writeEmptyTombs(docs.sparkSession, name, path)
  }

  /** (Re)create the index's EMPTY tombstone table. Beyond the shared
    * (doc_id, batch_id) core, posting-family tombstones carry BUCKET
    * MASKS (round 15): `pb`/`xb` are the distinct postings/positional
    * term-hash bucket ids of the deleted doc's text, computed at
    * DELETE time — so `retireTombstones` finds its touched buckets
    * from the slim tombstone set alone, with no index scan at all.
    * Nullable: a pre-r15 tombstone table lacks the columns (deletes
    * fall back to the 2-column write, retirement to the trace scan),
    * and a doc whose index family lacks the corresponding table gets
    * null for that mask.
    */
  private def writeEmptyTombs(spark: SparkSession, name: String, path: String): Unit = {
    // catalog metadata only, no zero-row write job (r18) — see
    // Layout.createEmptyTable; schema unchanged from the writer form
    import org.apache.spark.sql.types._
    Layout.createEmptyTable(
      spark, tombsTableName(name), s"$path/tombs",
      StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("batch_id", LongType, nullable = false),
        StructField("pb", ArrayType(IntegerType, containsNull = true), nullable = true),
        StructField("xb", ArrayType(IntegerType, containsNull = true), nullable = true))))
  }

  /** The distinct term-hash bucket ids of `textCol` under `nb` buckets
    * — the per-doc bucket mask a delete batch stores so retirement
    * never scans the index (`pmod(murmur3(hash60(term)), nb)`, the
    * exact file-placement expression, all native HOFs).
    */
  private def bucketMask(textCol: Column, nb: Int): Column =
    array_sort(array_distinct(transform(
      graft.functions.TextAnalysis.tokens(textCol),
      t => Layout.bucketIdExpr(graft.functions.Hashing.hash60(t), nb))))

  /** Append a delete batch's tombstone rows. On a mask-capable table
    * (r15 schema) the per-doc `pb`/`xb` bucket masks ride each row,
    * derived from the batch's OWN text — the same caller contract the
    * stats subtraction already rides (the delete batch carries the
    * indexed text; a wrong text corrupts sum_dl today and would
    * under-retire here, both surfacing as a red
    * `sum_dl_equals_live_tf_sum` fsck row). Legacy 2-column tables get
    * the legacy write and keep trace-scan retirement.
    */
  private def writeTombRows(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      batchId: Long,
      statsObs: Option[org.apache.spark.sql.Observation] = None): Unit = {
    val spark = batch.sparkSession
    val table = tombsTableName(name)
    // the batch's stats fold (the caller's negative marker inputs)
    // rides the tombstone write as observe() metrics when requested
    // (r17): one scan of the delete batch instead of a statsRow scan
    // plus the write. The fold is statsRow's exactly — count of
    // screened rows, sum of per-doc token counts.
    val observed = statsObs.fold(batch)(o =>
      batch.observe(
        o,
        count(lit(1)).as("n_docs"),
        sum(graft.functions.TextAnalysis.tokenCount(col(textCol))).as("sum_dl")))
    if (!spark.table(table).columns.contains("pb")) {
      IndexLifecycle.appendTombs(observed, idCol, table, "doc_id", batchId)
      return
    }
    def maskFor(t: String): Column =
      if (spark.catalog.tableExists(t)) bucketMask(col(textCol), Layout.numBuckets(spark, t))
      else lit(null).cast("array<int>")
    observed
      .select(
        col(idCol).cast("long").as("doc_id"),
        lit(batchId).as("batch_id"),
        maskFor(postingsTableName(name)).as("pb"),
        maskFor(posTableName(name)).as("xb"))
      .write.mode("append").insertInto(table)
  }

  /** Incremental maintenance: append a batch's postings (own bucket
    * files under the existing spec — no rewrite, co-partitioning
    * preserved) and its partial stats row. df needs no touch-up: it is
    * derived from the postings at query time.
    *
    * With `batchId >= 0` the append is IDEMPOTENT: a batch id already
    * present in the stats table is a replay (foreachBatch's
    * at-least-once redelivery after a failure) and is skipped whole.
    * The stats row is the commit marker and is written LAST — the
    * marker-first order would LOSE a batch on crash, marker-last can
    * only duplicate one (crash between postings-append and marker:
    * replay re-appends those postings). The production fix for that
    * window is a batch-tagged postings directory registered
    * atomically with the marker; at this engine's layout the window
    * is documented rather than hidden.
    */
  def appendBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      batchId: Long = -1L): Boolean = {
    val spark = docs.sparkSession
    // marker spaces are SIGN-separated: appends mark with their
    // (strictly positive) stats row, deletes with their negated one —
    // so an append stream and a delete stream maintaining the same
    // index can both use their own zero-based foreachBatch ids without
    // colliding. Zero belongs to NEITHER side: an empty batch commits
    // no marker at all (see below), so the check is strict.
    // Returns whether anything was WRITTEN (r18): a replayed or empty
    // batch mutates no table, so its stream wrapper can skip the
    // owner-session catalog refreshes outright.
    if (batchId >= 0L &&
      !Layout.footerExcludesLongValue(spark, statsTableName(name), "batch_id", batchId) &&
      !spark.table(statsTableName(name))
        .filter(col("batch_id") === batchId && col("n_docs") > 0).isEmpty) return false
    // caller contract, ENFORCED (was documentation through r13): a doc
    // whose tombstone is still live cannot re-add — the read anti-join
    // would hide it while its stats row counts it, silently drifting
    // every idf and length norm. Compaction clears the set and
    // re-opens the id.
    IndexLifecycle.requireNotTombstoned(
      spark, tombsTableName(name), "doc_id",
      docs.filter(col(textCol).isNotNull), idCol, s"appendBatch($name)")
    // an EMPTY batch — zero rows or all-null text — appends nothing
    // and commits NO marker, keeping the sign-separated marker space
    // disjoint at zero (an n_docs = 0 row would satisfy both sides'
    // replay checks, so a streamed empty append with id N would block
    // a later delete batch N). The probe is a limit-1 scan; through
    // r16 the emptiness decision rode a FULL statsRow tokenize pass.
    val screened = docs.filter(col(textCol).isNotNull)
    if (screened.isEmpty) return false
    // Denormalized-facet columns (if this index was built with
    // denormFacets) are inferred from the live schema in table order,
    // so callers can't drift — same rule as the forward side below.
    val denormCols = spark.table(postingsTableName(name)).columns
      .filterNot(Seq("term_h", "term", "doc_id", "tf", "dl").contains).toSeq
    // the batch's stats ride the postings append itself as observe()
    // metrics (r17 — the same one-pass trick writeIndex has carried
    // since r12): n_docs counts the screened docs, sum_dl sums tf over
    // the batch postings (Σ tf over a doc's terms == its dl by
    // construction; a zero-token doc contributes 1 to n_docs upstream
    // and 0 to sum_dl by absence). One corner differs from statsRow's
    // fold and now matches writeIndex's instead: a non-empty batch of
    // ONLY zero-token docs writes sum_dl NULL (sum over zero posting
    // rows) where statsRow wrote 0 — downstream SUMs treat the two
    // identically. One tokenize pass per append instead of two — at
    // 100 TB the append path scans every ingested batch once, not
    // twice.
    val obsTag   = s"${batchId}_${System.nanoTime()}"
    val nDocsObs = org.apache.spark.sql.Observation(s"graft_${name}_app_ndocs_$obsTag")
    val sumDlObs = org.apache.spark.sql.Observation(s"graft_${name}_app_sumdl_$obsTag")
    val frame = postingsFromScreened(
      screened.observe(nDocsObs, count(lit(1)).as("n_docs")), idCol, textCol, denormCols)
      .observe(sumDlObs, sum(col("tf")).as("sum_dl"))
    Layout.append(frame, postingsTableName(name))
    val nDocs = nDocsObs.get("n_docs").asInstanceOf[Long]
    val sumDl = sumDlObs.get.get("sum_dl").map(_.asInstanceOf[Long])
    // the dict partial recomputes the batch-postings lineage rather
    // than caching the appended frame: a cached plan's output
    // partitioning is pinned (AQE coalescing does not apply to
    // InMemoryRelation reads by default), so writing the postings from
    // a cache multiplies the files-per-bucket an append leaves behind
    // — measured in r17 as an early compactIfFragmented trip; the
    // recompute costs one extra batch-sized tokenize, the cache costs
    // index fragmentation. (The statsRow pass O3 removed above had no
    // such trade — observe changes no plan shape.)
    dictRows(docs, idCol, textCol)
      .write.mode("append").insertInto(dictTableName(name))
    // the forward side (if this index was built with metaCols) grows
    // with the batch too — columns inferred from the existing table so
    // callers can't drift; inside the same stats-marker commit scope
    if (spark.catalog.tableExists(forwardTableName(name)))
      Layout.append(
        forwardRows(docs, idCol, textCol,
          spark.table(forwardTableName(name)).columns.filterNot(_ == "doc_id").toSeq),
        forwardTableName(name))
    // stats row == commit marker, written LAST from the already-
    // computed literals (marker-first would LOSE a batch on crash;
    // marker-last can only duplicate one — see the class doc). One
    // literal row: driver-side write, no Spark job (r18)
    Layout.appendRowDriverSide(
      spark, statsTableName(name),
      Seq(
        "n_docs" -> nDocs,
        "sum_dl" -> sumDl.map(Long.box).orNull,
        "batch_id" -> batchId))
    true
  }

  /** Document DELETION — the curation operation every training-data
    * pipeline runs constantly (contamination removal, redaction,
    * right-to-forget; the reference treats deletion as a read semantic,
    * models.py:909-911 soft delete + the api/views.py:164-174 cascade,
    * reproduced on the catalog side as M4/q33). The index stays
    * append-only: deletion writes TOMBSTONE rows `(doc_id, batch_id)`
    * that every read path anti-joins (`livePostings`/`livePositional`/
    * `liveForward`), plus one NEGATIVE partial stats row so the
    * query-time N/sum_dl sums are exact over the SURVIVING corpus —
    * computed from the deleted docs' own text (the same tokenizing
    * fold as `statsRow`, negated), which is exact even for docs with
    * text but zero tokens (they carry no postings, but they DO count
    * in N and so in every idf). Physical removal happens at
    * `compactIndex`, which drops tombstoned postings, recounts the
    * dictionary from the survivors, and clears the tombstone set.
    *
    * Commit discipline mirrors `appendBatch`: the stats row is the
    * batch marker and is written LAST, so a crash mid-delete can only
    * DUPLICATE tombstone rows on replay (harmless — anti-join
    * semantics are idempotent), never lose the stats adjustment. For a
    * positional-only index (no stats table) the marker is a
    * `kind = delete` row in the positional marker log — NOT the
    * tombstone rows themselves (the pre-r14 form): compaction clears
    * the tombstone set, so a tombs-borne marker would let a replay
    * arriving after compaction re-apply, re-tombstoning ids already
    * physically dropped and hiding any doc re-ingested under the same
    * id. The marker log is never compacted, so the replay check
    * survives.
    *
    * Caller contract, the mirror of appendBatch's and now ENFORCED
    * for its reachable half: each doc is deleted at most once per
    * compaction window (`IndexLifecycle.requireNotTombstoned` — a
    * second delete would subtract its stats twice), with the batch's
    * own prior tombstones excluded so a torn delete's replay still
    * completes. Deleting a never-indexed doc has the same
    * over-subtract signature but would cost a corpus-sized membership
    * probe to detect — that half stays documented.
    */
  def deleteBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      batchId: Long = -1L): Boolean = {
    val spark = docs.sparkSession
    require(
      spark.catalog.tableExists(tombsTableName(name)),
      s"index $name has no tombstone table — rebuild with writeIndex/writePositionalIndex before deletes")
    val hasStats = spark.catalog.tableExists(statsTableName(name))
    if (batchId >= 0L) {
      // sign-separated marker space (see appendBatch) for stats
      // indexes — strict, zero belongs to neither side; kind-separated
      // marker log for positional-only ones. Either way a delete
      // stream and an append stream can share the index with
      // independent batch ids.
      val replayed =
        if (hasStats)
          !Layout.footerExcludesLongValue(spark, statsTableName(name), "batch_id", batchId) &&
          !spark.table(statsTableName(name))
            .filter(col("batch_id") === batchId && col("n_docs") < 0).isEmpty
        else {
          require(
            spark.catalog.tableExists(posMarkersTableName(name)),
            s"positional-only index $name has no marker log — rebuild with writePositionalIndex before idempotent deletes")
          IndexLifecycle.markerPresent(
            spark, posMarkersTableName(name), batchId, IndexLifecycle.Delete)
        }
      if (replayed) return false
    }
    // batchId < 0 is the AD-HOC sentinel: every non-streaming delete
    // shares batch_id = -1 in the tombstone table, so -1 is NEVER a
    // replay-exclusion group (excludeBatchId stays None here) — two
    // ad-hoc deletes touching the same doc are a genuine double-delete
    // and refuse below. Torn-replay semantics (exclude my own prior
    // tombstones) exist only for marker-tagged (batchId >= 0) batches,
    // whose ids are unique by the marker-log contract.
    IndexLifecycle.requireNotTombstoned(
      spark, tombsTableName(name), "doc_id",
      docs.filter(col(textCol).isNotNull), idCol, s"deleteBatch($name)",
      excludeBatchId = if (batchId >= 0L) Some(batchId) else None)
    if (hasStats) {
      // skip-empty rule, same as appendBatch: an empty delete batch
      // writes neither tombstones nor a marker, so it cannot shadow an
      // append batch's id. The probe is a limit-1 scan; the batch's
      // stats fold rides the tombstone write itself as observe()
      // metrics (r17 — one scan of the delete batch, where through
      // r16 a full statsRow tokenize pass preceded the write).
      val batch = docs.filter(col(textCol).isNotNull)
      if (batch.isEmpty) return false
      val obs = org.apache.spark.sql.Observation(
        s"graft_${name}_del_${batchId}_${System.nanoTime()}")
      writeTombRows(batch, idCol, textCol, name, batchId, statsObs = Some(obs))
      val m      = obs.get
      val nDocs  = m("n_docs").asInstanceOf[Long]
      val sumDl  = Option(m("sum_dl")).map(_.asInstanceOf[Long])
      // negative stats row == commit marker, written LAST — one
      // literal row: driver-side write, no Spark job (r18)
      Layout.appendRowDriverSide(
        spark, statsTableName(name),
        Seq(
          "n_docs" -> -nDocs,
          "sum_dl" -> sumDl.map(v => Long.box(-v)).orNull,
          "batch_id" -> batchId))
      true
    } else {
      val batch = docs.filter(col(textCol).isNotNull)
      if (batch.isEmpty) return false
      writeTombRows(batch, idCol, textCol, name, batchId)
      // marker LAST, in the delete kind space of the (uncompacted)
      // positional marker log
      if (batchId >= 0L)
        IndexLifecycle.writeMarker(
          spark, posMarkersTableName(name), batchId, IndexLifecycle.Delete)
      true
    }
  }

  /** The index's live tombstone set (doc ids only). Slim by contract —
    * compaction clears it, so its size is bounded by the deletes of
    * one compaction window (the same broadcast-sized contract as the
    * query terms frame).
    */
  def tombstones(spark: SparkSession, name: String): DataFrame =
    spark.table(tombsTableName(name)).select(col("doc_id"))

  /** Anti-join `df` against the index's tombstone set (shared
    * lifecycle fast paths and plan shape — see
    * `IndexLifecycle.liveView`; zero-shuffle and bucket-pruning plan
    * properties post-delete are spec-pinned in RetrievalSpec).
    */
  private def notTombstoned(spark: SparkSession, name: String, df: DataFrame): DataFrame =
    IndexLifecycle.liveView(spark, tombsTableName(name), "doc_id", df, "doc_id")

  /** The postings/positional/forward tables with tombstoned docs
    * filtered out — what every query path should read.
    */
  def livePostings(spark: SparkSession, name: String): DataFrame =
    notTombstoned(spark, name, postingsTable(spark, name))
  def livePositional(spark: SparkSession, name: String): DataFrame =
    notTombstoned(spark, name, positionalTable(spark, name))
  def liveForward(spark: SparkSession, name: String): DataFrame =
    notTombstoned(spark, name, forwardTable(spark, name))

  /** Maintain the index from a DELETION stream (redaction,
    * contamination removal): each micro-batch is an idempotent
    * `deleteBatch`, so an append stream and a delete stream can
    * maintain the same index concurrently with independent batch ids.
    */
  def maintainDeletesFromStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      name: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    IndexLifecycle.foreachBatch(
      docs, Seq(tombsTableName(name), statsTableName(name), posMarkersTableName(name)))(
      (batch, batchId) => deleteBatch(batch, idCol, textCol, name, batchId))

  /** Maintain the index from a stream: each micro-batch is an
    * idempotent `appendBatch` (postings + one batch-tagged partial
    * stats row). The index stays query-consistent at every micro-batch
    * boundary: RetrievalSpec/StreamingSpec assert the grown index
    * answers exactly like a from-scratch build over the same docs.
    */
  def maintainFromStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      name: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    IndexLifecycle.foreachBatch(
      docs,
      Seq(postingsTableName(name), statsTableName(name), dictTableName(name), forwardTableName(name)))(
      (batch, batchId) => appendBatch(batch, idCol, textCol, name, batchId))

  def postingsTable(spark: SparkSession, name: String): DataFrame =
    spark.table(postingsTableName(name))
  def statsTable(spark: SparkSession, name: String): DataFrame =
    spark.table(statsTableName(name))

  /** The posting index's layout for the shared maintenance ops:
    * postings and positional tables bucketed by term hash (a doc's rows
    * span its terms' buckets; delete-time masks `pb`/`xb`), the forward
    * table bucketed by doc id, the stats table and positional marker
    * log as commit logs, the dictionary as the side table its own hooks
    * keep exact (`DictCredit`). Live count: the summed stats (exact,
    * no scan), or the distinct live docs of a stats-less index.
    */
  private def layout(name: String): IndexLifecycle.IndexLayout =
    IndexLifecycle.IndexLayout(
      tombs = tombsTableName(name),
      tombId = "doc_id",
      bucketed = Seq(
        IndexLifecycle.BucketedTable(postingsTableName(name), "term_h", "doc_id", Some("pb")),
        IndexLifecycle.BucketedTable(posTableName(name), "term_h", "doc_id", Some("xb")),
        IndexLifecycle.BucketedTable(forwardTableName(name), "doc_id", "doc_id")),
      plain = Seq(statsTableName(name), posMarkersTableName(name)),
      side = Seq(dictTableName(name)),
      liveCount = spark =>
        if (spark.catalog.tableExists(statsTableName(name)))
          statsTable(spark, name).agg(sum(col("n_docs"))).head().getLong(0)
        else livePostings(spark, name).select(col("doc_id")).distinct().count(),
      hooks = new DictCredit(name))

  /** Dictionary exactness around the shared rewrites. Per-batch dict
    * partials overcount df between a delete and the rewrite that drops
    * its postings (documented-safe: stop-term screening is policy, and
    * an over-resolved prefix/fuzzy term contributes an exact 0.0);
    * these hooks restore exactness where the rows physically go:
    *
    *  - a bucket-scoped rewrite of the postings table is CREDITED: the
    *    per-term counts of the tombstoned rows it drops are staged
    *    before and applied as negative partials after it commits
    *    (`stageDictDeltas`/`applyDictDeltas`), at touched-bucket cost,
    *    every crash window degrading to the conservative overcount;
    *  - retirement resolves a stale staging BEFORE the set clears,
    *    while the tombstone evidence its verification needs still
    *    exists;
    *  - a full rewrite RECOUNTS the dictionary from the rewritten
    *    postings (the fold a fresh build runs), superseding any staged
    *    credit.
    */
  private final class DictCredit(name: String) extends IndexLifecycle.KindHooks {

    override def aroundBucketRewrite(
        spark: SparkSession,
        table: String,
        buckets: Set[Int],
        ids: DataFrame)(rewrite: => Unit): Unit =
      if (table != postingsTableName(name)) rewrite
      else {
        // ONE physical read of the touched buckets serves both the
        // staging's semi-join and the rewrite's anti-join: the raw
        // touched-files frame is persisted, and the identical file-list
        // reads inside stageDictDeltas and compactBuckets hit the cache
        // by normalized-plan equality (a miss only costs a second read)
        val files = Layout.bucketFiles(spark, table, buckets)
        val raw =
          if (files.isEmpty) None
          else {
            val meta = spark.sessionState.catalog.getTableMetadata(
              spark.sessionState.sqlParser.parseTableIdentifier(table))
            Some(spark.read.schema(meta.schema).parquet(files: _*)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          }
        try {
          val staged = stageDictDeltas(spark, name, buckets, ids)
          rewrite
          if (staged) applyDictDeltas(spark, name)
        } finally raw.foreach(_.unpersist())
      }

    // a staging can survive retirement untouched when the trace found
    // no evidence (a committed rewrite dropped the rows before their
    // credit applied): one that verifies against its own bucket set
    // applies (the exact heal); anything else was condemned
    override def beforeClear(spark: SparkSession, ids: DataFrame): Unit =
      if (spark.catalog.tableExists(dictTableName(name)) &&
        resolvableStaleStaging(spark, name, ids))
        applyDictDeltas(spark, name)

    override def afterFullRewrite(spark: SparkSession): Unit =
      if (spark.catalog.tableExists(dictTableName(name))) {
        val postMeta = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(postingsTableName(name)))
        rewriteDict(spark, name, spark.read.schema(postMeta.schema).parquet(postMeta.location.toString))
      }
  }

  /** Full compaction: postings (and positional, forward) back to one
    * file per bucket with the per-bucket sort restored — appends leave
    * K+1 fragments per bucket whose per-FILE sort defeats row-group
    * pruning — while every zero-shuffle-join and bucket-pruning plan
    * property of the original build still holds (spec-pinned);
    * tombstoned docs dropped, the dictionary recounted, commit-log
    * files coalesced. See `IndexLifecycle.compact`.
    */
  def compactIndex(spark: SparkSession, name: String): Unit =
    IndexLifecycle.compact(spark, layout(name))

  /** Resume a torn bucket-count migration; see
    * `IndexLifecycle.resumeRebucketIfIncoherent`.
    */
  def resumeRebucketIfIncoherent(spark: SparkSession, name: String): Option[Int] =
    IndexLifecycle.resumeRebucketIfIncoherent(spark, layout(name))

  /** BUCKET-COUNT migration of every bucketed table to `newBuckets`.
    * The bucket count is frozen at `writeIndex` time; a corpus that
    * grows 100× keeps its original buckets, so per-bucket files grow
    * unbounded and bucket-scoped maintenance degrades toward
    * corpus-sized. The result is IDENTICAL to a fresh `writeIndex` of
    * the survivors at the new count (spec-pinned; the d75 gate answers
    * d64's survivor oracle after a 16→64 migration). Single-writer
    * maintenance. See `IndexLifecycle.rebucket`.
    */
  def rebucketIndex(spark: SparkSession, name: String, newBuckets: Int): Unit =
    IndexLifecycle.rebucket(spark, layout(name), newBuckets)

  /** Bucket-count growth policy; see `IndexLifecycle.rebucketIfOvergrown`. */
  def rebucketIfOvergrown(
      spark: SparkSession,
      name: String,
      maxBytesPerBucket: Long,
      growthFactor: Int = 4): Option[Int] =
    IndexLifecycle.rebucketIfOvergrown(spark, layout(name), maxBytesPerBucket, growthFactor)

  /** Two-sided bucket-count policy; see `IndexLifecycle.rebucketIfMisSized`. */
  def rebucketIfMisSized(
      spark: SparkSession,
      name: String,
      maxBytesPerBucket: Long,
      minBytesPerBucket: Long,
      growthFactor: Int = 4,
      minBuckets: Int = 8): Option[Int] =
    IndexLifecycle.rebucketIfMisSized(
      spark, layout(name), maxBytesPerBucket, minBytesPerBucket, growthFactor, minBuckets)

  /** Compaction policy on fragmentation alone; see
    * `IndexLifecycle.compactIfFragmented`.
    */
  def compactIfFragmented(spark: SparkSession, name: String, maxFilesPerBucket: Int): Boolean =
    compactIfFragmented(spark, name, maxFilesPerBucket, Long.MaxValue)

  /** Compaction policy with a tombstone-pressure trigger; see
    * `IndexLifecycle.compactIfFragmented`.
    */
  def compactIfFragmented(
      spark: SparkSession,
      name: String,
      maxFilesPerBucket: Int,
      maxTombstones: Long): Boolean =
    IndexLifecycle.compactIfFragmented(spark, layout(name), maxFilesPerBucket, maxTombstones)

  /** Bucket-scoped compaction of the fragmented buckets; returns the
    * rewritten bucket ids per table. The tombstone set stays live (only
    * a full rewrite proves every trace of a doc is gone); the
    * dictionary is credited for the rows it drops. After a later full
    * `compactIndex` the index equals a fresh survivor build
    * (spec-pinned). See `IndexLifecycle.compactFragmentedBuckets`.
    */
  def compactFragmentedBuckets(
      spark: SparkSession,
      name: String,
      maxFilesPerBucket: Int): Map[String, Seq[Int]] =
    IndexLifecycle.compactFragmentedBuckets(spark, layout(name), maxFilesPerBucket)

  /** Retire the tombstone set by rewriting only the buckets that hold
    * tombstoned docs, crediting the dictionary in the same pass;
    * returns the rewritten buckets per table. See
    * `IndexLifecycle.retireTombstones`.
    */
  def retireTombstones(spark: SparkSession, name: String): Map[String, Seq[Int]] =
    IndexLifecycle.retireTombstones(spark, layout(name))

  /** Incremental-first maintenance policy; see
    * `IndexLifecycle.maintainIncremental`.
    */
  def maintainIncremental(
      spark: SparkSession,
      name: String,
      maxFilesPerBucket: Int,
      maxTombstones: Long,
      heavyFraction: Double = 0.2): Boolean =
    IndexLifecycle.maintainIncremental(spark, layout(name), maxFilesPerBucket, maxTombstones, heavyFraction)

  /** Maintenance CONSISTENCY CHECK — the fsck a 100 TB index needs
    * after a crash, a killed maintenance job, or an operator mistake:
    * verifies the cross-table invariants every query path assumes and
    * returns one row per check `(check, ok, detail)`. Run it AT REST
    * (no in-flight append/delete): a torn delete (tombstones landed,
    * stats marker didn't — the documented crash window whose repair
    * is replaying the batch) shows up here as
    * `sum_dl_equals_live_tf_sum = false`, which is exactly what an
    * operator needs to see to know a replay is owed.
    *
    * Invariants (each over the tables that exist):
    *  - `stats_total_nonnegative` — the survivor totals N/sum_dl can
    *    never sum negative (a negative total means a delete batch was
    *    applied twice or against never-indexed docs — the states the
    *    r14 guards refuse at write time).
    *  - `sum_dl_equals_live_tf_sum` — Σ tf over the LIVE postings ==
    *    total sum_dl (Σ tf of a doc's postings is its dl by
    *    construction; token-less docs contribute 0 to both sides;
    *    deletion subtracts the same docs from both sides). This is
    *    the invariant the d64 survivor-exact hash proof rides on.
    *  - `live_doc_count_le_stats_n` — distinct live posting docs ≤ N
    *    (token-less docs count in N but carry no postings).
    *  - `dict_df_covers_live_postings` — dictionary df partials are
    *    ≥ the live posting count for every term (equality after a
    *    fresh build or compaction; between a delete and its
    *    compaction the partials legitimately overcount, never under).
    *  - `forward_covers_posting_docs` — every live posting doc has a
    *    live forward row (the decoration join can't drop matches).
    *  - `marker_log_unique` / `stats_markers_unique` — replay markers
    *    are unique per (batch_id, kind) / per sign space (a duplicate
    *    means idempotence is broken for that batch id).
    */
  def checkIndex(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val checks   = scala.collection.mutable.ArrayBuffer[(String, Boolean, String)]()
    val hasStats = spark.catalog.tableExists(statsTableName(name))
    val hasPost  = spark.catalog.tableExists(postingsTableName(name))
    if (hasStats) {
      val r  = statsTable(spark, name)
        .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("dl")).head()
      val n  = if (r.isNullAt(0)) 0L else r.getLong(0)
      val dl = if (r.isNullAt(1)) 0L else r.getLong(1)
      checks += (("stats_total_nonnegative", n >= 0L && dl >= 0L, s"N=$n sum_dl=$dl"))
      if (hasPost) {
        val tfR    = livePostings(spark, name).agg(sum(col("tf"))).head()
        val liveTf = if (tfR.isNullAt(0)) 0L else tfR.getLong(0)
        checks += (("sum_dl_equals_live_tf_sum", liveTf == dl, s"sum(tf)=$liveTf sum_dl=$dl"))
        val liveDocs = livePostings(spark, name).select(col("doc_id")).distinct().count()
        checks += (("live_doc_count_le_stats_n", liveDocs <= n, s"live_docs=$liveDocs N=$n"))
      }
      val signDups = statsTable(spark, name)
        .filter(col("batch_id") >= 0)
        .groupBy(col("batch_id"), (col("n_docs") > 0).as("is_append"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      checks += (("stats_markers_unique", signDups == 0, s"$signDups duplicated batch markers"))
    }
    if (hasPost && spark.catalog.tableExists(dictTableName(name))) {
      val under = dictTable(spark, name)
        .groupBy(col("term_h"), col("term")).agg(sum(col("df")).as("dict_df"))
        .join(
          livePostings(spark, name)
            .groupBy(col("term_h"), col("term")).agg(count(lit(1)).as("live_df")),
          Seq("term_h", "term"),
          "right")
        .filter(coalesce(col("dict_df"), lit(0L)) < col("live_df"))
        .count()
      checks += (("dict_df_covers_live_postings", under == 0, s"$under under-counted terms"))
    }
    if (hasPost && spark.catalog.tableExists(forwardTableName(name))) {
      val orphans = livePostings(spark, name).select(col("doc_id")).distinct()
        .join(liveForward(spark, name).select(col("doc_id")), Seq("doc_id"), "left_anti")
        .count()
      checks += (("forward_covers_posting_docs", orphans == 0, s"$orphans posting docs missing forward rows"))
    }
    if (spark.catalog.tableExists(posMarkersTableName(name))) {
      val dups = spark.table(posMarkersTableName(name))
        .groupBy(col("batch_id"), col("kind"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      checks += (("marker_log_unique", dups == 0, s"$dups duplicated (batch_id, kind) markers"))
    }
    // a half-migrated bucket count (round 17 — VERDICT r16 #2): a crash
    // between rebucketIndex's sequential table swaps leaves tables at
    // MIXED counts. Answers stay correct, but the unswapped tables keep
    // the old parallelism/cost profile until an operator re-runs — this
    // row is what tells them to (every maintenance entry point also
    // auto-resumes via resumeRebucketIfIncoherent)
    IndexLifecycle.bucketSpecIncoherence(spark, layout(name)) match {
      case Some(target) =>
        val detail = Seq(postingsTableName(name), posTableName(name), forwardTableName(name))
          .filter(spark.catalog.tableExists)
          .map(t => s"$t=${Layout.numBuckets(spark, t)}").mkString(", ")
        checks += (("bucket_spec_coherent", false,
          s"mixed bucket counts ($detail) — re-run rebucketIndex($name, $target) " +
            "or any maintenance entry point (auto-resumes)"))
      case None =>
        checks += (("bucket_spec_coherent", true, "bucketed tables agree on bucket count"))
    }
    // generation hygiene (round 15): the immediate previous generation
    // of each table is LEGAL reader-safe retention; anything older on
    // disk is a leak (a crashed maintenance pass that never ran again)
    val leaks = Seq(
      postingsTableName(name), posTableName(name), forwardTableName(name),
      dictTableName(name), statsTableName(name), tombsTableName(name),
      posMarkersTableName(name))
      .filter(spark.catalog.tableExists)
      .flatMap(t => Layout.danglingGenerations(spark, t).map(d => s"$t -> $d"))
    checks += (("dangling_generation", leaks.isEmpty,
      if (leaks.isEmpty) "retention bounded at one generation" else leaks.mkString("; ")))
    // a committed-but-uncompleted bucket compaction (crash between the
    // journal write and the file swap) — a replay is owed; every
    // maintenance entry point replays it, repairIndex heals it at rest
    val pendingJ = Seq(
      postingsTableName(name), posTableName(name), forwardTableName(name))
      .filter(t => Layout.pendingBucketJournal(spark, t))
    checks += (("bucket_journal_pending", pendingJ.isEmpty,
      if (pendingJ.isEmpty) "no pending bucket-compaction journal"
      else s"committed journal awaiting replay: ${pendingJ.mkString(", ")}"))
    // a staged-but-unapplied dict credit (crash inside a retirement /
    // bucket defrag) — reads stay correct and the dict stays
    // conservative, but a credit is owed: the next retirement resolves
    // it on EVERY path (applies it when it verifies against its own
    // persisted bucket set, condemns it otherwise — both before the
    // tombstone clear), or repairIndex condemns + recounts
    if (spark.catalog.tableExists(dictTableName(name))) {
      val scratch = dictDeltaPath(spark, name)
      val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pending = Seq(scratch, new org.apache.hadoop.fs.Path(scratch.toString + ".applying"))
        .filter(fs.exists).map(_.getName)
      checks += (("dict_delta_pending", pending.isEmpty,
        if (pending.isEmpty) "no staged dict credit awaiting apply"
        else s"staged dict credit awaiting resolution (${pending.mkString(", ")}) — " +
          "re-run retireTombstones/maintainIncremental (applies or condemns it), " +
          "or repairIndex condemns + recounts"))
    }
    checks.toSeq.toDF("check", "ok", "detail")
  }

  // ---------- incremental fsck (round 17 — VERDICT r16 #1) ----------

  /** Per-bucket live aggregates from a PHYSICAL-file grouping: each
    * row is attributed to the bucket its FILE carries (not the hash of
    * its key — a corrupted file holding rows that hash elsewhere must
    * still count where it physically lives, or the decomposition would
    * silently drop it). One scan, column-pruned; the per-file partial
    * aggregate collects as ≤ #files rows.
    */
  private def liveFileAgg(
      spark: SparkSession,
      name: String,
      df: DataFrame,
      tfCol: Option[String]): Map[Int, (Long, Long)] = {
    // the file column attaches BELOW the tombstone anti-join —
    // input_file_name() only resolves against a single source
    val live = notTombstoned(spark, name, df.withColumn("_f", input_file_name()))
    val agg = tfCol match {
      case Some(tc) =>
        live.groupBy(col("_f")).agg(sum(col(tc)).as("a"), count(lit(1)).as("c"))
      case None =>
        live.groupBy(col("_f")).agg(count(lit(1)).as("a"), count(lit(1)).as("c"))
    }
    agg.collect()
      .map { r =>
        val base = r.getString(0).split('/').last
        val b = Layout.bucketIdOf(base).getOrElse(-1)
        b -> ((if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2)))
      }
      .groupBy(_._1)
      .map { case (b, vs) => b -> ((vs.map(_._2._1).sum, vs.map(_._2._2).sum)) }
  }

  private def readFiles(spark: SparkSession, tableName: String, paths: Seq[String]): Option[DataFrame] =
    if (paths.isEmpty) None
    else {
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(tableName))
      Some(spark.read.schema(meta.schema).parquet(paths: _*))
    }

  /** Whole-table per-bucket live aggregates (the tombstone-changed
    * fallback and the watermark bootstrap): column-pruned, no index
    * shuffle beyond the per-file partials.
    */
  private def perBucketPostingsAgg(spark: SparkSession, name: String): Map[Int, (Long, Long)] =
    liveFileAgg(spark, name, postingsTable(spark, name), Some("tf"))

  private def perBucketForwardAgg(spark: SparkSession, name: String): Map[Int, Long] =
    liveFileAgg(spark, name, forwardTable(spark, name), None).map { case (b, v) => b -> v._1 }

  /** The watermark the incremental check trusts: current per-bucket
    * file sets paired with the per-bucket live aggregates, plus the
    * tombstone/dict file-set fingerprints that scope later diffs.
    * Single-writer maintenance contract: nothing mutates the index
    * between the file listing and the aggregate scan.
    */
  private def computeFsckMark(spark: SparkSession, name: String): graft.sources.FsckWatermark.Mark = {
    import graft.sources.FsckWatermark.{BucketMark, Mark, TableMark}
    val postT = postingsTableName(name)
    val fwdT  = forwardTableName(name)
    val (nbP, filesP) = graft.sources.FsckWatermark.bucketFileSets(spark, postT)
    val pAgg = perBucketPostingsAgg(spark, name)
    val tables = scala.collection.mutable.Map(
      postT -> TableMark(
        nbP,
        filesP.map { case (b, fs) =>
          val (tfs, c) = pAgg.getOrElse(b, (0L, 0L))
          b -> BucketMark(fs, tfs, c)
        }))
    if (spark.catalog.tableExists(fwdT)) {
      val (nbF, filesF) = graft.sources.FsckWatermark.bucketFileSets(spark, fwdT)
      val fAgg = perBucketForwardAgg(spark, name)
      tables(fwdT) = TableMark(
        nbF, filesF.map { case (b, fs) => b -> BucketMark(fs, fAgg.getOrElse(b, 0L), 0L) })
    }
    Mark(
      graft.sources.FsckWatermark.plainFp(spark, tombsTableName(name)),
      graft.sources.FsckWatermark.plainFileFps(spark, dictTableName(name)),
      tables.toMap)
  }

  /** Maintenance-cadence fsck (round 17 — VERDICT r16 #1): verify the
    * `checkIndex` invariants at a cost that tracks the bytes WRITTEN
    * since the last green check, the same shape `compactBuckets` gave
    * compaction and `retireTombstones` gave deletion. The first run
    * (or any run whose watermark is missing/unreadable) IS the full
    * `checkIndex` plus one aggregate pass; every green run records a
    * watermark (`FsckWatermark`) of per-bucket file sets and live
    * aggregates, and the next run verifies a three-way FILE diff:
    * UNCHANGED buckets reuse their recorded aggregates, ADDED-ONLY
    * buckets (the append path — which touches most term buckets, so
    * bucket-granular rescans would degenerate to full) verify
    * ADDITIVELY from the new files alone, and REWRITTEN buckets
    * recompute in full (exactly the bytes the rewrite itself just
    * paid).
    *
    *  - `sum_dl_equals_live_tf_sum` — recorded + added + recomputed
    *    Σtf == current sum_dl (exact: untouched files are
    *    byte-identical; rows attribute to their PHYSICAL file's
    *    bucket). A CHANGED tombstone set invalidates the recorded
    *    live sums, so that case recomputes the per-bucket aggregates
    *    corpus-wide — column-pruned, no index-side shuffle, still far
    *    under full-fsck cost (the natural cadence avoids it: run after
    *    maintenance, when the set is clear).
    *  - `live_forward_count_le_stats_n` — the forward-decomposed form
    *    of the full check's distinct-doc bound.
    *  - `dict_df_covers_live_postings` — DELTA form: at the last green
    *    check dict ≥ live held per term, the tombstone set only shrinks
    *    live counts, so the invariant can only break where dict credit
    *    lags new postings. Sufficient per-term condition checked from
    *    deltas alone: Σdf over ADDED dict files ≥ added live postings
    *    (append batches write exactly equal partials, so this holds
    *    with equality in healthy operation). Terms that fail the
    *    sufficient condition, terms carrying NEGATIVE partials in
    *    added dict files, and every term of a REWRITTEN bucket
    *    escalate to the exact per-term compare over their own buckets.
    *    A dict file REMOVED since the watermark (outside a recount's
    *    full rewrite) forces the full dict invariant.
    *  - `forward_covers_posting_docs` — docs of added/rewritten
    *    postings files probed against exactly their doc-buckets'
    *    forward files.
    *  - every metadata/marker check (`stats_*`, `marker_log_unique`,
    *    `bucket_spec_coherent`, `dangling_generation`,
    *    `bucket_journal_pending`, `dict_delta_pending`) runs in full —
    *    they were always free.
    *
    * TRUST BOUNDARY (the documented, spec-pinned limitation): a
    * corruption that preserves every file's (name, length, mtime) in
    * an untouched bucket is invisible here — the runbook pairs this
    * check at maintenance cadence with a periodic full `checkIndex`
    * (post-crash, and on a slow clock), which holds no watermark trust
    * at all. A red result never advances the watermark, so the
    * evidence window stays open for the full pass. The returned frame
    * carries an `fsck_scope` row naming the mode and touched counts.
    */
  def checkIndexIncremental(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val postT = postingsTableName(name)
    if (!spark.catalog.tableExists(postT)) return checkIndex(spark, name)
    val wmPath = graft.sources.FsckWatermark.path(spark, postT)
    graft.sources.FsckWatermark.read(spark, wmPath) match {
      case None =>
        val full  = checkIndex(spark, name)
        val rows  = full.collect().map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
        val green = rows.forall(_._2)
        if (green)
          graft.sources.FsckWatermark.write(spark, wmPath, computeFsckMark(spark, name))
        val scope = (
          "fsck_scope", true,
          "full: no (or unreadable) watermark — ran checkIndex" +
            (if (green) "; watermark recorded" else "; RED result, watermark NOT recorded"))
        (rows :+ scope).toSeq.toDF("check", "ok", "detail")
      case Some(old) =>
        incrementalCheck(spark, name, wmPath, old)
    }
  }

  private def incrementalCheck(
      spark: SparkSession,
      name: String,
      wmPath: org.apache.hadoop.fs.Path,
      old: graft.sources.FsckWatermark.Mark): DataFrame = {
    import spark.implicits._
    import graft.sources.FsckWatermark
    val checks = scala.collection.mutable.ArrayBuffer[(String, Boolean, String)]()
    val postT  = postingsTableName(name)
    val fwdT   = forwardTableName(name)
    val dictT  = dictTableName(name)
    val tombsT = tombsTableName(name)
    val hasStats = spark.catalog.tableExists(statsTableName(name))
    val hasFwd   = spark.catalog.tableExists(fwdT)
    val hasDict  = spark.catalog.tableExists(dictT)

    val curTombsFp   = FsckWatermark.plainFp(spark, tombsT)
    val tombsChanged = curTombsFp != old.tombsFp
    val (nbP, filesP) = FsckWatermark.bucketFileSets(spark, postT)
    val diffP = old.tables.get(postT)
      .map(FsckWatermark.diff(_, nbP, filesP))
      .getOrElse(FsckWatermark.Diff(Set.empty, Map.empty, filesP.keySet))
    val addedPaths = diffP.addedOnly.valuesIterator.flatten
      .map(fp => FsckWatermark.filePath(spark, postT, fp)).toSeq
    val rewrittenPaths = Layout.bucketFiles(spark, postT, diffP.rewritten)
    // the delta/rewritten row sets, read once each (delta-sized)
    val addedRows     = readFiles(spark, postT, addedPaths)
    val rewrittenRows = readFiles(spark, postT, rewrittenPaths)

    // stats totals + marker uniqueness — always full (the tables are
    // O(#batches) rows by construction)
    var statsN  = 0L
    var statsDl = 0L
    if (hasStats) {
      val r = statsTable(spark, name)
        .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("dl")).head()
      statsN  = if (r.isNullAt(0)) 0L else r.getLong(0)
      statsDl = if (r.isNullAt(1)) 0L else r.getLong(1)
      checks += (("stats_total_nonnegative", statsN >= 0L && statsDl >= 0L,
        s"N=$statsN sum_dl=$statsDl"))
    }

    // Σtf decomposition: recorded (unchanged) + additive (added files
    // only) + recomputed (rewritten buckets); a changed tombstone set
    // invalidates every recorded live sum → corpus-wide column-pruned
    // recompute (no joins beyond the slim anti-join, no index shuffle)
    val postAgg: Map[Int, (Long, Long)] =
      if (tombsChanged || !old.tables.contains(postT)) perBucketPostingsAgg(spark, name)
      else {
        val base = old.tables(postT).buckets
        val addedAgg = addedRows
          .map(liveFileAgg(spark, name, _, Some("tf"))).getOrElse(Map.empty)
        val rewrAgg = rewrittenRows
          .map(liveFileAgg(spark, name, _, Some("tf"))).getOrElse(Map.empty)
        val ids = base.keySet ++ filesP.keySet
        ids.iterator.map { b =>
          val (t0, c0) =
            if (diffP.rewritten.contains(b)) (0L, 0L)
            else base.get(b).map(m => (m.a1, m.a2)).getOrElse((0L, 0L))
          val (t1, c1) = addedAgg.getOrElse(b, (0L, 0L))
          val (t2, c2) = rewrAgg.getOrElse(b, (0L, 0L))
          b -> ((t0 + t1 + t2, c0 + c1 + c2))
        }.toMap
      }
    if (hasStats) {
      val liveTf = postAgg.valuesIterator.map(_._1).sum
      checks += (("sum_dl_equals_live_tf_sum", liveTf == statsDl,
        s"sum(tf)=$liveTf sum_dl=$statsDl (recombined: ${diffP.unchanged.size} recorded, " +
          s"${diffP.addedOnly.size} additive, ${diffP.rewritten.size} recomputed buckets)"))
    }

    // forward decomposition + the scoped coverage probe
    var fwdAgg: Map[Int, Long] = Map.empty
    if (hasFwd) {
      val (nbF, filesF) = FsckWatermark.bucketFileSets(spark, fwdT)
      val diffF = old.tables.get(fwdT)
        .map(FsckWatermark.diff(_, nbF, filesF))
        .getOrElse(FsckWatermark.Diff(Set.empty, Map.empty, filesF.keySet))
      fwdAgg =
        if (tombsChanged || !old.tables.contains(fwdT)) perBucketForwardAgg(spark, name)
        else {
          val base = old.tables(fwdT).buckets
          val fAddedPaths = diffF.addedOnly.valuesIterator.flatten
            .map(fp => FsckWatermark.filePath(spark, fwdT, fp)).toSeq
          val addedAgg = readFiles(spark, fwdT, fAddedPaths)
            .map(liveFileAgg(spark, name, _, None)).getOrElse(Map.empty)
          val rewrAgg = readFiles(spark, fwdT, Layout.bucketFiles(spark, fwdT, diffF.rewritten))
            .map(liveFileAgg(spark, name, _, None)).getOrElse(Map.empty)
          val ids = base.keySet ++ filesF.keySet
          ids.iterator.map { b =>
            val c0 =
              if (diffF.rewritten.contains(b)) 0L
              else base.get(b).map(_.a1).getOrElse(0L)
            b -> (c0 + addedAgg.getOrElse(b, (0L, 0L))._1 + rewrAgg.getOrElse(b, (0L, 0L))._1)
          }.toMap
        }
      if (hasStats) {
        val fwdLive = fwdAgg.valuesIterator.sum
        checks += (("live_forward_count_le_stats_n", fwdLive <= statsN,
          s"live_forward=$fwdLive N=$statsN (forward-decomposed form of the distinct-doc bound)"))
      }
      // coverage: every doc of an added/rewritten postings file must
      // hold a live forward row — probed against exactly its
      // doc-bucket's forward files
      val candidateRows = (addedRows, rewrittenRows) match {
        case (Some(a), Some(r)) => Some(a.unionByName(r))
        case (a, r)             => a.orElse(r)
      }
      candidateRows.foreach { rows =>
        val docs = notTombstoned(spark, name, rows).select(col("doc_id")).distinct()
        val docBuckets = docs
          .select(Layout.bucketIdExpr(col("doc_id"), nbF).as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val orphans =
          readFiles(spark, fwdT, Layout.bucketFiles(spark, fwdT, docBuckets)) match {
            case None => docs.count()
            case Some(fwdRows) =>
              docs.join(
                notTombstoned(spark, name, fwdRows).select(col("doc_id")),
                Seq("doc_id"), "left_anti").count()
          }
        checks += (("forward_covers_posting_docs", orphans == 0,
          s"$orphans delta posting docs missing forward rows " +
            s"(scoped to ${docBuckets.size} doc buckets)"))
      }
    }

    // dict ≥ invariant, DELTA form (see scaladoc): the sufficient
    // added-dict ≥ added-live per-term condition from delta files
    // alone; failures, negative partials, and rewritten-bucket terms
    // escalate to the exact per-term compare over their own buckets
    if (hasDict) {
      val curDictFps = FsckWatermark.plainFileFps(spark, dictT)
      val removed    = old.dictFps -- curDictFps
      val added      = curDictFps -- old.dictFps
      lazy val dictSums = dictTable(spark, name)
        .groupBy(col("term_h"), col("term")).agg(sum(col("df")).as("dict_df"))
      if (removed.nonEmpty) {
        // the dict file set was REWRITTEN outside a recorded green
        // check — no incremental reasoning holds; run the full form
        val under = dictSums
          .join(
            livePostings(spark, name)
              .groupBy(col("term_h"), col("term")).agg(count(lit(1)).as("live_df")),
            Seq("term_h", "term"), "right")
          .filter(coalesce(col("dict_df"), lit(0L)) < col("live_df"))
          .count()
        checks += (("dict_df_covers_live_postings", under == 0,
          s"$under under-counted terms (full form: dict file set rewritten since watermark)"))
      } else {
        val addedDict: Option[DataFrame] =
          if (added.isEmpty) None
          else Some(
            spark.read.schema(dictDeltaSchema)
              .parquet(added.toSeq.map(fp => FsckWatermark.filePath(spark, dictT, fp)): _*)
              .groupBy(col("term_h"), col("term"))
              .agg(sum(col("df")).as("added_df"), min(col("df")).as("min_df")))
        val addedLive: Option[DataFrame] = addedRows.map(r =>
          notTombstoned(spark, name, r)
            .groupBy(col("term_h"), col("term")).agg(count(lit(1)).as("added_live")))
        // delta violations + negative partials escalate; terms of
        // rewritten buckets are exact-checked directly
        val deltaViol: Option[DataFrame] = addedLive.map { al =>
          al.join(addedDict.map(_.select(col("term_h"), col("term"), col("added_df")))
              .getOrElse(Seq.empty[(Long, String, Long)].toDF("term_h", "term", "added_df")),
            Seq("term_h", "term"), "left")
            .filter(coalesce(col("added_df"), lit(0L)) < col("added_live"))
            .select(col("term_h"), col("term"))
        }
        val negTerms: Option[DataFrame] = addedDict.map(
          _.filter(col("min_df") < 0).select(col("term_h"), col("term")))
        val rewrittenTerms: Option[DataFrame] = rewrittenRows.map(r =>
          notTombstoned(spark, name, r).select(col("term_h"), col("term")).distinct())
        val escalate = Seq(deltaViol, negTerms, rewrittenTerms).flatten
          .reduceOption(_ unionByName _).map(_.distinct())
        escalate match {
          case None =>
            checks += (("dict_df_covers_live_postings", true,
              "delta condition holds vacuously (no added/rewritten postings, no dict partials)"))
          case Some(terms) if terms.isEmpty =>
            checks += (("dict_df_covers_live_postings", true,
              "delta condition held for every added term (added dict partials cover added postings)"))
          case Some(terms) =>
            // exact per-term compare over the escalated terms' own
            // buckets (a term's postings live entirely in one bucket)
            val tBuckets = terms
              .select(Layout.bucketIdExpr(col("term_h"), nbP).as("b"))
              .distinct().collect().map(_.getInt(0)).toSet
            val liveDf = readFiles(spark, postT, Layout.bucketFiles(spark, postT, tBuckets)) match {
              case None => terms.withColumn("live_df", lit(0L))
              case Some(rows) =>
                terms.join(
                  notTombstoned(spark, name, rows)
                    .groupBy(col("term_h"), col("term")).agg(count(lit(1)).as("live_df")),
                  Seq("term_h", "term"), "left")
                  .select(col("term_h"), col("term"),
                    coalesce(col("live_df"), lit(0L)).as("live_df"))
            }
            val under = dictSums.join(liveDf, Seq("term_h", "term"), "right")
              .filter(coalesce(col("dict_df"), lit(0L)) < col("live_df"))
              .count()
            checks += (("dict_df_covers_live_postings", under == 0,
              s"$under under-counted terms (exact compare over the escalated terms' buckets)"))
        }
      }
    }

    if (hasStats) {
      val signDups = statsTable(spark, name)
        .filter(col("batch_id") >= 0)
        .groupBy(col("batch_id"), (col("n_docs") > 0).as("is_append"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      checks += (("stats_markers_unique", signDups == 0, s"$signDups duplicated batch markers"))
    }
    if (spark.catalog.tableExists(posMarkersTableName(name))) {
      val dups = spark.table(posMarkersTableName(name))
        .groupBy(col("batch_id"), col("kind"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      checks += (("marker_log_unique", dups == 0, s"$dups duplicated (batch_id, kind) markers"))
    }
    IndexLifecycle.bucketSpecIncoherence(spark, layout(name)) match {
      case Some(target) =>
        checks += (("bucket_spec_coherent", false,
          s"mixed bucket counts — re-run rebucketIndex($name, $target) or any maintenance entry point"))
      case None =>
        checks += (("bucket_spec_coherent", true, "bucketed tables agree on bucket count"))
    }
    val leaks = Seq(
      postT, posTableName(name), fwdT, dictT, statsTableName(name), tombsT,
      posMarkersTableName(name))
      .filter(spark.catalog.tableExists)
      .flatMap(t => Layout.danglingGenerations(spark, t).map(d => s"$t -> $d"))
    checks += (("dangling_generation", leaks.isEmpty,
      if (leaks.isEmpty) "retention bounded at one generation" else leaks.mkString("; ")))
    val pendingJ = Seq(postT, posTableName(name), fwdT)
      .filter(t => Layout.pendingBucketJournal(spark, t))
    checks += (("bucket_journal_pending", pendingJ.isEmpty,
      if (pendingJ.isEmpty) "no pending bucket-compaction journal"
      else s"committed journal awaiting replay: ${pendingJ.mkString(", ")}"))
    if (hasDict) {
      val scratch = dictDeltaPath(spark, name)
      val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pending = Seq(scratch, new org.apache.hadoop.fs.Path(scratch.toString + ".applying"))
        .filter(fs.exists).map(_.getName)
      checks += (("dict_delta_pending", pending.isEmpty,
        if (pending.isEmpty) "no staged dict credit awaiting apply"
        else s"staged dict credit awaiting resolution (${pending.mkString(", ")})"))
    }

    val green = checks.forall(_._2)
    if (green) {
      // re-anchor the watermark at the verified state — file sets
      // re-listed, aggregates from the recombined maps
      import FsckWatermark.{BucketMark, Mark, TableMark}
      val tables = scala.collection.mutable.Map(
        postT -> TableMark(
          nbP,
          filesP.map { case (b, fs) =>
            val (tfs, c) = postAgg.getOrElse(b, (0L, 0L))
            b -> BucketMark(fs, tfs, c)
          }))
      if (hasFwd) {
        val (nbF2, filesF2) = FsckWatermark.bucketFileSets(spark, fwdT)
        tables(fwdT) = TableMark(
          nbF2, filesF2.map { case (b, fs) => b -> BucketMark(fs, fwdAgg.getOrElse(b, 0L), 0L) })
      }
      FsckWatermark.write(
        spark, wmPath,
        Mark(curTombsFp, FsckWatermark.plainFileFps(spark, dictT), tables.toMap))
    }
    checks += (("fsck_scope", true,
      s"incremental: postings ${diffP.touched.size}/$nbP buckets touched " +
        s"(${diffP.addedOnly.size} added-only, ${diffP.rewritten.size} rewritten); " +
        s"tombstones ${if (tombsChanged) "CHANGED (live aggregates recomputed corpus-wide, column-pruned)" else "unchanged"}; " +
        (if (green) "watermark advanced" else "RED result — watermark NOT advanced") +
        "; fingerprint-evading corruption in untouched buckets needs the periodic full checkIndex"))
    checks.toSeq.toDF("check", "ok", "detail")
  }

  /** The dict-delta staging dir: a SIBLING of the dict table location
    * keyed off its generation-0 base name (`<base>.dictdelta`). An
    * underscore dir INSIDE the table location would also be invisible
    * to dict readers (Spark's file index filters `_`-prefixed children
    * during listing, though explicit input paths are exempt), but the
    * sibling wins twice: no ignored-path warning spam on every dict
    * read, and a pending staging SURVIVES a dict generation swap
    * (`recountDict`/`compactIndex` relocate the table dir and retention
    * deletes the old one — those two condemn their staging explicitly,
    * but a swap must never silently destroy someone else's pending
    * credit).
    */
  private def dictDeltaPath(spark: SparkSession, name: String): org.apache.hadoop.fs.Path = {
    val dictMeta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(dictTableName(name)))
    new org.apache.hadoop.fs.Path(Layout.baseGen(dictMeta.location.toString) + ".dictdelta")
  }

  /** Condemn every pending dict-delta staging (fresh or mid-apply):
    * called by the full recounts (`recountDict`, `compactIndex`'s dict
    * rewrite), which derive the EXACT df from the live postings and so
    * supersede any staged credit — a stale decrement applied after a
    * recount would undercount, the one direction the dict contract
    * forbids.
    */
  private def condemnDictDeltas(spark: SparkSession, name: String): Unit = {
    val scratch = dictDeltaPath(spark, name)
    val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(scratch, true)
    fs.delete(new org.apache.hadoop.fs.Path(scratch.toString + ".applying"), true)
  }

  /** Stage the dictionary DECREMENT a bucket rewrite is about to earn:
    * the per-term counts of the tombstoned postings rows
    * still PHYSICALLY present in `bucketIds`, negated, written to the
    * `dictDeltaPath` staging dir (a sibling of the dict location —
    * invisible to dict readers because it is OUTSIDE the table path).
    * Staging derives from the same touched-bucket files the rewrite is
    * about to read anyway, so the cost tracks touched buckets, and it
    * must be DURABLE before the rewrite deletes those files — hence a
    * scratch write, not a lazy frame or a driver collect (the counts
    * are per-term over the deleted docs; a 30%-of-corpus delete makes
    * them corpus-vocabulary-sized).
    *
    * Crash discipline (stage → rewrite → apply):
    *  - recomputed deltas NON-EMPTY → the tombstoned rows are still
    *    physical (no committed rewrite since the set was written):
    *    overwrite any stale staging — recomputed is current truth.
    *  - recomputed EMPTY but a stale staging exists → VERIFY the stale
    *    staging against its OWN persisted bucket set (each staging
    *    records the buckets it was computed over in a `_staged_buckets`
    *    sidecar, written strictly after the delta rows): kept — and so
    *    later applied — ONLY when the recompute over THOSE buckets is
    *    also empty, i.e. a committed rewrite really dropped the staged
    *    rows before their credit applied (the staging is then exactly
    *    the uncredited decrement, and the apply heals the dict
    *    precisely). A staging whose own buckets still hold physical
    *    tombstoned rows is a pre-rewrite crash leftover — its rows will
    *    be re-staged by the pass that eventually drops them, so
    *    applying it now would credit them twice (summed df undercount,
    *    the forbidden direction; keying keep-stale off the CALLER's
    *    bucket set instead would let an unrelated defrag pass satisfy it
    *    vacuously): it is CONDEMNED instead. A sidecar-less staging
    *    (torn before the sidecar write) is unverifiable and likewise
    *    condemned.
    *  - recomputed EMPTY, no staging → nothing to do.
    * No window double-applies; the unrecoverable windows (e.g. an
    * opportunistic drop that never staged, or a condemned pre-rewrite
    * staging whose rewrite later commits) degrade to the documented
    * conservative direction — df overcount, never undercount — which
    * `recountDict`/full compaction still heals.
    * Returns whether a staging (fresh or kept-verified) awaits apply.
    */
  private def stageDictDeltas(
      spark: SparkSession,
      name: String,
      bucketIds: Set[Int],
      tombIds: DataFrame): Boolean = {
    if (!spark.catalog.tableExists(dictTableName(name))) return false
    val scratch = dictDeltaPath(spark, name)
    val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Layout.bucketFiles(spark, postingsTableName(name), bucketIds)
    if (files.nonEmpty) {
      val deltas = tombstonedTermCounts(spark, name, files)
      try {
        if (!deltas.isEmpty(tombIds)) {
          fs.delete(scratch, true)
          deltas.frame(tombIds).write.mode("overwrite").parquet(scratch.toString)
          // the bucket-set sidecar makes the staging self-verifying (see
          // crash discipline above); written LAST, so a torn staging is
          // sidecar-less and condemns rather than applies
          writeStagedBuckets(fs, scratch, bucketIds)
          return true
        }
      } finally deltas.release()
    }
    resolvableStaleStaging(spark, name, tombIds)
  }

  /** The per-term counts of tombstoned posting rows physically present
    * in `files` — the decrement a rewrite of those files' buckets
    * earns. Tiny wrapper so stage/verify share one definition.
    */
  private case class TombstonedTermCounts(spark: SparkSession, name: String, files: Seq[String]) {
    // the matched frame is PERSISTED on first use (ADVICE r16: the
    // emptiness probe and the grouped staging write used to re-read the
    // touched buckets' parquet and re-run the semi join — doubled stage
    // cost on every retirement/defrag that drops rows); callers release()
    // once staged, so nothing leaks into the session cache
    private var cached: Option[DataFrame] = None
    private def matched(tombIds: DataFrame): DataFrame = cached.getOrElse {
      val postMeta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(postingsTableName(name)))
      val m = spark.read.schema(postMeta.schema).parquet(files: _*)
        .join(tombIds, Seq("doc_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached = Some(m)
      m
    }
    def isEmpty(tombIds: DataFrame): Boolean = matched(tombIds).isEmpty
    def frame(tombIds: DataFrame): DataFrame =
      matched(tombIds).groupBy(col("term_h"), col("term")).agg((-count(lit(1))).as("df"))
    def release(): Unit = { cached.foreach(_.unpersist()); cached = None }
  }
  private def tombstonedTermCounts(
      spark: SparkSession, name: String, files: Seq[String]): TombstonedTermCounts =
    TombstonedTermCounts(spark, name, files)

  /** Whether a stale dict-delta staging exists AND verifies against its
    * own persisted bucket set (no physical tombstoned rows left in
    * those buckets — the committed-rewrite crash window, where the
    * staging is the exact uncredited decrement). A staging that fails
    * verification — sidecar missing, or its buckets still holding
    * tombstoned rows — is CONDEMNED here (deleted; the conservative
    * overcount direction). Returns whether a verified staging awaits
    * apply.
    */
  private def resolvableStaleStaging(
      spark: SparkSession,
      name: String,
      tombIds: DataFrame): Boolean = {
    val scratch = dictDeltaPath(spark, name)
    val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(scratch)) return false
    val verified = readStagedBuckets(fs, scratch).exists { staged =>
      val files = Layout.bucketFiles(spark, postingsTableName(name), staged)
      files.isEmpty || {
        val counts = tombstonedTermCounts(spark, name, files)
        try counts.isEmpty(tombIds) finally counts.release()
      }
    }
    if (!verified) fs.delete(scratch, true)
    verified
  }

  /** The staging's bucket-set sidecar (`_staged_buckets` — underscore-
    * prefixed, so the parquet read of the staging never sees it).
    */
  private def writeStagedBuckets(
      fs: org.apache.hadoop.fs.FileSystem,
      scratch: org.apache.hadoop.fs.Path,
      bucketIds: Set[Int]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(scratch, "_staged_buckets"), true)
    try out.write(
      bucketIds.toSeq.sorted.mkString(",").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readStagedBuckets(
      fs: org.apache.hadoop.fs.FileSystem,
      scratch: org.apache.hadoop.fs.Path): Option[Set[Int]] =
    try {
      val p = new org.apache.hadoop.fs.Path(scratch, "_staged_buckets")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        Some(s.split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Apply a staged dictionary decrement (see `stageDictDeltas`):
    * append the negated per-term counts as ordinary dict partial rows
    * — `termDfs`/`checkIndex` already SUM partials per term, so the
    * summed df becomes exact over the survivors — then drop the
    * staging. Called strictly AFTER the bucket rewrite committed.
    *
    * At-most-once protocol: the staging is RENAMED to `<staging>.applying`
    * before the append reads it — an `.applying` dir found later
    * is a crashed apply whose append state is unknowable, so it is
    * CONDEMNED (deleted, never re-applied): every crash window
    * degrades to the documented-conservative df overcount, never an
    * undercount (a double-applied decrement would under-count, which
    * breaks the `dict_df_covers_live_postings` ≥ invariant every
    * consumer rides). The read uses the staging's EXPLICIT schema
    * (never inference — a half-written staging with no committed part
    * files would fail schema inference and wedge retirement); a
    * staging that still fails to read is condemned like a crashed
    * apply rather than thrown.
    */
  private val dictDeltaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term_h", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df", org.apache.spark.sql.types.LongType)))

  private def applyDictDeltas(spark: SparkSession, name: String): Unit = {
    val dictT = dictTableName(name)
    if (!spark.catalog.tableExists(dictT)) return
    val scratch  = dictDeltaPath(spark, name)
    val applying = new org.apache.hadoop.fs.Path(scratch.toString + ".applying")
    val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed previous apply: its append may or may not have
    // committed — condemn it (conservative overcount), never re-apply
    if (fs.exists(applying)) fs.delete(applying, true)
    if (!fs.exists(scratch)) return
    fs.rename(scratch, applying)
    try {
      // footer-metadata emptiness probe, no job; -1 (unreadable)
      // falls through to the read, whose failure condemns below
      if (Layout.parquetRowCountAt(spark, applying) != 0L) {
        val deltas = spark.read.schema(dictDeltaSchema).parquet(applying.toString)
        deltas.select(col("term_h"), col("term"), col("df"))
          .write.mode("append").insertInto(dictT)
      }
    } catch {
      // unreadable staging (torn write, corrupt footer): condemned by
      // the delete below — the conservative overcount, never a wedge
      case scala.util.control.NonFatal(_) => ()
    }
    fs.delete(applying, true)
    spark.catalog.refreshTable(dictT)
  }

  /** The compaction dict-recount exposed standalone: rewrite the
    * dictionary as the EXACT per-term df over the live postings — the
    * repair for both a corrupted (under-counting) dictionary and the
    * legitimate between-delete-and-compaction overcount, without a
    * full compaction.
    */
  def recountDict(spark: SparkSession, name: String): Unit =
    rewriteDict(spark, name, livePostings(spark, name))

  /** Rewrite the dictionary as one row per term recounted from
    * `postingsRows`, globally sorted by term so prefix resolution
    * prunes row groups by min/max range. A recount supersedes any
    * pending staged credit — a stale decrement applied later would
    * UNDERCOUNT the fresh exact df — so the staging is condemned.
    */
  private def rewriteDict(spark: SparkSession, name: String, postingsRows: DataFrame): Unit = {
    val table = dictTableName(name)
    Layout.recoverDanglingSwap(spark, table)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val recounted = postingsRows
      .groupBy(col("term_h"), col("term")).agg(count(lit(1)).as("df"))
      .sort(col("term"))
    Layout.swapGeneration(spark, table, meta) { (scratch, newDir) =>
      recounted.write.mode("overwrite").option("path", newDir).saveAsTable(scratch)
    }
    condemnDictDeltas(spark, name)
  }

  /** fsck that HEALS (VERDICT r14 #3): map each red `checkIndex` row to
    * a repair DERIVED from the surviving tables, apply it, and report
    * one row per repair `(repair, applied, detail)`. Run AT REST, like
    * `checkIndex`. The derivations:
    *
    *  - **torn deletes** (`sum_dl_equals_live_tf_sum` red): a delete
    *    whose tombstones landed but whose negative stats marker didn't
    *    is identified by batch id (tombstone batch ids with no negative
    *    stats row — ad-hoc `-1` deletes carry no replay identity and
    *    stay out of scope, see `deleteBatch`). The missing row is
    *    derived from the index itself: every physical posting (and
    *    positional) row carries the doc's `dl`, and the tombstoned rows
    *    are still present before compaction — so `sum_dl` is the sum of
    *    per-doc dl over the batch's traceable docs, and `n_docs` counts
    *    docs with any trace (postings ∪ positional ∪ forward; the
    *    forward side is what makes a zero-token doc traceable — without
    *    it such a doc leaves no mark and the repair under-subtracts N,
    *    which is the conservative direction: every ≤-invariant still
    *    holds).
    *  - **dictionary under-count** (`dict_df_covers_live_postings`
    *    red): recount from the live postings (`recountDict` — the
    *    compaction subroutine standalone).
    *  - **forward orphans** (`forward_covers_posting_docs` red): the
    *    missing rows are re-fetched from `corpus` (the one repair that
    *    needs data the index doesn't hold — metadata was never in the
    *    postings); reported-not-applied when `corpus` is None.
    *  - **duplicated markers** (`marker_log_unique` red): the marker
    *    log is pure replay state — duplicates are byte-identical by
    *    construction and collapse to one row per (batch_id, kind).
    *  - **pending dict-delta staging** (`dict_delta_pending` red): a
    *    crashed retirement's staged credit — whether its rewrite
    *    committed is unknowable at rest, so the repair never applies
    *    it (a wrong apply undercounts): condemn + `recountDict`, which
    *    restores exactness at full-recount cost. (The cheap exact
    *    resolution is simply re-running the retirement — its
    *    keep-stale rule re-derives the answer from physical evidence.)
    */
  def repairIndex(
      spark: SparkSession,
      name: String,
      corpus: Option[DataFrame] = None,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer[(String, Boolean, String)]()
    val hasStats = spark.catalog.tableExists(statsTableName(name))
    val hasTombs = spark.catalog.tableExists(tombsTableName(name))
    val hasPos   = spark.catalog.tableExists(posTableName(name))
    val hasFwd   = spark.catalog.tableExists(forwardTableName(name))

    // ---- crashed bucket compaction: replay the committed journal ----
    // (FIRST — every other repair derives from table state, which a
    // mid-swap file set would corrupt rather than heal)
    val replayed = Seq(
      postingsTableName(name), posTableName(name), forwardTableName(name))
      .filter(spark.catalog.tableExists)
      .filter(t => Layout.recoverBucketCompact(spark, t))
    out += (("bucket_journal_replay", replayed.nonEmpty,
      if (replayed.isEmpty) "no pending bucket-compaction journal"
      else s"journal replayed to convergence: ${replayed.mkString(", ")}"))

    // ---- torn deletes: write the missing negative stats rows ----
    if (hasStats && hasTombs) {
      val torn = spark.table(tombsTableName(name))
        .filter(col("batch_id") >= 0).select(col("batch_id")).distinct()
        .join(
          statsTable(spark, name).filter(col("n_docs") < 0).select(col("batch_id")),
          Seq("batch_id"), "left_anti")
        .as[Long].collect().sorted
      if (torn.isEmpty) out += (("torn_delete_stats", false, "no torn delete batches"))
      torn.foreach { b =>
        val ids = spark.table(tombsTableName(name))
          .filter(col("batch_id") === b).select(col("doc_id")).distinct()
        val dlTraces = {
          val fromPost = postingsTable(spark, name).select(col("doc_id"), col("dl"))
          if (hasPos) fromPost.unionByName(positionalTable(spark, name).select(col("doc_id"), col("dl")))
          else fromPost
        }
        val perDoc = ids.join(dlTraces, Seq("doc_id")).groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
        val traced =
          if (hasFwd) perDoc.select(col("doc_id"))
            .unionByName(ids.join(forwardTable(spark, name), Seq("doc_id"), "left_semi"))
            .distinct()
          else perDoc.select(col("doc_id"))
        val r = traced.join(perDoc, Seq("doc_id"), "left")
          .agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
        val n = r.getLong(0)
        val s = if (r.isNullAt(1)) 0L else r.getLong(1)
        if (n == 0L)
          out += (("torn_delete_stats", false, s"batch $b: no traceable docs — replay the delete batch manually"))
        else {
          spark.range(1)
            .select(lit(-n).as("n_docs"), lit(-s).as("sum_dl"), lit(b).as("batch_id"))
            .write.mode("append").insertInto(statsTableName(name))
          out += (("torn_delete_stats", true, s"batch $b: restored n_docs=-$n sum_dl=-$s"))
        }
      }
    }

    // ---- dictionary under-count: recount from live postings ----
    if (spark.catalog.tableExists(dictTableName(name)) &&
      spark.catalog.tableExists(postingsTableName(name))) {
      val under = dictTable(spark, name)
        .groupBy(col("term_h"), col("term")).agg(sum(col("df")).as("dict_df"))
        .join(
          livePostings(spark, name)
            .groupBy(col("term_h"), col("term")).agg(count(lit(1)).as("live_df")),
          Seq("term_h", "term"), "right")
        .filter(coalesce(col("dict_df"), lit(0L)) < col("live_df"))
        .count()
      if (under > 0) {
        recountDict(spark, name)
        out += (("dict_recount", true, s"$under under-counted terms recounted from live postings"))
      } else out += (("dict_recount", false, "dictionary covers live postings"))
    }

    // ---- forward orphans: re-fetch from the corpus ----
    if (hasFwd && spark.catalog.tableExists(postingsTableName(name))) {
      val orphanIds = livePostings(spark, name).select(col("doc_id")).distinct()
        .join(liveForward(spark, name).select(col("doc_id")), Seq("doc_id"), "left_anti")
      val nOrphans = orphanIds.count()
      if (nOrphans == 0) out += (("forward_orphans", false, "forward covers all posting docs"))
      else
        corpus match {
          case None =>
            out += (("forward_orphans", false,
              s"$nOrphans orphaned posting docs — pass the corpus frame to re-fetch their forward rows"))
          case Some(c) =>
            val metaCols = spark.table(forwardTableName(name)).columns.filterNot(_ == "doc_id").toSeq
            Layout.append(
              forwardRows(c, idCol, textCol, metaCols)
                .join(orphanIds, Seq("doc_id"), "left_semi"),
              forwardTableName(name))
            out += (("forward_orphans", true, s"$nOrphans forward rows re-fetched from the corpus"))
        }
    }

    // ---- duplicated replay markers: collapse the log ----
    if (spark.catalog.tableExists(posMarkersTableName(name))) {
      val table = posMarkersTableName(name)
      val dups = spark.table(table)
        .groupBy(col("batch_id"), col("kind"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      if (dups > 0) {
        Layout.recoverDanglingSwap(spark, table)
        val meta = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
        val deduped = spark.read.schema(meta.schema).parquet(meta.location.toString).distinct()
        Layout.swapGeneration(spark, table, meta) { (scratch, newDir) =>
          deduped.write.mode("overwrite").option("path", newDir).saveAsTable(scratch)
        }
        out += (("marker_dedup", true, s"$dups duplicated (batch_id, kind) markers collapsed"))
      } else out += (("marker_dedup", false, "marker log unique"))
    }

    // ---- pending dict-delta staging: condemn + recount ----
    // A staging found AT REST is a crashed retirement's: whether its
    // rewrite committed is unknowable here without re-deriving the
    // evidence (that resolution is exactly what the next retirement's
    // keep-stale rule does, self-healing and exact). The repair takes
    // the always-safe route instead: CONDEMN the staging (never apply
    // — a wrong apply undercounts) and recount the dictionary from the
    // live postings, which restores exactness at full-recount cost.
    if (spark.catalog.tableExists(dictTableName(name))) {
      val scratch = dictDeltaPath(spark, name)
      val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pending = Seq(scratch, new org.apache.hadoop.fs.Path(scratch.toString + ".applying"))
        .filter(fs.exists)
      if (pending.nonEmpty) {
        condemnDictDeltas(spark, name)
        recountDict(spark, name)
        out += (("dict_delta_resolve", true,
          s"${pending.size} pending staging(s) condemned; dictionary recounted from live postings"))
      } else out += (("dict_delta_resolve", false, "no staged dict credit awaiting apply"))
    }
    out.toSeq.toDF("repair", "applied", "detail")
  }

  def dropIndex(spark: SparkSession, name: String): Unit =
    IndexLifecycle.drop(spark, layout(name))

  def dictTable(spark: SparkSession, name: String): DataFrame =
    spark.table(dictTableName(name))
  def forwardTable(spark: SparkSession, name: String): DataFrame =
    spark.table(forwardTableName(name))

  /** Total df per queried term from the DICTIONARY alone (sums the
    * per-batch partial rows; equal to the posting-derived df by
    * construction — spec-pinned). The read is dictionary-sized however
    * long the terms' posting lists are.
    */
  def termDfs(spark: SparkSession, name: String, terms: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    dictTable(spark, name)
      .filter(col("term").isin(terms.distinct: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .as[(String, Long)].collect().toMap
  }

  /** Stop-term screen: split a terms list into (kept, dropped) by a
    * df cutoff read from the dictionary. A ubiquitous term's idf
    * contribution is ≈0 but its posting list is the corpus — at scale
    * the decision to skip it must cost a dictionary read, not a
    * posting-list scan. Terms absent from the corpus are KEPT (df 0 —
    * harmless downstream, and dropping them would mask typos).
    */
  def screenStopTerms(
      spark: SparkSession,
      name: String,
      terms: Seq[String],
      maxDf: Long): (Seq[String], Seq[String]) = {
    val dfs = termDfs(spark, name, terms)
    terms.distinct.partition(t => dfs.getOrElse(t, 0L) <= maxDf)
  }

  /** Resolve a PREFIX pattern to its matching terms, alphabetically —
    * the dictionary pass of a wildcard query. Reads only the dictionary
    * (distinct-terms-sized; at web scale millions of rows where the
    * postings are trillions), collects the bounded resolved list to
    * drive `bm25TopK`'s broadcast exactly like a literal terms query.
    * REFUSES (rather than silently truncates) a pattern matching more
    * than `maxTerms` — a `s%`-style query that resolves half the
    * vocabulary should fail loudly, not rank on an arbitrary subset.
    */
  def prefixTerms(
      spark: SparkSession,
      name: String,
      prefix: String,
      maxTerms: Int = 1000): Seq[String] = {
    import spark.implicits._
    val matched = dictTable(spark, name)
      .filter(col("term").startsWith(prefix))
      .select(col("term")).distinct()
      .orderBy(col("term"))
      .limit(maxTerms + 1)
      .as[String].collect().toSeq
    require(
      matched.size <= maxTerms,
      s"prefix '$prefix' resolves more than $maxTerms terms; refine the pattern or raise maxTerms")
    matched
  }

  /** Resolve FUZZY query terms to dictionary terms within `maxDist`
    * edits (typo tolerance — the retrieval feature a curation user
    * hits the moment they mistype a filter term). Like `prefixTerms`,
    * the resolution reads ONLY the dictionary (distinct-terms-sized;
    * the postings are never touched until the resolved list drives the
    * normal zero-shuffle join), returns alphabetically for the
    * deterministic score fold, and REFUSES an explosion rather than
    * silently truncating. A length pre-screen (|len(t)-len(q)| ≤
    * maxDist, a necessary condition for edit distance) guards the
    * Levenshtein evaluation; both screen and distance are native
    * codegen'd expressions, no UDF.
    */
  def fuzzyTerms(
      spark: SparkSession,
      name: String,
      terms: Seq[String],
      maxDist: Int = 1,
      maxTerms: Int = 1000): Seq[String] = {
    import spark.implicits._
    val near = terms.distinct
      .map(q =>
        (abs(length(col("term")) - lit(q.length)) <= maxDist) &&
          levenshtein(col("term"), lit(q)) <= maxDist)
      .reduce(_ || _)
    val matched = dictTable(spark, name)
      .filter(near)
      .select(col("term")).distinct()
      .orderBy(col("term"))
      .limit(maxTerms + 1)
      .as[String].collect().toSeq
    require(
      matched.size <= maxTerms,
      s"fuzzy terms ${terms.mkString(",")} resolve more than $maxTerms terms; refine or raise maxTerms")
    matched
  }

  /** Batch multi-query retrieval (standing-query percolation): answer
    * MANY conjunctive queries in ONE pass over the posting index. Each
    * standing query is (query_id, must-terms); a doc matches when it
    * contains every term (the same relational division as
    * `booleanSearch`, vectorized across queries). At 100 TB this is
    * the difference between N queries × a pruned scan each and ONE
    * pruned scan of the union of their terms: the broadcast
    * query-terms frame joins the bucketed layout with zero index-side
    * exchange, and the only shuffle keys slim (query_id, doc_id,
    * n_terms) rows for the division count.
    *
    * Output: (query_id, doc_id), ordered. All-integer — bit-exact
    * against any engine by construction.
    */
  def matchQueries(postings: DataFrame, queries: Seq[(Long, Seq[String])]): DataFrame = {
    require(queries.nonEmpty, "percolation needs at least one standing query")
    require(queries.forall(_._2.nonEmpty), "every standing query needs at least one term")
    require(queries.map(_._1).distinct.size == queries.size, "standing query ids must be unique")
    val spark = postings.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (qid, ts) =>
      val d = ts.distinct // a duplicated term would double-count the division
      d.map(t => (qid, t, d.size.toLong))
    }
    val qtDf = qt
      .toDF("query_id", "q_term", "n_terms")
      .select(
        col("query_id"),
        Hashing.hash60(col("q_term")).as("term_h"),
        col("q_term"),
        col("n_terms"))
    postings
      .filter(termHashPrune(qt.map(_._2).distinct))
      .join(broadcast(qtDf), Seq("term_h"))
      .filter(col("term") === col("q_term")) // 60-bit collision guard
      .groupBy(col("query_id"), col("doc_id"), col("n_terms"))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === col("n_terms"))
      .select(col("query_id"), col("doc_id"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** SCORED multi-query retrieval: per-query BM25 top-`k` for MANY
    * standing queries in ONE pass over the posting index — the ranked
    * form of `matchQueries` (alerts that want their best hits, not
    * just membership). One pruned scan of the union of standing
    * terms, one broadcast (query_id, term, rank) frame, one shuffle
    * keyed (query_id, doc_id) for the score fold, then a per-query
    * window over the already-aggregated frame (bounded by matches,
    * never the corpus). Per-(query, term) df equals the term's global
    * posting count (each pairing joins the identical doc set), so df
    * derives from the matched rows exactly as in `bm25TopK` — no
    * persisted-stat maintenance, and the same bit-exact IEEE score
    * tree (rank-sorted fold from exact 0.0).
    */
  def bm25MultiTopK(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame =
    bm25MultiScored(postings, stats, queries)
      .withColumn(
        "rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("dl"), col("n_matched"), col("score"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))

  /** Raw classic-mode multi-query scores (the frame d69's margin
    * guard reads — one row per (query, matching doc)).
    */
  def bm25MultiScoredClassic(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])]): DataFrame =
    bm25MultiScored(postings, stats, queries, classicIdf = true)
      .select(col("query_id"), col("doc_id"), col("dl"), col("n_matched"), col("score"))

  /** CLASSIC-mode ranked multi-query retrieval ON THE ROUNDED GRID —
    * the per-query-rank-cut composition of the d65 epsilon-oracle
    * technique (the keyset composition is `bm25TopKClassicAfter`):
    * each standing query's top-k is ranked by `(score_r DESC,
    * doc_id)` where score_r is the 5-decimal round, so under the
    * margin guard every per-query rank cut lands on the identical
    * row set on any engine. Plan shape is `bm25MultiTopK`'s — one
    * pruned pass over the union of standing terms; only the idf
    * factor, the grid round, and the window key change.
    */
  def bm25MultiTopKClassicRounded(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame =
    bm25MultiScored(postings, stats, queries, classicIdf = true)
      .withColumn("score_r", round(col("score"), 5))
      .withColumn(
        "rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("score_r").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("dl"), col("n_matched"), col("score_r"))
      .orderBy(col("query_id"), col("score_r").desc, col("doc_id"))

  private def bm25MultiScored(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])],
      classicIdf: Boolean = false): DataFrame = {
    require(queries.nonEmpty, "scored multi-query retrieval needs at least one standing query")
    require(queries.forall(_._2.nonEmpty), "every standing query needs at least one term")
    require(queries.map(_._1).distinct.size == queries.size, "standing query ids must be unique")
    val spark = postings.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (qid, ts) =>
      ts.distinct.zipWithIndex.map { case (t, r) => (qid, t, r) }
    }
    val termsDf = qt
      .toDF("query_id", "q_term", "trank")
      .select(
        col("query_id"),
        Hashing.hash60(col("q_term")).as("term_h"),
        col("q_term"),
        col("trank"))
    val tot = stats.agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    val matched = postings
      .filter(termHashPrune(qt.map(_._2).distinct))
      .join(broadcast(termsDf), Seq("term_h"))
      .filter(col("term") === col("q_term")) // 60-bit collision guard
      .select(col("query_id"), col("term"), col("trank"), col("doc_id"), col("tf"), col("dl"))
    val dfs = matched.groupBy(col("query_id"), col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val tfd   = col("tf").cast("double")
    val idfSurrogate = ((col("n_docs") - col("df")) + lit(0.5)) / (col("df") + lit(0.5))
    // classic mode: plain `1.0 +` then ln (see bm25Scored — the oracle
    // evaluates LN(1 + x) on the identical argument double)
    val idf = if (classicIdf) log(lit(1.0) + idfSurrogate) else idfSurrogate
    val tfw = (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    matched
      .join(broadcast(dfs), Seq("query_id", "term"))
      .crossJoin(broadcast(tot)) // one row: N, sum_dl
      .withColumn("contrib", idf * tfw)
      .groupBy(col("query_id"), col("doc_id"), col("dl"))
      .agg(
        count(lit(1)).as("n_matched"),
        array_sort(collect_list(struct(col("trank"), col("contrib")))).as("cs"))
      .withColumn(
        "score",
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("contrib")))
  }

  /** Index-free percolation of a document batch against standing
    * queries — the STREAMING side of `matchQueries`: a new doc should
    * match standing alerts the moment it arrives, before any index
    * append. Entirely stateless and narrow (tokenize, explode the
    * literal query array, `forall`/`array_contains` — all codegen'd,
    * no state store, no watermark), so it runs unchanged on a static
    * frame or inside `readStream`-driven micro-batches; StreamingSpec
    * proves stream-accumulated matches == one `matchQueries` pass
    * over the same docs' index.
    */
  def percolate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Long, Seq[String])]): DataFrame = {
    require(queries.nonEmpty, "percolation needs at least one standing query")
    require(queries.forall(_._2.nonEmpty), "every standing query needs at least one term")
    val qlit = array(queries.map { case (qid, ts) =>
      struct(lit(qid).as("query_id"), array(ts.distinct.map(lit(_)): _*).as("terms"))
    }: _*)
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), col("tk"), explode(qlit).as("q"))
      .filter(forall(col("q.terms"), t => array_contains(col("tk"), t)))
      .select(col("q.query_id").as("query_id"), col("doc_id"))
  }

  /** Faceted search: for docs matching ANY query term, count matches
    * per facet value — the result-decoration query every search UI
    * runs next to its hit list. The inverted side finds the match SET
    * (pruned scan, broadcast terms join, distinct doc_id), then the
    * FORWARD table supplies the metadata: a doc_id-keyed join against
    * the doc_id-bucketed forward layout in which only the slim
    * match-set side exchanges — the forward side reads co-partitioned
    * (plan-asserted in RetrievalSpec) — and the corpus text is never
    * rescanned. Facet aggregation then runs over |matches| rows with
    * map-side partials.
    */
  def facetCounts(
      postings: DataFrame,
      forward: DataFrame,
      terms: Seq[String],
      facetCols: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "faceted search needs at least one term")
    require(facetCols.nonEmpty, "faceted search needs at least one facet column")
    val spark = postings.sparkSession
    import spark.implicits._
    val termsDf = terms.distinct
      .toDF("q_term")
      .select(Hashing.hash60(col("q_term")).as("term_h"), col("q_term"))
    val hits = postings
      .filter(termHashPrune(terms.distinct))
      .join(broadcast(termsDf), Seq("term_h"))
      .filter(col("term") === col("q_term")) // 60-bit collision guard
      .select(col("doc_id"))
    // ONE exchange for the whole decoration: key the slim hit set by
    // doc_id AT THE FORWARD TABLE'S BUCKET WIDTH, so the dedup
    // aggregate reuses that partitioning and the join reads the
    // forward buckets co-partitioned with no exchange on either side.
    // Without the width match, the hit set's aggregate partitioning
    // (shuffle-partitions-wide) outvotes the bucketed side and the
    // planner shuffles the FORWARD table — the corpus-sized side —
    // and disables its bucketed scan (observed; RetrievalSpec pins
    // the fixed shape).
    val matched = bucketCount(forward) match {
      case Some(b) => hits.repartition(b, col("doc_id")).dropDuplicates("doc_id")
      case None    => hits.distinct()
    }
    matched
      .join(forward.select((col("doc_id") +: facetCols.map(col)): _*), Seq("doc_id"))
      .groupBy(facetCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(facetCols.map(col): _*)
  }

  /** Faceted search over a DENORMALIZED-facets index (`writeIndex`
    * with `denormFacets = true`): the matched postings already carry
    * the facet columns, so decoration needs NO forward table and NO
    * join — one doc_id-keyed dedup (a doc matching k query terms
    * appears k times) and a map-side-partial facet aggregation. The
    * trade against `facetCounts`' forward shape is index bytes (each
    * facet string repeats per distinct term of its doc) vs one fewer
    * table and one fewer join — measured head-to-head on the paired
    * ladder in ProfileR13Facets; the adoption decision is recorded in
    * ARCHITECTURE.
    */
  def facetCountsDenorm(postings: DataFrame, terms: Seq[String], facetCols: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "faceted search needs at least one term")
    require(facetCols.nonEmpty, "faceted search needs at least one facet column")
    val spark = postings.sparkSession
    import spark.implicits._
    val termsDf = terms.distinct
      .toDF("q_term")
      .select(Hashing.hash60(col("q_term")).as("term_h"), col("q_term"))
    postings
      .filter(termHashPrune(terms.distinct))
      .join(broadcast(termsDf), Seq("term_h"))
      .filter(col("term") === col("q_term")) // 60-bit collision guard
      .select(col("doc_id") +: facetCols.map(col): _*)
      .dropDuplicates("doc_id")
      .groupBy(facetCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(facetCols.map(col): _*)
  }

  /** Bucket count of a DataFrame backed by a bucketed file relation
    * (None when unbucketed — e.g. an ad-hoc frame in tests).
    */
  private def bucketCount(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.bucketSpec.map(_.numBuckets)
          case _ => None
        }
    }.flatten

  // ---------- positional index (phrase queries) ----------

  private def posTableName(name: String)        = s"${name}_pospostings"
  private def posMarkersTableName(name: String) = s"${name}_posmarkers"

  /** POSITIONAL posting rows: one row per (doc, distinct term) carrying
    * the SORTED 1-based position list of every occurrence — the classic
    * IR layout for phrase/proximity queries. Same build shape as
    * `postings` (one shuffle keyed by (doc_id, term), build-time only);
    * the positions array replaces the bare tf (tf == size(positions),
    * so this table strictly generalizes the frequency index).
    */
  def positionalPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"), posexplode(col("tk")).as(Seq("pos", "term")))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(sort_array(collect_list(col("pos") + 1)).as("positions"))
      .select(
        Hashing.hash60(col("term")).as("term_h"),
        col("term"),
        col("doc_id"),
        col("positions"),
        col("dl"))

  /** Build the positional index under the same bucketing contract as the
    * frequency index: bucketed+sorted by `term_h`, so a phrase's term
    * lookups read co-partitioned with zero index-side exchange.
    */
  def writePositionalIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      path: String,
      buckets: Int): Unit = {
    Layout.bucketize(
      positionalPostings(docs, idCol, textCol), posTableName(name), s"$path/pospostings", Seq("term_h"), buckets)
    // empty (batch_id, kind) commit log: the positional analogue of
    // the stats table's marker role (the positional index carries no
    // corpus stats, so idempotent streaming appends — and deletes,
    // whose markers must SURVIVE the tombstone-clearing compaction —
    // need their own log; see IndexLifecycle)
    IndexLifecycle.writeEmptyMarkers(
      docs.sparkSession, posMarkersTableName(name), s"$path/posmarkers")
    // tombstone table: CREATE-if-absent (not overwrite) — a positional
    // side built next to an existing frequency index under the same
    // name must not clear that index's live deletions. writeIndex (the
    // primary build) is the one that resets the set.
    if (!docs.sparkSession.catalog.tableExists(tombsTableName(name)))
      writeEmptyTombs(docs.sparkSession, name, path)
  }

  /** Append a batch to the positional index — same append-only bucket
    * contract as `appendBatch` (new bucket files under the existing
    * spec, nothing rewritten), idempotent against the marker log with
    * `batchId >= 0` (`IndexLifecycle.appendMarked`). Null-text rows
    * are screened from the tombstone guard exactly as the append
    * itself screens them.
    */
  def appendPositionalBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      batchId: Long = -1L): Boolean =
    IndexLifecycle.appendMarked(
      docs.sparkSession, posMarkersTableName(name), tombsTableName(name), "doc_id",
      docs.filter(col(textCol).isNotNull), idCol, s"appendPositionalBatch($name)", batchId) {
      Layout.append(positionalPostings(docs, idCol, textCol), posTableName(name))
    }

  /** Maintain the positional index from a stream: each micro-batch is
    * an idempotent `appendPositionalBatch`.
    */
  def maintainPositionalFromStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      name: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    IndexLifecycle.foreachBatch(docs, Seq(posTableName(name), posMarkersTableName(name)))(
      (batch, batchId) => appendPositionalBatch(batch, idCol, textCol, name, batchId))

  def positionalTable(spark: SparkSession, name: String): DataFrame =
    spark.table(posTableName(name))

  /** Exact phrase search over the positional index: top-`k` docs
    * containing the token sequence `phrase` consecutively, ranked by
    * occurrence count. Occurrence counting is OVERLAP-CORRECT (a doc
    * "a a a" contains phrase "a a" twice) — the substring/replace
    * tricks a non-positional engine falls back on are not.
    *
    * Plan shape mirrors `bm25TopK`: the distinct phrase terms broadcast
    * against the bucketed positional scan (zero index-side exchange —
    * same RetrievalSpec-style assert applies), then ONE shuffle keyed
    * by doc_id carrying at most |distinct terms| slim rows per matching
    * doc. Adjacency itself is array arithmetic, never a per-position
    * join: a phrase occurrence starting at p needs p+i in
    * positions(term_i) for every offset i, so the start set is the
    * intersection of the offset-SHIFTED position arrays — a fold of
    * `array_intersect(acc, transform(positions_i, x -> x - i))`, all
    * integer ops, bit-exact by construction. Duplicate terms in the
    * phrase ("the same the") are legal: offsets key the fold, terms
    * only key the (deduped) index lookup.
    */
  /** Proximity search over the positional index: top-`k` docs
    * containing BOTH terms, ranked by co-occurrence density — `n_near`
    * (occurrence pairs within `window` tokens, descending), then
    * `min_gap` (closest pair, ascending), then doc_id. The
    * sentence-/window-level "terms actually appear TOGETHER" signal
    * that neither bag-of-words BM25 (any distance) nor exact phrase
    * (distance exactly 1, fixed order) expresses.
    *
    * Same plan as `phraseTopK` up to the per-doc map; the scores are
    * native two-pointer expressions over the sorted position arrays
    * (`ShingleOps.sortedPairsWithin` / `sortedMinAbsGap`, both
    * codegen'd O(|a|+|b|)) — the composable flatten-the-cross-product
    * forms are O(|a|·|b|) per doc, which at 100 TB is the difference
    * between a scan-bound and a compute-bound ranker. All-integer
    * scores: bit-exact against any engine by construction.
    */
  def proximityTopK(
      posPostings: DataFrame,
      termA: String,
      termB: String,
      window: Int,
      k: Int): DataFrame = {
    require(termA != termB, "proximity terms must differ (a==b would pair positions with themselves)")
    val spark = posPostings.sparkSession
    import spark.implicits._
    val termsDf = Seq(termA, termB)
      .toDF("q_term")
      .select(Hashing.hash60(col("q_term")).as("term_h"), col("q_term"))
    val matched = posPostings
      .filter(termHashPrune(Seq(termA, termB)))
      .join(broadcast(termsDf), Seq("term_h"))
      .filter(col("term") === col("q_term")) // 60-bit collision guard
      .select(col("doc_id"), col("term"), col("positions"))
    matched
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        map_from_entries(collect_list(struct(col("term"), col("positions")))).as("pm"))
      .filter(col("n_terms") === 2)
      .select(
        col("doc_id"),
        graft.functions.ShingleExpressions
          .sortedPairsWithin(
            element_at(col("pm"), termA), element_at(col("pm"), termB), lit(window.toLong))
          .as("n_near"),
        graft.functions.ShingleExpressions
          .sortedMinAbsGap(element_at(col("pm"), termA), element_at(col("pm"), termB))
          .as("min_gap"))
      .orderBy(col("n_near").desc, col("min_gap"), col("doc_id"))
      .limit(k)
  }

  def phraseTopK(posPostings: DataFrame, phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val spark = posPostings.sparkSession
    import spark.implicits._
    val termsDf = phrase.distinct
      .toDF("q_term")
      .select(Hashing.hash60(col("q_term")).as("term_h"), col("q_term"))
    val matched = posPostings
      .filter(termHashPrune(phrase.distinct))
      .join(broadcast(termsDf), Seq("term_h"))
      .filter(col("term") === col("q_term")) // 60-bit collision guard
      .select(col("doc_id"), col("term"), col("positions"))
    val pmap = matched
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        map_from_entries(collect_list(struct(col("term"), col("positions")))).as("pm"))
      .filter(col("n_terms") === phrase.distinct.size) // every phrase term present
    val starts = phrase.zipWithIndex.tail.foldLeft(element_at(col("pm"), phrase.head)) {
      case (acc, (tm, i)) =>
        array_intersect(acc, transform(element_at(col("pm"), tm), x => x - i))
    }
    pmap
      .withColumn("starts", starts)
      .select(
        col("doc_id"),
        size(col("starts")).cast("long").as("n_occ"),
        array_min(col("starts")).cast("long").as("first_pos"))
      .filter(col("n_occ") > 0)
      .orderBy(col("n_occ").desc, col("doc_id"))
      .limit(k)
  }

  /** Boolean retrieval over the persisted index: docs containing ALL
    * `must` terms and NONE of the `mustNot` terms. Entirely
    * index-shaped: the must-side is relational division over the
    * posting join (doc's matched-term count == |must|), the not-side
    * one anti-join on the excluded terms' postings — the corpus is
    * never scanned, and both term frames broadcast against the
    * bucketed layout with zero index-side exchange.
    */
  def booleanSearch(postings: DataFrame, must: Seq[String], mustNot: Seq[String]): DataFrame = {
    require(must.nonEmpty, "boolean search needs at least one must-term")
    val spark = postings.sparkSession
    import spark.implicits._
    def termsDf(ts: Seq[String]) =
      ts.toDF("q_term").select(Hashing.hash60(col("q_term")).as("term_h"), col("q_term"))
    val mTerms = must.distinct
    val hasAll = postings
      .filter(termHashPrune(mTerms))
      .join(broadcast(termsDf(mTerms)), Seq("term_h"))
      .filter(col("term") === col("q_term")) // 60-bit collision guard
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === mTerms.size)
      .select(col("doc_id"), col("dl"))
    val out =
      if (mustNot.isEmpty) hasAll
      else {
        val excluded = postings
          .filter(termHashPrune(mustNot.distinct))
          .join(broadcast(termsDf(mustNot.distinct)), Seq("term_h"))
          .filter(col("term") === col("q_term"))
          .select(col("doc_id"))
        hasAll.join(excluded, Seq("doc_id"), "left_anti")
      }
    out.orderBy(col("doc_id"))
  }

  /** Ad-hoc ranked retrieval over the persisted index: top-`k` docs
    * (among docs matching >= 1 term) for an ARBITRARY terms list, by
    * the same BM25-style score as d45.
    *
    * Plan shape: the terms frame (broadcast-sized by construction)
    * hash-joins the postings on `term_h` — with the bucketed layout the
    * index side never exchanges even when broadcast is off (SMJ reads
    * the buckets co-partitioned; RetrievalSpec plan assert). Everything
    * downstream of the join touches ONLY the queried terms' postings:
    * df is a count over them, the corpus stats total is an O(#batches)
    * broadcast row, per-doc scores group matched postings by doc, and
    * the top-k is a TakeOrderedAndProject — the full corpus is never
    * rescanned.
    *
    * Bit-exactness: contributions fold in query-term-rank order from an
    * exact 0.0 (rank-sorted `aggregate`), which is the same IEEE tree
    * as d45's fixed-order column sum because a zero-tf term's
    * contribution there is exact 0.0 and `x + 0.0 == x`.
    */
  def bm25TopK(postings: DataFrame, stats: DataFrame, terms: Seq[String], k: Int): DataFrame =
    bm25Scored(postings, stats, terms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Keyset (search-after) pagination over ranked results: the page
    * AFTER cursor `(afterScore, afterDoc)` — the last row of the
    * previous page — in the strict total order (score DESC, doc_id
    * ASC; doc_id is unique, so the order has no ties). OFFSET
    * pagination re-ranks and discards every earlier page; the cursor
    * predicate makes page N cost exactly page 1 (same pruned scan,
    * same TakeOrderedAndProject), which at 100 TB is the only
    * paginate-able shape. Score doubles are bit-exact across engines
    * (the established IEEE tree), so the cursor cut is too.
    */
  def bm25TopKAfter(
      postings: DataFrame,
      stats: DataFrame,
      terms: Seq[String],
      k: Int,
      afterScore: Double,
      afterDoc: Long): DataFrame =
    bm25Scored(postings, stats, terms)
      .filter(
        col("score") < afterScore ||
          (col("score") === afterScore && col("doc_id") > afterDoc))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** CLASSIC (Lucene-style) BM25 scoring mode — opt-in alternative to
    * the log-free idf surrogate: idf = ln(1 + (N − df + 0.5)/(df + 0.5))
    * (non-negative by construction, the formulation Lucene ships). The
    * surrogate is per-term rank-EQUIVALENT (its idf is a monotone map
    * of df) and bit-exact against any SQL engine, but its multi-term
    * SUM weighs terms differently than the ln form — a user coming
    * from a Lucene-class engine expects these orderings. Plan shape is
    * identical to `bm25TopK` (same pruned scan, same broadcast joins,
    * same rank-sorted fold); only the idf factor changes.
    *
    * Oracle note (measured, round 13): JVM `Math.log` and DuckDB/glibc
    * `ln` are each correctly-rounded-to-~1ulp but NOT bit-identical —
    * 1 divergence in 2077 realistic idf arguments (and `StrictMath.log`
    * diverges on ~7%). A transcendental score therefore cannot be
    * hash-gated raw; the d65 gate rounds to 5 decimals on both engines
    * and returns ALL matching docs (membership is integer-exact, so no
    * rank-boundary risk), with the gate itself REFUSING if any raw
    * score sits within 1e-8 grid units of a rounding half-boundary.
    * Calibration (measured at sf0.01): cross-engine divergence ≤
    * ~1e-10 grid units (three 1-ulp ln terms + the multiply-vs-
    * decimal-string round-path difference), so 1e-8 is a 100× safety
    * margin; boundary distances are uniform with min ≈ 0.5/n_matches
    * (2.25e-4 observed at n≈2200), so the loud-refusal probability
    * stays ~4e-3 even at sf1 — and a refusal is an explicit error,
    * never a silent hash flip.
    */
  def bm25AllClassic(postings: DataFrame, stats: DataFrame, terms: Seq[String]): DataFrame =
    bm25Scored(postings, stats, terms, classicIdf = true)
      .select(
        col("doc_id"),
        col("dl"),
        col("n_matched"),
        round(col("score"), 5).as("score_r"))
      .orderBy(col("doc_id"))

  /** Raw-score classic frame (unrounded) — what the d65 gate's grid
    * guard and RetrievalSpec's bit-exactness leg read.
    */
  def bm25ScoredClassic(postings: DataFrame, stats: DataFrame, terms: Seq[String]): DataFrame =
    bm25Scored(postings, stats, terms, classicIdf = true)

  /** Top-k form of the classic mode (the interactive shape; rank
    * agreement vs the surrogate is reported in RetrievalSpec).
    */
  def bm25TopKClassic(postings: DataFrame, stats: DataFrame, terms: Seq[String], k: Int): DataFrame =
    bm25Scored(postings, stats, terms, classicIdf = true)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Classic-mode top-k ranked ON THE ROUNDED GRID — how the epsilon-
    * oracle technique composes with rank cuts (VERDICT r13 #5): a raw
    * transcendental score can flip an ORDER at a cut boundary under a
    * 1-ulp libm divergence, so an oracle-checkable page must take its
    * cut in a space both engines agree on bit-for-bit. Under d65's
    * margin guard (no raw score within 1e-8 grid units of a rounding
    * half-boundary) the 5-decimal-rounded scores are cross-engine
    * IDENTICAL, and `(score_r DESC, doc_id)` is a strict total order
    * (doc_id is unique), so every rank — and therefore every page
    * boundary — is engine-independent. Ranking by the raw score and
    * returning it rounded would NOT compose: the round is monotone
    * but not injective, so two docs whose raw scores straddle a grid
    * point in opposite directions on the two engines could swap
    * around a page cut while their rounded scores still matched.
    */
  def bm25TopKClassicRounded(
      postings: DataFrame,
      stats: DataFrame,
      terms: Seq[String],
      k: Int): DataFrame =
    bm25Scored(postings, stats, terms, classicIdf = true)
      .withColumn("score_r", round(col("score"), 5))
      .orderBy(col("score_r").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("dl"), col("n_matched"), col("score_r"))

  /** Keyset (search-after) page of the rounded-grid classic ranking:
    * the page after cursor `(afterScoreR, afterDoc)` — the classic-
    * mode twin of `bm25TopKAfter`, with the cursor cut taken on the
    * rounded grid for the same reason the rank is (see
    * `bm25TopKClassicRounded`). Page N costs page 1: same pruned
    * scan, same TakeOrderedAndProject.
    */
  def bm25TopKClassicAfter(
      postings: DataFrame,
      stats: DataFrame,
      terms: Seq[String],
      k: Int,
      afterScoreR: Double,
      afterDoc: Long): DataFrame =
    bm25Scored(postings, stats, terms, classicIdf = true)
      .withColumn("score_r", round(col("score"), 5))
      .filter(
        col("score_r") < afterScoreR ||
          (col("score_r") === afterScoreR && col("doc_id") > afterDoc))
      .orderBy(col("score_r").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("dl"), col("n_matched"), col("score_r"))

  private def bm25Scored(
      postings: DataFrame,
      stats: DataFrame,
      terms: Seq[String],
      classicIdf: Boolean = false): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    // dedupe (order-preserving): a duplicated query term would join the
    // same posting twice — inflating n_matched and adding its
    // contribution twice — which no full-scan formulation would do
    val termsDf = terms.distinct.zipWithIndex
      .toDF("q_term", "trank")
      .select(Hashing.hash60(col("q_term")).as("term_h"), col("q_term"), col("trank"))
    val tot = stats.agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    val matched = postings
      .filter(termHashPrune(terms.distinct))
      .join(broadcast(termsDf), Seq("term_h"))
      // 60-bit hash collision guard: the layout key is the hash, the
      // semantic key is the term itself
      .filter(col("term") === col("q_term"))
      .select(col("term"), col("trank"), col("doc_id"), col("tf"), col("dl"))
    // df(term) == posting count of that term (one posting per doc) —
    // derived from the matched rows only, so it is exact after any
    // append without persisted-stat maintenance
    val dfs = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val tfd   = col("tf").cast("double")
    val idfSurrogate = ((col("n_docs") - col("df")) + lit(0.5)) / (col("df") + lit(0.5))
    // classic mode: plain `1.0 +` then ln — NOT log1p — so the oracle's
    // LN(1 + x) evaluates the identical argument double
    val idf = if (classicIdf) log(lit(1.0) + idfSurrogate) else idfSurrogate
    val tfw = (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    matched
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(tot)) // one row: N, sum_dl
      .withColumn("contrib", idf * tfw)
      .groupBy(col("doc_id"), col("dl"))
      .agg(
        count(lit(1)).as("n_matched"),
        array_sort(collect_list(struct(col("trank"), col("contrib")))).as("cs"))
      .withColumn(
        "score",
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("contrib")))
      .select(col("doc_id"), col("dl"), col("n_matched"), col("score"))
  }
}
