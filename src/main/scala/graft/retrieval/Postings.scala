package graft.retrieval

import graft.functions.{Hashing, TextAnalysis}
import graft.sources.{IndexLifecycle, Layout}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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

  /** The rows of a term-hash-bucketed index (frequency or positional)
    * for the distinct `terms`: the bucket-pruned scan joined to the
    * broadcast terms frame on `term_h`, keeping the index side's
    * partitioning (zero index-side exchange). The term string is the
    * 60-bit hash collision guard.
    */
  private def termPostings(index: DataFrame, terms: Seq[String]): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val ts = terms.distinct
    val termsDf = ts.toDF("q_term").select(Hashing.hash60(col("q_term")).as("term_h"), col("q_term"))
    index
      .filter(termHashPrune(ts))
      .join(broadcast(termsDf), Seq("term_h"))
      .filter(col("term") === col("q_term"))
  }

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
    IndexLifecycle.writeEmptyTombs(docs.sparkSession, layout(name), s"$path/tombs")
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

  /** The posting index's layout for the shared lifecycle: postings and
    * positional tables bucketed by term hash (a doc's rows span its
    * terms' buckets; delete-time masks `pb`/`xb`), the forward table
    * bucketed by doc id, the stats table and positional marker log as
    * commit logs, the dictionary as the side table its own hooks keep
    * exact and the fsck watermark fingerprints per file. The watermark
    * records live Σtf and rows per postings bucket and live rows per
    * forward bucket. Live count: the summed stats (exact, no scan), or
    * the distinct live docs of a stats-less index.
    */
  private def layout(name: String): IndexLifecycle.IndexLayout =
    IndexLifecycle.IndexLayout(
      tombs = tombsTableName(name),
      tombId = "doc_id",
      bucketed = Seq(
        IndexLifecycle.BucketedTable(postingsTableName(name), "term_h", "doc_id", Some("pb"),
          Some(IndexLifecycle.BucketAgg(sum(col("tf")), count(lit(1)), additive = true))),
        IndexLifecycle.BucketedTable(posTableName(name), "term_h", "doc_id", Some("xb")),
        IndexLifecycle.BucketedTable(forwardTableName(name), "doc_id", "doc_id",
          fsck = Some(IndexLifecycle.BucketAgg(count(lit(1)), count(lit(1)), additive = true)))),
      plain = Seq(statsTableName(name), posMarkersTableName(name)),
      side = Seq(dictTableName(name)),
      markerLog = Some(posMarkersTableName(name)),
      fsckFileLog = Some(dictTableName(name)),
      liveCount = spark =>
        if (spark.catalog.tableExists(statsTableName(name))) statsTotals(spark, name)._1
        else livePostings(spark, name).select(col("doc_id")).distinct().count(),
      hooks = new PostingsKind(name))

  /** What the posting index adds to the shared lifecycle.
    *
    * Dictionary exactness around the shared rewrites. Per-batch dict
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
    *
    * fsck invariants, each over the tables that exist:
    *
    *  - `stats_total_nonnegative` — the survivor totals N/sum_dl never
    *    sum negative (a negative total means a delete batch was applied
    *    twice or against never-indexed docs — the states the write-time
    *    guards refuse).
    *  - `sum_dl_equals_live_tf_sum` — Σ tf over the LIVE postings ==
    *    total sum_dl (Σ tf of a doc's postings is its dl by
    *    construction; token-less docs contribute 0 to both sides;
    *    deletion subtracts the same docs from both sides). The
    *    incremental check recombines it from the watermark's per-bucket
    *    Σtf.
    *  - `live_doc_count_le_stats_n` — distinct live posting docs ≤ N
    *    (token-less docs count in N but carry no postings); the
    *    incremental check runs its forward-decomposed form
    *    `live_forward_count_le_stats_n`.
    *  - `stats_markers_unique` — stats replay markers are unique per
    *    sign space.
    *  - `dict_df_covers_live_postings` — dictionary df partials ≥ the
    *    live posting count for every term (equality after a fresh build
    *    or compaction; between a delete and its compaction the partials
    *    legitimately overcount, never under). The incremental check
    *    runs a DELTA form: at the last green check dict ≥ live held per
    *    term and the tombstone set only shrinks live counts, so the
    *    invariant can only break where dict credit lags new postings.
    *    The sufficient per-term condition Σdf over ADDED dict files ≥
    *    added live postings holds with equality in healthy operation;
    *    terms failing it, terms carrying NEGATIVE partials in added dict
    *    files and every term of a REWRITTEN bucket escalate to the exact
    *    per-term compare over their own buckets. A dict file REMOVED
    *    since the watermark forces the full form.
    *  - `forward_covers_posting_docs` — every live posting doc has a
    *    live forward row (the decoration join can't drop matches); the
    *    incremental check probes the docs of added and rewritten
    *    postings against exactly their doc buckets' forward files.
    *  - `dict_delta_pending` — a staged but unapplied dict credit (a
    *    crash inside a retirement or bucket defrag): reads stay correct
    *    and the dict conservative, but a credit is owed. The next
    *    retirement resolves it on every path (applies it when it
    *    verifies against its own persisted bucket set, condemns it
    *    otherwise — both before the tombstone clear), or the repair
    *    condemns and recounts.
    *
    * Repairs:
    *
    *  - `torn_delete_stats`: a delete whose tombstones landed but whose
    *    negative stats marker didn't is identified by batch id
    *    (tombstone batch ids with no negative stats row — ad-hoc `-1`
    *    deletes carry no replay identity and stay out of scope). The
    *    missing row derives from the index itself: every physical
    *    posting (and positional) row carries the doc's `dl`, and the
    *    tombstoned rows are still present before compaction — so
    *    `sum_dl` is the sum of per-doc dl over the batch's traceable
    *    docs, and `n_docs` counts docs with any trace (postings ∪
    *    positional ∪ forward; without a forward row a zero-token doc
    *    leaves no trace and the repair under-subtracts N, the
    *    conservative direction: every ≤-invariant still holds).
    *  - `dict_recount`: an under-counting dictionary is recounted from
    *    the live postings (`recountDict`).
    *  - `forward_orphans`: the missing forward rows are re-fetched from
    *    `corpus` (metadata was never in the postings); reported, not
    *    applied, without it.
    *  - `dict_delta_resolve`: a staging found at rest belongs to a
    *    crashed retirement whose rewrite may or may not have committed,
    *    so it is never applied (a wrong apply undercounts): it is
    *    condemned and the dictionary recounted. (Re-running the
    *    retirement is the cheap exact resolution — its keep-stale rule
    *    re-derives the answer from physical evidence.)
    */
  private final class PostingsKind(
      name: String,
      corpus: Option[DataFrame] = None,
      idCol: String = "doc_id",
      textCol: String = "text") extends IndexLifecycle.KindHooks {

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
        val raw = Layout.readFiles(spark, table, Layout.bucketFiles(spark, table, buckets))
          .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
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

    override def fsck(
        spark: SparkSession,
        scope: Option[IndexLifecycle.FsckScope]): Seq[IndexLifecycle.Finding] = {
      val hasStats = spark.catalog.tableExists(statsTableName(name))
      val hasPost  = spark.catalog.tableExists(postingsTableName(name))
      val hasDict  = spark.catalog.tableExists(dictTableName(name))
      val (n, dl)  = if (hasStats) statsTotals(spark, name) else (0L, 0L)
      val stats = if (!hasStats) Nil else {
        val dups = statsTable(spark, name)
          .filter(col("batch_id") >= 0)
          .groupBy(col("batch_id"), (col("n_docs") > 0).as("is_append"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
        Seq(
          ("stats_total_nonnegative", n >= 0L && dl >= 0L, s"N=$n sum_dl=$dl"),
          ("stats_markers_unique", dups == 0, s"$dups duplicated batch markers"))
      }
      val invariants = scope match {
        case None    => if (hasPost) fullInvariants(spark, hasStats, hasDict, n, dl) else Nil
        case Some(s) => scopedInvariants(spark, s, hasStats, hasDict, n, dl)
      }
      val pending = if (!hasDict) Nil else {
        val p = pendingDictDeltas(spark, name).map(_.getName)
        Seq(("dict_delta_pending", p.isEmpty,
          if (p.isEmpty) "no staged dict credit awaiting apply"
          else s"staged dict credit awaiting resolution (${p.mkString(", ")}) — " +
            "re-run retireTombstones/maintainIncremental (applies or condemns it), " +
            "or repairIndex condemns + recounts"))
      }
      stats ++ invariants ++ pending
    }

    private def fullInvariants(
        spark: SparkSession,
        hasStats: Boolean,
        hasDict: Boolean,
        n: Long,
        dl: Long): Seq[IndexLifecycle.Finding] = {
      val totals = if (!hasStats) Nil else {
        val tfR    = livePostings(spark, name).agg(sum(col("tf"))).head()
        val liveTf = if (tfR.isNullAt(0)) 0L else tfR.getLong(0)
        val liveDocs = livePostings(spark, name).select(col("doc_id")).distinct().count()
        Seq(
          ("sum_dl_equals_live_tf_sum", liveTf == dl, s"sum(tf)=$liveTf sum_dl=$dl"),
          ("live_doc_count_le_stats_n", liveDocs <= n, s"live_docs=$liveDocs N=$n"))
      }
      val dict = if (!hasDict) Nil else {
        val under = underCountedTerms(spark, name)
        Seq(("dict_df_covers_live_postings", under == 0, s"$under under-counted terms"))
      }
      val fwd = if (!spark.catalog.tableExists(forwardTableName(name))) Nil else {
        val orphans = forwardOrphans(spark, name).count()
        Seq(("forward_covers_posting_docs", orphans == 0, s"$orphans posting docs missing forward rows"))
      }
      totals ++ dict ++ fwd
    }

    private def scopedInvariants(
        spark: SparkSession,
        s: IndexLifecycle.FsckScope,
        hasStats: Boolean,
        hasDict: Boolean,
        n: Long,
        dl: Long): Seq[IndexLifecycle.Finding] = {
      val post = s.table(postingsTableName(name)).get
      val tf = if (!hasStats) Nil else {
        val liveTf = post.totals._1
        Seq(("sum_dl_equals_live_tf_sum", liveTf == dl,
          s"sum(tf)=$liveTf sum_dl=$dl (recombined: ${post.diff.unchanged.size} recorded, " +
            s"${post.diff.addedOnly.size} additive, ${post.diff.rewritten.size} recomputed buckets)"))
      }
      val fwd = s.table(forwardTableName(name)).toSeq.flatMap { f =>
        val bound = if (!hasStats) None else {
          val live = f.totals._1
          Some(("live_forward_count_le_stats_n", live <= n,
            s"live_forward=$live N=$n (forward-decomposed form of the distinct-doc bound)"))
        }
        bound.toSeq ++ post.delta.map(forwardCoverage(spark, _, f.numBuckets))
      }
      val dict = if (hasDict) Seq(dictCoverage(spark, s, post)) else Nil
      tf ++ fwd ++ dict
    }

    /** `forward_covers_posting_docs` for the docs of `rows`, probed
      * against exactly their doc buckets' forward files.
      */
    private def forwardCoverage(spark: SparkSession, rows: DataFrame, nbF: Int): IndexLifecycle.Finding = {
      val fwdT = forwardTableName(name)
      val docs = rows.select(col("doc_id")).distinct()
      val docBuckets = docs
        .select(Layout.bucketIdExpr(col("doc_id"), nbF).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val orphans = Layout.readFiles(spark, fwdT, Layout.bucketFiles(spark, fwdT, docBuckets)) match {
        case None => docs.count()
        case Some(fwdRows) =>
          docs.join(notTombstoned(spark, name, fwdRows).select(col("doc_id")), Seq("doc_id"), "left_anti").count()
      }
      ("forward_covers_posting_docs", orphans == 0,
        s"$orphans delta posting docs missing forward rows (scoped to ${docBuckets.size} doc buckets)")
    }

    /** `dict_df_covers_live_postings`, delta form (see the class doc). */
    private def dictCoverage(
        spark: SparkSession,
        s: IndexLifecycle.FsckScope,
        post: IndexLifecycle.TableScope): IndexLifecycle.Finding =
      if (s.logRemoved.nonEmpty) {
        val under = underCountedTerms(spark, name)
        ("dict_df_covers_live_postings", under == 0,
          s"$under under-counted terms (full form: dict file set rewritten since watermark)")
      } else {
        val term = Seq("term_h", "term")
        val addedDict = Layout.readFiles(spark, dictTableName(name),
          s.logAdded.toSeq.map(graft.sources.FsckWatermark.filePath(spark, dictTableName(name), _)))
          .map(_.groupBy(term.map(col): _*).agg(sum(col("df")).as("added_df"), min(col("df")).as("min_df")))
        val deltaViol = post.added.map { rows =>
          val live = rows.groupBy(term.map(col): _*).agg(count(lit(1)).as("added_live"))
          addedDict.fold(live)(d =>
            live.join(d.select(col("term_h"), col("term"), col("added_df")), term, "left")
              .filter(coalesce(col("added_df"), lit(0L)) < col("added_live")))
            .select(term.map(col): _*)
        }
        val negTerms = addedDict.map(_.filter(col("min_df") < 0).select(term.map(col): _*))
        val rewrittenTerms = post.rewritten.map(_.select(term.map(col): _*).distinct())
        Seq(deltaViol, negTerms, rewrittenTerms).flatten.reduceOption(_ unionByName _).map(_.distinct()) match {
          case None =>
            ("dict_df_covers_live_postings", true,
              "delta condition holds vacuously (no added/rewritten postings, no dict partials)")
          case Some(terms) if terms.isEmpty =>
            ("dict_df_covers_live_postings", true,
              "delta condition held for every added term (added dict partials cover added postings)")
          case Some(terms) =>
            // exact per-term compare over the escalated terms' own
            // buckets (a term's postings live entirely in one bucket)
            val postT = postingsTableName(name)
            val tBuckets = terms
              .select(Layout.bucketIdExpr(col("term_h"), post.numBuckets).as("b"))
              .distinct().collect().map(_.getInt(0)).toSet
            val liveDf = Layout.readFiles(spark, postT, Layout.bucketFiles(spark, postT, tBuckets)) match {
              case None => terms.withColumn("live_df", lit(0L))
              case Some(rows) =>
                terms.join(
                  notTombstoned(spark, name, rows).groupBy(term.map(col): _*).agg(count(lit(1)).as("live_df")),
                  term, "left")
                  .select(col("term_h"), col("term"), coalesce(col("live_df"), lit(0L)).as("live_df"))
            }
            val under = dictSums(spark, name).join(liveDf, term, "right")
              .filter(coalesce(col("dict_df"), lit(0L)) < col("live_df"))
              .count()
            ("dict_df_covers_live_postings", under == 0,
              s"$under under-counted terms (exact compare over the escalated terms' buckets)")
        }
      }

    override def repairs(spark: SparkSession): Seq[IndexLifecycle.Finding] = {
      val hasPost = spark.catalog.tableExists(postingsTableName(name))
      val hasDict = spark.catalog.tableExists(dictTableName(name))
      val torn =
        if (spark.catalog.tableExists(statsTableName(name)) && spark.catalog.tableExists(tombsTableName(name)))
          tornDeleteStats(spark)
        else Nil
      val recount = if (!(hasDict && hasPost)) Nil else {
        val under = underCountedTerms(spark, name)
        if (under == 0) Seq(("dict_recount", false, "dictionary covers live postings"))
        else {
          recountDict(spark, name)
          Seq(("dict_recount", true, s"$under under-counted terms recounted from live postings"))
        }
      }
      val orphans =
        if (hasPost && spark.catalog.tableExists(forwardTableName(name))) Seq(refetchForward(spark)) else Nil
      val staged = if (!hasDict) Nil else {
        val pending = pendingDictDeltas(spark, name)
        if (pending.isEmpty) Seq(("dict_delta_resolve", false, "no staged dict credit awaiting apply"))
        else {
          condemnDictDeltas(spark, name)
          recountDict(spark, name)
          Seq(("dict_delta_resolve", true,
            s"${pending.size} pending staging(s) condemned; dictionary recounted from live postings"))
        }
      }
      torn ++ recount ++ orphans ++ staged
    }

    /** `torn_delete_stats`: write each torn delete batch's missing
      * negative stats row (see the class doc).
      */
    private def tornDeleteStats(spark: SparkSession): Seq[IndexLifecycle.Finding] = {
      import spark.implicits._
      val torn = spark.table(tombsTableName(name))
        .filter(col("batch_id") >= 0).select(col("batch_id")).distinct()
        .join(
          statsTable(spark, name).filter(col("n_docs") < 0).select(col("batch_id")),
          Seq("batch_id"), "left_anti")
        .as[Long].collect().sorted
      if (torn.isEmpty) return Seq(("torn_delete_stats", false, "no torn delete batches"))
      val hasPos = spark.catalog.tableExists(posTableName(name))
      val hasFwd = spark.catalog.tableExists(forwardTableName(name))
      torn.toSeq.map { b =>
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
        if (n == 0L) ("torn_delete_stats", false, s"batch $b: no traceable docs — replay the delete batch manually")
        else {
          spark.range(1)
            .select(lit(-n).as("n_docs"), lit(-s).as("sum_dl"), lit(b).as("batch_id"))
            .write.mode("append").insertInto(statsTableName(name))
          ("torn_delete_stats", true, s"batch $b: restored n_docs=-$n sum_dl=-$s")
        }
      }
    }

    /** `forward_orphans`: re-fetch the missing forward rows from `corpus`. */
    private def refetchForward(spark: SparkSession): IndexLifecycle.Finding = {
      val orphanIds = forwardOrphans(spark, name)
      val nOrphans = orphanIds.count()
      if (nOrphans == 0) ("forward_orphans", false, "forward covers all posting docs")
      else
        corpus match {
          case None =>
            ("forward_orphans", false,
              s"$nOrphans orphaned posting docs — pass the corpus frame to re-fetch their forward rows")
          case Some(c) =>
            val metaCols = spark.table(forwardTableName(name)).columns.filterNot(_ == "doc_id").toSeq
            Layout.append(
              forwardRows(c, idCol, textCol, metaCols).join(orphanIds, Seq("doc_id"), "left_semi"),
              forwardTableName(name))
            ("forward_orphans", true, s"$nOrphans forward rows re-fetched from the corpus")
        }
    }
  }

  /** The summed stats `(N, sum_dl)`, nulls read as 0. */
  private def statsTotals(spark: SparkSession, name: String): (Long, Long) = {
    val r = statsTable(spark, name).agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Per-term summed dictionary df. */
  private def dictSums(spark: SparkSession, name: String): DataFrame =
    dictTable(spark, name).groupBy(col("term_h"), col("term")).agg(sum(col("df")).as("dict_df"))

  /** Terms whose summed dictionary df is below their live posting count. */
  private def underCountedTerms(spark: SparkSession, name: String): Long =
    dictSums(spark, name)
      .join(
        livePostings(spark, name).groupBy(col("term_h"), col("term")).agg(count(lit(1)).as("live_df")),
        Seq("term_h", "term"), "right")
      .filter(coalesce(col("dict_df"), lit(0L)) < col("live_df"))
      .count()

  /** Distinct live posting docs without a live forward row. */
  private def forwardOrphans(spark: SparkSession, name: String): DataFrame =
    livePostings(spark, name).select(col("doc_id")).distinct()
      .join(liveForward(spark, name).select(col("doc_id")), Seq("doc_id"), "left_anti")

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

  /** Maintenance consistency check (fsck), run at rest: the posting
    * invariants (`PostingsKind`) over every live row plus the rows every
    * index has, one `(check, ok, detail)` row each. A torn delete
    * (tombstones landed, stats marker didn't) shows up as
    * `sum_dl_equals_live_tf_sum = false` — the replay an operator owes.
    * See `IndexLifecycle.check`.
    */
  def checkIndex(spark: SparkSession, name: String): DataFrame =
    IndexLifecycle.check(spark, layout(name))

  /** Maintenance-cadence fsck: `checkIndex`'s invariants at a cost that
    * tracks the bytes written since the last green check, with a
    * periodic full `checkIndex` for what the file watermark trusts. See
    * `IndexLifecycle.checkIncremental`.
    */
  def checkIndexIncremental(spark: SparkSession, name: String): DataFrame =
    IndexLifecycle.checkIncremental(spark, layout(name))

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

  /** The dict-delta stagings on disk, fresh and mid-apply. */
  private def pendingDictDeltas(spark: SparkSession, name: String): Seq[org.apache.hadoop.fs.Path] = {
    val scratch = dictDeltaPath(spark, name)
    val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(scratch, new org.apache.hadoop.fs.Path(scratch.toString + ".applying")).filter(fs.exists)
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
    Layout.rewritePlain(spark, dictTableName(name))(_ =>
      postingsRows.groupBy(col("term_h"), col("term")).agg(count(lit(1)).as("df")).sort(col("term")))
    condemnDictDeltas(spark, name)
  }

  /** fsck that HEALS: the journal replay, the posting repairs
    * (`PostingsKind`) and the marker-log dedup, one `(repair, applied,
    * detail)` row each. `corpus` (with its id and text columns) is where
    * forward orphans re-fetch their rows; without it they are reported,
    * not repaired. See `IndexLifecycle.repair`.
    */
  def repairIndex(
      spark: SparkSession,
      name: String,
      corpus: Option[DataFrame] = None,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    IndexLifecycle.repair(spark, layout(name).copy(hooks = new PostingsKind(name, corpus, idCol, textCol)))

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
    val hits = termPostings(postings, terms).select(col("doc_id"))
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
    termPostings(postings, terms)
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
      IndexLifecycle.writeEmptyTombs(docs.sparkSession, layout(name), s"$path/tombs")
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
    val matched = termPostings(posPostings, Seq(termA, termB))
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
    val matched = termPostings(posPostings, phrase)
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
    val mTerms = must.distinct
    val hasAll = termPostings(postings, mTerms)
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === mTerms.size)
      .select(col("doc_id"), col("dl"))
    val out =
      if (mustNot.isEmpty) hasAll
      else {
        val excluded = termPostings(postings, mustNot).select(col("doc_id"))
        hasAll.join(excluded, Seq("doc_id"), "left_anti")
      }
    out.orderBy(col("doc_id"))
  }

  // ---------- BM25 ranked retrieval ----------
  // Every public form is a projection of ONE scoring core, `bm25Core`
  // (a single query is the one-query batch query_id = 0): a raw or
  // grid-rounded rank key, an optional keyset cursor, a top-k cut.

  /** Ad-hoc ranked retrieval over the persisted index: top-`k` docs
    * (among docs matching >= 1 term) for an ARBITRARY terms list, by
    * the same BM25-style score as d45.
    *
    * Plan shape (the core's, see `bm25Core`): one pruned scan of the
    * queried terms' buckets joins the broadcast terms relation hash-
    * keyed with zero index-side exchange (RetrievalSpec plan assert);
    * df is a window count over that same bucketed scan, the corpus
    * totals ride the broadcast terms rows, per-doc scores group the
    * matched postings by doc (the only shuffle), and the top-k is a
    * TakeOrderedAndProject — the full corpus is never rescanned.
    *
    * Bit-exactness: contributions fold in query-term-rank order from an
    * exact 0.0 (rank-sorted `aggregate`), which is the same IEEE tree
    * as d45's fixed-order column sum because a zero-tf term's
    * contribution there is exact 0.0 and `x + 0.0 == x`.
    */
  def bm25TopK(postings: DataFrame, stats: DataFrame, terms: Seq[String], k: Int): DataFrame =
    topK(bm25Scored(postings, stats, terms), k)

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
    topK(bm25Scored(postings, stats, terms), k, after = Some((afterScore, afterDoc)))

  /** CLASSIC (Lucene-style) BM25 scoring mode — opt-in alternative to
    * the log-free idf surrogate: idf = ln(1 + (N − df + 0.5)/(df + 0.5))
    * (non-negative by construction, the formulation Lucene ships). The
    * surrogate is per-term rank-EQUIVALENT (its idf is a monotone map
    * of df) and bit-exact against any SQL engine, but its multi-term
    * SUM weighs terms differently than the ln form — a user coming
    * from a Lucene-class engine expects these orderings. Plan shape is
    * identical to `bm25TopK`; only the idf factor changes.
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
      .select(col("doc_id"), col("dl"), col("n_matched"), gridScore.as("score_r"))
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
    topK(bm25Scored(postings, stats, terms, classicIdf = true), k)

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
    topK(bm25Scored(postings, stats, terms, classicIdf = true), k, rounded = true)

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
    topK(bm25Scored(postings, stats, terms, classicIdf = true), k,
      rounded = true, after = Some((afterScoreR, afterDoc)))

  /** SCORED multi-query retrieval: per-query BM25 top-`k` for MANY
    * standing queries in ONE pass over the posting index — the ranked
    * form of `matchQueries` (alerts that want their best hits, not
    * just membership). It is the core itself over the whole batch: one
    * pruned scan of the union of standing terms, one shuffle keyed
    * (query_id, doc_id) for the score fold, then a per-query window
    * over the already-aggregated frame (bounded by matches, never the
    * corpus). Each (query, term) pairing joins the term's identical
    * posting set, so its df is the term's live posting count and every
    * score equals `bm25TopK`'s for that query, bit for bit.
    */
  def bm25MultiTopK(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame =
    topK(bm25MultiScored(postings, stats, queries), k)

  /** Raw classic-mode multi-query scores (the frame d69's margin
    * guard reads — one row per (query, matching doc)).
    */
  def bm25MultiScoredClassic(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])]): DataFrame =
    bm25MultiScored(postings, stats, queries, classicIdf = true)

  /** CLASSIC-mode ranked multi-query retrieval ON THE ROUNDED GRID —
    * the per-query-rank-cut composition of the d65 epsilon-oracle
    * technique (the keyset composition is `bm25TopKClassicAfter`):
    * each standing query's top-k is ranked by `(score_r DESC,
    * doc_id)` where score_r is the 5-decimal round, so under the
    * margin guard every per-query rank cut lands on the identical
    * row set on any engine.
    */
  def bm25MultiTopKClassicRounded(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame =
    topK(bm25MultiScored(postings, stats, queries, classicIdf = true), k, rounded = true)

  /** The 5-decimal grid the classic forms rank and return on. */
  private def gridScore: Column = round(col("score"), 5)

  /** Top `k` of scored rows by `(key DESC, doc_id)`, `key` being the
    * raw `score` or its grid round `score_r`, optionally strictly after
    * a keyset cursor on that key. A frame with a `query_id` column is
    * cut per query (row_number over the aggregated match frame) and
    * ordered by query first; otherwise the cut is one
    * TakeOrderedAndProject.
    */
  private def topK(
      scored: DataFrame,
      k: Int,
      rounded: Boolean = false,
      after: Option[(Double, Long)] = None): DataFrame = {
    val key = if (rounded) "score_r" else "score"
    val keyed = if (rounded) scored.withColumn(key, gridScore).drop("score") else scored
    val paged = after.fold(keyed) { case (s, d) =>
      keyed.filter(col(key) < s || (col(key) === s && col("doc_id") > d))
    }
    val order = Seq(col(key).desc, col("doc_id"))
    if (!scored.columns.contains("query_id")) paged.orderBy(order: _*).limit(k)
    else
      paged
        .withColumn("rk", row_number().over(Window.partitionBy(col("query_id")).orderBy(order: _*)))
        .filter(col("rk") <= k)
        .drop("rk")
        .orderBy(col("query_id") +: order: _*)
  }

  /** One query's scored rows `(doc_id, dl, n_matched, score)`. */
  private def bm25Scored(
      postings: DataFrame,
      stats: DataFrame,
      terms: Seq[String],
      classicIdf: Boolean = false): DataFrame =
    bm25Core(postings, stats, Seq(0L -> terms), classicIdf).drop("query_id")

  /** A standing-query batch's scored rows `(query_id, doc_id, dl,
    * n_matched, score)`. */
  private def bm25MultiScored(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])],
      classicIdf: Boolean = false): DataFrame = {
    require(queries.nonEmpty, "scored multi-query retrieval needs at least one standing query")
    require(queries.forall(_._2.nonEmpty), "every standing query needs at least one term")
    require(queries.map(_._1).distinct.size == queries.size, "standing query ids must be unique")
    bm25Core(postings, stats, queries, classicIdf)
  }

  /** The BM25 scoring core: one pruned read of the queried postings,
    * no exchange before the per-doc fold.
    *
    *   - The terms relation `(query_id, term_h, q_term, trank, n_docs,
    *     sum_dl)` is broadcast. The corpus totals are summed from the
    *     O(#batches) partial stats rows in ONE task (`coalesce(1)`, so
    *     the aggregate needs no exchange) and exploded into one row per
    *     (query, distinct term) — the totals ride every terms row
    *     instead of a separate one-row broadcast and a cross join.
    *   - The postings scan reads only the queried terms' buckets
    *     (`termHashPrune`) and joins the terms hash-keyed on `term_h`,
    *     so the index side keeps its `HashPartitioning(term_h)`.
    *   - df(term) is the term's posting count (one posting per live
    *     doc): a window count over (query_id, term_h, term), which that
    *     partitioning already satisfies — no exchange. It adds no skew
    *     either: the bucketed scan already reads all of a term's
    *     postings in one task, and the window only sorts them there.
    *     Counting the matched rows keeps df exact after any append or
    *     delete without persisted-stat maintenance.
    *   - Scores fold per (query_id, doc_id) from exact 0.0 in term-rank
    *     order (rank-sorted `aggregate`) — the one shuffle.
    *
    * Duplicate terms drop order-preserving per query: a repeated term
    * would join the same posting twice, which no full-scan form does.
    */
  private def bm25Core(
      postings: DataFrame,
      stats: DataFrame,
      queries: Seq[(Long, Seq[String])],
      classicIdf: Boolean): DataFrame = {
    val qt = queries.flatMap { case (qid, ts) =>
      ts.distinct.zipWithIndex.map { case (t, r) => (qid, t, r) }
    }
    val termsDf = stats
      .coalesce(1)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), col("sum_dl"), explode(typedLit(qt)).as("qt"))
      .select(
        col("qt._1").as("query_id"),
        Hashing.hash60(col("qt._2")).as("term_h"),
        col("qt._2").as("q_term"),
        col("qt._3").as("trank"),
        col("n_docs"),
        col("sum_dl"))
    val df    = count(lit(1)).over(Window.partitionBy(col("query_id"), col("term_h"), col("term")))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val tfd   = col("tf").cast("double")
    val idfSurrogate = ((col("n_docs") - col("df")) + lit(0.5)) / (col("df") + lit(0.5))
    // classic mode: plain `1.0 +` then ln — NOT log1p — so the oracle's
    // LN(1 + x) evaluates the identical argument double
    val idf = if (classicIdf) log(lit(1.0) + idfSurrogate) else idfSurrogate
    val tfw = (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    postings
      .filter(termHashPrune(qt.map(_._2).distinct))
      .join(broadcast(termsDf), Seq("term_h"))
      // 60-bit hash collision guard: the layout key is the hash, the
      // semantic key is the term itself
      .filter(col("term") === col("q_term"))
      .withColumn("df", df)
      .withColumn("contrib", idf * tfw)
      .groupBy(col("query_id"), col("doc_id"), col("dl"))
      .agg(
        count(lit(1)).as("n_matched"),
        array_sort(collect_list(struct(col("trank"), col("contrib")))).as("cs"))
      .select(
        col("query_id"),
        col("doc_id"),
        col("dl"),
        col("n_matched"),
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"))
  }
}
