package graft

import graft.retrieval.Postings
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Randomized MODEL-BASED test of the posting-index lifecycle: a
  * random interleaving of append / delete / compact operations is
  * applied to both the persisted index and a plain-Scala model of the
  * live corpus (a Map the contract says the index must be equivalent
  * to), checking after EVERY operation that
  *
  *   - `bm25TopK` over the live view equals the brute-force ranking
  *     over exactly the model's live docs (same IEEE tree — the
  *     RetrievalSpec bruteTopK construction),
  *   - the stats sums (N, sum_dl) are survivor-exact integers, and
  *   - the DICTIONARY honors its contract state (round 15): summed df
  *     per term is ≥ the model's live df always (never an undercount),
  *     and EXACTLY equal whenever no uncredited delete is pending —
  *     after the build, and after every compact or retirement (the
  *     r15 dict credit makes retirement restore exactness, not just
  *     the full compaction). Deletes flip the state to conservative
  *     until the next retire/compact; bucket defrags credit what they
  *     drop but don't clear the pending set.
  *
  * The generator RESPECTS the enforced caller contract (no re-append
  * or re-delete of a still-tombstoned id — those now refuse loudly,
  * pinned separately in RetrievalSpec's guard leg) but is otherwise
  * adversarial: deletes can hit docs from any earlier batch including
  * the initial build, compactions land at random points (clearing the
  * tombstone set and re-opening ids, which the generator then MAY
  * re-add with fresh text), batch ids interleave append/delete spaces,
  * and token-less ("   ") and null-text docs appear throughout (they
  * count in N but carry no postings — the hard case for
  * survivor-exact stats).
  */
class LifecycleModelSpec extends SparkTestBase {
  import spark.implicits._

  private val vocab = Vector(
    "spark", "merge", "join", "hash", "table", "scan", "row", "vector",
    "filter", "sort", "batch", "window", "group", "slow", "fast")

  private def bruteTopK(
      docs: Seq[(Long, String)],
      terms: Seq[String],
      k: Int): Seq[(Long, Long, Long, Double)] = {
    def toks(t: String): Seq[String] = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val tokenized = docs.map { case (id, tx) => (id, toks(tx)) }
    val nDocs  = tokenized.size.toLong
    val sumDl  = tokenized.map(_._2.size.toLong).sum
    val avgdl  = sumDl.toDouble / nDocs.toDouble
    val dfm    = terms.map(tm => tm -> tokenized.count(_._2.contains(tm)).toLong).toMap
    val scored = tokenized.flatMap { case (id, tk) =>
      val dl = tk.size.toLong
      val present = terms.filter(tm => tk.contains(tm))
      if (present.isEmpty) None
      else {
        val score = present.foldLeft(0.0) { (acc, tm) =>
          val tf  = tk.count(_ == tm).toLong
          val idf = ((nDocs - dfm(tm)) + 0.5) / (dfm(tm) + 0.5)
          val tfw = (tf.toDouble * 2.2) / (tf.toDouble + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl)))
          acc + idf * tfw
        }
        Some((id, dl, present.size.toLong, score))
      }
    }
    scored.sortBy { case (id, _, _, s) => (-s, id) }.take(k)
  }

  test("random append/delete/compact interleavings: index == plain-Scala model after every operation") {
    import graft.sources.Layout
    val terms = Seq("spark", "merge", "scan")
    for (seed <- Seq(7, 23, 41, 57)) {
      val rnd  = new scala.util.Random(seed)
      val name = s"t_lcm_$seed"
      val dir  = Files.createTempDirectory("graft_lcm").toString

      def randText(): String =
        if (rnd.nextInt(12) == 0) "   " // token-less: counts in N, no postings
        else Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")

      // the model: live corpus (null-text docs never enter — the
      // engine screens them identically) + the live tombstone set
      var nextId = 100L
      val live   = scala.collection.mutable.Map[Long, String]()
      val tombed = scala.collection.mutable.Set[Long]()
      val freeIds = scala.collection.mutable.Set[Long]() // compacted-away, re-usable

      def freshBatch(n: Int): Seq[(Long, String)] = {
        val reuse = freeIds.take(if (rnd.nextBoolean()) rnd.nextInt(n + 1) else 0).toSeq
        reuse.foreach(freeIds.remove)
        val fresh = (0 until (n - reuse.size)).map { _ => nextId += 1; nextId }
        (reuse ++ fresh).map(id => (id, if (rnd.nextInt(10) == 0) null else randText()))
      }

      val init = freshBatch(12)
      Postings.writeIndex(init.toDF("doc_id", "text"), "doc_id", "text", name, dir, buckets = 4)
      init.foreach { case (id, tx) => if (tx != null) live(id) = tx }

      // dict contract state: exact after build/compact/retire, merely
      // conservative (≥) while a delete awaits its credit.
      // Crash-injection state (round 16 — the staging boundary):
      //  - pendingCrash: a post-rewrite crash left a verified-owed
      //    staging on disk (rows dropped, credit pending);
      //  - creditLost: a later delete forced the next stage to
      //    OVERWRITE that pending staging, so its credit is gone until
      //    the next full recount (compact/rebucket) — retirement alone
      //    can no longer restore exactness. The engine contract says
      //    every crash window degrades to OVERCOUNT; the ≥ assert below
      //    is what catches a double-apply (undercount) regression.
      var dictExact    = true
      var pendingCrash = false
      var creditLost   = false

      def check(op: String): Unit = {
        val got = Postings
          .bm25TopK(Postings.livePostings(spark, name), Postings.statsTable(spark, name), terms, 50)
          .as[(Long, Long, Long, Double)].collect().toSeq
        val exp = bruteTopK(live.toSeq.sortBy(_._1), terms, 50)
        assert(got == exp, s"seed=$seed after $op: index ranking diverged from the model")
        val st = Postings.statsTable(spark, name)
          .agg(sum(col("n_docs")), sum(col("sum_dl"))).as[(Long, Long)].head()
        val expDl = live.values.map(_.trim.split("\\s+").count(_.nonEmpty).toLong).sum
        assert(st == ((live.size.toLong, expDl)),
          s"seed=$seed after $op: stats $st != model (${live.size}, $expDl)")
        val dictSums = Postings.dictTable(spark, name)
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
          .as[(String, Long)].collect().toMap
        val liveDf = vocab.map(tm =>
          tm -> live.values.count(_.trim.split("\\s+").contains(tm)).toLong).toMap
        vocab.foreach { tm =>
          val got = dictSums.getOrElse(tm, 0L)
          if (dictExact)
            assert(got == liveDf(tm),
              s"seed=$seed after $op: dict df($tm)=$got != model ${liveDf(tm)} in exact state")
          else
            assert(got >= liveDf(tm),
              s"seed=$seed after $op: dict df($tm)=$got UNDERCOUNTS model ${liveDf(tm)}")
        }
      }
      check("build")

      // plant a dict-delta staging as a crashed retirement would leave
      // it: the TRUE decrement of the tombstoned rows still physical,
      // sidecar naming every current bucket (the touched superset)
      def plantCrashStaging(): Boolean = {
        val deltas = Postings.postingsTable(spark, name)
          .join(Postings.tombstones(spark, name), Seq("doc_id"), "left_semi")
          .groupBy(col("term_h"), col("term")).agg((-count(lit(1))).as("df"))
        if (deltas.isEmpty) false
        else {
          val dictLoc = Layout.baseGen(
            spark.sessionState.catalog.getTableMetadata(
              spark.sessionState.sqlParser.parseTableIdentifier(s"${name}_dict"))
              .location.toString) + ".dictdelta"
          deltas.coalesce(1).write.mode("overwrite").parquet(dictLoc)
          val nb = Layout.numBuckets(spark, s"${name}_postings")
          java.nio.file.Files.write(
            new java.io.File(new java.io.File(new java.net.URI(dictLoc)), "_staged_buckets").toPath,
            (0 until nb).mkString(",").getBytes("UTF-8"))
          true
        }
      }

      try {
        var batchId = 0L
        for (step <- 1 to 14) {
          batchId += 1
          rnd.nextInt(9) match {
            case 0 | 1 => // append 1-5 docs (never a still-tombstoned id)
              val batch = freshBatch(1 + rnd.nextInt(5))
              Postings.appendBatch(batch.toDF("doc_id", "text"), "doc_id", "text", name, batchId)
              batch.foreach { case (id, tx) => if (tx != null) live(id) = tx }
              check(s"append#$step")
            case 2 => // delete 1-3 live, not-yet-tombstoned docs
              val victims = rnd.shuffle(live.keys.toSeq.filterNot(tombed)).take(1 + rnd.nextInt(3))
              if (victims.nonEmpty) {
                Postings.deleteBatch(
                  victims.map(id => (id, live(id))).toDF("doc_id", "text"),
                  "doc_id", "text", name, batchId)
                victims.foreach { id => live.remove(id); tombed += id }
                dictExact = false // overcounts until the next credit
                if (pendingCrash) {
                  // the next stage's recompute will be non-empty and
                  // OVERWRITE the pending staging — its credit is lost
                  // (overcount) until the next full recount
                  pendingCrash = false; creditLost = true
                }
                check(s"delete#$step")
              }
            case 3 => // compact: physical drop, set cleared, ids re-usable
              Postings.compactIndex(spark, name)
              freeIds ++= tombed; tombed.clear()
              dictExact = true // recounted from survivors (staging condemned)
              pendingCrash = false; creditLost = false
              check(s"compact#$step")
            case 4 => // retire (r15): same model effect as compact —
              // physical drop of tombstoned rows, set cleared, ids
              // re-usable — via bucket-scoped rewrites only. Resolves
              // any pending staging (applies it when verified, so the
              // post-rewrite crash window heals EXACTLY — unless a
              // later delete already forced its overwrite)
              Postings.retireTombstones(spark, name)
              freeIds ++= tombed; tombed.clear()
              dictExact = !creditLost
              pendingCrash = false
              check(s"retire#$step")
            case 5 => // bucket-scoped defrag (r15): query-invisible; its
              // stage call resolves a pending staging too (applies a
              // verified one, condemns a pre-rewrite one) — but only
              // when the postings table actually had fragmented buckets
              val rewritten = Postings.compactFragmentedBuckets(spark, name, maxFilesPerBucket = 1)
              if (rewritten.contains(s"${name}_postings")) pendingCrash = false
              check(s"bucket-defrag#$step")
            case 6 => // bucket-count migration (round 16): same model
              // effect as compact — survivors carried, set cleared,
              // dict recounted — under a NEW bucket count
              Postings.rebucketIndex(spark, name, newBuckets = Seq(2, 4, 8, 16)(rnd.nextInt(4)))
              freeIds ++= tombed; tombed.clear()
              dictExact = true
              pendingCrash = false; creditLost = false
              check(s"rebucket#$step")
            case 7 => // CRASH INJECTION at the dict-staging boundary
              // (round 16): a retirement that staged its decrement and
              // died either BEFORE its bucket rewrite committed (rows
              // still physical — the staging must NEVER apply; a
              // double-apply undercount trips the ≥ assert) or AFTER it
              // (rows dropped — the staging is the exact owed credit).
              if (tombed.nonEmpty && plantCrashStaging()) {
                if (rnd.nextBoolean()) {
                  val nb = Layout.numBuckets(spark, s"${name}_postings")
                  Layout.compactBuckets(
                    spark, s"${name}_postings", (0 until nb).toSet,
                    graft.sources.IndexLifecycle.dropTombstonedTransform(
                      spark, s"${name}_tombs", "doc_id", "doc_id"))
                  pendingCrash = true
                  check(s"staging-crash-post#$step")
                } else {
                  // pre-rewrite crash: staging is stale-but-unverified;
                  // later passes must condemn, never apply it
                  check(s"staging-crash-pre#$step")
                }
              }
            case 8 => // CRASH STAGING → REBUCKET interleaving (round 17 —
              // VERDICT r16 #5): a staging staged under the OLD bucket
              // modulus must never apply after a migration —
              // compactIndexTo condemns it and the recount restores
              // exactness on BOTH sides of the rewrite crash; a
              // double-apply (undercount) trips the ≥ assert in check()
              if (tombed.nonEmpty && plantCrashStaging()) {
                if (rnd.nextBoolean()) {
                  // post-rewrite crash first: the staged rows drop
                  // before the migration sees them
                  val nb = Layout.numBuckets(spark, s"${name}_postings")
                  Layout.compactBuckets(
                    spark, s"${name}_postings", (0 until nb).toSet,
                    graft.sources.IndexLifecycle.dropTombstonedTransform(
                      spark, s"${name}_tombs", "doc_id", "doc_id"))
                }
                Postings.rebucketIndex(spark, name, newBuckets = Seq(2, 4, 8, 16)(rnd.nextInt(4)))
                freeIds ++= tombed; tombed.clear()
                dictExact = true
                pendingCrash = false; creditLost = false
                check(s"staging-crash-rebucket#$step")
                // exactness persists through the NEXT retirement — no
                // old-modulus staging resurrects across the migration
                Postings.retireTombstones(spark, name)
                check(s"staging-crash-rebucket-retire#$step")
              }
          }
        }
        // deterministic round-17 leg (VERDICT r16 #5): EVERY seed
        // exercises crash-staging → rebucket at least once (the random
        // arm may not draw it) — pre-rewrite crash on seeds 7/23,
        // post-rewrite on 41/57, so both windows cross the migration
        batchId += 1
        val victims = live.keys.toSeq.sorted.take(1)
        if (victims.nonEmpty) {
          Postings.deleteBatch(
            victims.map(id => (id, live(id))).toDF("doc_id", "text"),
            "doc_id", "text", name, batchId)
          victims.foreach { id => live.remove(id); tombed += id }
          dictExact = false
          if (pendingCrash) { pendingCrash = false; creditLost = true }
          assert(plantCrashStaging(), s"seed=$seed: deterministic leg could not stage")
          if (seed > 30) {
            val nb = Layout.numBuckets(spark, s"${name}_postings")
            Layout.compactBuckets(
              spark, s"${name}_postings", (0 until nb).toSet,
              graft.sources.IndexLifecycle.dropTombstonedTransform(
                spark, s"${name}_tombs", "doc_id", "doc_id"))
          }
          Postings.rebucketIndex(spark, name, newBuckets = 8)
          freeIds ++= tombed; tombed.clear()
          dictExact = true
          pendingCrash = false; creditLost = false
          check("det-staging-rebucket")
          Postings.retireTombstones(spark, name)
          check("det-staging-rebucket-retire")
        }
        // always finish with a compact + final equivalence
        Postings.compactIndex(spark, name)
        freeIds ++= tombed; tombed.clear()
        dictExact = true; pendingCrash = false; creditLost = false
        check("final-compact")
      } finally Postings.dropIndex(spark, name)
    }
  }

  test("random term lists over append/delete interleavings: bm25TopK and bm25MultiTopK == model, bit for bit") {
    // The model is bruteTopK over the live docs with each query's terms
    // deduped in order: df is the live posting count of the term and
    // the contributions fold in term-rank order. Every check batch has
    // a duplicated term, an absent term and a term shared by standing
    // queries, drawn at random positions.
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toVector
    val pool = vocab ++ Seq("the", "a", "customer", "zzz_absent")
    val rnd  = new scala.util.Random(11)
    val name = "t_lcm_terms"
    val dir  = Files.createTempDirectory("graft_lcm").toString
    val live = scala.collection.mutable.Map[Long, String]()
    var next = 0 // corpus rows [0, next) have been appended once

    def draw(): String = pool(rnd.nextInt(pool.size))
    def grow(n: Int): Seq[(Long, String)] = {
      val batch = corpus.slice(next, next + n)
      next += batch.size
      live ++= batch
      batch
    }
    def check(op: String): Unit = {
      val shared  = draw()
      val queries = Seq(
        1L -> rnd.shuffle(Seq(shared, draw(), shared)),
        2L -> rnd.shuffle(Seq(draw(), "qqq_absent", shared)),
        3L -> Seq.fill(1 + rnd.nextInt(4))(draw()))
      val docs = live.toSeq.sortBy(_._1)
      val pt   = Postings.livePostings(spark, name)
      val st   = Postings.statsTable(spark, name)
      for ((qid, terms) <- queries.take(2)) {
        val got = Postings.bm25TopK(pt, st, terms, 20).as[(Long, Long, Long, Double)].collect().toSeq
        assert(got == bruteTopK(docs, terms.distinct, 20), s"after $op: query $qid $terms diverged")
      }
      val multi = Postings.bm25MultiTopK(pt, st, queries, 20)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      val exp = queries.flatMap { case (qid, terms) =>
        bruteTopK(docs, terms.distinct, 20).map { case (d, dl, n, sc) => (qid, d, dl, n, sc) }
      }
      assert(multi == exp, s"after $op: multi-query batch $queries diverged")
    }

    Postings.writeIndex(grow(40).toDF("doc_id", "text"), "doc_id", "text", name, dir, buckets = 4)
    val ops = scala.collection.mutable.ArrayBuffer[String]()
    try {
      check("build")
      for (step <- 1 to 5) {
        if (rnd.nextBoolean()) {
          Postings.appendBatch(grow(5 + rnd.nextInt(10)).toDF("doc_id", "text"), "doc_id", "text", name, step)
          ops += "append"
          check(s"append#$step")
        } else {
          val victims = rnd.shuffle(live.keys.toSeq.sorted).take(1 + rnd.nextInt(5))
          Postings.deleteBatch(
            victims.map(id => (id, live(id))).toDF("doc_id", "text"), "doc_id", "text", name, step)
          live --= victims
          ops += "delete"
          check(s"delete#$step")
        }
      }
      assert(ops.toSet == Set("append", "delete"), s"the seed must interleave both kinds: $ops")
    } finally Postings.dropIndex(spark, name)
  }
}
