package graft

import graft.tools.PlanCheck

/** Plan-quality regression gate: every query's physical plan is swept
  * for scale anti-patterns (CartesianProduct, BroadcastNestedLoopJoin,
  * global windows / single-partition exchanges over RAW input) and
  * must stay inside the explicit allowlist of intentional cases. A new
  * operator that accidentally plans a cross join or funnels the corpus
  * through one task fails here before it ever reaches a benchmark.
  */
class PlanQualitySpec extends SparkTestBase {

  /** The intentional exceptions, each with its reason. */
  private val allowed: Map[String, Set[String]] = Map(
    // exact-ANN baselines / centroid assignment: broadcast-few-rows
    // cross joins by design (the scale paths are e02/e03/e05/e08)
    "e01_knn_brute"      -> Set("BroadcastNestedLoopJoin"),
    "e04_ann_ivf"        -> Set("BroadcastNestedLoopJoin"),
    "e05_embed_neardup_lsh" -> Set("BroadcastNestedLoopJoin"),
    "e06_ann_recall"     -> Set("BroadcastNestedLoopJoin"),
    "e07_kmeans_step"    -> Set("BroadcastNestedLoopJoin"),
    "e08_semdedup"       -> Set("BroadcastNestedLoopJoin"),
    "e09_incremental_embed_dedup" -> Set("BroadcastNestedLoopJoin"),
    // e10 (since the r13 pruned-read switch): the returned ivfTopK plan
    // includes the query batch's assignment — a broadcast K-row
    // centroid-model cross join, the same shape as e04/e07; the index
    // side reads its pruned cell buckets with zero exchange
    "e10_ann_ivf_indexed" -> Set("BroadcastNestedLoopJoin"),
    // e11: same pruned ivfTopK read over the tombstoned index
    "e11_ivf_delete"      -> Set("BroadcastNestedLoopJoin"),
    "d09_embed_neardup"  -> Set("BroadcastNestedLoopJoin"),
    // one-row totals frames cross-joined back (broadcast)
    "d37_temperature_mix" -> Set("BroadcastNestedLoopJoin"),
    "d45_bm25_search"     -> Set("BroadcastNestedLoopJoin"), // one-row corpus-stats broadcast
    // d46: the BM25 arm's one-row stats broadcast + e01-style exact
    // cosine arm (broadcast-one-query); the ranking window reads the
    // TakeOrdered 50-row frame, not the corpus
    "d46_hybrid_rrf"      -> Set("BroadcastNestedLoopJoin", "GlobalWindow(small)"),
    // d48: d46's text arm (one-row stats broadcast) + the IVF arm's
    // broadcast-one-query-row crossJoin; both ranking windows read
    // TakeOrdered 50-row frames, not the corpus
    "d48_hybrid_rrf_ivf"  -> Set("BroadcastNestedLoopJoin", "GlobalWindow(small)"),
    // d60: the pinned keyed repartition IS the mechanism — the slim
    // hit set must land exactly at the forward table's bucket width
    // so the corpus-sized forward side joins co-partitioned with no
    // exchange (RetrievalSpec pins the shape; without the pin the
    // planner shuffles the FORWARD side and drops its bucketed scan).
    // AQE loses nothing: a bucketed join is outside its re-plan scope.
    "d60_faceted_search"  -> Set("PinnedKeyedRepartition"),
    // e12: the post-retrain read is the pruned ivfTopK plan — the same
    // broadcast K-row centroid-model cross join as e10/e11
    "e12_ivf_retrain" -> Set("BroadcastNestedLoopJoin"),
    // e13: the post-retirement read is the pruned ivfTopK plan — the
    // same broadcast K-row centroid-model cross join as e10/e11/e12
    "e13_ivf_retire" -> Set("BroadcastNestedLoopJoin"),
    // e14: the post-migration read is the pruned ivfTopK plan — the
    // same broadcast K-row centroid-model cross join as e10-e13
    "e14_ivf_rebucket" -> Set("BroadcastNestedLoopJoin"),
    // e15 (r17): the POLICY-triggered migration reads exactly like its
    // explicit twin e14 — the same K-row centroid broadcast frame; the
    // rebucketIfOvergrown call ran eagerly in the builder
    "e15_ivf_rebucket_policy" -> Set("BroadcastNestedLoopJoin"),
    // e11p: the pre-deleted prod read is e11's pruned ivfTopK plan
    // (broadcast K-row centroid-model cross join for the query batch)
    "e11p_ivf_delete_prod" -> Set("BroadcastNestedLoopJoin"),
    // d51: the one-row bigram-total frame cross-joined back broadcast;
    // marginals join the |vocab|^2-bounded count frame, never the corpus
    "d51_collocations"    -> Set("BroadcastNestedLoopJoin"),
    // bounded-input global windows: final ranking over already-
    // aggregated or already-truncated frames
    "d19_oov_ratio"      -> Set("GlobalWindow(small)"),
    "d28_mixture_report" -> Set("GlobalWindow(small)"),
    "d38_bpe_merge"      -> Set("GlobalWindow(small)"),
    "q21_pagination"     -> Set("GlobalWindow(small)"),
    // KeyedWindow(RAW): keyed windows over un-aggregated input. The
    // d29-class hazard is a DATA-DEPENDENT cluster/hash key whose hot
    // partitions grow with duplication (those are banned — exactDedup,
    // d29 and incrementalExactDedup were all rewritten to groupBy
    // partial aggregation). The rows below are the allowed remainder:
    // either the key domain is a bounded catalog enum, or the window
    // expresses per-entity SEQUENCE semantics (lag/rolling/sessionize/
    // as-of/interval) that are order-defined and have no aggregation
    // equivalent; per-key cardinality is one entity's history, not a
    // duplicate-family size.
    "d24_packing"        -> Set("KeyedWindow(RAW)"), // running sum keyed by `source` (bounded enum, like d27 strata)
    "d35_global_shuffle" -> Set("KeyedWindow(RAW)"), // uniform hash shards: skew impossible; shard count is the scale knob
    "q23_lag_diff"       -> Set("KeyedWindow(RAW)"), // lag over one sample's version history
    "q40_rolling_window" -> Set("KeyedWindow(RAW)"), // per-entity rolling frame (order-defined)
    "q44_rank_funcs"     -> Set("KeyedWindow(RAW)"), // rank per nation (25-value enum)
    "q51_range_frame"    -> Set("KeyedWindow(RAW)"), // per-entity RANGE frame (order-defined)
    "st02_sessionize"    -> Set("KeyedWindow(RAW)"), // per-user gap detection (sequence semantics)
    "st04_asof_join"     -> Set("KeyedWindow(RAW)"), // union-merge as-of: last() over one key's event stream
    "st08_asof_forward"  -> Set("KeyedWindow(RAW)"), // forward as-of twin of st04
    "wp03_scd2_intervals" -> Set("KeyedWindow(RAW)"), // SCD2 validity intervals over one entity's history
    // exact-quantile twin: per-type rank IS the operator (exactness
    // requires the per-type sort by definition — the scale path is
    // x02's mergeable sketch; this query is its correctness anchor);
    // the BNLJ is the broadcast 3-row quantile-probability table
    "x02e_exact_quantiles" -> Set("KeyedWindow(RAW)", "BroadcastNestedLoopJoin"),
    // (x02_approx_quantiles carried the twin's two shapes in round 10;
    // since round 11 its witness joins the twin's MEMOIZED rows — a
    // local relation — so its plan is sketch-only and needs no entry)
  )

  test("doc-local tf queries plan ZERO keyed exchanges (d22, d34)") {
    // The round-6 claim pinned structurally: per-document statistics
    // are pure functions of the row (TfStatsExpr / DupRunStatsExpr),
    // so the only exchanges these plans may contain are the
    // presentation orderBy's range partitioning and Ops.spread's
    // derived-hash spread on single-split input — never one keyed on
    // a RAW column attribute (a groupBy/join-induced shuffle).
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    for (name <- Seq("d22_repetition", "d34_dup_ngrams")) {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
      val nodes = plan.collect {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case n                        => n
      }.flatMap(_.collect { case n => n })
      def rawKeyed(e: ShuffleExchangeExec): Boolean = e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.isInstanceOf[AttributeReference])
        case _                   => false
      }
      val keyed = nodes.collect { case e: ShuffleExchangeExec if rawKeyed(e) => e }
      assert(keyed.isEmpty, s"$name plans raw-column keyed exchanges:\n${keyed.mkString("\n")}")
    }
  }

  test("plan anti-pattern flags match the allowlist EXACTLY across every query") {
    // Two-sided (round-10 inversion of the one-way check): the sweep
    // walks every registered query's physical plan, so
    //   (a) any WindowExec without partitioning over un-aggregated
    //       input — or any other RAW-class flag — fails immediately
    //       unless its query is allowlisted with a written rationale
    //       above (a future query cannot silently add a global sort);
    //   (b) an allowlist entry whose plan no longer raises the flag
    //       fails too — the allowlist cannot rot into a list of
    //       grandfathered names that mask a reintroduced pattern.
    val problems = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // builders persist shared subtrees at BUILD time — scope each
      // plan construction so the sweep doesn't accumulate cached blocks
      val flags = Caches.scoped(spark)(
        PlanCheck.flagsOf(fn(spark, sfDir).queryExecution.executedPlan).toSet)
      val expected = allowed.getOrElse(name, Set.empty)
      val extra    = flags -- expected
      val stale    = expected -- flags
      (if (extra.nonEmpty) Seq(s"$name: unexpected ${extra.mkString(",")}") else Nil) ++
        (if (stale.nonEmpty) Seq(s"$name: stale allowlist ${stale.mkString(",")}") else Nil)
    }
    assert(problems.isEmpty, s"plan-flag drift:\n${problems.mkString("\n")}")
    // and every allowlisted name must still be a registered query
    val ghosts = allowed.keySet -- SparkEntry.queries.keySet
    assert(ghosts.isEmpty, s"allowlist entries for unregistered queries: $ghosts")
  }

  test("q16 exact countDistinct plans no Expand and matches the distinct-aggregate form") {
    // Catalyst's distinct-aggregate rewrite Expands every input row
    // once per distinct column — measured super-linear on the r7 scale
    // ladder (e=1.13). q16 is the exact no-Expand form (per-column
    // pre-dedup aggregations joined on key); this pins BOTH the plan
    // shape and result equality with the canonical rewrite.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val q16 = SparkEntry.queries("q16_count_distinct")(spark, sfDir)
    val nodes = q16.queryExecution.executedPlan.collect {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case n                        => n
    }.flatMap(_.collect { case n => n })
    assert(!nodes.exists(_.isInstanceOf[ExpandExec]), "q16 must not plan Expand")
    val twin = Tables(spark, sfDir).lineitem
      .groupBy(col("l_orderkey"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))
    assert(q16.exceptAll(twin).isEmpty, "rows in q16 missing from the Expand twin")
    assert(twin.exceptAll(q16).isEmpty, "rows in the Expand twin missing from q16")
  }

  test("the advisory dial reaches the densify/set-agg exchanges (per-job width recipe)") {
    // Graft.withAdvisory is the per-job deployment recipe for
    // memory-amplifying operators (divide the 16m default by the
    // operator's unsafe-row amplification). This asserts the dial is
    // not just a conf write: with a smaller coalesce target, the AQE
    // final plan of the two shapes the dial exists for (st06 densify,
    // q18 set-agg) must keep strictly MORE post-shuffle partitions
    // than under the engine default — i.e. the intended stages really
    // run at the dialed width. (Bit-identical results under the dial
    // are pinned separately in InvarianceSpec.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec, ShuffleQueryStageExec}
    // sf0.01, not the suite's sf0.001: the dialed stages' compressed
    // shuffle bytes must exceed the dialed advisory (4k) for the test
    // to observe a width difference; at sf0.001 they fit in one target
    val dialDir = "/root/testdata/sf0.01"
    // the AQE final plan nests its real subtrees inside QueryStageExec
    // wrappers (leaves to TreeNode traversal) — descend explicitly
    def expand(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case q: QueryStageExec        => Seq(q) ++ expand(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a) ++ expand(a.executedPlan)
      case n                        => Seq(n)
    }
    // a stage's final width is its AQERead's spec count when coalesced;
    // a stage with NO read node ran UNCOALESCED at the initial wide
    // width (AQE omits the read when merging wouldn't help) — reading
    // "no read node" as width 1 inverts the meaning
    def finalWidth(name: String): Int = Caches.scoped(spark) {
      val df = SparkEntry.queries(name)(spark, dialDir)
      df.collect()
      val nodes         = expand(df.queryExecution.executedPlan)
      val readChildren  = nodes.collect { case r: AQEShuffleReadExec => r.child }.toSet
      val widths = nodes.collect {
        case r: AQEShuffleReadExec => r.partitionSpecs.length
        case s: ShuffleQueryStageExec if !readChildren.contains(s) =>
          s.plan.outputPartitioning.numPartitions
      }
      if (widths.isEmpty) 1 else widths.max
    }
    for (name <- Seq("st06_resample_ffill", "q18_agg_equality")) {
      val dialed  = Graft.withAdvisory(spark, "4k")(finalWidth(name))
      val default = finalWidth(name)
      assert(
        dialed > default,
        s"$name: advisory dial did not widen the stage (dialed=$dialed default=$default)")
    }
  }

  test("event-time arithmetic goes through Ops.tsMicros, never raw ts div") {
    // the events table's ts column has shipped as long nanos AND as a
    // native timestamp across testdata generations; raw `ts div 1000`
    // compiles against one and throws on the other (round 6 lost 13
    // queries this way). Source-level gate: the raw pattern may exist
    // only in Ops.tsMicros itself (and fixture-typed tests).
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.toString.endsWith("operators/Ops.scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("ts div 1000"))
      .map(_.toString).toList
    assert(offenders.isEmpty, s"raw `ts div 1000` outside Ops.tsMicros:\n${offenders.mkString("\n")}")
  }
}
