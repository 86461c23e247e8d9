package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/**
 * Plan-shape regression tests: the properties that decide whether a query
 * survives a 100 TB scale-up — scan pruning/pushdown, broadcast joins on
 * small dimensions, top-k without a global sort, partial aggregation, and
 * no accidental cartesian products. These assert on the optimized/physical
 * plan, so a refactor that silently loses a pushdown fails CI, not the
 * cluster.
 */
class PlanSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    Queries.all.find(_.name == name).get.run(spark, sfDir)

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q2: filters reach the parquet scan and columns are pruned") {
    val p = plan(q("q2_filter_project"))
    p should include("PushedFilters")
    // shipdate + discount + returnflag predicates all pushed
    p.toLowerCase should include("l_shipdate")
    p.toLowerCase should include("l_discount")
    // projection pruning: the 16-column lineitem scan reads only the 6
    // referenced columns (ReadSchema lists them, not the full table)
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    readSchema should include("l_orderkey")
    (readSchema should not).include("l_comment")
    (readSchema should not).include("l_partkey")
  }

  test("q5: star join broadcasts both dimensions, no shuffle join, no cartesian") {
    val p = plan(q("q5_star_join_agg"))
    p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") should be >= 2
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
  }

  test("q35: the BROADCAST hint survives comment stripping and takes effect") {
    // disable size-based auto-broadcast so ONLY the hint can produce the
    // broadcast join — otherwise the tiny dimension broadcasts anyway and
    // a hint-stripping regression would pass
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(q("q35_broadcast_hint"))
      p should include("BroadcastHashJoin")
      (p should not).include("SortMergeJoin")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q13: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(q("q13_topk"))
    p should include("TakeOrderedAndProject")
  }

  test("d1: exact dedup aggregates partially before the shuffle") {
    // assert on the plan TREE only (formatted mode repeats each node name
    // in the per-node detail section below the tree)
    val tree = plan(q("d1_dedup_exact")).linesIterator
      .takeWhile(_.trim.nonEmpty).mkString("\n")
    // partial + final HashAggregate pair around a single exchange
    tree.sliding("HashAggregate".length).count(_ == "HashAggregate") shouldBe 2
    tree.sliding("Exchange".length).count(_ == "Exchange") shouldBe 1
  }

  test("q25: bucketed as-of join is an equi-join (no cartesian/NL join on data)") {
    val p = plan(q("q25_asof_bucketed"))
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
  }

  test("bucketed tables co-locate: join on the bucket key plans without a shuffle") {
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val od = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    li.createOrReplaceTempView("pb_li")
    od.createOrReplaceTempView("pb_od")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())(spark)
    val w1 = new graft.sink.SqlTableWriter()
    w1.init(Map("table" -> "pb_li_b", "view" -> "pb_li", "mode" -> "overwrite",
      "bucketBy.columns" -> "l_orderkey", "bucketBy.numBuckets" -> "4"))(spark)
    w1.run(ctx)(spark)
    val w2 = new graft.sink.SqlTableWriter()
    w2.init(Map("table" -> "pb_od_b", "view" -> "pb_od", "mode" -> "overwrite"))(spark)
    w2.bucketedBy(4, "o_orderkey").run(ctx)(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("pb_li_b")
        .join(spark.table("pb_od_b"), col("l_orderkey") === col("o_orderkey"))
      val tree = plan(joined).linesIterator.takeWhile(_.trim.nonEmpty).mkString("\n")
      (tree should not).include("Exchange")
      tree should include("SortMergeJoin")
      joined.count() shouldBe spark.table("pb_li_b").count()
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS pb_li_b")
      spark.sql("DROP TABLE IF EXISTS pb_od_b")
    }
  }

  test("catalog-wide: no partitionless Window in any query plan") {
    // A Window with an empty PARTITION BY is one task holding the whole
    // input — the c3 shape this guard exists to keep out. Checked on the
    // optimized logical plan of every catalog query so a future query
    // can't reintroduce it.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // Reviewed exceptions — windows whose input is bounded by something
    // other than data volume, so the single task stays small at any scale:
    val allowed = Set(
      "s3_knn_ivf",      // centroid rank: window AFTER limit(k), k<=16 rows
      "s5_knn_pq",       // codebook seed rank: window AFTER limit(16)
      "s6_knn_ivfpq",    // shared seed rank: window AFTER limit(16)
      "s7_ann_recall",   // embeds s3's post-limit seed rank for the IVF side
      "s16_mrr_eval",    // embeds s3's post-limit seed rank (s7's shape)
      "d8_training_pipeline", // composite pipeline embedding the s3 stage
      "u1_zipwithindex", // offsets frame: one row per input PARTITION
      "c8_weighted_sample", // rank window AFTER limit(k): orders the k=100
                           // survivors of the TakeOrdered top-k, not data
      "t18_bpe_apply",     // merge-rank window AFTER limit(2): 2 rows
      "c10_length_batching", // perGroupSequence offsets frame: one row per
                           // input PARTITION (u1's shape) — the whole
                           // point of the helper is that the per-BUCKET
                           // window never exists; pinned separately below
      "c22_batch_bpe",     // c10's perGroupSequence offsets frame with
                           // the BPE-ish token counter swapped in
      "c13_quality_calibrate", // perGroupSequence offsets frame (c10's
                           // shape) — the per-SOURCE rank window never
                           // exists; pinned separately below
      "d9_connected_components", // langChainEdges' perGroupSequence
                           // offsets frame (c10's shape)
      "d18_canonical_rep", // langChainEdges' perGroupSequence offsets
                           // frame (c10's shape)
      "c20_epoch_shuffle", // perGroupSequence offsets frame (c10's shape)
                           // — the per-(epoch, shard) position window
                           // never exists
      "t31_quality_ensemble", // perGroupSequence offsets frame (c10's
                           // shape) — the three GLOBAL rank windows
                           // never exist; ranks ride one range sort
      "s11_hybrid_rrf_ivf", // embeds s3's post-limit(16) centroid seed rank
      "s12_ivf_incremental", // s3's post-limit(16) centroid seed rank (base
                           // corpus only — the fixed-centroid ingest shape)
      "s13b_hard_negatives_ivf", // s3's post-limit(16) centroid seed rank
      "q111_stream_ivf_probe", // s3's post-limit(16) centroid seed rank
                           // (the static index-build side of the stream)
      "s15_ivf_rebalance", // s3's post-limit(8) seed rank only: the
                           // rebalance itself is WINDOW-FREE (fresh cell
                           // id = mx + parent crank, unique by
                           // construction; per-cell member selection
                           // rides min_by, never a window)
      "s17_ivf_health",    // s3's post-limit(8) seed rank (the fixture's
                           // index build); the census itself is one
                           // keyed count + a totals broadcast
      "s18_ivf_merge",     // s3's post-limit(8) seed rank (fixture index
                           // build) only: the merge itself is WINDOW-FREE
                           // beyond ivfAssignments' per-id argmin rank —
                           // survivors are never renumbered, absorbed
                           // rows re-rank via the build path's own shape
      "s19_ivf_maintain"   // s3's post-limit(8) seed rank (fixture index
                           // build) only: the composed pass reuses s18's
                           // merge + s15's split stages — per-id argmin
                           // ranks, min_by sub-seeds, no new window
    )
    val offenders = Queries.all.filterNot(s => allowed(s.name)).flatMap { spec =>
      val plan = spec.run(spark, sfDir).queryExecution.optimizedPlan
      plan.collect { case w: LWindow if w.partitionSpec.isEmpty => spec.name }
    }.distinct
    offenders shouldBe empty
  }

  test("catalog-wide: no nested-loop/cartesian join outside labeled brute-force baselines") {
    // The only all-pairs shapes allowed are the documented exact baselines
    // (brute-force kNN) and broadcast joins against k-row constant frames
    // (k-means / IVF centroids). Anything else nested-looping is a scale
    // bug.
    val allowed = Set(
      "s1_knn_bruteforce", // labeled exact baseline: all-pairs by design
      "s13_hard_negatives", // labeled exact baseline: s1's shape + the
                           // different-label filter (IVF composes at scale)
      "s4_knn_quantized",  // labeled quantized exact baseline: same shape
      "s5_knn_pq",         // labeled full-ADC scan (PQ compresses memory,
                           // not candidate count; IVF cells bound that)
      "s3_knn_ivf",        // crossJoin vs broadcast k-row centroid frame
      "s13b_hard_negatives_ivf", // s3's crossJoin vs broadcast 16-row
                           // centroid frame; the candidate join itself is
                           // keyed on the cell id (label is a filter)
      "s12_ivf_incremental", // s3's crossJoin vs broadcast 16-row centroid
                           // frame, for base + batch assignment and probe
      "s6_knn_ivfpq",      // crossJoin vs broadcast 16-row centroid frame
      "c1_kmeans",         // crossJoin vs broadcast k-row centroid frame
      "d14_semdedup",      // kmeans assignment: crossJoin vs broadcast
                           // k-row centroid frame (pair join itself is
                           // keyed on the cluster id)
      "s7_ann_recall",     // composes s1 (labeled exact ground truth) and
                           // s3 (broadcast centroid frame) for the eval
      "s16_mrr_eval",      // s7's composition for the rank metrics: s1's
                           // labeled exact ground truth + s3's broadcast
                           // centroid frame; the eval join is keyed
      "t16_bm25",          // crossJoin vs broadcast 1-row corpus stats
      "t18_bpe_apply",     // crossJoin vs broadcast 1-row merge frame
      "t26_bpe_encode",    // crossJoin vs broadcast 1-row merge-ARRAY
                           // frame, folded over the distinct vocab only
                           // (t18's reviewed shape with k merges)
      "t29_bigram_surprise", // crossJoin vs broadcast 1-row (N, V)
                           // LM-totals frame, twice (first-token leg +
                           // bigram leg) — t23's reviewed shape; all
                           // count joins are keyed
      "t30_tokenizer_fertility", // t26's crossJoin vs broadcast 1-row
                           // merge-ARRAY frame over the distinct vocab
      "t31_quality_ensemble", // embeds t23's crossJoin vs broadcast
                           // 1-row corpus-totals frame (the LM leg)
      "q110_stream_decontaminate", // b1's crossJoin vs the broadcast
                           // 1-row bloom-state frame, stream-static
      "q111_stream_ivf_probe", // TWO reviewed-bounded shapes: s3's
                           // crossJoin vs the broadcast 16-row centroid
                           // frame (index build, batch side) and the
                           // stream-static crossJoin vs the broadcast
                           // 1-ROW centroid-ARRAY frame (q110's
                           // state-attachment shape, ~8 KB row)
      "q108_skew_autosalt", // PushdownLeftSemiAntiJoin pushes the hot-set
                           // anti join through the dimension's union into
                           // its 1-LITERAL-ROW branch, where the equi
                           // condition constant-folds away -> a BNLJ of
                           // 1 row x the broadcast hot-key set (bounded
                           // both sides; PlanAudit's maxRows adjudication
                           // downgrades it to info automatically)
      "k2_kll_quantiles",  // rank-verify pass: crossJoin vs broadcast
                           // 1-row sketch-estimate frame (t16's shape)
      "k3_hll_merge_states", // verdict assembly: 1-row x 1-row crossJoin
                           // of the whole-table and merged-state aggregates
      "q92_native_hll_sketch", // verdict assembly: 1-row x 1-row crossJoin
                           // (k3's shape, native DataSketches side)
      "k4_kll_merge_states", // rank-verify pass: crossJoin vs broadcast
                           // 1-row merged-estimate frame (k2's shape)
      "b1_bloom_decontaminate", // probe pass: crossJoin vs broadcast 1-row
                           // bloom-state frame (t16's shape)
      "b2_bloom_merge_fp", // probe pass: crossJoin vs broadcast 1-row
                           // merged bloom-state frame
      "k5_cms_heavy_hitters", // grading pass: crossJoin vs broadcast 1-row
                           // cms-state frame (t16's shape)
      "k6_kmv_jaccard",    // verdict assembly: 1-row x 1-row crossJoin of
                           // the exact-counts and signature aggregates
      "d8_training_pipeline", // composite pipeline embedding the above stages
      "t7_corpus_stats",   // 1-row x 1-row join of two global aggregates
      "g2_triangle_count", // 1-row x 1-row join of two global aggregates
      "g2b_triangle_oriented", // g2's shape with a third 1-row aggregate
                           // (oriented wedge total) in the final assembly
      "g1_pagerank",       // dangling-mass correction: crossJoins vs TWO
                           // broadcast 1-ROW aggregates per round (sink
                           // rank sum + node count) — t7's bounded shape
      "d15_dedup_eval",    // crossJoin vs broadcast 1-row injected-total
                           // aggregate (detection tiers are keyed joins)
      "d28_dedup_eval_capped", // d15's 1-row injected-total crossJoin;
                           // the capped tiers are keyed joins and the
                           // cap itself is a TopKPairs aggregate
      "c12_dsir_importance", // likelihood-ratio totals: 1-row x 1-row
                           // crossJoin of the two corpus token counts,
                           // then broadcast into the vocab-sized score
                           // frame (t16's stats shape)
      "c15_dsir_string_ids", // same dsirTopKPerSource totals shape as
                           // c12 (string-id surrogate path)
      "c16_epoch_schedule", // 1-row totals crossJoin broadcast into the
                           // source-catalog-sized frame (t16's shape)
      "t23_unigram_surprise", // 1-row corpus-total crossJoin broadcast
                           // into the vocab-sized tf frame (c12's shape)
      "c9_temperature_mix", // crossJoin vs broadcast 1-row ΣN/Σq totals
                           // frame (t16's stats shape; source counts are
                           // a broadcast HASH join on source)
      "k7_hll_intersection", // verdict assembly: 1-row x 1-row crossJoin
                           // of the exact-counts and state-fold aggregates
      "s9_knn_mmr",        // embeds s1's labeled exact pool build (the
                           // checkpoint cut hides it from this plan grep
                           // today; listed so removing the cut is not a
                           // surprise guard failure)
      "s9b_mmr_ivf",       // embeds s3's crossJoin vs broadcast 16-row
                           // centroid frame for the pool build (same
                           // checkpoint-cut caveat as s9)
      "s10_hybrid_rrf",    // semantic side embeds s1's labeled exact
                           // baseline by documented design (swap in an
                           // ANN family at scale); the lexical side is a
                           // keyed token join — pinned separately below
      "s11_hybrid_rrf_ivf", // production hybrid: the only all-pairs nodes
                           // are s3's crossJoin vs the broadcast 16-row
                           // centroid frame (cell routing) and the
                           // stopword cut's 1-row nd frame; the postings
                           // and cell-candidate joins are keyed — pinned
                           // separately below
      "s15_ivf_rebalance", // THREE reviewed-bounded crossJoins: the
                           // fixture's broadcast 1-ROW anchor frame, s3's
                           // broadcast 8-row centroid frame, and the
                           // 1-row sizes-totals frame; the split-row
                           // selection and sub-centroid re-rank joins are
                           // KEYED on the cell id (broadcast ≤2K-row
                           // build sides)
      "c23_mixture_anneal", // crossJoin vs broadcast 1-row ΣN/S totals
                           // frame (c16's stats shape)
      "c24_waterfill",     // per-round crossJoins vs broadcast 1-row
                           // budget/round-stats frames over the
                           // checkpointed source-catalog frame (g1's
                           // per-round bounded shape)
      "s17_ivf_health",    // s15's fixture crossJoins (1-row anchor,
                           // 8-row centroid frame) + the census's 1-row
                           // totals frame
      "s18_ivf_merge",     // fixture crossJoins (1-row anchor, 9-row
                           // centroid frame incl. the planted satellite
                           // centroid, 1-row sizes-totals frame); the
                           // starved-row selection and survivor re-rank
                           // joins are KEYED (broadcast ≤K-row sides)
      "s19_ivf_maintain",  // s18's fixture crossJoins (1-row anchor,
                           // 9-row centroid frame, 1-row census-totals
                           // frame); both maintenance stages' row
                           // selections and re-ranks are KEYED on the
                           // cell id (broadcast ≤K-row sides)
      "t35_trained_lang_id" // langIdApply's zero-fill crossJoin vs the
                           // broadcast |langs|-row (5 here) distinct-
                           // language frame — every doc must compete in
                           // every language's argmax even with no shared
                           // bucket; scoring/weight joins are KEYED
    )
    val offenders = Queries.all.filterNot(s => allowed(s.name)).flatMap { spec =>
      val p = plan(spec.run(spark, sfDir))
      if (p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
        Some(spec.name)
      else None
    }
    offenders shouldBe empty
  }

  test("d9 star rounds: per-round plans are keyed shuffles only (no window, no cartesian)") {
    // clusterLabelsStars checkpoints per round, so the catalog-wide guards
    // only see the final checkpoint scan — assert the INNER round shapes
    // directly on a lazy (un-checkpointed) large-star + small-star pass
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 3L)).toDF("u", "v")
    val round = graft.ml.Dedup.smallStarRound(graft.ml.Dedup.largeStarRound(edges))
    round.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    } shouldBe empty
    val p = plan(round)
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
  }

  test("c10: no per-bucket window — every Window in the plan is pid- or offsets-scoped") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = q("c10_length_batching").queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    windows should not be empty
    // the giant-task shape this guards against: PARTITION BY bucket
    windows.foreach { w =>
      val refs = w.partitionSpec.flatMap(_.references.map(_.name))
      refs should not contain "bucket"
      if (w.partitionSpec.nonEmpty) refs should contain("__pid_")
    }
  }

  test("c13: no per-source window — every Window in the plan is pid- or offsets-scoped") {
    // The giant-task shape this pin guards against: row_number() OVER
    // (PARTITION BY source) — few sources x 100 TB = one task sorting an
    // entire source. calibrateQuality must rank through perGroupSequence,
    // whose only windows are the per-task rank (__pid_) and the tiny
    // offsets frame.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = q("c13_quality_calibrate").queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    windows should not be empty
    windows.foreach { w =>
      val refs = w.partitionSpec.flatMap(_.references.map(_.name))
      refs should not contain "source"
      if (w.partitionSpec.nonEmpty) refs should contain("__pid_")
    }
  }

  test("catalog-wide: no Window partitioned ONLY by bounded-cardinality keys") {
    // The c13 near-miss generalized: a window partitioned solely by
    // columns whose domain is small and data-independent (source catalog,
    // language, a shard constant, event types, nation keys...) puts an
    // entire key-group — a constant fraction of the corpus — in ONE task.
    // The repo's windowless forms (perGroupSequence / perGroupRunningSum /
    // graft_topk_pairs) are the cure; a window keyed by at least one
    // high-cardinality column (doc/user/query/cluster ids) is fine.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lowCard = Set("source", "lang", "split", "band", "bucket", "shard",
      "event_type", "nk", "salt", "l_returnflag", "l_linestatus",
      "o_orderstatus", "o_orderpriority")
    // Reviewed exceptions — the partition key is bounded-cardinality but
    // the window's INPUT is bounded by construction, so the group never
    // scales with data:
    val allowed = Set(
      "c3_token_packing", // perGroupRunningSum offsets window: runs over
                         // the (pid x shard)-sized offsets frame (one row
                         // per task per shard it touches), not the corpus
      "q51_rank_family", // window-function-dialect showcase: input bounded
                         // to <= 2000 rows by the constant o_orderkey
                         // filter (pushed to the scan) at ANY scale factor
      "c17_pack_sequences", // perGroupRunningSum offsets window over the
                         // (pid x shard)-sized frame (c3's reviewed shape);
                         // the pack-offset window itself is keyed by the
                         // high-cardinality (shard, pack_id) pair
      "c18_pack_bpe"     // identical plan to c17 with the BPE token
                         // counter swapped in via the tokenCount param
    )
    val offenders = Queries.all.filterNot(s => allowed(s.name)).flatMap { spec =>
      val plan = spec.run(spark, sfDir).queryExecution.optimizedPlan
      plan.collect {
        case w: LWindow if w.partitionSpec.nonEmpty &&
            w.partitionSpec.flatMap(_.references.map(_.name)).forall(lowCard) =>
          spec.name
      }
    }.distinct
    offenders shouldBe empty
  }

  test("s10: the lexical postings join is keyed; the only all-pairs node is the labeled semantic baseline") {
    import org.apache.spark.sql.execution.joins._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = q("s10_hybrid_rrf").queryExecution.executedPlan
      // exactly two all-pairs nodes, both reviewed: bruteForceTopK's
      // documented exact-baseline cross join, and the stopword cut's
      // crossJoin against the broadcast 1-ROW nd aggregate (t16's
      // stats-frame shape — bounded by construction). A third would mean
      // the lexical postings join degraded to all-pairs.
      p.collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      } should have size 2
      // and the token join + vocab cut + rank fusion are keyed equi-joins
      p.collect {
        case j: BroadcastHashJoinExec => j
        case j: ShuffledHashJoinExec => j
        case j: SortMergeJoinExec => j
      }.size should be >= 3
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s18: IVF merge has NO corpus-wide all-pairs node — only bounded centroid/totals frames") {
    import org.apache.spark.sql.execution.joins._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = q("s18_ivf_merge").queryExecution.executedPlan
      // allowed all-pairs nodes: the bounded broadcast frames (1-row
      // anchor, ≤9-row centroid routing, 1-row sizes totals). A
      // corpus-sized broadcast or raw CartesianProduct means the merge
      // degraded to re-assigning the WHOLE corpus instead of only the
      // starved rows.
      p.collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }.foreach {
        case j: BroadcastNestedLoopJoinExec =>
          val build = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case _ => j.right
          }
          val s = build.toString
          assert(s.contains("HashAggregate") || s.contains("Limit") ||
            s.contains("TakeOrdered") || s.contains("ReusedExchange") ||
            s.contains("Union"),
            s"unbounded broadcast side in s18 plan:\n$s")
        case j => fail(s"raw CartesianProduct in s18 plan: $j")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s13b: IVF hard negatives has NO corpus-wide all-pairs node — only the bounded centroid frames") {
    import org.apache.spark.sql.execution.joins._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = q("s13b_hard_negatives_ivf").queryExecution.executedPlan
      // allowed all-pairs nodes: the two 16-row centroid routing
      // crossJoins (corpus assignment + query probe — the second usually
      // rides a ReusedExchange of the first). A corpus-sized broadcast or
      // raw CartesianProduct = s13's brute shape leaked back in.
      val allPairs = p.collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }
      allPairs.size should be <= 2
      allPairs.foreach {
        case j: BroadcastNestedLoopJoinExec =>
          val build = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case _ => j.right
          }
          val s = build.toString
          assert(s.contains("HashAggregate") || s.contains("Limit") ||
            s.contains("TakeOrdered") || s.contains("ReusedExchange"),
            s"unbounded broadcast side in s13b plan:\n$s")
        case j => fail(s"raw CartesianProduct in s13b plan: $j")
      }
      // the cell-candidate join is KEYED on crank (label is a filter on
      // it, never a join key — so no all-pairs label bucketing either)
      p.collect {
        case j: BroadcastHashJoinExec => j
        case j: ShuffledHashJoinExec => j
        case j: SortMergeJoinExec => j
      }.size should be >= 1
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s11: production hybrid has NO corpus-wide all-pairs node — only bounded broadcast frames") {
    import org.apache.spark.sql.execution.joins._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = q("s11_hybrid_rrf_ivf").queryExecution.executedPlan
      // the all-pairs nodes must ALL be crossJoins against bounded
      // broadcast frames: the two 16-row centroid routing frames (corpus
      // assignment + query probe) and the stopword cut's 1-row nd
      // aggregate. Each such build side is a bounded aggregate/limit
      // subtree — verify none of them broadcasts a corpus-sized scan
      // (the degenerate shape this variant exists to remove vs s10).
      val allPairs = p.collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }
      allPairs.size should be <= 3
      allPairs.foreach {
        case j: BroadcastNestedLoopJoinExec =>
          // the BROADCAST side must be a bounded aggregate/limit subtree
          // (16-row centroids or the 1-row nd frame) — a raw corpus scan
          // there = the brute baseline leaked back in. The stream side is
          // legitimately the corpus.
          val build = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case _ => j.right
          }
          val s = build.toString
          // ReusedExchange = the second routing pass reusing the FIRST
          // pass's (already-verified bounded) centroid broadcast — the
          // exchange-reuse shape we want
          assert(s.contains("HashAggregate") || s.contains("Limit") ||
            s.contains("TakeOrdered") || s.contains("ReusedExchange"),
            s"unbounded broadcast side in s11 plan:\n$s")
        case j => fail(s"raw CartesianProduct in s11 plan: $j")
      }
      // the cell-candidate join (crank) and postings join are keyed
      p.collect {
        case j: BroadcastHashJoinExec => j
        case j: ShuffledHashJoinExec => j
        case j: SortMergeJoinExec => j
      }.size should be >= 4
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d16: the (band,bucket) join broadcasts the banded batch, index side streamed") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q("d16_incremental_dedup").queryExecution.executedPlan
      // the 2-key join IS the (band,bucket) join; the pinned broadcast()
      // makes it a broadcast join no matter what the planner estimates
      // for the batch subtree
      val bhj = plan.collect {
        case j: BroadcastHashJoinExec if j.leftKeys.size == 2 => j
      }
      bhj should have size 1
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("lshMatches: a prebuilt parquet index is never exchanged on its way to a join") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import spark.implicits._
    // production shape: the index signature frame is prebuilt and read
    // back from parquet; an ingest batch must stream the index through
    // the band join without repartitioning it
    val dir = tmpDir("lshidx")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.ml.Dedup.minHashSignatures(docs, "text", "doc_id")
      .write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val batch = Seq((900001L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val m = graft.ml.Dedup.lshMatches(
        graft.ml.Dedup.minHashSignatures(batch, "text", "doc_id"), index)
      val plan = m.queryExecution.executedPlan
      val bandJoins = plan.collect {
        case j: BroadcastHashJoinExec if j.leftKeys.size == 2 => j
      }
      bandJoins should have size 1
      // the index scan must be on the STREAMED side of its band join,
      // not collected to the driver
      def scansOf(p: SparkPlan): Seq[FileSourceScanExec] =
        p.collect { case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f }
      val buildSubtree = bandJoins.head.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bandJoins.head.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => bandJoins.head.right
      }
      scansOf(buildSubtree) shouldBe empty
      // no shuffle exchange repartitions a raw (pre-join) index stream:
      // walk each exchange's subtree, stopping at joins — past a join the
      // shuffled data is join OUTPUT (candidate pairs), not the index
      def preJoinScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case f: FileSourceScanExec => Seq(f)
        case _: BaseJoinExec => Seq.empty
        case other => other.children.flatMap(preJoinScans)
      }
      val offending = plan.collect { case e: ShuffleExchangeExec => e }
        .flatMap(e => e.children.flatMap(preJoinScans))
        .filter(f => f.relation.location.rootPaths.exists(_.toString.contains(dir)))
      offending shouldBe empty
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sketch aggregates partial-merge: ObjectHashAggregate pair around one exchange") {
    // the property that makes a sketch worth having at 100 TB: each task
    // folds its partition into fixed-size state and only STATES cross the
    // wire — a plan shipping raw rows to a single final aggregate would
    // show one aggregate node and more exchange traffic
    import org.apache.spark.sql.functions.col
    for ((name, agg) <- Seq(
      "graft_hll" -> graft.functions.SketchAggregates.hllDistinct(col("l_partkey")),
      "graft_kll" -> graft.functions.SketchAggregates.kllQuantiles(
        col("l_partkey").cast("double"), Seq(0.5)),
      "graft_bloom_state" -> graft.functions.SketchAggregates.bloomState(
        col("l_partkey").cast("string"), 1 << 16, 4),
      "graft_cms_state" -> graft.functions.SketchAggregates.cmsState(
        col("l_partkey").cast("string"), 4, 256),
      "graft_bottomk" -> graft.functions.SketchAggregates.bottomK(
        col("l_partkey").cast("string"), 8),
      "graft_topk_pairs" -> graft.functions.SketchAggregates.topKPairs(
        col("l_extendedprice").cast("long"), col("l_partkey"), 8))) {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_returnflag")).agg(agg.as("sk"))
      val tree = plan(df).linesIterator.takeWhile(_.trim.nonEmpty).mkString("\n")
      withClue(name) {
        tree.sliding("ObjectHashAggregate".length)
          .count(_ == "ObjectHashAggregate") shouldBe 2
        tree.sliding("Exchange".length).count(_ == "Exchange") shouldBe 1
      }
    }
  }

  test("d10: decontamination broadcasts the eval-set shingles, corpus side unshuffled") {
    val p = plan(q("d10_decontaminate"))
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
  }

  test("b1: bloom decontamination broadcasts one state row, probe side join-free") {
    val p = plan(q("b1_bloom_decontaminate"))
    // the 1-row state frame reaches the corpus as a broadcast nested-loop
    // cross join (no key, no shuffle); the only SortMergeJoin-free plan
    // shape that could regress here is the probe side picking up an
    // exchange before its partial agg — pinned by the sketch-partial test
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
  }

  test("c4: chunking plans with no exchange at all") {
    val tree = plan(q("c4_doc_chunking")).linesIterator
      .takeWhile(_.trim.nonEmpty).mkString("\n")
    (tree should not).include("Exchange")
  }

  test("t10: vocabulary top-k is TakeOrdered over a partial-agg, not a global sort") {
    val p = plan(q("t10_vocab_topk"))
    p should include("TakeOrderedAndProject")
    // the count-distinct rewrite partial-aggregates before EACH of its two
    // exchanges (4 HashAggregates total) — a plan that ships raw token
    // rows to the wire has fewer aggregate nodes and must fail here
    p.sliding("HashAggregate".length).count(_ == "HashAggregate") should be >= 4
  }

  test("c6/m2/m3: replication and multimodal plumbing plan with no exchange") {
    for (name <- Seq("c6_source_upsampling", "m2_frame_sample", "m3_resize")) {
      val tree = plan(q(name)).linesIterator
        .takeWhile(_.trim.nonEmpty).mkString("\n")
      withClue(name) { (tree should not).include("Exchange") }
    }
  }

  test("c8: weighted-sample top-k is TakeOrdered, never a global sort of the corpus") {
    val p = plan(q("c8_weighted_sample"))
    p should include("TakeOrderedAndProject")
    // the only Sort allowed is the one ordering the k survivors inside the
    // single post-limit window partition — a corpus-wide Sort node above
    // the scan would be a global sort in disguise
    (p should not).include("SortMergeJoin")
  }

  test("m5: phash band join is keyed (hash-partitioned equi-join), pairs distinct'd ids-only") {
    val p = plan(q("m5_image_phash"))
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
    // band+bstr equi-join keys reach a real join, and the candidate
    // distinct aggregates BEFORE the hash re-attach joins
    p should include("band")
    p.sliding("HashAggregate".length).count(_ == "HashAggregate") should be >= 2
  }

  test("d17: chunk dedup ranks over the md5 digest, not the raw span text") {
    val p = plan(q("d17_paragraph_dedup"))
    // the window's partition expression is the digest — the exchange key
    // stays 32 chars however long spans get
    p should include("md5")
    (p should not).include("CartesianProduct")
  }

  test("q6: rank filter pushes down as WindowGroupLimit (top-3 per key pre-shuffle)") {
    // Spark's WindowGroupLimit keeps only each partition key's top rn
    // candidates BEFORE the shuffle+sort — without it the full orders
    // table sorts per customer just to discard everything past rank 3
    val p = plan(q("q6_window_rownum"))
    p should include("WindowGroupLimit")
  }

  test("q65: fact scan carries a dynamic-partition-pruning subquery") {
    val p = plan(Queries.q65Frame(spark, sfDir))
    // the partitioned scan's PartitionFilters must reference the runtime
    // pruning subquery, not just the static isnotnull
    p.toLowerCase should include("dynamicpruning")
    p should include("PartitionFilters")
  }

  test("ivfProbe against a crank-partitioned index: the cell scan is dynamically pruned") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("ivf_dpp")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val cents = graft.ml.Similarity.ivfCentroids(emb, "vec_id", "v", 16)
    graft.ml.Similarity.ivfAssignments(emb, cents, "vec_id", "v")
      .write.partitionBy("crank").parquet(s"$dir/cells")
    val probe = graft.ml.Similarity.ivfProbe(
      emb.filter(col("vec_id") % 50 === 0), cents,
      spark.read.parquet(s"$dir/cells"), "vec_id", "v", k = 5, nprobe = 2)
    // the 100 TB claim of the index lifecycle: a probe's scan of the
    // persisted index must carry a runtime partition-pruning filter on
    // crank — only the probed cells' files are read
    val p = plan(probe)
    p.toLowerCase should include("dynamicpruning")
    p should include("PartitionFilters")
    // and the probe still answers correctly from the pruned scan
    probe.count() should be > 0L
  }

  test("q66: runtime bloom filter from the dim filter reaches the fact scan") {
    // plan must be inspected INSIDE the conf scope — q66Scoped restores
    // broadcast/bloom confs on exit and a lazy plan would re-optimize
    Queries.q66Scoped(spark, sfDir) { df =>
      val p = plan(df).toLowerCase
      p should include("might_contain")      // application (fact) side probe
      p should include("bloom_filter_agg")   // creation (dim) side build
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The automatic path for join skew (q58's salted join is the manual
    // fallback for plans AQE cannot rewrite, e.g. skew born in an
    // aggregation feeding the join). Plant a key carrying ~100x the rows
    // of every other key, force a sort-merge join, and require the FINAL
    // adaptive plan to mark the join skew-optimized — the hot partition
    // was split across tasks instead of landing on one straggler.
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // thresholds scaled down so ~MB-sized test shuffles trigger the same
    // OptimizeSkewedJoin rule that 100 GB partitions hit in production —
    // on a cloned session, so the shared session's conf is untouched
    val s2 = GraftSqlBridge.clonedSession(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    // pad must be (a) non-foldable, (b) incompressible (shuffle blocks are
    // lz4'd and the skew detector sees compressed sizes), and (c) actually
    // consumed downstream so column pruning keeps it in the shuffle
    val left = s2.range(0, 120000).selectExpr(
      "CASE WHEN id < 100000 THEN 0 ELSE id % 100 END AS k",
      "md5(CAST(id AS STRING)) AS pad")
    val right = s2.range(0, 100).selectExpr("id AS k", "id * 2 AS w")
    val joined = left.join(right, "k")
      .selectExpr("count(*) AS n", "sum(length(pad) + w) AS chk")
    joined.collect().head.getLong(0) shouldBe 120000L
    val adaptive = joined.queryExecution.executedPlan
      .collectFirst { case a: AdaptiveSparkPlanExec => a }
      .getOrElse(fail("no adaptive plan"))
    // plan-tree collect() stops at query-stage boundaries; the final plan
    // STRING carries the authoritative markers
    val finalPlan = adaptive.executedPlan.toString
    withClue(finalPlan) {
      finalPlan should include("SortMergeJoin(skew=true)")
      finalPlan should include("AQEShuffleRead skewed")
    }
  }

  test("q1: aggregation runs inside whole-stage codegen") {
    // under AQE codegen stages exist only after execution; plan with AQE
    // off to inspect the compiled subtree count deterministically
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = q("q1_pricing_summary").queryExecution
        .explainString(ExplainMode.fromString("codegen"))
      p should fullyMatch regex ("(?s).*Found [1-9]\\d* WholeStageCodegen subtrees.*")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
