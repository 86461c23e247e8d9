package graft

import graft.ml.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {

  private lazy val docs = {
    implicit val s = spark
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
      (3L, "completely different content about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
      (5L, "THE  QUICK  BROWN  fox jumps over the lazy dog") // normalizes to 1
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups normalized duplicates") {
    val out = Dedup.exact(docs, "text", "doc_id").collect()
    out.length shouldBe 3 // {1,4,5}, {2}, {3}
    val big = out.find(_.getAs[Long]("dup_count") == 3L).get
    big.getAs[Long]("keep_id") shouldBe 1L
  }

  test("minhash signatures: near-dups agree on most components") {
    val sig = Dedup.minHashSignatures(docs, "text", "doc_id", numHashes = 8, shingleLen = 3)
    val rows = sig.collect().map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i))).toMap
    rows(1L) shouldBe rows(4L)  // exact dup -> identical signature
    rows(1L) shouldBe rows(5L)  // normalization
    val matches12 = rows(1L).zip(rows(2L)).count { case (a, b) => a == b }
    matches12 should be >= 4    // near-dup
    val matches13 = rows(1L).zip(rows(3L)).count { case (a, b) => a == b }
    matches13 should be <= 2    // unrelated
  }

  test("inline (stateless) minhash signatures equal the aggregate form bit-for-bit") {
    val agg = Dedup.minHashSignatures(docs, "text", "doc_id", numHashes = 8, shingleLen = 3)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val inl = Dedup.minHashSignaturesInline(docs, "text", "doc_id", numHashes = 8, shingleLen = 3)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    inl shouldBe agg
    // short-doc path (fewer words than the shingle width -> whole text)
    implicit val s = spark
    import spark.implicits._
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    Dedup.minHashSignaturesInline(short, "text", "doc_id").collect().head.toSeq shouldBe
      Dedup.minHashSignatures(short, "text", "doc_id").collect().head.toSeq
  }

  test("LSH candidate pairs find the near-dup cluster") {
    val sig = Dedup.minHashSignatures(docs, "text", "doc_id")
    val pairs = Dedup.lshCandidatePairs(sig).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 4L))
    pairs should contain((1L, 5L))
    pairs should not contain ((1L, 3L))
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, via candidate pairs") {
    implicit val s = spark
    import spark.implicits._
    val sh = Dedup.shingles(docs, "text", "doc_id", 3)
    val cand = Seq((1L, 4L), (1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(cand, sh).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    j((1L, 4L)) shouldBe 1.0
    j((1L, 2L)) should be > 0.5
    j((1L, 3L)) shouldBe 0.0
  }

  test("simhash: hamming distance small for near-dups, large for unrelated") {
    val sh = Dedup.simHash(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(sh(1L), sh(4L)) shouldBe 0
    ham(sh(1L), sh(2L)) should be < 15
    ham(sh(1L), sh(3L)) should be > 10
  }

  test("duplicate resolution: label propagation finds component minima") {
    implicit val s = spark
    import spark.implicits._
    // components: {1,2,3} chain, {10,11}, isolated pairs absent from graph
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.resolveDuplicates(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    out(1L) shouldBe ((1L, false))
    out(2L) shouldBe ((1L, true))
    out(3L) shouldBe ((1L, true))
    out(10L) shouldBe ((10L, false))
    out(11L) shouldBe ((10L, true))
  }

  test("clusterLabels rejects a non-positive ckptEvery before planning") {
    implicit val s = spark
    import spark.implicits._
    // a cadence below 1 would reach `i % ckptEvery` and throw an
    // ArithmeticException mid-plan; it must fail up front, by name
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    for (bad <- Seq(0, -3)) {
      intercept[IllegalArgumentException] {
        Dedup.clusterLabels(pairs, 4, bad)
      }.getMessage should include("ckptEvery")
      intercept[IllegalArgumentException] {
        Dedup.resolveDuplicates(pairs, 4, bad)
      }.getMessage should include("ckptEvery")
    }
  }

  test("boilerplate strip removes shared template spans, keeps unique text") {
    implicit val s = spark
    import spark.implicits._
    // "click here to subscribe" is a 4-token template in 3 of 4 docs;
    // with n=3, minDocs=3 the two 3-gram shingles inside it cover all
    // four positions. Doc 40 is template-free; doc 41 is ONLY template.
    val tpl = Seq(
      (10L, "alpha beta click here to subscribe gamma"),
      (20L, "delta click here to subscribe epsilon zeta"),
      (30L, "click here to subscribe eta"),
      (40L, "theta iota kappa lambda"),
      (41L, "click here to subscribe")
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateStrip(tpl, "text", "doc_id", n = 3, minDocs = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_removed"), r.getAs[String]("clean"))).toMap
    out(10L) shouldBe ((4L, "alpha beta gamma"))
    out(20L) shouldBe ((4L, "delta epsilon zeta"))
    out(30L) shouldBe ((4L, "eta"))
    out(40L) shouldBe ((0L, "theta iota kappa lambda"))
    out(41L) shouldBe ((4L, ""))  // fully covered -> empty clean text
  }

  test("SimilaritySearchActor ivf method returns ranked neighbors") {
    implicit val s = spark
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .createOrReplaceTempView("ivf_in")
    val actor = new graft.ml.SimilaritySearchActor()
    actor.init(Map("view" -> "ivf_in", "method" -> "ivf", "vectorField" -> "v",
      "k" -> "3", "numCentroids" -> "4", "nprobe" -> "2",
      "queryWhere" -> "vec_id < 3"))
    val out = actor.run(ctx).get.collect()
    out.map(_.getLong(0)).toSet shouldBe Set(0L, 1L, 2L)
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      rows.map(_.getInt(3)).sorted.toSeq shouldBe (1 to rows.length)
    }
  }

  test("kmeans partitions the corpus deterministically") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    def run() = graft.ml.Clustering.kmeans(emb, "vec_id", "v", dim = 64, k = 4, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a = run()
    a.size shouldBe emb.count()
    a.values.toSet.size should be > 1 // actually partitions, not one blob
    run() shouldBe a // pure function of the input
  }

  test("converged label propagation resolves graphs deeper than the fixed rounds") {
    implicit val s = spark
    import spark.implicits._
    // a 10-node path: diameter 9, so 4 fixed rounds CANNOT pull the far
    // end to the component min, while star contraction (the
    // unknown-diameter path, run to its fixpoint) must
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val fixed = Dedup.clusterLabels(pairs, iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    fixed(10L) should be > 1L
    val stars = Dedup.clusterLabelsStars(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    stars.keySet shouldBe (1L to 10L).toSet
    stars.values.toSet shouldBe Set(1L)
  }

  test("large-star/small-star components: deep chains, multi-component graphs, shallow parity") {
    implicit val s = spark
    import spark.implicits._
    // 200-node path (diameter 199): O(diameter) propagation would need 199
    // rounds; the doubling variant must still fully merge within its
    // default iteration cap
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val stars = Dedup.clusterLabelsStars(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    stars.size shouldBe 200
    stars.values.toSet shouldBe Set(1L)
    // two components + an isolated pair, ids out of order
    val multi = Seq((7L, 3L), (3L, 9L), (20L, 25L), (25L, 21L), (40L, 41L))
      .toDF("id_a", "id_b")
    val got = Dedup.clusterLabelsStars(multi).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(3L -> 3L, 7L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 25L -> 20L, 40L -> 40L, 41L -> 40L)
    // shallow-graph parity with the fixed-round resolver on a real
    // LSH-derived duplicate graph
    val pairs = Dedup.lshCandidatePairs(Dedup.minHashSignatures(
      spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id"))
    val fixed = Dedup.clusterLabels(pairs, iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val viaStars = Dedup.clusterLabelsStars(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    viaStars shouldBe fixed
  }

  test("stars local-contraction preamble: labels equal an exact union-find reference") {
    implicit val s = spark
    import spark.implicits._
    // mixed-shape graph: a deep chain, a clique, a star, singleton pairs,
    // ids deliberately scattered so the range repartition splits every
    // component across partitions
    val rnd = new scala.util.Random(42)
    val chain = (0 until 150).map(i => (1000L + i * 7L, 1000L + (i + 1) * 7L))
    val clique = for (a <- 0 until 12; b <- (a + 1) until 12)
      yield (5000L + a * 13L, 5000L + b * 13L)
    val star = (1 until 30).map(i => (9000L, 9000L + rnd.nextInt(500) + 1L))
    val edges = rnd.shuffle(chain ++ clique ++ star ++ Seq((77L, 78L), (42L, 41L)))
    val pairs0 = edges.toDF("id_a", "id_b")
    val labels = Dedup.clusterLabelsStars(pairs0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    // exact connected components: driver-side union-find, root = set min
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    labels shouldBe parent.keys.map(k => k -> find(k)).toSet
    // chain fully merged to its min
    labels.filter(_._1 >= 1000L).filter(_._1 <= 1000L + 150 * 7L)
      .map(_._2) shouldBe Set(1000L)
  }

  test("optimizer rule rewrites HOF dot/norm to the native expressions, same bits") {
    implicit val s = spark
    graft.functions.UdfRegistry.registerSystemUdfs(spark) // installs the rule
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .limit(50)
    val hof = emb.select(col("vec_id"),
      Similarity.dotHof(col("v"), col("v")).as("d"),
      Similarity.l2NormHof(col("v")).as("n"))
    // the optimized plan must contain the natives, not the HOF fold
    val treeStr = hof.queryExecution.optimizedPlan.toString.toLowerCase
    treeStr should include("arraydotproduct")
    treeStr should include("arrayl2norm")
    (treeStr should not).include("zip_with")
    // values bit-identical to the explicit native calls
    val native = emb.select(col("vec_id"),
      Similarity.dot(col("v"), col("v")).as("d"), Similarity.l2Norm(col("v")).as("n"))
    hof.collect().map(_.toString).sorted shouldBe native.collect().map(_.toString).sorted
    // raw float*float products must KEEP the interpreted form (they round
    // to float per element; the native would widen first — different bits)
    val fEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("embedding").as("fv")).limit(5)
    val floatHof = fEmb.select(
      aggregate(zip_with(col("fv"), col("fv"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"))
    (floatHof.queryExecution.optimizedPlan.toString.toLowerCase should not)
      .include("arraydotproduct")
    // and the rewrite can be disabled
    spark.conf.set("spark.graft.vectorRewrite.enabled", "false")
    try {
      val off = emb.select(Similarity.dotHof(col("v"), col("v")).as("d"))
      (off.queryExecution.optimizedPlan.toString.toLowerCase should not).include("arraydotproduct")
    } finally spark.conf.unset("spark.graft.vectorRewrite.enabled")
  }

  test("brute-force knn returns k ranked neighbors with self excluded") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, "vec_id", "v", 4)
    val byQuery = out.collect().groupBy(_.getLong(0))
    byQuery.keySet shouldBe Set(0L, 1L, 2L)
    byQuery.values.foreach { rows =>
      rows.length shouldBe 4
      rows.map(_.getInt(3)).sorted.toSeq shouldBe Seq(1, 2, 3, 4)
      rows.foreach(r => r.getLong(1) should not be r.getLong(0))
    }
  }

  test("lsh topk agrees with brute force on the nearest neighbor for most queries") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val q = emb.filter(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "v", 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Similarity.lshTopK(q, emb, "vec_id", "v", 1, 64, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recall is approximate by construction; just require some overlap and
    // that all lsh queries got a result from their bucket
    lsh.size should be >= 1
    val agree = lsh.count { case (k, v) => bf.get(k).contains(v) }
    agree should be >= (lsh.size / 4)
  }

  test("ivf hard negatives: labels differ, ranks well-formed, real recall vs the exact baseline") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"),
        col("label"))
    val q = emb.filter(col("vec_id") % 50 === 0)
    val qLabels = q.select(col("vec_id").cast("long"), col("label").cast("string")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ivf = Similarity.hardNegativesIvf(q, emb, "vec_id", "v", "label", 5, 16, 2).collect()
    ivf.nonEmpty shouldBe true
    ivf.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      // every mined negative carries a label different from its query's
      rows.foreach(r => r.getString(2) should not be qLabels(qid))
      rows.map(_.getInt(4)).sorted.toSeq shouldBe (1 to rows.length).toSeq
    }
    // recall vs the exact O(|Q|·|N|) baseline at nprobe=2/16: isotropic
    // RANDOM test vectors are IVF's worst case (neighbors barely
    // concentrate in cells — real embedding corpora cluster, which is why
    // the cells work in production); require clearly-above-chance recall
    // — random cell routing would keep ≈ 2/16 = 12.5%, measured 42%.
    val exact = Similarity.hardNegatives(q, emb, "vec_id", "v", "label", 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = ivf.count(r => exact((r.getLong(0), r.getLong(1))))
    hit.toDouble / exact.size should be >= 0.3
    // exactness limit: probing ALL cells = every candidate scored = the
    // probe must reproduce the exact baseline bit-for-bit
    val full = Similarity.hardNegativesIvf(q, emb, "vec_id", "v", "label", 5, 16, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    full shouldBe exact
  }

  test("stateless IVF probe equals the windowed probe exactly (ids, ranks, micro-cosines)") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val q = emb.filter(col("vec_id") % 50 === 0)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "v", 16)
    val asg = Similarity.ivfAssignments(emb, cents, "vec_id", "v")
    val windowed = Similarity.ivfProbe(q, cents, asg, "vec_id", "v", 5, 2)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        expr("cast(round(cos_sim * 1000000) AS BIGINT)").as("cos_u"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val stateless = Similarity.ivfProbeStateless(q, cents, asg, "vec_id", "v", 5, 2)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos_u"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    stateless shouldBe windowed
  }

  test("cell_argmin assignment equals the rank-window reference (int and long cranks)") {
    // pins the r17 codegen'd CellArgmin against the pre-r17 rank-window
    // argmin it replaced: same distance expression, same (dist, crank)
    // tie-break, over the real embeddings fixture
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val cents = Similarity.ivfCentroids(emb, "vec_id", "v", 16)
    def reference(corp: org.apache.spark.sql.DataFrame,
                  cs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val withVv = corp.select(col("vec_id").cast("long").as("id"), col("v"),
        Similarity.dot(col("v"), col("v")).as("vv"))
      val dist2 = col("vv") + col("cc") - lit(2.0) * Similarity.dot(col("v"), col("cv"))
      withVv.crossJoin(broadcast(cs))
        .withColumn("__arank_", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("id")).orderBy(dist2, col("crank"))))
        .filter(col("__arank_") === 1)
        .collect().map(r => (r.getAs[Long]("id"),
          r.getAs[Number]("crank").longValue)).toSet
    }
    val got = Similarity.ivfAssignments(emb, cents, "vec_id", "v")
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Number]("crank").longValue)).toSet
    got shouldBe reference(emb, cents)
    // long-crank centroid frame exercises CellArgmin's other codegen leg
    val centsL = cents.select(col("crank").cast("long").as("crank"),
      col("cv"), col("cc"))
    val gotL = Similarity.ivfAssignments(emb, centsL, "vec_id", "v")
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Number]("crank").longValue)).toSet
    gotL shouldBe got
  }

  test("cell_argmin rejects wrong crank / cv / cc / v / vv types at analysis") {
    implicit val s = spark
    import s.implicits._
    val row = Seq((Seq(1.0, 0.0), 1.0)).toDF("v", "vv")
    type C = org.apache.spark.sql.Column
    def cents(crank: C, cv: C, cc: C) =
      array(struct(crank.as("crank"), cv.as("cv"), cc.as("cc")))
    val good = cents(lit(1), array(lit(1.0), lit(0.0)), lit(1.0))
    row.select(graft.functions.VectorExpressions
      .cellArgmin(col("v"), col("vv"), good)).head.getInt(0) shouldBe 1
    Seq(
      (col("v"), col("vv"), cents(lit("1"), array(lit(1.0), lit(0.0)), lit(1.0))),
      (col("v"), col("vv"), cents(lit(1), array(lit(1), lit(0)), lit(1.0))),
      (col("v"), col("vv"), cents(lit(1), array(lit(1.0), lit(0.0)), lit(1))),
      (col("v"), col("vv"), cents(lit(1), array(lit(1.0), lit(0.0)), lit(1.0f))),
      (array(lit(1), lit(0)), col("vv"), good),
      (col("v"), lit(1), good),
      (col("v"), col("vv"), lit(1.0))
    ).foreach { case (v, vv, cs) =>
      intercept[org.apache.spark.sql.AnalysisException] {
        row.select(graft.functions.VectorExpressions.cellArgmin(v, vv, cs)).collect()
      }.getMessage should include("cell_argmin expects")
    }
  }

  test("ivf rebalance: partitions the corpus, rewrites only oversized cells, keeps probe contracts") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // s15's skewed-ingest fixture: jittered copies of one anchor vector
    val anchor = emb.orderBy(col("vec_id")).limit(1).select(col("v").as("av"))
    val planted = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"))
      .crossJoin(broadcast(anchor))
      .select(col("vec_id"),
        concat(array(element_at(col("av"), 1) +
            (col("vec_id") % 89).cast("double") / lit(10000.0)),
          slice(col("av"), 2, 63)).as("v"))
    val cents = Similarity.ivfCentroids(emb, "vec_id", "v", 8)
    val asg = Similarity.ivfAssignments(emb.unionAll(planted), cents, "vec_id", "v")
    val (newCents, newAsg) = Similarity.ivfRebalance(cents, asg, 3, 2)

    // the rebalance is a pure repartition: no row lost, duplicated, or invented
    val oldIds = asg.select("id").collect().map(_.getLong(0)).toSet
    val newIds = newAsg.select("id").collect().map(_.getLong(0)).toSet
    newIds shouldBe oldIds
    newAsg.count() shouldBe asg.count()

    // untouched cells keep their exact membership (their persisted
    // partitions need no rewrite)
    val oldCells = asg.collect().map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet
    val newCells = newAsg.collect()
      .map(r => (r.getAs[Int]("crank"), r.getAs[Int]("parent_crank"), r.getAs[Long]("id")))
    val splitParents = newCells.filter(c => c._1 != c._2).map(_._2).toSet
    splitParents should not be empty // the fixture actually forces a split
    newCells.filterNot(c => splitParents.contains(c._2))
      .map(c => (c._1, c._3)).toSet shouldBe oldCells.filterNot(c => splitParents.contains(c._1))
    // each split parent's two children exactly re-cover its old rows
    splitParents.foreach { p =>
      val before = oldCells.filter(_._1 == p).map(_._2)
      val after = newCells.filter(_._2 == p).map(_._3).toSet
      after shouldBe before
      newCells.filter(_._2 == p).map(_._1).toSet.size shouldBe 2
    }

    // the new centroid frame matches the new assignments' cell ids and
    // still serves ivfProbe's contract (k neighbors per query)
    val centIds = newCents.select("crank").collect().map(_.getInt(0)).toSet
    newAsg.select("crank").distinct().collect().map(_.getInt(0)).toSet
      .subsetOf(centIds) shouldBe true
    val probed = Similarity.ivfProbe(emb.filter(col("vec_id") % 50 === 0),
      newCents, newAsg.select("crank", "id", "v", "vv"), "vec_id", "v", 5, 2)
    probed.groupBy("query_id").count().select(min(col("count"))).collect()
      .head.getLong(0) shouldBe 5L
  }

  test("cdc spans: offset-shifted quotes invisible to stride-aligned d21 are found") {
    implicit val s = spark
    import s.implicits._
    // three planted quote pairs, the copy shifted by 7 chars — an offset
    // d21's stride-20 windows can never align on (matches there need the
    // offset congruent mod 20), while CDC boundaries travel with the
    // quote's own content
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val docs = (0 until 3).flatMap { p =>
      val quote = txt(80) // ~480 chars of shared content (≥ a dozen
                          // expected CDC boundaries at boundaryMod 32)
      Seq((2L * p, s"k $quote zz yy ${txt(3)}"),           // quote at offset 2
        (2L * p + 1, s"abcdefgh $quote qq ww ${txt(3)}"))  // offset 9: Δ = 7
    }
    val corpus = docs.toDF("doc_id", "text")
    // d21 (stride-aligned): provably blind to the 7-char shift
    Dedup.duplicateSpans(corpus, "text", "doc_id", window = 40, stride = 20)
      .count() shouldBe 0L
    // d25 (content-defined): every planted pair surfaces, first
    // occurrence attributed to the pair's earlier doc
    val found = Dedup.cdcSpans(corpus, "text", "doc_id")
      .filter(col("n_docs") >= 2)
      .select("keep_doc").collect().map(_.getLong(0)).toSet
    found shouldBe Set(0L, 2L, 4L)
  }

  test("corpus fingerprint: partition-order-free, content-sensitive; cdc spans edge inputs") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1L to 200L).map(i => (i, s"doc $i body ${"w" * (i % 7).toInt}")).toDF("id", "text")
    def fp(df: org.apache.spark.sql.DataFrame) =
      Dedup.corpusFingerprint(df, "text", "id").head() match {
        case r => (r.getLong(0), r.getLong(1))
      }
    // identical content, any partitioning / row order: same fingerprint
    val base = fp(docs)
    fp(docs.repartition(17)) shouldBe base
    fp(docs.orderBy(col("id").desc)) shouldBe base
    // one changed character: different fingerprint, same count
    val mutated = fp(docs.withColumn("text",
      when(col("id") === 137L, concat(col("text"), lit("!"))).otherwise(col("text"))))
    mutated._1 shouldBe base._1
    assert(mutated._2 != base._2, "fingerprint must change with content")

    // cdcSpans edge inputs: empty text, text shorter than the rolling
    // window, and null rows all survive without emitting junk
    val edge = Seq((1L, ""), (2L, "tiny"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    Dedup.cdcSpans(edge, "text", "doc_id").count() shouldBe 0L
    // two short identical docs below the window width still collide as
    // whole-doc chunks when they clear minLen
    val shorts = Seq((1L, "exactly sixteen!"), (2L, "exactly sixteen!"))
      .toDF("doc_id", "text")
    val hit = Dedup.cdcSpans(shorts, "text", "doc_id", window = 32).collect()
    hit.length shouldBe 1
    hit.head.getLong(2) shouldBe 2L // n_docs
  }

  test("resolution update: incremental fold equals full re-resolve, merges bridged clusters") {
    implicit val s = spark
    import s.implicits._
    // graph layer: old clusters {1,2,3} and {10,11}; a new doc 100
    // bridges them (edges to 2 and 11) and new docs 200-201 form their
    // own fresh cluster — the incremental fold must equal the full
    // resolve over (old pairs ∪ new pairs)
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.resolveDuplicates(oldPairs)
    val newEdges = Seq((100L, 2L), (100L, 11L), (200L, 201L)).toDF("id_a", "id_b")
    val inc = Dedup.resolveUpdateFromEdges(labels, newEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val full = Dedup.resolveDuplicates(oldPairs.unionAll(newEdges), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    inc shouldBe full
    // the bridge merged both old clusters under the global min id 1
    inc.filter(t => Set(10L, 11L, 100L).contains(t._1)).map(_._2) shouldBe Set(1L)
    // untouched clusters must pass through even when OTHER clusters merge
    val lonely = Seq((50L, 51L)).toDF("id_a", "id_b")
    val labels2 = Dedup.resolveDuplicates(oldPairs.unionAll(lonely))
    val inc2 = Dedup.resolveUpdateFromEdges(labels2, newEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    inc2(50L) shouldBe 50L
    inc2(51L) shouldBe 50L

    // signature layer, end-to-end on the real corpus: the incremental
    // fold of the d26 batch equals a FULL re-resolve of the union —
    // proving the one-sided match + batch pairs + star edges reconstruct
    // exactly the pairs the union LSH would have produced
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val index = docs.unionAll(docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" dup dup dup")).as("text")))
    val db = docs.filter(col("doc_id") % 10 === 0)
    val batch = db.select((col("doc_id") + 600000L).as("doc_id"), col("text"))
      .unionAll(db.select((col("doc_id") + 700000L).as("doc_id"),
        concat(col("text"), lit(" dup dup dup dup")).as("text")))
    val idxSigs = Dedup.minHashSignatures(index, "text", "doc_id")
    val newSigs = Dedup.minHashSignatures(batch, "text", "doc_id")
    val oldLabels = Dedup.resolveDuplicates(Dedup.lshCandidatePairs(idxSigs))
    val incremental = Dedup.resolveUpdate(oldLabels, idxSigs, newSigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullUnion = Dedup.resolveDuplicates(
        Dedup.lshCandidatePairs(Dedup.minHashSignatures(
          index.unionAll(batch), "text", "doc_id")), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    incremental shouldBe fullUnion
  }

  test("trained language id beats the stopword heuristic on the mutated fixture") {
    implicit val s = spark
    // the t35 catalog query's own grading frame: per language, held-out
    // count and correct predictions for the trained model vs t3's
    // stopword heuristic
    val r = SparkEntry.queries("t35_trained_lang_id")(spark, sfDir).collect()
    val n = r.map(_.getLong(1)).sum
    val trained = r.map(_.getLong(2)).sum
    val stopword = r.map(_.getLong(3)).sum
    n should be > 0L
    trained should be > stopword
    // the char-trigram perceptrons must actually LEARN the mutated
    // morphology: >= 90% held-out accuracy (measured 100% at sf0.001
    // and sf0.01), where the stopword heuristic only ever gets the
    // identity-mutated English right
    (trained * 10) should be >= (n * 9)
  }

  test("one-pass langIdTrain weights are bit-identical to the per-language composition") {
    implicit val s = spark
    import org.apache.spark.sql.functions._
    // every training quantity is an order-free integer sum, so folding
    // the |langs| sequential perceptron loops into one (lang, bucket)-
    // keyed pass must not change a single weight — this pin is what
    // licenses the restructure (the t35 oracle replays per-language)
    val langs = Seq("de", "en", "es", "fr", "zh")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("lang"),
        concat_ws(" ", expr(
          """transform(
            |  filter(split(lower(regexp_replace(text, '\\s+', ' ')), ' '),
            |         x -> length(x) > 0),
            |  w -> CASE WHEN lang = 'es' THEN concat(w, 'cion')
            |            WHEN lang = 'de' THEN concat(w, 'en')
            |            WHEN lang = 'fr' THEN concat('le', w)
            |            WHEN lang = 'zh' THEN reverse(w)
            |            ELSE w END)""".stripMargin)).as("text"))
    val onePass = TextAnalysis.langIdTrain(docs, "doc_id", "text", "lang",
        langs, epochs = 3, buckets = 256)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // the r12 per-language form: one perceptronEpochs loop per language
    // over the shared trigram bag
    val bag = TextAnalysis.charTrigramBag(docs, "doc_id", "text", 256)
      .join(docs.select(col("doc_id").as("id"), col("lang").as("__lang_")), Seq("id"))
      .localCheckpoint(true)
    val perLang = langs.map { l =>
      val x = bag.select(col("id"),
        when(col("__lang_") === l, lit(1L)).otherwise(lit(-1L)).as("y"),
        col("bucket"), col("cnt"))
      TextAnalysis.perceptronEpochs(x, 3).select(lit(l).as("lang"), col("bucket"), col("w"))
    }.reduce(_ unionAll _)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    onePass shouldBe perLang
    // duplicate language labels would double-count gradients in the
    // one-pass form — rejected loudly instead of silently diverging
    intercept[IllegalArgumentException] {
      TextAnalysis.langIdTrain(docs, "doc_id", "text", "lang",
        Seq("en", "en"), epochs = 1, buckets = 64)
    }
  }

  test("ivf merge: dissolves only starved cells, equals full re-assignment on the survivors") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // s18's starved fixture: a far-away satellite group with its own
    // synthetic centroid (crank 9) holding ~1% of the corpus
    val anchor = emb.orderBy(col("vec_id")).limit(1).select(col("v").as("av"))
    val planted = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") + 300000).as("vec_id"))
      .crossJoin(broadcast(anchor))
      .select(col("vec_id"),
        concat(array((-element_at(col("av"), 1) - lit(50.0)) +
            (col("vec_id") % 13).cast("double") / lit(1000.0)),
          transform(slice(col("av"), 2, 63), x => -x - lit(50.0))).as("v"))
    val c9 = anchor.select(lit(9).as("crank"),
        concat(array(-element_at(col("av"), 1) - lit(50.0)),
          transform(slice(col("av"), 2, 63), x => -x - lit(50.0))).as("cv"))
      .withColumn("cc", Similarity.dot(col("cv"), col("cv")))
    val cents = Similarity.ivfCentroids(emb, "vec_id", "v", 8).unionAll(c9)
    val corpus = emb.unionAll(planted)
    val asg = Similarity.ivfAssignments(corpus, cents, "vec_id", "v")
    // the fixture actually starves cell 9 (it holds exactly the planted rows)
    val plantedIds = planted.select("vec_id").collect().map(_.getLong(0)).toSet
    asg.filter(col("crank") === 9).select("id").collect()
      .map(_.getLong(0)).toSet shouldBe plantedIds
    val (survCents, merged) = Similarity.ivfMerge(cents, asg, 4)

    // only the starved cell is dissolved; survivors keep their ids
    survCents.select("crank").collect().map(_.getInt(0)).toSet shouldBe (1 to 8).toSet
    // pure repartition: no row lost, duplicated, or invented
    merged.count() shouldBe asg.count()
    merged.select("id").distinct().count() shouldBe asg.count()
    // absorbed rows are exactly the starved cell's, audit-marked
    val absorbed = merged.filter(col("parent_crank") =!= col("crank"))
    absorbed.select("parent_crank").distinct().collect()
      .map(_.getInt(0)).toSet shouldBe Set(9)
    absorbed.select("id").collect().map(_.getLong(0)).toSet shouldBe plantedIds
    // untouched cells keep their exact membership
    val oldCells = asg.filter(col("crank") =!= 9).collect()
      .map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet
    merged.filter(col("parent_crank") === col("crank")).collect()
      .map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet shouldBe oldCells
    // THE probe-contract invariant: the merged index is bit-identical to
    // a full re-assignment of the whole corpus on the survivors
    val full = Similarity.ivfAssignments(corpus, survCents, "vec_id", "v")
      .collect().map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet
    merged.collect().map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet shouldBe full

    // balanced index (no starved cell): the merge is an exact no-op
    val cents8 = Similarity.ivfCentroids(emb, "vec_id", "v", 8)
    val asg8 = Similarity.ivfAssignments(emb, cents8, "vec_id", "v")
    val (sc8, m8) = Similarity.ivfMerge(cents8, asg8, 4)
    sc8.select("crank").collect().map(_.getInt(0)).toSet shouldBe
      cents8.select("crank").collect().map(_.getInt(0)).toSet
    m8.filter(col("parent_crank") =!= col("crank")).count() shouldBe 0L
    m8.collect().map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet shouldBe
      asg8.collect().map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet
  }

  test("census selection fallback: K above the literal ceiling merges identically to the isin path") {
    implicit val s = spark
    import s.implicits._
    // DEGENERATE index: 1200 cells, 1100 of them starved singletons. The
    // starved-id selection would build an 1100-literal In expression per
    // consumer (codegen-blowup territory at runaway-split K), so above
    // the 1000-literal ceiling it must ride the broadcast semi/anti-join
    // fallback — with exactly the merge the isin semantics define.
    def vec(x: Double) = Seq(x, 1.0)
    val bigCents = (0 until 100).map(c => (c.toLong, vec(c * 1000.0)))
    val smallCents = (100 until 1200).map(c => (c.toLong, vec(c * 1000.0)))
    val cents = (bigCents ++ smallCents).toDF("crank", "cv")
      .withColumn("cc", Similarity.dot(col("cv"), col("cv")))
    val asgRows =
      bigCents.flatMap { case (c, _) =>
        (0 until 50).map(j => (c, c * 100000L + j, vec(c * 1000.0 + j * 0.001))) } ++
      smallCents.map { case (c, v0) => (c, c * 100000L, v0) }
    val asg = asgRows.toDF("crank", "id", "v")
      .withColumn("vv", Similarity.dot(col("v"), col("v")))
    // mergeDenom 4: singletons starve (1·1200·4 < 6100), big cells don't
    def key(r: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) = (
      r._1.select("crank").collect().map(_.getLong(0)).toSet,
      r._2.select("crank", "parent_crank", "id").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet)
    val viaFallback = key(Similarity.ivfMerge(cents, asg, 4))
    // expected merge, from the fixture: big cells keep their rows, each
    // starved row moves to the nearest big centroid (squared L2, ties to
    // the smaller crank) with its old cell as parent_crank
    def dist2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def nearestBig(v: Seq[Double]) =
      bigCents.minBy { case (c, cv) => (dist2(v, cv), c) }._1
    val expectedRows = asgRows.map { case (c, id, v) =>
      if (c < 100L) (c, c, id) else (nearestBig(v), c, id) }.toSet
    viaFallback shouldBe (((0L until 100L).toSet, expectedRows))
    // and the dissolution actually ran: only the 100 big cells survive,
    // every singleton row was absorbed with its lineage marked
    viaFallback._1 shouldBe (0L until 100L).toSet
    viaFallback._2.count { case (c, p, _) => c != p } shouldBe 1100
    viaFallback._2.size shouldBe asgRows.size
  }

  test("filterCranks: literal and join paths agree on NULL keys, both directions") {
    implicit val s = spark
    import s.implicits._
    // The crank column is non-null by assignment invariant, but the
    // helper must not depend on it: filter(!isin) drops a NULL row
    // (the predicate evaluates to NULL) while a bare left_anti keeps
    // it (NULL never matches the equi-join) — the anti branch carries
    // an explicit isNotNull conjunct so the two paths stay
    // result-identical. The path is picked by id-list size around the
    // 1000-literal ceiling: rows 0..999 + two NULL-key rows, and two id
    // lists that both select cranks [0,600) — 1000 ids (literal path)
    // and 1001 ids (join path), the extras matching no row.
    val df = ((0 until 1000).map(i => (Some(i.toLong), i.toLong)) ++
      Seq((None: Option[Long], 5000L), (None: Option[Long], 5001L)))
      .toDF("crank", "id")
    val literalIds = (0L until 600L) ++ (100000L until 100400L)
    val joinIds = literalIds :+ 200000L
    def run(keep: Boolean, ids: Seq[Long]): Set[Long] = {
      val out = Similarity.filterCranks(df, "crank", ids, keep)
      val joins = out.queryExecution.analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      withClue(s"${ids.size} ids, join path:") { joins.nonEmpty shouldBe (ids.size > 1000) }
      out.select("id").collect().map(_.getLong(0)).toSet
    }
    // the isin semantics: NULL keys match neither direction — ids
    // 5000/5001 appear in NO output
    val expected = Map(true -> (0L until 600L).toSet, false -> (600L until 1000L).toSet)
    for (keep <- Seq(true, false); ids <- Seq(literalIds, joinIds))
      withClue(s"keep=$keep, ${ids.size} ids:") { run(keep, ids) shouldBe expected(keep) }
    for (ids <- Seq(literalIds, joinIds))
      run(keep = false, ids) should contain noneOf (5000L, 5001L)
  }

  test("ivf rebalance: a degenerate split never leaves an empty sub-centroid cell") {
    implicit val s = spark
    import s.implicits._
    // one giant cell whose rows are ALL the same vector: every row
    // re-ranks to sub-seed 1, so sub-seed 2's cell would be empty — the
    // centroid frame must drop it (a probe routed there would waste an
    // nprobe slot on zero candidates forever). Ids {168, 363, 1970, 1994}
    // are the 4 smallest-md5 of the fixture BY CONSTRUCTION (computed
    // offline), so they are the seeds; the 60 hot rows share id 1994's
    // exact vector, making its whole cell identical.
    val baseIds = Seq(1970L, 363L, 168L, 1994L)
    val base = baseIds.map(i => (i, Seq.fill(64)(i.toDouble)))
    val hot = (1L to 60L).map(i => (i, Seq.fill(64)(1994.0)))
    val corpus = (base ++ hot).toDF("vec_id", "v")
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "v", 4)
    val asg = Similarity.ivfAssignments(corpus, cents, "vec_id", "v")
    // the identical-vector cell is the one hot cell (crank 4 = id 1994)
    asg.filter(col("crank") === 4).count() shouldBe 61L
    val (newCents, newAsg) = Similarity.ivfRebalance(cents, asg, 3, 2)
    // every centroid owns at least one row — the empty srank-2 cell
    // (crank mx + parent = 8) was dropped, the rest are all populated
    val populated = newAsg.select("crank").distinct().collect().map(_.getInt(0)).toSet
    val newCranks = newCents.select("crank").collect().map(_.getInt(0)).toSet
    newCranks shouldBe populated
    newCranks should not contain 8
    // and the rebalance stayed a pure repartition
    newAsg.count() shouldBe asg.count()
  }

  test("ivf census sees empty cells: health flags and merge dissolves a zero-population centroid") {
    implicit val s = spark
    import s.implicits._
    // a hand-built index (the loaded-from-parquet shape): centroid 4 owns
    // no rows at all — invisible to a census over the assignments, which
    // is exactly why the census is centroid-complete
    val corpus = ((1L to 4L).map(i => (i, Seq(i * 0.01, 0.0))) ++
      (11L to 14L).map(i => (i, Seq(10.0 + (i - 10) * 0.01, 10.0))) ++
      (21L to 24L).map(i => (i, Seq(20.0 + (i - 20) * 0.01, 20.0)))).toDF("vec_id", "v")
    val cents = Seq((1, Seq(0.0, 0.0)), (2, Seq(10.0, 10.0)),
      (3, Seq(20.0, 20.0)), (4, Seq(1000.0, 1000.0))).toDF("crank", "cv")
      .withColumn("cc", Similarity.dot(col("cv"), col("cv")))
    val asg = Similarity.ivfAssignments(corpus, cents, "vec_id", "v")
    asg.filter(col("crank") === 4).count() shouldBe 0L
    // centroid-complete health: the empty cell reports n=0, starved=1
    val health = Similarity.ivfHealth(cents, asg, 3, 2, 4).collect()
      .map(r => (r.getAs[Int]("crank"),
        (r.getAs[Long]("n_vectors"), r.getAs[Int]("starved"), r.getAs[Int]("hot")))).toMap
    health(4) shouldBe ((0L, 1, 0))
    Seq(1, 2, 3).foreach(c => health(c) shouldBe ((4L, 0, 0)))
    // the assignment-only variant cannot see it (documented contrast)
    Similarity.ivfHealth(asg, 3, 2, 4).collect().map(_.getAs[Int]("crank"))
      .toSet shouldBe Set(1, 2, 3)
    // merge dissolves the empty cell; the populated cells pass through
    val (survCents, merged) = Similarity.ivfMerge(cents, asg, 4)
    survCents.select("crank").collect().map(_.getInt(0)).toSet shouldBe Set(1, 2, 3)
    merged.filter(col("parent_crank") =!= col("crank")).count() shouldBe 0L
    merged.collect().map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet shouldBe
      asg.collect().map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet
  }

  test("ivf maintain: exact no-op on a balanced index, probes byte-identical") {
    implicit val s = spark
    import s.implicits._
    val corpus = ((1L to 4L).map(i => (i, Seq(i * 0.01, 0.0))) ++
      (11L to 14L).map(i => (i, Seq(10.0 + (i - 10) * 0.01, 10.0))) ++
      (21L to 24L).map(i => (i, Seq(20.0 + (i - 20) * 0.01, 20.0)))).toDF("vec_id", "v")
    val cents = Seq((1, Seq(0.0, 0.0)), (2, Seq(10.0, 10.0)),
      (3, Seq(20.0, 20.0))).toDF("crank", "cv")
      .withColumn("cc", Similarity.dot(col("cv"), col("cv")))
    val asg = Similarity.ivfAssignments(corpus, cents, "vec_id", "v")
    val (newCents, newAsg) = Similarity.ivfMaintain(cents, asg, 3, 2, 4)
    // assignments pass through exactly; nothing moved, nothing renumbered
    newAsg.filter(col("parent_crank") =!= col("crank")).count() shouldBe 0L
    newAsg.collect().map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet shouldBe
      asg.collect().map(r => (r.getAs[Int]("crank"), r.getAs[Long]("id"))).toSet
    newCents.select("crank").collect().map(_.getInt(0)).toSet shouldBe Set(1, 2, 3)
    // probes against the maintained index are byte-identical to probes
    // against the input index
    def probe(c: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Similarity.ivfProbe(corpus.filter(col("vec_id") % 2 === 0),
          c, a.select("crank", "id", "v", "vv"), "vec_id", "v", 3, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    probe(newCents, newAsg) shouldBe probe(cents, asg)
  }

  test("ivf maintain: one census drives merge + split; parent_crank reports pre-maintenance cells") {
    implicit val s = spark
    import s.implicits._
    // cell 1 hot (12 rows in two sub-blobs), cells 2/3 normal, cell 4
    // starved (1 far-away row whose nearest survivor is cell 3):
    // t=19, kc=4 → hot iff n > 7.125 (only cell 1), starved iff
    // n < 1.1875 (only cell 4) — both flags from the ONE census
    val corpus = ((101L to 106L).map(i => (i, Seq((i - 101) * 0.01, 0.0))) ++
      (107L to 112L).map(i => (i, Seq(3.0 + (i - 107) * 0.01, 0.0))) ++
      (201L to 203L).map(i => (i, Seq(100.0 + (i - 200) * 0.01, 0.0))) ++
      (301L to 303L).map(i => (i, Seq(200.0 + (i - 300) * 0.01, 0.0))) ++
      Seq((401L, Seq(300.0, 0.0)))).toDF("vec_id", "v")
    val cents = Seq((1, Seq(0.0, 0.0)), (2, Seq(100.0, 0.0)),
      (3, Seq(200.0, 0.0)), (4, Seq(300.0, 0.0))).toDF("crank", "cv")
      .withColumn("cc", Similarity.dot(col("cv"), col("cv")))
    val asg = Similarity.ivfAssignments(corpus, cents, "vec_id", "v")
    asg.groupBy("crank").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap shouldBe
      Map(1 -> 12L, 2 -> 3L, 3 -> 3L, 4 -> 1L)
    // maintenance flags match the monitor's exactly
    val flags = Similarity.ivfHealth(cents, asg, 3, 2, 4).collect()
      .map(r => (r.getAs[Int]("crank"), (r.getAs[Int]("hot"), r.getAs[Int]("starved")))).toMap
    flags.filter(_._2._1 == 1).keySet shouldBe Set(1)
    flags.filter(_._2._2 == 1).keySet shouldBe Set(4)
    val (newCents, newAsg) = Similarity.ivfMaintain(cents, asg, 3, 2, 4)
    val cells = newAsg.collect().map(r =>
      (r.getAs[Int]("crank"), r.getAs[Int]("parent_crank"), r.getAs[Long]("id")))
    // pure repartition
    cells.length shouldBe 19
    cells.map(_._3).toSet shouldBe asg.collect().map(_.getAs[Long]("id")).toSet
    // the starved cell dissolved: its row absorbed by its nearest
    // survivor (cell 3), audit-marked with the pre-maintenance cell
    newCents.select("crank").collect().map(_.getInt(0)).toSet shouldBe Set(1, 2, 3, 5)
    cells.filter(_._2 == 4) shouldBe Array((3, 4, 401L))
    // the hot cell split in two (fresh id = mx + parent = 4 + 1 = 5),
    // both halves populated, membership preserved
    val splitRows = cells.filter(_._2 == 1)
    splitRows.map(_._3).toSet shouldBe (101L to 112L).toSet
    splitRows.map(_._1).toSet shouldBe Set(1, 5)
    // untouched cells byte-identical
    cells.filter(c => c._2 == 2 || c._2 == 3).map(c => (c._1, c._3)).toSet shouldBe
      Set((2, 201L), (2, 202L), (2, 203L), (3, 301L), (3, 302L), (3, 303L))
  }

  test("cdc clean: strips shifted duplicate chunks, reassembly edge cases (whole-doc-kept, all-dropped)") {
    implicit val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val quote = txt(80) // ~480 chars of shared content
    val a = s"k $quote zz yy ${txt(3)}" // quote at offset 2
    val b = s"${txt(2)} longer $quote ${txt(2)}" // same quote, shifted
    val uniq = txt(40)
    val docs = Seq((10L, a), (20L, b), (30L, uniq), (40L, a)).toDF("doc_id", "text")
    def norm(t: String) = t.toLowerCase.replaceAll("\\s+", " ").replaceAll("[^ -~]", "")
    val out = Dedup.cdcClean(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // whole-doc-kept: a unique doc reassembles losslessly (chunks joined
    // with no separator give back the normalized text exactly)
    out(30L)._3 shouldBe norm(uniq)
    out(30L)._2 shouldBe out(30L)._1
    // the first occurrence (smallest doc id) keeps its full text
    out(10L)._3 shouldBe norm(a)
    // the shifted copy loses the quote's interior chunks — content-
    // defined boundaries align at ANY offset — but keeps its unique head
    out(20L)._3.length.toLong should be < (norm(b).length - quote.length / 2).toLong
    out(20L)._3 should startWith(norm(b).take(4))
    out(20L)._2 should be < out(20L)._1
    // all-dropped: with minLen=1 every chunk is a dedup candidate, so an
    // exact copy (id 40, losing to id 10 on the (doc, off) order)
    // reassembles to the empty string with n_kept = 0
    val strict = Dedup.cdcClean(docs, "text", "doc_id", minLen = 1).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    strict(40L)._2 shouldBe 0L
    strict(40L)._3 shouldBe ""
    strict(40L)._1 should be > 0L
  }

  test("SoftDedupGate: batch-internal and cross-batch legs link stream-only duplicates") {
    implicit val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = txt(60)
    val index = Seq((1L, txt(50))).toDF("doc_id", "text")
    val idxSigs = Dedup.minHashSignatures(index, "text", "doc_id")
    val labels = Seq.empty[(Long, Long)].toDF("id", "keep_id")
    val gate = new graft.ml.SoftDedupGate(labels, idxSigs)
    // micro-batch 1: two stream docs duplicating EACH OTHER, no index
    // counterpart — the batch-internal leg q114's stream-static shape
    // cannot see
    gate.ingest(Seq((100L, base), (101L, base + " dup dup")).toDF("doc_id", "text"),
      "text", "doc_id")
    // micro-batch 2: a third member arriving LATER — the cross-batch
    // retained-signature leg
    gate.ingest(Seq((102L, base + " zz yy")).toDF("doc_id", "text"), "text", "doc_id")
    val w = gate.weights(Seq(100L, 101L, 102L, 999L).toDF("doc_id"), "doc_id")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    Seq(100L, 101L, 102L).foreach { id =>
      w(id) shouldBe ((100L, 3L, 333333L))
    }
    // a doc outside every pair graph keeps full weight
    w(999L) shouldBe ((999L, 1L, 1000000L))
  }

  test("SoftDedupGate.rebase: folded gate equals the never-rebased gate over the same history") {
    implicit val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = txt(60)
    val idxSigs = Dedup.minHashSignatures(
      Seq((1L, txt(50))).toDF("doc_id", "text"), "text", "doc_id")
    val labels = Seq.empty[(Long, Long)].toDF("id", "keep_id")
    val b1 = Seq((100L, base), (101L, base + " dup dup")).toDF("doc_id", "text")
    val b2 = Seq((102L, base + " zz yy")).toDF("doc_id", "text")
    // never-rebased reference: both batches through one gate
    val g0 = new graft.ml.SoftDedupGate(labels, idxSigs)
    g0.ingest(b1, "text", "doc_id")
    g0.ingest(b2, "text", "doc_id")
    // rebased: fold batch 1 into the index + labels, hand a FRESH gate
    // the folded state, then ingest batch 2 — its dup of a batch-1 doc
    // now matches it as an INDEX row, not a retained one
    val g1 = new graft.ml.SoftDedupGate(labels, idxSigs)
    g1.ingest(b1, "text", "doc_id")
    val (idx2, lab2) = g1.rebase()
    val g2 = new graft.ml.SoftDedupGate(lab2, idx2)
    g2.ingest(b2, "text", "doc_id")
    val ids = Seq(100L, 101L, 102L, 999L).toDF("doc_id")
    def w(g: graft.ml.SoftDedupGate) = g.weights(ids, "doc_id").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val rebased = w(g2)
    rebased shouldBe w(g0)
    rebased(102L) shouldBe ((100L, 3L, 333333L))
  }

  test("SoftDedupGate: per-doc candidate budget preserves the planted links and equals the unbudgeted gate") {
    implicit val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = txt(60)
    val idxSigs = Dedup.minHashSignatures(
      Seq((1L, base + " index copy")).toDF("doc_id", "text"), "text", "doc_id")
    val labels = Seq.empty[(Long, Long)].toDF("id", "keep_id")
    val b1 = Seq((100L, base), (101L, base + " dup dup")).toDF("doc_id", "text")
    val b2 = Seq((102L, base + " zz yy")).toDF("doc_id", "text")
    def drained(cap: Int) = {
      val g = new graft.ml.SoftDedupGate(labels, idxSigs, maxCandidatesPerDoc = cap)
      g.ingest(b1, "text", "doc_id"); g.ingest(b2, "text", "doc_id")
      g.weights(Seq(1L, 100L, 101L, 102L, 999L).toDF("doc_id"), "doc_id")
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    val capped = drained(4)
    // the budget (>= the true per-doc duplicate degree) drops nothing:
    // index leg, cross-batch leg, and batch-internal leg all link
    capped shouldBe drained(0)
    Seq(1L, 100L, 101L, 102L).foreach { id => capped(id)._2 shouldBe 4L }
    capped(999L) shouldBe ((999L, 1L, 1000000L))
  }

  test("SoftDedupGate: the index side is cut once per gate — later batches never scan the index source") {
    implicit val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = txt(60)
    val dir = tmpDir("gate-index") + "/index.parquet"
    Seq((1L, base + " index copy"), (2L, txt(50)), (3L, txt(50)))
      .toDF("doc_id", "text").write.parquet(dir)
    // a TEXT index, as the stream-gate actor builds it: signatures are a
    // lazy plan over the parquet scan until the gate cuts them
    val idxSigs = Dedup.minHashSignatures(spark.read.parquet(dir), "text", "doc_id")
    val labels = Seq.empty[(Long, Long)].toDF("id", "keep_id")
    val fileBatchDir = tmpDir("gate-batch") + "/batch.parquet"
    Seq((105L, txt(40)), (106L, base + " ww")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(fileBatchDir)
    // per phase: (jobs, SQL executions, executions whose plan scans `dir`),
    // counted only for this test's tagged work
    val tag = "soft-dedup-gate-pin"
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    def bump(k: String) = counts.merge(k, 1, Integer.sum)
    def scans(p: org.apache.spark.sql.execution.SparkPlanInfo): Int =
      (if (p.nodeName.startsWith("Scan parquet") &&
           p.metadata.get("Location").exists(_.contains("gate-index"))) 1 else 0) +
        p.children.map(scans).sum
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.tags", "")
            .split(",").contains(tag))) bump("jobs")
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if x.jobTags.contains(tag) =>
          bump("sql"); counts.merge("scans", scans(x.sparkPlanInfo), Integer.sum)
        case _ =>
      }
    }
    def phase[A](f: => A): (A, (Int, Int, Int)) = {
      counts.clear()
      val a = f
      org.apache.spark.ListenerDrain(spark.sparkContext)
      def c(k: String): Int = counts.getOrDefault(k, 0)
      (a, (c("jobs"), c("sql"), c("scans")))
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addJobTag(tag)
    try {
      val (gate, (_, buildSql, buildScans)) =
        phase(new graft.ml.SoftDedupGate(labels, idxSigs))
      // the constructor's eager cut is the one read of the index source
      buildSql shouldBe 1
      buildScans shouldBe 1
      val batches = Seq(
        Seq((100L, base), (101L, base + " dup dup")),
        Seq((102L, base + " zz yy")),
        Seq((103L, txt(40)), (104L, base + " qq")))
      // a one-file batch, as the file stream delivers with maxFilesPerTrigger 1
      val fileBatch = spark.read.parquet(fileBatchDir)
      val per = batches.map { b =>
        phase(gate.ingest(b.toDF("doc_id", "text"), "text", "doc_id"))._2
      } :+ phase(gate.ingest(fileBatch, "text", "doc_id"))._2
      // no batch scans the index; per ingest: ONE bounded collect of the
      // batch signatures (also the broadcast-size probe: no cut, no
      // probe) and the edge cut, whose one join streams index ∪ retained
      // ∪ batch past the broadcast batch. Jobs: the edge cut's broadcast
      // and checkpoint, plus the collect's limit scan — one job per batch
      // partition tried, so a 2-row local batch (2 partitions) takes 4
      // jobs and a single-partition batch 3
      per.foreach { case (_, sql, sc) => sc shouldBe 0; sql shouldBe 2 }
      per.map(_._1) shouldBe Seq(4, 3, 4, 3)
      // and the result is the linked cluster (index doc 1 + 100..102, 104)
      val w = gate.weights(Seq(1L, 100L, 102L, 103L, 104L).toDF("doc_id"), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      Seq(1L, 100L, 102L, 104L).foreach(id => w(id) should be > 1L)
      // the library fold over the same batches builds its edge set with
      // the gate's builder, but nothing cuts its index in advance: the
      // edge cut's plan scans the index source once, in its band join, on
      // every call. The batch is read once, to the driver, by the bounded
      // collect
      val upd = batches.map { b =>
        phase(Dedup.resolveUpdate(labels, idxSigs, Dedup.minHashSignatures(
          b.toDF("doc_id", "text"), "text", "doc_id")))._2
      }
      upd.foreach { case (jobs, sql, sc) =>
        sc shouldBe 1; sql shouldBe 6; jobs shouldBe 18
      }
    } finally {
      spark.sparkContext.removeJobTag(tag)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("SoftDedupGate: the local batch signatures equal the aggregate form (shared id, NULL text)") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val rnd = new scala.util.Random(37)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val idxSigs = Dedup.minHashSignatures(
      Seq((1L, txt(50))).toDF("doc_id", "text"), "text", "doc_id")
    val gate = new graft.ml.SoftDedupGate(Seq.empty[(Long, Long)].toDF("id", "keep_id"), idxSigs)
    // id 100 carries two different texts (its signature is the min over
    // both shingle sets); id 101's text is NULL (no signature at all)
    val batch = Seq((100L, txt(30)), (100L, txt(20)), (101L, null: String), (102L, txt(2)))
      .toDF("doc_id", "text")
    gate.ingest(batch, "text", "doc_id")
    val folded = gate.rebase()._1
    // the batch is held as a local frame, not a cut
    folded.queryExecution.analyzed.collect { case l: LocalRelation => l } should have size 1
    def sigs(df: org.apache.spark.sql.DataFrame) = df.filter(col("id") >= 100L)
      .collect().map(r => (0 to 8).map(r.getAs[Long])).toSet
    val expected = sigs(Dedup.minHashSignatures(batch, "text", "doc_id"))
    expected.map(_.head) shouldBe Set(100L, 102L)
    sigs(folded) shouldBe expected
  }

  test("SoftDedupGate: over-bound batches and a retained spill to a cut give the default gate's weights") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val rnd = new scala.util.Random(41)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val (base, other) = (txt(60), txt(60))
    val idxSigs = Dedup.minHashSignatures(
      Seq((1L, base + " index copy"), (2L, txt(50))).toDF("doc_id", "text"), "text", "doc_id")
    val labels = Seq.empty[(Long, Long)].toDF("id", "keep_id")
    // every batch has 2 rows: index links, within-batch links and
    // cross-batch links, on two clusters
    val batches = Seq(
      Seq((100L, base), (101L, other)),
      Seq((102L, other + " dup dup"), (103L, txt(40))),
      Seq((104L, base + " zz yy"), (105L, other + " qq")))
    val ids = Seq(1L, 2L, 100L, 101L, 102L, 103L, 104L, 105L).toDF("doc_id")
    def drained(bound: Long) = {
      val g = new graft.ml.SoftDedupGate(labels, idxSigs, broadcastBatchMaxRows = bound)
      batches.foreach(b => g.ingest(b.toDF("doc_id", "text"), "text", "doc_id"))
      val plan = g.rebase()._1.queryExecution.analyzed
      val w = g.weights(ids, "doc_id").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // (local retained frames, cuts: the index plus retained cuts)
      (w, (plan.collect { case l: LocalRelation => l }.size,
        plan.collect { case r: LogicalRDD => r }.size))
    }
    val (ref, refParts) = drained(1L << 18)
    refParts shouldBe ((1, 1))
    Seq(1L, 100L, 104L).foreach(id => ref(id) shouldBe ((1L, 3L, 333333L)))
    Seq(101L, 102L, 105L).foreach(id => ref(id) shouldBe ((101L, 3L, 333333L)))
    Seq(2L, 103L).foreach(id => ref(id)._3 shouldBe 1000000L)
    // bound 1: every batch is over it — aggregate signatures, an eager
    // cut and shuffle joins, each batch retained as its cut
    val (over, overParts) = drained(1)
    overParts shouldBe ((0, 4))
    over shouldBe ref
    // bound 3: the batches fit, but the held rows pass 3 at the second
    // batch and are cut once; the third batch is held again
    val (spilled, spilledParts) = drained(3)
    spilledParts shouldBe ((1, 2))
    spilled shouldBe ref
  }

  test("SoftDedupGate: the 3rd and 4th equal-shaped micro-batches compile no new classes") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    val rnd = new scala.util.Random(43)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = txt(60)
    val idxSigs = Dedup.minHashSignatures(
      Seq((1L, base + " index copy"), (2L, txt(50))).toDF("doc_id", "text"), "text", "doc_id")
    val gate = new graft.ml.SoftDedupGate(Seq.empty[(Long, Long)].toDF("id", "keep_id"), idxSigs)
    // the suite runs sequentially in its own forked JVM, so the JVM-wide
    // compile counter moves only for this test's work
    def compiles(f: => Unit): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      f
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val per = (0 until 4).map { i =>
      val b = Seq((100L + 2 * i, base + s" v$i"), (101L + 2 * i, txt(40))).toDF("doc_id", "text")
      compiles(gate.ingest(b, "text", "doc_id"))
    }
    // the first batch plans without a retained part, the second adds it;
    // from then on the plan is the same: the retained rows and the batch
    // are local frames, which never root a codegen stage
    per.drop(2) shouldBe Seq(0L, 0L)
    val w = gate.weights(Seq(1L, 100L, 102L, 104L, 106L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    w.values.toSet shouldBe Set(5L)
  }

  test("capCandidatesSym: true per-doc budget — chance edges in nobody's top-cap drop, planted edges survive") {
    implicit val s = spark
    import s.implicits._
    // K5 chance clique (est 0.5) among docs 1..5, plus one planted
    // near-dup (est 1.0) per doc to a high-id partner 101..105 — the
    // ADVICE scenario where the one-sided cap leaves high-id volume
    // unbounded. cap=1: every doc's own top-1 is its planted edge, so
    // ALL 5 planted pairs survive (kept by the low endpoint's budget —
    // high ids never even rank) and ALL 10 chance pairs drop (in
    // neither endpoint's top-1).
    val planted = (1L to 5L).map(i => (i, i + 100L, 1.0))
    val clique = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b, 0.5)
    val pairs = (planted ++ clique).toDF("id_a", "id_b", "est_jaccard")
    val out = Dedup.capCandidatesSym(pairs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    out shouldBe (1L to 5L).map(i => (i, i + 100L)).toSet
    // the ONE-SIDED cap on the same input keeps chance edges (id_a=1's
    // top-1 is its planted edge, but 2..5 keep their clique edges only
    // when ranked per id_a) — the documented contrast
    val oneSided = Dedup.capCandidates(pairs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    oneSided shouldBe (1L to 5L).map(i => (i, i + 100L)).toSet
    // ...and with the planted edges flipped to the (high, low) orientation
    // the one-sided cap can no longer protect them per low id, while the
    // symmetrized cap still can
    val flipped = (planted.map { case (a, b, e) => (b, a, e) } ++ clique)
      .toDF("id_a", "id_b", "est_jaccard")
    val symF = Dedup.capCandidatesSym(flipped, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    symF shouldBe (1L to 5L).map(i => (i, i + 100L)).toSet
    val oneF = Dedup.capCandidates(flipped, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    oneF should not be symF // chance clique edges survive the one-sided cap
  }

  test("ivf maintain on a BIGINT-crank index: isin narrowing + fresh-id literal keep the column type") {
    implicit val s = spark
    import s.implicits._
    // a loaded-from-parquet index can carry crank as BIGINT; the driver-
    // census path must compare and renumber in the column's own type
    // (a silent cast would break schema contracts and parquet pushdown)
    val corpus = ((101L to 112L).map(i => (i, Seq((if (i <= 106) 0.0 else 3.0) + (i - 101) * 0.01, 0.0))) ++
      (201L to 203L).map(i => (i, Seq(100.0 + (i - 200) * 0.01, 0.0))) ++
      (301L to 303L).map(i => (i, Seq(200.0 + (i - 300) * 0.01, 0.0))) ++
      Seq((401L, Seq(300.0, 0.0)))).toDF("vec_id", "v")
    val centsL = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(100.0, 0.0)),
      (3L, Seq(200.0, 0.0)), (4L, Seq(300.0, 0.0))).toDF("crank", "cv")
      .withColumn("cc", Similarity.dot(col("cv"), col("cv")))
    val asgL = Similarity.ivfAssignments(corpus, centsL, "vec_id", "v")
    asgL.schema("crank").dataType shouldBe org.apache.spark.sql.types.LongType
    val (nc, na) = Similarity.ivfMaintain(centsL, asgL, 3, 2, 4)
    na.schema("crank").dataType shouldBe org.apache.spark.sql.types.LongType
    nc.schema("crank").dataType shouldBe org.apache.spark.sql.types.LongType
    // same semantics as the int-crank fixture: cell 4 dissolved into 3,
    // hot cell 1 split with the fresh id mx + parent = 5
    nc.select("crank").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 3L, 5L)
    val cells = na.collect().map(r =>
      (r.getAs[Long]("crank"), r.getAs[Long]("parent_crank"), r.getAs[Long]("id")))
    cells.length shouldBe 19
    cells.filter(_._2 == 4L) shouldBe Array((3L, 4L, 401L))
    cells.filter(_._2 == 1L).map(_._1).toSet shouldBe Set(1L, 5L)
  }

  test("capCandidatesSym: cap above the true degree is a pass-through (pairs, est preserved)") {
    implicit val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L, 0.75), (1L, 3L, 0.5), (2L, 3L, 1.0))
      .toDF("id_a", "id_b", "est_jaccard")
    val out = Dedup.capCandidatesSym(pairs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    out shouldBe Set((1L, 2L, 0.75), (1L, 3L, 0.5), (2L, 3L, 1.0))
  }

  test("actor-surface maintenance leaves zero persistent RDDs (CacheLease frees at job teardown)") {
    implicit val s = spark
    import s.implicits._
    // the s19-shaped fixture: cell 1 hot, cell 4 starved
    val corpus = ((101L to 106L).map(i => (i, Seq((i - 101) * 0.01, 0.0))) ++
      (107L to 112L).map(i => (i, Seq(3.0 + (i - 107) * 0.01, 0.0))) ++
      (201L to 203L).map(i => (i, Seq(100.0 + (i - 200) * 0.01, 0.0))) ++
      (301L to 303L).map(i => (i, Seq(200.0 + (i - 300) * 0.01, 0.0))) ++
      Seq((401L, Seq(300.0, 0.0)))).toDF("vec_id", "v")
    val cents = Seq((1, Seq(0.0, 0.0)), (2, Seq(100.0, 0.0)),
      (3, Seq(200.0, 0.0)), (4, Seq(300.0, 0.0))).toDF("crank", "cv")
      .withColumn("cc", Similarity.dot(col("cv"), col("cv")))
    val asg = Similarity.ivfAssignments(corpus, cents, "vec_id", "v")
    cents.createOrReplaceTempView("mm_cents")
    asg.createOrReplaceTempView("mm_asg")
    val cdocs = Seq((10L, "alpha bravo carol delta echo fox golf hotel india jazz " * 8),
      (20L, "alpha bravo carol delta echo fox golf hotel india jazz " * 8 + "tail"),
      (30L, "")).toDF("doc_id", "text")
    cdocs.createOrReplaceTempView("mm_docs")
    val maintain = new graft.ml.SimilaritySearchActor
    maintain.init(Map("view" -> "mm_asg", "method" -> "ivf-maintain",
      "centroidsView" -> "mm_cents", "assignView" -> "mm_asg"))(spark)
    val clean = new graft.ml.DedupActor
    clean.init(Map("view" -> "mm_docs", "method" -> "cdc-clean"))(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // metricsEnabled = true: the runner COUNTS each output — both passes'
    // plans fully execute (and their interior caches populate) before the
    // job's teardown frees them
    val pipeline = graft.pipeline.Pipeline("maintenance-cleanup",
      jobs = Seq(graft.pipeline.Job("m", Seq(
        graft.pipeline.Action("maintain", maintain,
          Some(graft.pipeline.View("mm_maintained"))),
        graft.pipeline.Action("clean", clean,
          Some(graft.pipeline.View("mm_cleaned")))))),
      singleSparkSession = true)
    new graft.core.PipelineRunner(graft.core.PipelineContext(
      singleSparkSession = true, metricsEnabled = true)).run(pipeline)(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    leaked shouldBe empty
    // and the promoted views still read correctly (uncached recompute) —
    // bit-identical to the library path
    val lib = Similarity.ivfMaintain(cents, asg, 3, 2, 4)._2
      .collect().map(r => (r.getAs[Int]("crank"), r.getAs[Int]("parent_crank"),
        r.getAs[Long]("id"))).toSet
    spark.table("mm_maintained").collect()
      .map(r => (r.getAs[Int]("crank"), r.getAs[Int]("parent_crank"),
        r.getAs[Long]("id"))).toSet shouldBe lib
    spark.table("mm_cleaned").collect().map(_.getLong(0)).toSet shouldBe
      Set(10L, 20L, 30L) // the empty doc reports a row too (n_chunks = 0)
    // the comparison pass above cached again (library call outside any
    // lease) — drop it so this suite leaves the shared session clean
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("maybeBroadcast: pins under the bound, shuffle-joins over it, results identical") {
    implicit val s = spark
    import s.implicits._
    val small = (1L to 5L).map(i => (i, i * 10)).toDF("id", "v")
    val big = (1L to 100L).map(i => (i, i)).toDF("id", "k")
    // broadcast pinning must survive with auto-broadcast DISABLED (that
    // is what the pin is for); un-hinted, the same join shuffle-joins
    val scoped = org.apache.spark.sql.GraftSqlBridge.clonedSession(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    def onScoped(df: org.apache.spark.sql.DataFrame) =
      org.apache.spark.sql.GraftSqlBridge.onSession(scoped, df)
    val under = onScoped(big).join(Dedup.maybeBroadcast(onScoped(small), 10), Seq("id"))
    val over = onScoped(big).join(Dedup.maybeBroadcast(onScoped(small), 3), Seq("id"))
    val a = under.collect().map(_.toString).sorted
    val b = over.collect().map(_.toString).sorted
    a shouldBe b
    a.length shouldBe 5
    under.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
    over.queryExecution.executedPlan.toString should not include "BroadcastHashJoin"
  }

  test("q115 links the index-less stream pair q114 leaves at full weight") {
    implicit val s = spark
    // q114 as-is: the reversed (+800000) docs have no index counterpart
    // and the gate is blind to their stream twins — weight stays 1e6
    val q114 = SparkEntry.queries("q114_stream_soft_dedup")(spark, sfDir).collect()
    val rev114 = q114.filter(_.getAs[Long]("new_id") >= 800000L)
    rev114 should not be empty
    rev114.foreach(_.getAs[Long]("weight_u") shouldBe 1000000L)
    // q115: the +900000 leg duplicates the +800000 twin within the
    // stream — the batch-internal leg links them, so both get
    // 1e6/csize despite never matching the index
    val q115 = SparkEntry.queries("q115_stream_soft_dedup_linked")(spark, sfDir).collect()
    val planted = q115.filter(_.getAs[Long]("new_id") >= 800000L)
    planted should not be empty
    // the batch-internal leg links the stream-only twins — a few SHORT
    // docs legitimately miss (the appended marker dilutes their small
    // shingle set below the est-jaccard floor; the oracle agrees), so
    // the pin is "the vast majority link", not "all"
    val linked = planted.filter(_.getAs[Int]("matched") == 1)
    linked.length.toDouble should be >= 0.8 * planted.length
    linked.foreach { r =>
      r.getAs[Long]("cluster_size") should be >= 2L
      r.getAs[Long]("weight_u") should be <= 500000L
    }
  }

  test("length drift: zero on identical snapshots, fires on a planted truncation") {
    implicit val s = spark
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val same = graft.ml.TextAnalysis.lengthDrift(docs, docs, "source", "text")
      .collect()
    same should not be empty
    same.foreach { r =>
      r.getAs[Long]("l1_shift_ppm") shouldBe 0L
      r.getAs[Long]("max_shift_ppm") shouldBe 0L
      r.getAs[Long]("n_new") shouldBe r.getAs[Long]("n_old")
    }
    // a truncating extractor: every doc in the new snapshot loses all
    // but its first ~8 tokens — the length histogram must move
    val truncated = docs.withColumn("text",
      expr("array_join(slice(split(text, ' '), 1, 8), ' ')"))
    val drifted = graft.ml.TextAnalysis.lengthDrift(truncated, docs, "source", "text")
      .collect()
    drifted.map(_.getAs[Long]("l1_shift_ppm")).min should be > 0L
    // shares are ppm: per source the L1 shift is bounded by 2e6
    drifted.map(_.getAs[Long]("l1_shift_ppm")).max should be <= 2000000L
  }

  test("water-fill: never over-allocates, caps get exactly avail, redistribution beats the single pass") {
    implicit val s = spark
    import spark.implicits._
    // one whale + a shoal of minnows: the minnows cap immediately, their
    // surplus must flow to the whale
    val per = (("whale", 1000000L) +: (1 to 9).map(i => (s"m$i", 10000L)))
      .toDF("source", "n_tokens")
    val out = graft.ml.Curation.waterFill(per, "source", "n_tokens",
      budgetDiv = 2, maxEpochs = 1, rounds = 3).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("avail"), r.getAs[Long]("alloc"), r.getAs[Long]("capped_round"),
          r.getAs[Long]("q")))).toMap
    val budget = (1000000L + 9 * 10000L) / 2
    out.values.map(_._2).sum should be <= budget
    out.values.foreach { case (avail, alloc, _, _) => alloc should be <= avail }
    out.values.filter(_._3 > 0).foreach { case (avail, alloc, _, _) => alloc shouldBe avail }
    // every minnow capped in round 1; the whale absorbed their surplus
    (1 to 9).foreach { i => out(s"m$i")._3 shouldBe 1L }
    out("whale")._3 shouldBe 0L
    // the single-pass (no-redistribution) allocation for comparison
    val qTot = out.values.map(_._4).sum
    val singlePass = out.values.map { case (avail, _, _, q) =>
      math.min(avail, budget * q / qTot) }.sum
    out.values.map(_._2).sum should be > singlePass
  }

  test("mixture anneal: epoch 0 is the natural mix, the last epoch is uniform, interior interpolates") {
    implicit val s = spark
    import spark.implicits._
    val per = Seq(("web", 900000L), ("books", 90000L), ("code", 10000L))
      .toDF("source", "n_tokens")
    val out = graft.ml.Curation.mixtureAnneal(per, "source", "n_tokens", 5, 1000000L)
      .collect().map(r => ((r.getAs[String]("source"), r.getAs[Long]("epoch")),
        (r.getAs[Long]("w_ppm"), r.getAs[Long]("tokens_alloc")))).toMap
    out(("web", 0L))._1 shouldBe 900000L   // 1e6·9e5 div 1e6
    out(("code", 0L))._1 shouldBe 10000L
    out(("web", 4L))._1 shouldBe 333333L   // uniform = 1e6 div 3
    out(("code", 4L))._1 shouldBe 333333L
    // linear interior: epoch 2 of 0..4 is the midpoint
    out(("web", 2L))._1 shouldBe (2L * 900000L + 2L * 333333L) / 4L
    // the big source anneals DOWN, the small source UP, monotonically
    (0 until 4).foreach { e =>
      out(("web", e.toLong))._1 should be >= out(("web", e.toLong + 1))._1
      out(("code", e.toLong))._1 should be <= out(("code", e.toLong + 1))._1
    }
    // token allocation follows the weights against the per-epoch budget
    out(("books", 0L))._2 shouldBe out(("books", 0L))._1 // budget 1e6 ⇒ alloc = w_ppm
  }

  test("pq topk reconstructions are 64-dim and rank near the exact neighbors") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val q = emb.filter(col("vec_id") % 100 === 0)
    val pq = Similarity.pqTopK(q, emb, "vec_id", "v", 5).collect()
    val byQuery = pq.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      rows.length shouldBe 5
      rows.map(_.getInt(3)).sorted.toSeq shouldBe Seq(1, 2, 3, 4, 5)
      // ADC is a squared distance: non-negative, ascending with rank
      val d = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      all(d) should be >= 0.0
      d.sorted.toSeq shouldBe d.toSeq
    }
    // quantization is lossy by construction; require real overlap with the
    // exact SQUARED-L2 top-5 (the metric ADC approximates), not agreement
    import org.apache.spark.sql.expressions.Window
    val withN = emb.select(col("vec_id").cast("long").as("id"), col("v"),
      Similarity.dot(col("v"), col("v")).as("vv"))
    val qn = withN.filter(col("id") % 100 === 0)
      .select(col("id").as("qid"), col("v").as("qv"), col("vv").as("qq"))
    val exact = qn.crossJoin(withN).filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        (col("qq") + col("vv") - lit(2.0) * Similarity.dot(col("qv"), col("v"))).as("d"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d"), col("id"))))
      .filter(col("rank") <= 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val overlap = byQuery.map { case (k, rows) =>
      rows.map(_.getLong(1)).count(exact.getOrElse(k, Set.empty))
    }.sum
    // 16-entry codebooks over isotropic random vectors quantize coarsely
    // (high distortion is inherent, which is why real indexes train
    // codebooks on the data); require clearly-above-chance overlap, not
    // recall: random top-5 picks would overlap ≈ 5·5/499 ≈ 0.05/query.
    overlap should be >= 2
  }

  test("ivfpq topk: ranks well-formed, ADC ascending, candidates cell-bounded") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val q = emb.filter(col("vec_id") % 100 === 0)
    val rows = Similarity.ivfPqTopK(q, emb, "vec_id", "v", 5).collect()
    rows.nonEmpty shouldBe true
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      // <= 5: a probe set can contain fewer than k candidates — that is
      // the candidate bounding working, not a defect
      rs.length should be <= 5
      rs.map(_.getInt(3)).sorted.toSeq shouldBe (1 to rs.length)
      val d = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      all(d) should be >= 0.0
      d.sorted.toSeq shouldBe d.toSeq
    }
    // cell bounding is real: every query's candidate count is strictly
    // below the corpus size it would scan under full ADC (s5's shape)
    val corpusN = emb.count()
    rows.groupBy(_.getLong(0)).values.foreach(_.length.toLong should be < corpusN)
  }

  test("SimilaritySearchActor exposes pq and ivfpq through the pipeline surface") {
    implicit val s = spark
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("ann_in")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    for (m <- Seq("pq", "ivfpq")) {
      val actor = new graft.ml.SimilaritySearchActor()
      actor.init(Map("view" -> "ann_in", "method" -> m, "k" -> "3",
        "dim" -> "64", "queryWhere" -> "vec_id % 100 = 0"))
      val out = actor.run(ctx).get
      withClue(m) {
        out.columns should contain allOf ("query_id", "neighbor_id", "rank")
        out.count() should be > 0L
      }
    }
    // dim is mandatory for the code-based methods
    intercept[IllegalArgumentException] {
      new graft.ml.SimilaritySearchActor().init(Map("view" -> "ann_in", "method" -> "ivfpq"))
    }.getMessage should include("requires dim")
  }

  test("native dot/norm expressions are bit-identical to the fold form") {
    implicit val s = spark
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(100)
      .select(col("vec_id"), col("embedding").as("v"))
    val a = emb.as("a")
    val b = emb.as("b")
    val pairs = a.join(b, col("a.vec_id") < col("b.vec_id"))
    val cmp = pairs.select(
      Similarity.dot(col("a.v"), col("b.v")).as("fast"),
      Similarity.dotHof(col("a.v"), col("b.v")).as("slow"),
      Similarity.l2Norm(col("a.v")).as("nfast"),
      Similarity.l2NormHof(col("a.v")).as("nslow"))
    cmp.filter(col("fast") =!= col("slow") || col("nfast") =!= col("nslow")).count() shouldBe 0
    // strict bit equality via double->bits
    cmp.selectExpr("count(*)",
      "sum(case when cast(fast as string) = cast(slow as string) then 0 else 1 end)")
      .collect().head.getLong(1) shouldBe 0L
  }

  test("vec_dot / vec_norm usable from SQL after registration") {
    implicit val s = spark
    graft.functions.UdfRegistry.registerSystemUdfs(spark)
    spark.read.parquet(s"$sfDir/embeddings.parquet").limit(5)
      .createOrReplaceTempView("vemb")
    val r = spark.sql(
      """select vec_dot(embedding, embedding) as d, vec_norm(embedding) as n
        |from vemb""".stripMargin).collect()
    r.length shouldBe 5
    r.foreach { row =>
      math.abs(row.getDouble(0) - row.getDouble(1) * row.getDouble(1)) should be < 1e-9
    }
  }

  test("url canonicalization folds scheme/host, strips fragments/utm/trailing slash") {
    implicit val s = spark
    import spark.implicits._
    val in = Seq(
      "HTTPS://WWW.Example.COM/Docs/A/",
      "https://www.example.com/Docs/A?utm_source=feed",
      "https://www.example.com/Docs/A#top",
      "https://www.example.com/Docs/A",
      "https://www.example.com/docs/a",           // path case differs: NOT merged
      "http://www.example.com/Docs/A"             // scheme differs: NOT merged
    ).zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("id", "url")
    val out = in.select(col("id"), TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(0L) shouldBe "https://www.example.com/Docs/A"
    out(1L) shouldBe out(0L)
    out(2L) shouldBe out(0L)
    out(3L) shouldBe out(0L)
    (out(4L) should not).equal(out(0L))
    (out(5L) should not).equal(out(0L))
  }

  test("language id picks stopword-heavy language deterministically") {
    implicit val s = spark
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog in the house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "el perro y la casa de los gatos"),
      (4L, "xyzzy qwerty asdf")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "en"
    out(2L) shouldBe "de"
    out(3L) shouldBe "es"
    out(4L) shouldBe "und"
  }

  test("token counts and quality score are sane") {
    implicit val s = spark
    import spark.implicits._
    val df = Seq((1L, "Hello world, this is a test!")).toDF("doc_id", "text")
    val r = df.select(
      TextAnalysis.wsTokenCount(col("text")).as("ws"),
      TextAnalysis.bpeTokenCount(col("text")).as("bpe"),
      TextAnalysis.qualityScore(col("text")).as("q")).collect().head
    r.getInt(0) shouldBe 6
    r.getInt(1) shouldBe 8 // 6 words + comma + bang
    r.getDouble(2) should (be > 0.0 and be <= 1.0)
  }

  test("bm25: rarer term outranks common term, tf raises score, no-match scores 0") {
    implicit val s = spark
    import spark.implicits._
    // 'rare' appears in 1 of 4 docs, 'common' in 3; equal lengths so the
    // length normalization can't mask the idf ordering
    val df = Seq(
      (1L, "rare alpha beta gamma"),
      (2L, "common alpha beta gamma"),
      (3L, "common common alpha beta"),
      (4L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Scores(df, "text", "doc_id", Seq("rare", "common"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    out(4L) shouldBe ((0L, 0L))                  // no query term
    out(1L)._1 shouldBe 1L
    out(1L)._2 should be > out(2L)._2            // idf: df=1 beats df=3 at tf=1
    out(3L)._2 should be > out(2L)._2            // saturation is monotonic in tf
  }

  test("semDedup flags same-cluster near-dups, keeps lowest id") {
    implicit val s = spark
    import spark.implicits._
    // two tight groups on opposite axes + one exact duplicate in each;
    // k=2 must separate the groups, and within each group only the
    // higher-id copy of the duplicate pair may be flagged
    def v(x: Double, y: Double) = Array(x, y, 0.0, 0.0)
    val df = Seq(
      (1L, v(1.0, 0.02)), (2L, v(1.0, 0.02)),    // dup pair, group A
      (3L, v(1.0, -0.4)),                        // group A, distinct
      (10L, v(0.02, 1.0)), (11L, v(0.02, 1.0)),  // dup pair, group B
      (12L, v(-0.4, 1.0))                        // group B, distinct
    ).toDF("vec_id", "v")
    val out = Dedup.semDedup(df, "vec_id", "v", dim = 4, k = 2,
        iterations = 3, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    out.keySet shouldBe Set(1L, 2L, 3L, 10L, 11L, 12L)
    out(2L)._2 shouldBe 1                         // higher id of dup pair pruned
    out(11L)._2 shouldBe 1
    Seq(1L, 3L, 10L, 12L).foreach(id => out(id)._2 shouldBe 0)
    out(1L)._1 shouldBe out(2L)._1                // dups share a cluster
    out(10L)._1 shouldBe out(11L)._1
    out(1L)._1 should not be out(10L)._1          // groups separated
  }

  test("lshMatches pairs new rows against the index side only") {
    implicit val s = spark
    import spark.implicits._
    val idx = Dedup.minHashSignatures(docs, "text", "doc_id")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // dup of 1/4/5
      (101L, "qqq www eee rrr ttt yyy uuu")                  // unrelated
    ).toDF("doc_id", "text")
    val m = Dedup.lshMatches(Dedup.minHashSignatures(batch, "text", "doc_id"), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    m.map(_._1).toSet shouldBe Set(100L)          // only the dup matches...
    m.map(_._2).toSet should contain allOf (1L, 4L) // ...against its index bases
    all(m.map(_._2)) should be < 100L             // never index x index or new x new
  }

  test("LSH pair kernels equal a brute-force reference: every pair once, md5 band buckets, matching-hash fraction") {
    implicit val s = spark
    import s.implicits._
    // hand-made 8-hash signatures, 4 bands of 2
    val idxRows = Seq(
      10L -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
      11L -> Seq(1L, 2L, 3L, 4L, 9L, 9L, 9L, 9L),         // bands 0,1 with 10
      12L -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),         // all 4 bands with 10
      13L -> Seq(0L, 2L, 3L, 0L, 5L, 0L, 7L, 0L),         // 4/8 with 10, no band
      20L -> Seq(1L, 2L, 50L, 51L, 52L, 53L, 54L, 55L),   // duplicate id,
      20L -> Seq(60L, 61L, 3L, 4L, 62L, 63L, 64L, 65L),   // both copies match
      21L -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 96L, 97L),       // duplicate id,
      21L -> Seq(90L, 91L, 92L, 93L, 94L, 95L, 96L, 97L)) // one copy matches
    val newRows = Seq(
      1L -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
      2L -> Seq(70L, 71L, 72L, 73L, 74L, 75L, 7L, 8L),    // band 3 only
      3L -> Seq(100L, 101L, 102L, 103L, 104L, 105L, 106L, 107L))
    def frame(rows: Seq[(Long, Seq[Long])]) =
      rows.toDF("id", "h")
        .select(col("id") +: (0 until 8).map(j => col("h")(j).as(s"mh$j")): _*)
    val md = java.security.MessageDigest.getInstance("MD5")
    def buckets(h: Seq[Long]) = h.grouped(2).map(b =>
      md.digest(b.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString).toSeq
    def est(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y } / 8.0
    def reference(as: Seq[(Long, Seq[Long])], bs: Seq[(Long, Seq[Long])],
                  keep: (Long, Long) => Boolean, minEst: Double) =
      (for { (ia, ha) <- as; (ib, hb) <- bs
             if keep(ia, ib) && buckets(ha).zip(buckets(hb)).exists { case (x, y) => x == y }
             if est(ha, hb) >= minEst } yield (ia, ib, est(ha, hb))).sorted
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val empty = Seq.empty[(Long, Seq[Long])]
    for (minEst <- Seq(0.0, 0.5, 0.75)) {
      withClue(s"minEstJaccard=$minEst: ") {
        for ((as, bs) <- Seq((newRows, idxRows), (empty, idxRows), (newRows, empty)))
          rows(Dedup.lshMatches(frame(as), frame(bs), minEstJaccard = minEst)) shouldBe
            reference(as, bs, (_, _) => true, minEst)
        for (rs <- Seq(idxRows, newRows ++ idxRows, empty))
          rows(Dedup.lshCandidatePairs(frame(rs), minEstJaccard = minEst)) shouldBe
            reference(rs, rs, _ < _, minEst)
      }
    }
    // a pair sharing 2 or 4 bands comes out once; 4/8 matching hashes in
    // no common band is no candidate, even at minEstJaccard 0
    val self = rows(Dedup.lshCandidatePairs(frame(idxRows), minEstJaccard = 0.0))
    self.filter(p => (p._1, p._2) == ((10L, 11L))) shouldBe Seq((10L, 11L, 0.5))
    self.filter(p => (p._1, p._2) == ((10L, 12L))) shouldBe Seq((10L, 12L, 1.0))
    self.filter(p => (p._1, p._2) == ((10L, 13L))) shouldBe empty
    val m = rows(Dedup.lshMatches(frame(newRows), frame(idxRows), minEstJaccard = 0.0))
    m.filter(_._2 == 20L) should have size 2
    m.filter(p => (p._1, p._2) == ((1L, 21L))) shouldBe Seq((1L, 21L, 0.75))
  }

  test("gate index leg against a broadcast-small batch: no shuffle exchange, no pair aggregate") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val rnd = new scala.util.Random(29)
    val words = Vector("alpha", "bravo", "carol", "delta", "echo",
      "fox", "golf", "hotel", "india", "jazz")
    def txt(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = txt(60)
    val idxSigs = Dedup.minHashSignatures(
      Seq((1L, base + " index copy"), (2L, txt(50)), (3L, txt(50))).toDF("doc_id", "text"),
      "text", "doc_id").localCheckpoint(true)
    val gate = new graft.ml.SoftDedupGate(Seq.empty[(Long, Long)].toDF("id", "keep_id"), idxSigs)
    // the batch signatures as the gate holds them: an eager cut
    val batchSigs = Dedup.minHashSignatures(
      Seq((100L, base), (101L, txt(40))).toDF("doc_id", "text"), "text", "doc_id")
      .localCheckpoint(true)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    def leg(df: org.apache.spark.sql.DataFrame) = {
      val out = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = nodes(df.queryExecution.executedPlan)
      plan.collect { case e: ShuffleExchangeExec => e } shouldBe empty
      // both inputs are cuts, so any aggregate here would be a pair distinct
      plan.collect { case a: BaseAggregateExec => a } shouldBe empty
      out
    }
    // the batch against the gate's index cut (what batchEdges streams per
    // micro-batch) and the public kernel over the same cut signatures agree
    val viaGate = leg(Dedup.bandPairs(Dedup.bandSignatures(batchSigs, 8, 4),
      gate.indexBands, 8, 4, 0.5, ordered = lit(false), pinA = true))
    viaGate shouldBe leg(Dedup.lshMatches(batchSigs, idxSigs))
    viaGate shouldBe Set((100L, 1L))
  }

  test("decontaminate actor: bloom flags match the exact join, via a persisted state") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    // eval doc shares a 3-gram run with docs 1 and 3 only
    Seq((100L, "the quick brown fox jumps over lazy dogs"))
      .toDF("doc_id", "text").createOrReplaceTempView("dec_eval")
    Seq((1L, "a tale of the quick brown fox indeed"),
        (2L, "entirely unrelated content with no overlap"),
        (3L, "jumps over lazy dogs every single day"),
        (4L, "more innocent text nothing shared here"))
      .toDF("doc_id", "text").createOrReplaceTempView("dec_corpus")
    val da = new graft.ml.DedupActor()
    da.init(Map("view" -> "dec_corpus", "method" -> "decontaminate",
      "evalView" -> "dec_eval"))
    val flags = da.run(ctx).get.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("contaminated")).toMap
    // no false negatives (1 and 3 share shingles); 2^22 bits over a
    // handful of shingles makes a false positive on 2/4 essentially
    // impossible AND deterministic (fixed hash seeds) — pin exact equality
    flags shouldBe Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 0)

    // lifecycle: persist the bloom-build state, reload, decontaminate
    // against the loaded frame — identical flags, eval never re-shingled
    val build = new graft.ml.DedupActor()
    build.init(Map("view" -> "dec_eval", "method" -> "bloom-build"))
    val dir = tmpDir("bloom_actor")
    build.run(ctx).get.write.parquet(s"$dir/state")
    spark.read.parquet(s"$dir/state").createOrReplaceTempView("dec_state")
    val da2 = new graft.ml.DedupActor()
    da2.init(Map("view" -> "dec_corpus", "method" -> "decontaminate",
      "evalView" -> "dec_state", "evalIsState" -> "true"))
    da2.run(ctx).get.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("contaminated"))
      .toMap shouldBe flags
    // a non-state evalView under evalIsState fails loudly
    val bad = new graft.ml.DedupActor()
    bad.init(Map("view" -> "dec_corpus", "method" -> "decontaminate",
      "evalView" -> "dec_corpus", "evalIsState" -> "true"))
    intercept[IllegalArgumentException] { bad.run(ctx) }
      .getMessage should include("bloom state frame")
  }

  test("semdedup and bm25 are reachable through the actor surface") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())

    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("sd_in")
    val da = new graft.ml.DedupActor()
    da.init(Map("view" -> "sd_in", "method" -> "semdedup", "idField" -> "vec_id",
      "dim" -> "64", "clusters" -> "4", "iterations" -> "2", "cosineThreshold" -> "0.9"))
    val sd = da.run(ctx).get
    sd.columns shouldBe Array("id", "cluster", "is_dup")
    sd.count() shouldBe spark.table("sd_in").count()

    Seq((1L, "alpha beta rare"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text").createOrReplaceTempView("bm_in")
    val ta = new graft.ml.TextAnalysisActor()
    ta.init(Map("view" -> "bm_in", "bm25Terms" -> "rare, gamma"))
    val bm = ta.run(ctx).get
    bm.columns should contain allOf ("quality", "n_terms", "bm25_q")
    bm.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_terms"))
      .toMap shouldBe Map(1L -> 1L, 2L -> 1L)
  }

  test("bm25 actor is row-preserving: null ids survive, duplicate ids don't multiply") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    // one null id, one duplicated id (different texts), one plain row
    Seq((null.asInstanceOf[java.lang.Long], "rare words here"),
        (7L: java.lang.Long, "alpha beta rare"),
        (7L: java.lang.Long, "gamma delta"),
        (9L: java.lang.Long, "no match at all"))
      .toDF("doc_id", "text").createOrReplaceTempView("bm_edge")
    val ta = new graft.ml.TextAnalysisActor()
    ta.init(Map("view" -> "bm_edge", "bm25Terms" -> "rare, gamma"))
    val out = ta.run(ctx).get.cache()
    out.count() shouldBe 4 // exactly the input rows: no drop, no multiply
    val nullRow = out.filter(col("doc_id").isNull).collect()
    nullRow.length shouldBe 1
    nullRow.head.getAs[Long]("n_terms") shouldBe 0L
    nullRow.head.getAs[Long]("bm25_q") shouldBe 0L
    // duplicate id: both rows carry the SAME merged per-id aggregate
    // ("alpha beta rare" + "gamma delta" together hit both terms), and
    // a second run produces identical values (deterministic max-agg)
    val dup = out.filter(col("doc_id") === 7L).collect()
    dup.length shouldBe 2
    dup.map(_.getAs[Long]("n_terms")).toSet shouldBe Set(2L)
    dup.map(_.getAs[Long]("bm25_q")).distinct.length shouldBe 1
    val again = ta.run(ctx).get.filter(col("doc_id") === 7L)
      .collect().map(_.getAs[Long]("bm25_q")).distinct
    again.toSeq shouldBe dup.map(_.getAs[Long]("bm25_q")).distinct.toSeq
    out.unpersist()
  }

  test("bm25 actor joins correctly on a STRING idField and rejects column clashes") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    // the id keeps its native type: NON-numeric string ids must score,
    // not silently collapse to the 0/0 left-join defaults (the old
    // cast-to-long coercion nulled "docA" out of the join)
    Seq(("10", "alpha beta rare"), ("docA", "gamma"), ("12", "nothing"))
      .toDF("sid", "text").createOrReplaceTempView("bm_str")
    val ta = new graft.ml.TextAnalysisActor()
    ta.init(Map("view" -> "bm_str", "idField" -> "sid", "bm25Terms" -> "rare, gamma"))
    val out = ta.run(ctx).get
    out.count() shouldBe 3
    out.collect().map(r => r.getAs[String]("sid") -> r.getAs[Long]("n_terms"))
      .toMap shouldBe Map("10" -> 1L, "docA" -> 1L, "12" -> 0L)
    // a pre-existing output-named column is a clear error, not an
    // ambiguous-reference failure deep in the join
    Seq((1L, "x", 5L)).toDF("doc_id", "text", "n_terms")
      .createOrReplaceTempView("bm_clash")
    val tb = new graft.ml.TextAnalysisActor()
    tb.init(Map("view" -> "bm_clash", "bm25Terms" -> "x"))
    val ex = intercept[IllegalArgumentException] { tb.run(ctx) }
    ex.getMessage should include("n_terms")
  }

  test("curation actor: calibrate/split/dsir/gopher dispatch and match the library") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("cur_in")
    def run(props: Map[String, String]) = {
      val a = new graft.ml.CurationActor()
      a.init(Map("view" -> "cur_in") ++ props)
      a.run(ctx).get
    }
    val cal = run(Map("method" -> "calibrate"))
    cal.columns shouldBe Array("doc_id", "source", "q_u", "rk", "pct_u", "keep")
    cal.count() shouldBe spark.table("cur_in").count()
    // every source keeps its top half (plus ties at the cut)
    cal.filter(col("rk") === 1 && col("keep") === 0).count() shouldBe 0L

    val sp = run(Map("method" -> "split", "trainPct" -> "70", "validPct" -> "20"))
    sp.groupBy(col("split")).count().count() should be <= 3L
    sp.filter(col("fp_splits") =!= 1L).count() shouldBe 0L // no-leak invariant

    val ds = run(Map("method" -> "dsir", "targetWhere" -> "lang = 'en'", "topK" -> "3"))
    ds.filter(col("rk") > 3).count() shouldBe 0L
    ds.columns shouldBe Array("doc_id", "source", "n_toks", "imp_u", "rk")

    val gp = run(Map("method" -> "gopher"))
    gp.columns shouldBe Array("doc_id", "top_2gram", "top_count", "top_cover_u", "dup_2gram_u")
    gp.count() shouldBe spark.table("cur_in").count()

    // dsir without targetWhere fails at init with a pointer
    intercept[IllegalArgumentException] {
      new graft.ml.CurationActor().init(Map("view" -> "cur_in", "method" -> "dsir"))
    }.getMessage should include("targetWhere")
  }

  test("epochSchedule: small sources up-weighted, epoch cap binds, guards fail fast") {
    implicit val s = spark
    import spark.implicits._
    // big source: ~100x the small one's tokens
    val docs = ((1 to 100).map(i => (s"d$i", "big", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")) ++
      Seq(("s1", "small", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")))
      .toDF("doc_id", "source", "text")
    val out = graft.ml.Curation.epochSchedule(docs, "source", "text").collect()
      .map(r => r.getString(0) -> r).toMap
    // temperature (sqrt) up-weighting: the small source gets MORE epochs
    // of itself than the big one
    out("small").getLong(4) should be > out("big").getLong(4)
    // cap binds: never more than 4 full epochs (4e6 micro-epochs)
    out.values.foreach(_.getLong(4) should be <= 4000000L)
    // effective tokens never exceed epochs * n_tokens
    out.values.foreach { r =>
      r.getLong(5) should be <= (r.getLong(1) * 4L)
    }
    an[IllegalArgumentException] should be thrownBy
      graft.ml.Curation.epochSchedule(docs, "source", "text", budgetDiv = 0)
  }

  test("epochScheduleFromCounts: alloc arithmetic survives the Long wrap point") {
    implicit val s = spark
    import spark.implicits._
    // Corpus-scale counts: (n_total div 4) * q overflows BIGINT (~2e27)
    // unless the product rides DECIMAL(38,0). 4e18 fits in Long; the
    // intermediate does not.
    val big = 4000000000000000000L   // 4e18 tokens, q = 2e9
    val small = 1000000000000L       // 1e12 tokens, q = 1e6
    val out = graft.ml.Curation.epochScheduleFromCounts(
        Seq(("big", big), ("small", small)).toDF("source", "n_tokens"),
        "source", "n_tokens")
      .collect().map(r => r.getString(0) -> r).toMap
    // mirror the arithmetic in BigInt (what DuckDB's HUGEINT promotion does)
    val (qB, qS) = (BigInt(2000000000L), BigInt(1000000L))
    val nTotal = BigInt(big) + BigInt(small)
    def alloc(q: BigInt) = ((nTotal / 4) * q / (qB + qS)).toLong
    out("big").getLong(3) shouldBe alloc(qB)
    out("small").getLong(3) shouldBe alloc(qS)
    // the wrapped (plain-BIGINT) result would have been wildly different
    out("big").getLong(3) should be > 0L
    out("big").getLong(3) should be <= big
    // downstream columns stay consistent: eff_tokens <= maxEpochs * n_tokens
    // (BigInt on the test side — the 4x product itself wraps Long here)
    out.values.foreach(r =>
      BigInt(r.getLong(5)) should be <= BigInt(r.getLong(1)) * 4)
  }

  test("packSequences: greedy budget assignment, cumulative boundaries, oversized docs") {
    implicit val s = spark
    import spark.implicits._
    // shardMod=1 -> one shard; packTokens=8; docs of 5 tokens each:
    // cum_before 0,5,10 -> packs 0,0,1 (greedy: a pack may overflow by
    // the doc that crosses the budget, docs are never split)
    val docs = Seq(
      (1L, "a b c d e"), (2L, "f g h i j"), (3L, "k l m n o"),
      (4L, ("x " * 20).trim) // 20 tokens: bigger than the whole budget
    ).toDF("doc_id", "text")
    val out = graft.ml.Curation.packSequences(docs, "doc_id", "text",
        shardMod = 1, packTokens = 8)
      .collect().map(r => (r.getLong(1), r)).toMap // key by pack_id
    out(0L).getLong(2) shouldBe 2L            // docs 1,2
    out(0L).getAs[String]("boundaries") shouldBe "0,5"
    out(0L).getLong(3) shouldBe 10L           // overflow by the crossing doc
    // doc 3 (cum_before 10 -> pack 1), doc 4 (cum_before 15 -> pack 1):
    // greedy keeps filling pack 1; the oversized doc is never split
    out(1L).getLong(2) shouldBe 2L
    out(1L).getAs[String]("boundaries") shouldBe "0,5"
    out(1L).getLong(3) shouldBe 25L
    // determinism: md5 stable across runs
    val again = graft.ml.Curation.packSequences(docs, "doc_id", "text", 1, 8)
      .collect().map(r => (r.getLong(1), r.getAs[String]("pack_md5"))).toMap
    again(0L) shouldBe out(0L).getAs[String]("pack_md5")
  }

  test("unigramSurprise: stopword boilerplate scores low, rare-token text high") {
    implicit val s = spark
    import spark.implicits._
    val docs = ((1 to 50).map(i => (i.toLong, "the the the the")) ++
      Seq((99L, "zq7 qv9 xk3 jw5"))).toDF("doc_id", "text")
    val out = graft.ml.TextAnalysis.unigramSurprise(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // "the" dominates the corpus -> near-zero bits; the rare-token doc
    // carries ~log2(N/1) bits per token
    out(99L) should be > (out(1L) * 4)
    // every boilerplate doc scores identically (pure function of tf)
    out(1L) shouldBe out(50L)
  }

  test("incremental IVF add equals a full assignment rebuild with the same centroids") {
    // the s12 contract: assigning ONLY the new batch against the existing
    // centroid frame and appending is bit-identical to re-assigning the
    // whole union — because assignment is per-row against a broadcast
    // frame, never a function of the other corpus rows
    implicit val s = spark
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val cents = graft.ml.Similarity.ivfCentroids(base, "vec_id", "v", 16)
    val incremental = graft.ml.Similarity.ivfAssignments(base, cents, "vec_id", "v")
      .unionAll(graft.ml.Similarity.ivfAssignments(batch, cents, "vec_id", "v"))
      .select(col("crank"), col("id"))
    val rebuilt = graft.ml.Similarity.ivfAssignments(emb, cents, "vec_id", "v")
      .select(col("crank"), col("id"))
    incremental.exceptAll(rebuilt).count() shouldBe 0L
    rebuilt.exceptAll(incremental).count() shouldBe 0L
  }

  test("pii actor: detect counts and redact tokens; composition is confluent") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    Seq(
      (1L, "mail me at a.b+c@test.org or x@y.io, ssn 123-45-6789"),
      (2L, "call 555-123-4567 from 10.0.0.1 card 4111111111111111"),
      (3L, "nothing sensitive here 12345"),
      (4L, "ip 999.1.1.1 still matches the conservative ipv4 shape"),
      (5L, null.asInstanceOf[String]) // null text: zero counts, null redacted
    ).toDF("doc_id", "text").createOrReplaceTempView("pii_in")
    def run(props: Map[String, String]) = {
      val a = new graft.ml.PiiActor()
      a.init(Map("view" -> "pii_in") ++ props)
      a.run(ctx).get
    }
    val det = run(Map("method" -> "detect")).collect()
      .map(r => r.getLong(0) -> r).toMap
    det(1L).getLong(1) shouldBe 2L // emails
    det(1L).getLong(2) shouldBe 1L // ssn
    det(1L).getLong(6) shouldBe 3L // total
    det(2L).getLong(3) shouldBe 1L // phone
    det(2L).getLong(4) shouldBe 1L // ip
    det(2L).getLong(5) shouldBe 1L // cc
    det(3L).getLong(6) shouldBe 0L
    det(5L).getLong(6) shouldBe 0L // null text -> zero, never null counts
    val red = run(Map("method" -> "redact")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    red(1L)._1 shouldBe "mail me at <EMAIL> or <EMAIL>, ssn <SSN>"
    red(2L)._1 shouldBe "call <PHONE> from <IP> card <CC>"
    red(2L)._2 shouldBe 3L
    red(3L)._1 should include("12345") // non-PII digits untouched
    run(Map("method" -> "redact")).filter(col("doc_id") === 5L)
      .collect().head.isNullAt(1) shouldBe true // null text stays null
    // confluence: redacting an already-redacted text is a no-op
    run(Map("method" -> "redact")).createOrReplaceTempView("pii_round1")
    val again = graft.ml.Pii.redact(spark.table("pii_round1")
      .withColumnRenamed("redacted", "text"), "doc_id", "text")
    again.filter(col("n_redacted") =!= 0L).count() shouldBe 0L
    spark.catalog.dropTempView("pii_in")
    spark.catalog.dropTempView("pii_round1")
  }

  test("curation actor tokenCounter=bpe drives packing with the BPE counter") {
    implicit val s = spark
    import spark.implicits._
    val docs = Seq((1L, "a-b c"), (2L, "x,y z!")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("tkc_in")
    val a = new graft.ml.CurationActor()
    a.init(Map("view" -> "tkc_in", "method" -> "pack", "tokenCounter" -> "bpe"))
    val viaActor = a.run(new graft.core.JobContext(graft.core.PipelineContext()))
      .get.orderBy("shard", "pack_id").collect().map(_.toSeq)
    val direct = graft.ml.Curation.packSequences(docs, "doc_id", "text",
        tokenCount = graft.ml.TextAnalysis.bpeTokenCount(_))
      .orderBy("shard", "pack_id").collect().map(_.toSeq)
    viaActor shouldBe direct
    // and the counters genuinely differ on this input ("a-b" = 3 BPE tokens)
    val ws = graft.ml.Curation.packSequences(docs, "doc_id", "text")
      .agg(org.apache.spark.sql.functions.sum("pack_tokens")).collect().head.getLong(0)
    val bpe = direct.map(_(3).asInstanceOf[Long]).sum
    bpe should be > ws
    intercept[IllegalArgumentException] {
      new graft.ml.CurationActor().init(Map("view" -> "tkc_in", "tokenCounter" -> "nope"))
    }.getMessage should include("tokenCounter")
    spark.catalog.dropTempView("tkc_in")
  }

  test("corpusDiff: added/removed/changed/unchanged, null-vs-absent distinction, actor wiring") {
    implicit val s = spark
    import spark.implicits._
    val oldV = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val newV = Seq((1L, "a"), (2L, "B2"), (5L, "e"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val st = graft.ml.Curation.corpusDiff(oldV, newV, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    st shouldBe Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added")
    // null text is a STATE (hashes as ''), not an absence: 4 is unchanged,
    // while flipping null -> '' stays unchanged (same hash, documented)
    // and null -> 'x' is changed
    val newV2 = Seq((4L, "x")).toDF("doc_id", "text")
    graft.ml.Curation.corpusDiff(oldV.filter(col("doc_id") === 4L), newV2,
      "doc_id", "text").collect().head.getString(1) shouldBe "changed"
    // actor: view = new version, againstView = old
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    oldV.createOrReplaceTempView("cd_old"); newV.createOrReplaceTempView("cd_new")
    val a = new graft.ml.CurationActor()
    a.init(Map("view" -> "cd_new", "method" -> "diff", "againstView" -> "cd_old"))
    a.inputViews should contain allOf ("cd_new", "cd_old")
    a.run(ctx).get.filter(col("status") === "added")
      .collect().head.getLong(0) shouldBe 5L
    // diff without againstView fails at init with a pointer
    intercept[IllegalArgumentException] {
      new graft.ml.CurationActor().init(Map("view" -> "cd_new", "method" -> "diff"))
    }.getMessage should include("againstView")
    spark.catalog.dropTempView("cd_old"); spark.catalog.dropTempView("cd_new")
  }

  test("bpeEncode: learned merges compress token counts, round order respected, actor wiring") {
    implicit val s = spark
    import spark.implicits._
    val docs = Seq((1L, "abab abab abab ab ab")).toDF("doc_id", "text")
    // 2 merges: 'ab' then 'abab' -> both words collapse to ONE symbol
    val m2 = graft.ml.TextAnalysis.bpeLearn(docs, "text", 2)
    val full = graft.ml.TextAnalysis.bpeEncode(docs, "doc_id", "text", m2)
      .collect().head
    full.getLong(1) shouldBe 5L // n_words
    full.getLong(2) shouldBe 5L // every word one symbol
    // 1 merge only: 'abab' stays <ab><ab> (2 syms), 'ab' is 1
    val m1 = graft.ml.TextAnalysis.bpeLearn(docs, "text", 1)
    graft.ml.TextAnalysis.bpeEncode(docs, "doc_id", "text", m1)
      .collect().head.getLong(2) shouldBe 8L // 3*2 + 2*1
    // actor: train view feeds encode via mergesView
    docs.createOrReplaceTempView("be_docs")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    val tr = new graft.ml.TextAnalysisActor()
    tr.init(Map("view" -> "be_docs", "method" -> "bpe-train", "bpeMerges" -> "2"))
    tr.run(ctx).get.createOrReplaceTempView("be_merges")
    val en = new graft.ml.TextAnalysisActor()
    en.init(Map("view" -> "be_docs", "method" -> "bpe-encode",
      "mergesView" -> "be_merges"))
    en.inputViews should contain allOf ("be_docs", "be_merges")
    en.run(ctx).get.collect().head.getLong(2) shouldBe 5L
    intercept[IllegalArgumentException] {
      new graft.ml.TextAnalysisActor().init(
        Map("view" -> "be_docs", "method" -> "bpe-encode"))
    }.getMessage should include("mergesView")
    spark.catalog.dropTempView("be_docs"); spark.catalog.dropTempView("be_merges")
  }

  test("zipfFit: exact hand-computed slope on a constructed zipf corpus, actor wiring") {
    implicit val s = spark
    import spark.implicits._
    // tf(a)=8 tf(b)=4 tf(c)=2 tf(d)=1 -> x=blen(rank)=(1,2,2,3),
    // y=blen(tf)=(4,3,2,1); n=4 sx=8 sy=10 sxy=17 sxx=18
    // decay_u = 1e6*(80-68)/(72-64) = 1_500_000
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++ Seq("d")).mkString(" ")
    val docs = Seq((1L, text, "web")).toDF("doc_id", "text", "source")
    val fit = graft.ml.TextAnalysis.zipfFit(docs, "source", "text", 256).collect()
    fit should have size 1
    fit.head.getLong(1) shouldBe 4L     // n_ranks
    fit.head.getLong(2) shouldBe 1500000L
    // degenerate: one distinct token -> zero denominator -> decay 0
    val one = Seq((1L, "z z z", "w")).toDF("doc_id", "text", "source")
    graft.ml.TextAnalysis.zipfFit(one, "source", "text", 256)
      .collect().head.getLong(2) shouldBe 0L
    // actor routing
    docs.createOrReplaceTempView("zf_docs")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    val a = new graft.ml.TextAnalysisActor()
    a.init(Map("view" -> "zf_docs", "method" -> "zipf-fit", "topK" -> "64"))
    a.run(ctx).get.columns shouldBe Array("source", "n_ranks", "decay_u")
    spark.catalog.dropTempView("zf_docs")
  }

  test("corpusDrift: identical snapshots score ratio 1e6; unseen tokens charge the old model") {
    implicit val s = spark
    import spark.implicits._
    // new = "a a b": N=3, b_self(a)=blen(3 div 2)=1, b_self(b)=blen(3)=2
    // old identical: V=2, NO+VO=5; b_cross(a)=blen(5 div 3)=1,
    // b_cross(b)=blen(5 div 2)=2 -> bits equal -> drift 0, ratio 1e6
    val nw = Seq((1L, "a a b", "s1")).toDF("doc_id", "text", "source")
    val same = graft.ml.TextAnalysis.corpusDrift(nw, nw, "source", "text").collect().head
    same.getLong(1) shouldBe 3L  // n_toks
    same.getLong(4) shouldBe 0L  // drift_bits
    same.getLong(5) shouldBe 1000000L
    // old = "a a a a": V=1, NO+VO=5; a: blen(5 div 3)=1; b unseen:
    // blen(5 div 1)=3 -> bits_cross=2*1+3=5 vs bits_self=4 -> drift 1
    val old = Seq((9L, "a a a a", "s1")).toDF("doc_id", "text", "source")
    val drifted = graft.ml.TextAnalysis.corpusDrift(nw, old, "source", "text").collect().head
    drifted.getLong(2) shouldBe 4L  // bits_self
    drifted.getLong(3) shouldBe 5L  // bits_cross
    drifted.getLong(4) shouldBe 1L
    drifted.getLong(5) shouldBe 1250000L
    // a source with no old-snapshot rows has no model to score against:
    // consistently dropped (both engines inner-join the old totals)
    val newSrc = Seq((2L, "x y", "s2")).toDF("doc_id", "text", "source")
    graft.ml.TextAnalysis.corpusDrift(nw.unionAll(newSrc), old, "source", "text")
      .select("source").collect().map(_.getString(0)).toSeq shouldBe Seq("s1")
    // actor: oldView is required and registered as an input view
    nw.createOrReplaceTempView("cdr_new"); old.createOrReplaceTempView("cdr_old")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    val a = new graft.ml.TextAnalysisActor()
    a.init(Map("view" -> "cdr_new", "method" -> "corpus-drift", "oldView" -> "cdr_old"))
    a.inputViews should contain allOf ("cdr_new", "cdr_old")
    a.run(ctx).get.collect().head.getLong(4) shouldBe 1L
    intercept[IllegalArgumentException] {
      new graft.ml.TextAnalysisActor().init(Map("view" -> "cdr_new", "method" -> "corpus-drift"))
    }.getMessage should include("oldView")
    spark.catalog.dropTempView("cdr_new"); spark.catalog.dropTempView("cdr_old")
  }

  test("bigramSurprise: hand-computed bits on a held-out LM; backoff fires on unseen bigrams") {
    implicit val s = spark
    import spark.implicits._
    // LM "a b a b c": c1(a)=2 c1(b)=2 c1(c)=1, N=5 V=3 -> N+V=8;
    // c2(a,b)=2 c2(b,a)=1 c2(b,c)=1
    val lm = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    // "a b z": first a -> blen(8 div 3)=blen(2)=2; (a,b) seen ->
    // blen(2 div 2)=1; (b,z) unseen -> 2 + blen(8 div 1)=6. total 9/3 toks
    val docs = Seq((1L, "a b z"), (2L, "c"), (3L, "")).toDF("doc_id", "text")
    val out = graft.ml.TextAnalysis.bigramSurprise(docs, lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    out(1L) shouldBe ((3L, 9L, 3000000L))
    // single token "c": blen(8 div (1+1)) = blen(4) = 3
    out(2L) shouldBe ((1L, 3L, 3000000L))
    out(3L) shouldBe ((0L, 0L, 0L))
    // self-scored corpus: every bigram seen, so no backoff path — each
    // doc's bits are finite and n_toks equals its token count
    val self = graft.ml.TextAnalysis.bigramSurprise(lm, lm, "doc_id", "text")
      .collect().head
    self.getLong(1) shouldBe 5L
    // actor routing with an explicit lmView
    docs.createOrReplaceTempView("bs_docs"); lm.createOrReplaceTempView("bs_lm")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    val a = new graft.ml.TextAnalysisActor()
    a.init(Map("view" -> "bs_docs", "method" -> "bigram-surprise", "lmView" -> "bs_lm"))
    a.inputViews should contain allOf ("bs_docs", "bs_lm")
    a.run(ctx).get.columns shouldBe Array("doc_id", "n_toks", "lm_bits", "ppl_u")
    spark.catalog.dropTempView("bs_docs"); spark.catalog.dropTempView("bs_lm")
  }

  test("tokenizerFertility: bytes-per-token under a hand merge table; actor requires mergesView") {
    implicit val s = spark
    import spark.implicits._
    // merge ab: "ab" -> 1 sym, "cd" -> 2 syms; bytes 2+2=4, bpe 3
    val merges = Seq((1L, "ab", "a", "b", 5L)).toDF("round", "merge", "a", "b", "cnt")
    val docs = Seq((1L, "ab cd", "web")).toDF("doc_id", "text", "source")
    val f = graft.ml.TextAnalysis.tokenizerFertility(docs, "source", "text", merges)
      .collect().head
    f.getString(0) shouldBe "web"
    f.getLong(1) shouldBe 2L            // n_words
    f.getLong(2) shouldBe 4L            // n_bytes
    f.getLong(3) shouldBe 3L            // n_bpe
    f.getLong(4) shouldBe 1333333L      // (1e6*4) div 3
    intercept[IllegalArgumentException] {
      new graft.ml.TextAnalysisActor().init(Map("view" -> "x", "method" -> "fertility"))
    }.getMessage should include("mergesView")
  }

  test("centroidDrift: exact quantized L1 shift; one-snapshot groups dropped") {
    implicit val s = spark
    import spark.implicits._
    // new g: (1,2) and (3,4); old g: (1,2) only. per dim:
    // |s_n*n_o - s_o*n_n| div (n_n*n_o) = |4e6-2e6| div 2 = 1e6 (both dims)
    val nw = Seq((1L, Seq(1.0f, 2.0f), "g"), (2L, Seq(3.0f, 4.0f), "g"),
      (3L, Seq(9.0f, 9.0f), "h")).toDF("vec_id", "embedding", "grp")
    val od = Seq((1L, Seq(1.0f, 2.0f), "g")).toDF("vec_id", "embedding", "grp")
    val out = graft.ml.Similarity.centroidDrift(nw, od, "grp", "embedding").collect()
    out should have size 1 // group h has no old snapshot -> dropped
    val r = out.head
    r.getString(0) shouldBe "g"
    (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) shouldBe ((2L, 1L, 2L, 2000000L))
    // identical snapshots -> zero drift
    graft.ml.Similarity.centroidDrift(nw, nw, "grp", "embedding")
      .collect().map(_.getLong(4)).toSet shouldBe Set(0L)
    // actor requires oldView and labelField
    intercept[IllegalArgumentException] {
      new graft.ml.SimilaritySearchActor().init(
        Map("view" -> "x", "method" -> "centroid-drift", "labelField" -> "grp"))
    }.getMessage should include("oldView")
  }

  test("epochShuffle: deterministic, window-equivalent positions, distinct per-epoch permutations") {
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = graft.ml.Curation.epochShuffle(docs, "doc_id", "s1", 2, 4)
    out.count() shouldBe 80 // one row per (doc, epoch)
    // positions are bit-equal to the window form
    val win = out.withColumn("wpos", row_number().over(
      Window.partitionBy(col("epoch"), col("shard"))
        .orderBy(col("ord_key"), col("doc_id"))))
    win.filter(col("pos") =!= col("wpos")).count() shouldBe 0
    // deterministic: a re-run reproduces the identical assignment
    val again = graft.ml.Curation.epochShuffle(docs, "doc_id", "s1", 2, 4)
    out.unionAll(again).distinct().count() shouldBe 80
    // epochs are different permutations (the epoch is in the hash)
    val e0 = out.filter(col("epoch") === 0).select("doc_id", "shard", "pos")
    val e1 = out.filter(col("epoch") === 1).select("doc_id", "shard", "pos")
    e0.intersect(e1).count() should be < 40L
    // a different seed moves documents
    val seeded = graft.ml.Curation.epochShuffle(docs, "doc_id", "s2", 2, 4)
    out.select("doc_id", "epoch", "shard", "pos")
      .intersect(seeded.select("doc_id", "epoch", "shard", "pos"))
      .count() should be < 80L
    // actor routing
    docs.createOrReplaceTempView("es_docs")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    val a = new graft.ml.CurationActor()
    a.init(Map("view" -> "es_docs", "method" -> "shuffle",
      "seed" -> "s1", "shuffleEpochs" -> "2", "shards" -> "4"))
    a.run(ctx).get.columns shouldBe Array("doc_id", "epoch", "shard", "ord_key", "pos")
    spark.catalog.dropTempView("es_docs")
  }

  test("qualityEnsemble: hand-computed Borda ranks over the three signals") {
    implicit val s = spark
    import spark.implicits._
    // corpus tf: a=3 b=1 c=4, N=8 -> bits a=blen(8 div 3)=2, b=4, c=2
    // d1 "a a b": len 3, div 666666, ppl (1e6*8) div 3 = 2666666
    // d2 "a":     len 1, div 1000000, ppl 2000000
    // d3 "c c c c": len 4, div 250000, ppl 2000000
    // ranks (desc, ties by id): len d3,d1,d2 -> 1,2,3; div d2,d1,d3;
    // ppl (lower better, tie d2<d3): d2,d3,d1 -> borda d1=7 d2=5 d3=6
    val docs = Seq((1L, "a a b"), (2L, "a"), (3L, "c c c c")).toDF("doc_id", "text")
    val out = graft.ml.TextAnalysis.qualityEnsemble(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    out(1L) shouldBe ((2L, 2L, 3L, 7L))
    out(2L) shouldBe ((3L, 1L, 1L, 5L))
    out(3L) shouldBe ((1L, 3L, 2L, 6L))
    // actor routing
    docs.createOrReplaceTempView("qe_docs")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    val a = new graft.ml.CurationActor()
    a.init(Map("view" -> "qe_docs", "method" -> "ensemble"))
    a.run(ctx).get.columns shouldBe Array("doc_id", "rk_len", "rk_div", "rk_ppl", "borda")
    spark.catalog.dropTempView("qe_docs")
  }

  test("spanCorruption: full blocks mask exactly 2, tails clip, checksum matches an independent replay") {
    implicit val s = spark
    import spark.implicits._
    val docs = Seq(
      (1L, Seq.fill(16)("a").mkString(" ")), // 2 full blocks -> 4 masked
      (2L, Seq.fill(9)("a").mkString(" ")),  // block 1 holds pos 8 only
      (3L, "")).toDF("doc_id", "text")
    val out = graft.ml.Curation.spanCorruption(docs, "doc_id", "text", "s7")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    out(1L)._1 shouldBe 16L; out(1L)._2 shouldBe 2L
    out(1L)._3 shouldBe 4L; out(1L)._5 shouldBe 250000L
    out(3L) shouldBe ((0L, 0L, 0L, 0L, 0L))
    // independent replay of the block hashes -> exact expected checksum
    def r(doc: Long, b: Long): Long = spark.range(1)
      .select(pmod(graft.ml.Hashing.oracleHash(
        concat_ws(":", lit("s7"), lit(doc), lit(b))), lit(6L)))
      .collect().head.getLong(0)
    val exp1 = (0L to 1L).map { b => val p = b * 8 + r(1L, b); (p + 1) + (p + 2) }.sum
    out(1L)._4 shouldBe exp1
    // doc 2 tail: block 1 spans pos 8..8+r; only pos 8 exists (n=9), so
    // it is masked iff r(2,1) == 0
    val tailMask = if (r(2L, 1L) == 0L) 1L else 0L
    out(2L)._3 shouldBe (2L + tailMask)
    // determinism + seed sensitivity
    val again = graft.ml.Curation.spanCorruption(docs, "doc_id", "text", "s7")
    graft.ml.Curation.spanCorruption(docs, "doc_id", "text", "s7")
      .unionAll(again).distinct().count() shouldBe 3
    val other = graft.ml.Curation.spanCorruption(docs, "doc_id", "text", "zz")
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(4)).toMap
    // same structural counts, (very likely) different positions for doc 1
    (out(1L)._4 == other(1L)) shouldBe (r(1L, 0L) == {
      spark.range(1).select(pmod(graft.ml.Hashing.oracleHash(
        concat_ws(":", lit("zz"), lit(1L), lit(0L))), lit(6L)))
        .collect().head.getLong(0)
    } && r(1L, 1L) == spark.range(1).select(pmod(graft.ml.Hashing.oracleHash(
        concat_ws(":", lit("zz"), lit(1L), lit(1L))), lit(6L)))
        .collect().head.getLong(0))
    // actor routing
    docs.createOrReplaceTempView("sc_docs")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    val a = new graft.ml.CurationActor()
    a.init(Map("view" -> "sc_docs", "method" -> "mask", "seed" -> "s7"))
    a.run(ctx).get.columns shouldBe Array(
      "doc_id", "n_toks", "n_blocks", "n_masked", "mask_pos_sum", "cover_u")
    spark.catalog.dropTempView("sc_docs")
  }

  test("spanCorruption invariants hold for every token count 0..40") {
    implicit val s = spark
    import spark.implicits._
    val docs = (0 to 40).map(n => (n.toLong, Seq.fill(n)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = graft.ml.Curation.spanCorruption(docs, "doc_id", "text", "inv")
      .collect()
    rows should have size 41
    rows.foreach { r =>
      val (n, blocks, masked, posSum) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      n shouldBe r.getLong(0) // doc i has i tokens
      blocks shouldBe (n + 7) / 8
      // full blocks mask exactly 2 (offset <= 5 keeps the span inside);
      // the tail block contributes 0..2 depending on its size vs offset
      masked should be >= 2 * (n / 8)
      masked should be <= math.min(2 * (n / 8) + 2, n)
      // 1-based positions: each masked position in [1, n]
      posSum should be >= masked
      posSum should be <= masked * n
      r.getLong(5) shouldBe (if (n == 0) 0L else 1000000 * masked / n)
    }
  }

  test("tokenizerFertility is consistent with bpeEncode under the same merge table") {
    implicit val s = spark
    import spark.implicits._
    // cross-operator pin: per-source n_bpe/n_words from fertility must
    // equal the per-doc bpeEncode outputs summed by source — both ride
    // the same vocab-encode stage, so a drift here means the shared
    // helper split semantics
    val docs = Seq((1L, "abab cd ab", "w"), (2L, "cd cd abab", "w"),
      (3L, "zz abab", "x")).toDF("doc_id", "text", "source")
    val merges = graft.ml.TextAnalysis.bpeLearn(docs, "text", 3)
    val fert = graft.ml.TextAnalysis.tokenizerFertility(docs, "source", "text", merges)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val enc = graft.ml.TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_words")).as("w"), sum(col("bpe_tokens")).as("t"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    fert shouldBe enc
  }

  test("oovRate: exact per-source OOV under a tiny vocab; full coverage at large k") {
    implicit val s = spark
    import spark.implicits._
    // tf: a=4 b=2 c=1 d=1 -> top-2 vocab {a, b} (ties impossible here);
    // s1 "a a b c": oov=1/4 -> 250000; s2 "a a b d": oov=1/4
    val docs = Seq((1L, "a a b c", "s1"), (2L, "a a b d", "s2"))
      .toDF("doc_id", "text", "source")
    val out = graft.ml.TextAnalysis.oovRate(docs, "source", "text", 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    out("s1") shouldBe ((4L, 1L, 250000L))
    out("s2") shouldBe ((4L, 1L, 250000L))
    // a vocab covering everything -> zero OOV everywhere
    graft.ml.TextAnalysis.oovRate(docs, "source", "text", 100)
      .collect().map(_.getLong(2)).toSet shouldBe Set(0L)
    // actor routing shares the topK property
    docs.createOrReplaceTempView("ov_docs")
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    val a = new graft.ml.TextAnalysisActor()
    a.init(Map("view" -> "ov_docs", "method" -> "oov", "topK" -> "2"))
    a.run(ctx).get.columns shouldBe Array("source", "n_toks", "n_oov", "oov_u")
    spark.catalog.dropTempView("ov_docs")
  }

  test("round-10 operators: degenerate inputs (empty corpus, all-same-label, single-symbol vocab)") {
    implicit val s = spark
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // bpeLearn on an empty corpus: no merges, correct schema, no throw
    val b = graft.ml.TextAnalysis.bpeLearn(empty, "text", 3)
    b.columns.toSeq shouldBe Seq("round", "merge", "a", "b", "cnt")
    b.count() shouldBe 0L
    // single-symbol vocabulary: nothing can merge
    graft.ml.TextAnalysis.bpeLearn(Seq("a a b").toDF("text"), "text", 2)
      .count() shouldBe 0L
    // perceptron on a single-class corpus: every doc misclassified on the
    // negative side never flips (all y = -1 -> weights all negative, all
    // scores negative, y*s > 0 -> converged after epoch 1)
    val oneClass = Seq((1L, "aa bb", "xx"), (2L, "cc", "xx")).toDF("doc_id", "text", "lang")
    val w = graft.ml.TextAnalysis.perceptronTrain(oneClass, "doc_id", "text",
      col("lang") === "en", epochs = 3)
    w.collect().foreach(_.getLong(1) should be < 0L)
    // hardNegatives where every candidate shares the query's label: empty
    val same = Seq((1L, Seq(1.0, 0.0), "A"), (2L, Seq(0.0, 1.0), "A"))
      .toDF("vec_id", "v", "label")
    graft.ml.Similarity.hardNegatives(same, same, "vec_id", "v", "label", 5)
      .count() shouldBe 0L
    // corpusDiff against an empty old version: everything is added
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val d = graft.ml.Curation.corpusDiff(empty, docs, "doc_id", "text")
    d.filter(col("status") === "added").count() shouldBe 2L
  }

  test("hardNegatives: only different-label neighbors, nearest-first, actor wiring") {
    implicit val s = spark
    import spark.implicits._
    // 2D toy geometry: query (1,0) label A; same-label (0.99,0.1) is the
    // NEAREST vector but must be excluded; B-labeled (0.9,0.4) and (0,1)
    // must come back in similarity order
    val vecs = Seq(
      (1L, Seq(1.0, 0.0), "A"), (2L, Seq(0.99, 0.1), "A"),
      (3L, Seq(0.9, 0.4), "B"), (4L, Seq(0.0, 1.0), "B"))
      .toDF("vec_id", "v", "label")
    val out = graft.ml.Similarity.hardNegatives(
        vecs.filter(col("vec_id") === 1L), vecs, "vec_id", "v", "label", 5)
      .collect().map(r => (r.getLong(1), r.getString(2), r.getInt(4)))
    out.map(_._1).toSeq shouldBe Seq(3L, 4L) // same-label 2 excluded
    out.foreach(_._2 shouldBe "B")
    out.map(_._3).toSeq shouldBe Seq(1, 2)
    // actor surface + the labelField requirement
    vecs.createOrReplaceTempView("hn_in")
    val a = new graft.ml.SimilaritySearchActor()
    a.init(Map("view" -> "hn_in", "method" -> "hard-negatives",
      "vectorField" -> "v", "labelField" -> "label",
      "queryWhere" -> "vec_id = 1"))
    a.run(new graft.core.JobContext(graft.core.PipelineContext()))
      .get.collect().map(_.getLong(1)).toSeq shouldBe Seq(3L, 4L)
    intercept[IllegalArgumentException] {
      new graft.ml.SimilaritySearchActor().init(
        Map("view" -> "hn_in", "method" -> "hard-negatives"))
    }.getMessage should include("labelField")
    spark.catalog.dropTempView("hn_in")
  }

  test("perceptronTrain: epoch-1 centroid, convergence stops updates, separable corpus classifies") {
    implicit val s = spark
    import spark.implicits._
    // linearly separable: positive docs use tokens {good, fine},
    // negatives {bad, awful} — disjoint vocab, so the perceptron must
    // separate them and later epochs add nothing once converged
    val docs = Seq(
      (1L, "good good fine", "en"), (2L, "fine good", "en"),
      (3L, "bad awful bad", "xx"), (4L, "awful bad", "xx"))
      .toDF("doc_id", "text", "lang")
    val w1 = graft.ml.TextAnalysis.perceptronTrain(docs, "doc_id", "text",
      col("lang") === "en", epochs = 1)
    val w3 = graft.ml.TextAnalysis.perceptronTrain(docs, "doc_id", "text",
      col("lang") === "en", epochs = 3)
    // epoch 1 = class-difference centroid: positive tokens get +count,
    // negative tokens -count (disjoint vocab -> sign splits cleanly)
    val m1 = w1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m1.values.count(_ > 0) should be >= 1
    m1.values.count(_ < 0) should be >= 1
    // scoring every doc with w1 separates the classes -> epochs 2-3 see
    // no misclassification -> weights unchanged
    val m3 = w3.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m3 shouldBe m1
    // actor surface + the labelWhere requirement
    docs.createOrReplaceTempView("pt_in")
    val a = new graft.ml.TextAnalysisActor()
    a.init(Map("view" -> "pt_in", "method" -> "perceptron-train",
      "labelWhere" -> "lang = 'en'", "epochs" -> "3"))
    val viaActor = a.run(new graft.core.JobContext(graft.core.PipelineContext()))
      .get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaActor shouldBe m1
    intercept[IllegalArgumentException] {
      new graft.ml.TextAnalysisActor().init(
        Map("view" -> "pt_in", "method" -> "perceptron-train"))
    }.getMessage should include("labelWhere")
    spark.catalog.dropTempView("pt_in")
  }

  test("bpeLearn: merge order, multi-char symbols, deterministic tie-break") {
    implicit val s = spark
    import spark.implicits._
    // corpus: "abab" x3, "ab" x2 -> round 1 pairs: (a,b) weighted 3*2+2=8,
    // (b,a) 3. Merge 1 = ab. Round 2 on <ab><ab> / <ab>: (ab,ab) = 3.
    // Merge 2 = abab. Round 3: no pairs left -> empty (degenerate-safe).
    val docs = Seq("abab abab abab ab ab").toDF("text")
    val out = graft.ml.TextAnalysis.bpeLearn(docs, "text", 3).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(4))).toMap
    out(1L) shouldBe (("ab", 8L))
    out(2L) shouldBe (("abab", 3L))
    out.size shouldBe 2 // round 3 found nothing to merge
    // tie-break: equal counts resolve by (a, b) ascending — "xy" and "yz"
    // both appear twice; "xy" wins lexicographically
    val tie = Seq("xy xy yz yz").toDF("text")
    val t1 = graft.ml.TextAnalysis.bpeLearn(tie, "text", 1).collect().head
    t1.getString(1) shouldBe "xy"
    t1.getLong(4) shouldBe 2L
    an[IllegalArgumentException] should be thrownBy
      graft.ml.TextAnalysis.bpeLearn(docs, "text", 0)
    // actor surface
    docs.createOrReplaceTempView("bpe_in")
    val a = new graft.ml.TextAnalysisActor()
    a.init(Map("view" -> "bpe_in", "method" -> "bpe-train", "bpeMerges" -> "2"))
    val viaActor = a.run(new graft.core.JobContext(graft.core.PipelineContext()))
      .get.collect().map(_.getString(1)).sorted
    viaActor shouldBe Array("ab", "abab")
    spark.catalog.dropTempView("bpe_in")
  }

  test("pii redact: n_redacted counts substitutions exposed by earlier classes") {
    implicit val s = spark
    import spark.implicits._
    // On the ORIGINAL text the IP's \b fails ('o'->'1' is word-to-word);
    // replacing the email splices in '>' which IS a boundary, so the IP
    // gets redacted too. The count must reflect BOTH substitutions.
    val df = Seq((1L, "a@b.co1.2.3.4")).toDF("doc_id", "text")
    val r = graft.ml.Pii.redact(df, "doc_id", "text").collect().head
    r.getString(1) shouldBe "<EMAIL><IP>"
    r.getLong(2) shouldBe 2L
    // and detect() keeps its documented independent-per-class semantics:
    // the IP is invisible on the original text
    val d = graft.ml.Pii.detect(df, "doc_id", "text").collect().head
    d.getLong(1) shouldBe 1L // email
    d.getLong(4) shouldBe 0L // ip not matched on original
  }

  test("multimodal stub decode produces schema-stable features partition-parallel") {
    implicit val s = spark
    import spark.implicits._
    val payload1 = ("IMG:640:480:" + "x" * 100).getBytes("ISO-8859-1")
    val payload2 = ("AUD:2500:" + "y" * 50).getBytes("ISO-8859-1")
    val df = Seq((1L, payload1), (2L, payload2)).toDF("id", "payload").repartition(2)
    val out = Multimodal.decode(df)
    out.schema shouldBe Multimodal.decodedSchema
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    rows(1L).getStruct(1).getString(0) shouldBe "image"
    rows(1L).getStruct(1).getInt(2) shouldBe 640
    rows(2L).getStruct(1).getString(0) shouldBe "audio"
    rows(2L).getStruct(1).getLong(4) shouldBe 2500L
    rows(1L).getSeq[Float](2).length shouldBe 8
    // deterministic: same payload -> same features
    val again = Multimodal.decode(df).collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    again(1L) shouldBe rows(1L).getSeq[Float](2)
  }

  test("real PNG codec round-trips pixels exactly and pools with integer means") {
    implicit val s = spark
    import spark.implicits._
    // 4x4 gradient: encode via ImageIO, decode back, expect identical pixels
    val px = Array(0, 10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120, 130, 140, 250)
    val png = Multimodal.grayPng(px, 4, 4)
    Multimodal.sniffFormat(png) shouldBe "png"
    val (back, w, h) = Multimodal.decodeGray(png).get
    (w, h) shouldBe ((4, 4))
    back.toSeq shouldBe px.toSeq
    // 2x2 average-pool: floor integer block means
    val pooled = Multimodal.averagePool(Seq((1L, png)).toDF("id", "payload"), 2).collect().head
    pooled.getInt(1) shouldBe 4
    pooled.getInt(2) shouldBe 4
    pooled.getSeq[Int](3) shouldBe Seq((0 + 10 + 40 + 50) / 4, (20 + 30 + 60 + 70) / 4,
      (80 + 90 + 120 + 130) / 4, (100 + 110 + 140 + 250) / 4)
    // decodeImage: real meta + 8 band sums as exact float features
    val d = Multimodal.decodeImage(9L, png)
    d.getStruct(1).getString(0) shouldBe "image"
    d.getStruct(1).getString(1) shouldBe "png"
    d.getStruct(1).getInt(2) shouldBe 4
    d.getStruct(1).getInt(3) shouldBe 4
    // h=4 -> bands 0..7 from y*8/4: y0->0, y1->2, y2->4, y3->6 (rest empty)
    val feats = d.getAs[Array[Float]](2)
    feats(0) shouldBe (0 + 10 + 20 + 30).toFloat
    feats(2) shouldBe (40 + 50 + 60 + 70).toFloat
    feats(7) shouldBe 0f
    // non-decodable payload through averagePool fails loudly
    intercept[Exception] {
      Multimodal.averagePool(Seq((2L, "junk".getBytes)).toDF("id", "payload"), 2).collect()
    }
    // text that happens to start with BMP magic ("BM...") must degrade to
    // the stub decode path, not crash the task with an IIOException
    val bmText = Multimodal.decodeImage(3L, "BMW dealers posted record sales".getBytes)
    bmText.getStruct(1).getString(1) shouldBe "raw"
    // non-ASCII text is rejected up front by the fixture generator (the
    // oracle mirror is only byte-identical for ASCII)
    intercept[Exception] {
      Multimodal.textToGrayPng(
        Seq((4L, "café " * 20)).toDF("doc_id", "text"), "doc_id", "text", 16, 16).collect()
    }
  }

  test("chunk dedup drops repeated spans, keeps first occurrence, reassembles") {
    implicit val s = spark
    import spark.implicits._
    val in = Seq(
      (Some(1L), "a b c d e f"),   // both spans first-seen
      (Some(2L), "A B C x y z"),   // span 1 repeats doc 1's (normalized); span 2 fresh
      (Some(3L), "a b c d e f"),   // every span a repeat -> all dropped
      (Some(4L), "a b"),           // short doc: single sub-width span, fresh
      (None,     "a b c d e f")    // null id contributes nothing
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(in, "text", "doc_id", chunkTokens = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out.keySet shouldBe Set(1L, 2L, 3L, 4L)
    out(1L) shouldBe ((2L, 2L, "a b c d e f"))
    out(2L) shouldBe ((2L, 1L, "x y z"))
    out(3L) shouldBe ((2L, 0L, ""))
    out(4L) shouldBe ((1L, 1L, "a b"))
  }

  test("average hash thresholds blocks against the global mean; banding recovers near-dups") {
    implicit val s = spark
    import spark.implicits._
    // 16x16: bright left half, dark right half -> per block-row "11110000"
    val bright = Array.tabulate(256)(i => if (i % 16 < 8) 200 else 10)
    val tweaked = bright.clone(); tweaked(0) = 190 // one-pixel change, same bits
    val inverted = bright.map(v => if (v == 200) 10 else 200)
    val df = Seq(
      (1L, Multimodal.grayPng(bright, 16, 16)),
      (2L, Multimodal.grayPng(tweaked, 16, 16)),
      (3L, Multimodal.grayPng(inverted, 16, 16))).toDF("id", "payload")
    val hashes = Multimodal.averageHash(df)
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    hs(1L) shouldBe "11110000" * 8
    hs(2L) shouldBe hs(1L)
    hs(3L) shouldBe "00001111" * 8
    val pairs = Multimodal.phashNearDupPairs(hashes, bands = 4, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // (1,2) identical bits -> hamming 0; the inverted image shares no band
    // with either, so it never even becomes a candidate
    pairs.toSeq shouldBe Seq((1L, 2L, 0L))
    // Manku-style block combinations (8 blocks, 3 per key = 56 tables of
    // 24-bit keys): same verdict on this corpus, with a GUARANTEE up to
    // hamming 5 and 256x sparser buckets per table — the setting for
    // chance-dominated (mostly-distinct) corpora at n >> 2^16
    val pairs83 = Multimodal.phashNearDupPairs(hashes, bands = 8, maxHamming = 6,
      bandsPerKey = 3).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pairs83.toSeq shouldBe pairs.toSeq
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDupPairs(hashes, bands = 4, maxHamming = 6, bandsPerKey = 4)
    }
    // dims not divisible by 8 fail loudly (a padded edge block biases the mean)
    intercept[Exception] {
      Multimodal.averageHash(Seq((9L, Multimodal.grayPng(Array.fill(16)(5), 4, 4)))
        .toDF("id", "payload")).collect()
    }
  }

  test("priority sampling: deterministic subset-sum estimator lands near the true total") {
    // same LCG + priority arithmetic as c8_weighted_sample, checked against
    // the Duffield-Lund-Thorup estimator: tau = (k+1)-th priority,
    // est = sum over top-k of max(w, tau) ~ total weight
    val items = (0L until 1000L).map(id => (id, (id % 97) + 1))
    val pri = items.map { case (id, w) =>
      val r = (id * 48271 + 11) % 1000003
      (w.toDouble, w * 1000004.0 / (r + 1.0))
    }.sortBy(-_._2)
    val k = 100
    val tau = pri(k)._2
    val est = pri.take(k).map { case (w, _) => math.max(w, tau) }.sum
    val total = items.map(_._2).sum.toDouble
    math.abs(est - total) / total should be < 0.25
  }

  test("chunk dedup and phash dedup are reachable through the actor surface") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())

    Seq((1L, "a b c d e f"), (2L, "a b c x y z"))
      .toDF("doc_id", "text").createOrReplaceTempView("cd_in")
    val da = new graft.ml.DedupActor()
    da.init(Map("view" -> "cd_in", "method" -> "chunk", "chunkTokens" -> "3"))
    val cd = da.run(ctx).get
    cd.columns shouldBe Array("id", "n_chunks", "n_kept", "dedup_text")
    cd.collect().map(r => r.getLong(0) -> r.getString(3)).toMap shouldBe
      Map(1L -> "a b c d e f", 2L -> "x y z")

    val bright = Array.tabulate(256)(i => if (i % 16 < 8) 200 else 10)
    Seq((1L, Multimodal.grayPng(bright, 16, 16)),
        (2L, Multimodal.grayPng(bright, 16, 16)))
      .toDF("id", "payload").createOrReplaceTempView("img_in")
    val ia = new graft.ml.ImageDedupActor()
    ia.init(Map("view" -> "img_in", "bands" -> "4", "maxHamming" -> "6"))
    val pairs = ia.run(ctx).get.collect()
    pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq shouldBe Seq((1L, 2L, 0L))
    val ih = new graft.ml.ImageDedupActor()
    ih.init(Map("view" -> "img_in", "output" -> "hashes"))
    ih.run(ctx).get.columns shouldBe Array("id", "phash")
    // bands that don't divide 64 fail at init, not mid-job
    intercept[IllegalArgumentException] {
      new graft.ml.ImageDedupActor().init(Map("view" -> "img_in", "bands" -> "5"))
    }
  }

  test("frame sampling explodes payload chunks with stable numbering") {
    implicit val s = spark
    import spark.implicits._
    val df = Seq((7L, Array.tabulate[Byte](100)(_.toByte))).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(df, frameBytes = 10, everyNth = 2).collect()
    frames.length shouldBe 5 // 10 chunks, every 2nd
    frames.map(_.getInt(1)).sorted.toSeq shouldBe Seq(0, 2, 4, 6, 8)
  }

  test("actor surfaces: spans / hybrid / audio decode modes run end-to-end") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    // spans: shared suffix between two docs (stride-aligned)
    val base = "0123456789" * 8
    Seq((1L, base), (2L, base.substring(20))).toDF("doc_id", "text")
      .createOrReplaceTempView("spans_in")
    val da = new graft.ml.DedupActor()
    da.init(Map("view" -> "spans_in", "method" -> "spans",
      "spanWindow" -> "40", "spanStride" -> "20"))
    val spanRows = da.run(ctx).get.collect()
    spanRows.length shouldBe 1
    spanRows(0).getAs[Long]("n_docs") shouldBe 2L
    // hybrid: text view + embedding view over a shared id space
    Seq((0L, "alpha beta"), (1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text").createOrReplaceTempView("hyb_docs")
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 0.1)))
      .toDF("vec_id", "v").createOrReplaceTempView("hyb_vecs")
    val sa = new graft.ml.SimilaritySearchActor()
    sa.init(Map("view" -> "hyb_vecs", "method" -> "hybrid", "vectorField" -> "v",
      "textView" -> "hyb_docs", "k" -> "2", "pool" -> "2", "maxDfDenom" -> "0",
      "queryWhere" -> "vec_id = 0", "textQueryWhere" -> "doc_id = 0"))
    val hyb = sa.run(ctx).get.collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Int]("rank")).toMap
    // 1 wins lexically (2 shared tokens), 2 wins semantically (cos ~1):
    // both fuse with one rank-1 contribution + nothing -> tie at 16393,
    // broken by min neighbor id
    hyb shouldBe Map(1L -> 1, 2L -> 2)
    // hybrid without textView fails at init, not mid-job
    intercept[IllegalArgumentException] {
      new graft.ml.SimilaritySearchActor().init(Map("view" -> "hyb_vecs", "method" -> "hybrid"))
    }
    // audio: decode() sniffs real WAV payloads and emits audio meta +
    // exact per-eighth mean-|sample| features; mode=samples gives the raw ints
    val wav = Multimodal.pcmWav(Array.tabulate[Short](80)(i => (i * 100).toShort), 8000)
    Seq((9L, wav)).toDF("id", "payload").createOrReplaceTempView("aud_in")
    val ma = new graft.ml.MultimodalDecodeActor()
    ma.init(Map("view" -> "aud_in"))
    val dec = ma.run(ctx).get.collect()(0)
    dec.getStruct(1).getString(0) shouldBe "audio"
    dec.getStruct(1).getString(1) shouldBe "wav"
    dec.getStruct(1).getLong(4) shouldBe 10L // 80 samples @ 8 kHz = 10 ms
    // eighth 0 = mean |0,100,...,900| = 450 exactly
    dec.getAs[Seq[Float]](2).head shouldBe 450f
    val ms = new graft.ml.MultimodalDecodeActor()
    ms.init(Map("view" -> "aud_in", "mode" -> "samples"))
    val samp = ms.run(ctx).get.collect()(0)
    samp.getAs[Seq[Long]]("samples").take(3) shouldBe Seq(0L, 100L, 200L)
    samp.getAs[Int]("sample_rate") shouldBe 8000
  }

  test("frame motion: byte-diff energies, unsigned bytes, short payloads emit nothing") {
    implicit val s = spark
    import spark.implicits._
    val p1 = Array[Byte](0, 10, 0, 20, 5, 30) // frames of 2: (0,10) (0,20) (5,30)
    val p2 = Array[Byte](0, -1, 0, 0)         // -1 = 0xff: unsigned diff is 255, not 1
    val p3 = Array[Byte](1, 2, 3)             // one full frame -> no diffs
    val out = Multimodal.frameMotion(
        Seq((1L, p1), (2L, p2), (3L, p3)).toDF("id", "payload"), frameBytes = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    out shouldBe Seq((1L, 1, 10L), (1L, 2, 15L), (2L, 1, 255L))
  }

  test("WAV codec: PCM16 encode/decode round-trips exactly, rejects non-audio bytes") {
    val samples = Array[Short](0, 1, -1, 32767, -32768, 256, -257, 12345)
    val wav = Multimodal.pcmWav(samples, 8000)
    Multimodal.sniffFormat(wav) shouldBe "wav"
    val (decoded, rate, ch, bits) = Multimodal.decodePcm(wav).get
    decoded.toSeq shouldBe samples.map(_.toInt).toSeq // lossless incl. extremes
    (rate, ch, bits) shouldBe ((8000, 1, 16))
    Multimodal.decodePcm("RIFFnotawave".getBytes("UTF-8")) shouldBe None
    Multimodal.decodePcm(Array[Byte](1, 2, 3)) shouldBe None
  }

  test("hybrid RRF: fuses disagreeing lexical and semantic lists; absent rank scores nothing") {
    import spark.implicits._
    // corpus of 3 candidates for query 0:
    //   1 — lexically identical, semantically opposed
    //   2 — semantically identical, zero shared tokens
    //   3 — middling on both
    val texts = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),
      (2L, "zeta eta theta iota"),
      (3L, "alpha beta kappa lambda")).toDF("doc_id", "text")
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(-1.0, 0.001)),
      (2L, Seq(1.0, 0.0)),
      (3L, Seq(1.0, 1.0))).toDF("vec_id", "v")
    // maxDfDenom = 0: no stopword cut — a 4-doc corpus has no df headroom
    val out = Similarity.hybridRrfTopK(
      texts.filter($"doc_id" === 0L), texts, "doc_id", "text",
      vecs.filter($"vec_id" === 0L), vecs, "vec_id", "v",
      pool = 3, k = 3, maxDfDenom = 0).collect()
      .map(r => r.getAs[Long]("neighbor_id") ->
        ((r.getAs[Int]("lex_rank"), r.getAs[Int]("sem_rank"),
          r.getAs[Long]("rrf_u"), r.getAs[Int]("rank")))).toMap
    // lexical list: 1 (4 shared) > 3 (2 shared); 2 absent (0 shared).
    // semantic list: 2 (cos 1) > 3 > 1 (cos ~ -1).
    out(1L)._1 shouldBe 1; out(1L)._2 shouldBe 3
    out(3L)._1 shouldBe 2; out(3L)._2 shouldBe 2
    out(2L)._1 shouldBe 0; out(2L)._2 shouldBe 1 // absent from lexical -> reported 0
    // contributions are 1e6 div (60 + rank); absence contributes NOTHING
    // (a coalesced rank-0 would wrongly add 1e6 div 60 = 16666)
    out(2L)._3 shouldBe 1000000L / 61
    out(1L)._3 shouldBe 1000000L / 61 + 1000000L / 63
    out(3L)._3 shouldBe 1000000L / 62 + 1000000L / 62
    // fused order: 1 (16393+15873=32266) > 3 (2×16129=32258) > 2 (16393)
    out(1L)._4 shouldBe 1; out(3L)._4 shouldBe 2; out(2L)._4 shouldBe 3
    // max-df stopword cut: with maxDfDenom=2 (df ≤ 4/2 = 2 kept), alpha/
    // beta (df 3) are stopwords — candidate 3's only overlap with the
    // query vanishes while 1 still shares gamma+delta
    val cut = Similarity.hybridRrfTopK(
      texts.filter($"doc_id" === 0L), texts, "doc_id", "text",
      vecs.filter($"vec_id" === 0L), vecs, "vec_id", "v",
      pool = 3, k = 3, maxDfDenom = 2).collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Int]("lex_rank")).toMap
    cut(1L) shouldBe 1 // gamma+delta survive the cut
    cut(3L) shouldBe 0 // alpha+beta were its whole overlap -> off the lexical list
  }

  test("duplicate spans: aligned partial copies surface, short and unique docs don't") {
    import spark.implicits._
    val base = "0123456789" * 8 // 80 chars: spans at off 1,21,41 (w=40, s=20)
    val df = Seq(
      (1L, base),                    // original
      (2L, base.substring(20)),      // 60-char suffix copy, stride-aligned
      (3L, "x" * 39),                // shorter than the window -> no spans
      (4L, "zyxwvutsrq" * 8)         // unique 80-char doc -> no shared spans
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(df, "text", "doc_id", window = 40, stride = 20)
      .collect()
    // doc1 windows: [1,41), [21,61), [41,81); doc2: [1,41), [21,61) — the
    // repeating base makes all five windows THE SAME 40-char string, so
    // one fingerprint: 5 spans, 2 docs, first occurrence doc1 off1
    out.length shouldBe 1
    out(0).getAs[Long]("n_spans") shouldBe 5L
    out(0).getAs[Long]("n_docs") shouldBe 2L
    out(0).getAs[Long]("keep_doc") shouldBe 1L
    out(0).getAs[Long]("keep_off") shouldBe 1L
  }

  test("duplicate spans: first-occurrence arg-min is length-safe past 1M chars") {
    import spark.implicits._
    // the duplicated span sits past offset 1,000,000 in doc 1 — the old
    // doc_id*1e6+off packing would collide doc 1's offset into doc 2's
    // key range and misreport the first occurrence
    val filler = "f" * 1000000
    val dup = "0123456789" * 4 // 40 chars, one window at stride alignment
    val df = Seq(
      (1L, filler + dup),            // dup at off 1,000,001 (stride-aligned)
      (2L, dup)                      // dup at off 1
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(df, "text", "doc_id", window = 40, stride = 20)
      .filter(col("n_docs") >= 2).collect()
    out.length shouldBe 1
    out(0).getAs[Long]("keep_doc") shouldBe 1L
    out(0).getAs[Long]("keep_off") shouldBe 1000001L
  }
}
