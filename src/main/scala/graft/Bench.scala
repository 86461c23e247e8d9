package graft
object Bench {
  /** Env overrides are parsed defensively: a malformed value must not
   *  crash the run AFTER the expensive setup — warn and fall back to
   *  the default instead (same style as the history-file read). */
  private def envLong(name: String): Option[Long] =
    sys.env.get(name).flatMap { s =>
      val p = scala.util.Try(s.trim.toLong).toOption
      if (p.isEmpty) System.err.println(
        s"[bench] ignoring malformed $name='$s' (not an integer) — using the default")
      p
    }
  private def envDouble(name: String): Option[Double] =
    sys.env.get(name).flatMap { s =>
      val p = scala.util.Try(s.trim.toDouble).toOption
      if (p.isEmpty) System.err.println(
        s"[bench] ignoring malformed $name='$s' (not a number) — using the default")
      p
    }

  /** The host-drift marker panel (see the markerRef comment in main):
   *  object-level so [[landingVeto]]'s heavy-marker check and main's
   *  drift normalization read the same list. */
  private[graft] val markerNames = Seq("u1_zipwithindex", "q3_distinct",
    "q12_string_funcs", "q6_window_rownum", "q26_session_window",
    "q74_tws_sessions", "d9_connected_components", "g4_label_propagation")

  /** Quiet-host reference level per marker, DERIVED from the committed
   *  healthy history (the same per-query map the 3x stall gate reads);
   *  the hard-coded literals are only the no-history fallback (first
   *  run on a fresh checkout; r15 quiet-record levels). Deriving means
   *  (a) a genuine marker optimization re-pins drift automatically at
   *  the next landing instead of skewing valueNorm until someone edits
   *  a constant, and (b) on a different/slower machine drift
   *  adjudicates against that machine's own committed record —
   *  absolute times from one reference host would flag a healthy full
   *  run, burn the whole recovery wait, and freeze the history gate. */
  private[graft] def deriveMarkerRef(history: Map[String, Double]): Map[String, Double] = {
    val fallbacks = Map(
      "u1_zipwithindex" -> 0.21, "q3_distinct" -> 0.21, "q12_string_funcs" -> 0.11,
      "q6_window_rownum" -> 0.39, "q26_session_window" -> 0.56,
      "q74_tws_sessions" -> 1.32, "d9_connected_components" -> 6.4,
      "g4_label_propagation" -> 2.1)
    fallbacks.map { case (n, fallback) =>
      n -> history.get(n).filter(_ > 0).getOrElse(fallback) }
  }

  /** Landing-guard v2: may `candidate` (this run's adjudicated
   *  per-query times) replace `prior` (the committed healthy history)?
   *  Returns Some(reason) to VETO the landing.
   *
   *  The v1 gate (host_degraded + marker drift <= 1.15, still checked
   *  by the caller) has a second door: the r15 driver record ran in a
   *  diffuse co-tenant phase that inflated 13 queries 1.5-2.9x — each
   *  under its 3x stall line — while every marker read quiet (drift
   *  1.005), landed itself as history, and loosened the heavy
   *  maintenance class's stall gates ~2.7x (d26 13.4->38.7 s). So the
   *  landing also compares the candidate per-query against the history
   *  it would replace:
   *    - >= 4 queries above 2x their prior entry (floor 0.5 s) is a
   *      diffuse phase, not a code change — veto. (The r15 driver
   *      record reads 5-8 vs each of the three quiet r15 records; the
   *      quiet records read 0-2 against each other.)
   *    - the sum-ratio over the prior record's top-20 heaviest queries,
   *      EXCLUDING the single largest excess, > 1.2 is the same phase
   *      expressed as diffuse sub-2x drag — veto. Excluding the top-1
   *      excess keeps an honest one-query regression of ANY size
   *      landable; a multi-query phase still trips. (Poisoned record:
   *      1.23-1.34 vs the quiet trio; quiet pairs: <= 1.14 both ways.)
   *    - any HEAVY marker (panel member with a prior entry >= 0.5 s —
   *      q26/q74/d9/g4; the sub-second scans are too blippy) above
   *      1.45x its prior entry — veto. The markers are fixed probes
   *      whose cost is a pure function of the host, so a 1.45x reading
   *      on one is a host phase, not a code change; this closes the
   *      door the first two checks left open (the r16 run that read
   *      d9 at 1.87x — a diffuse multi-job phase — while sitting at
   *      sum-ratio 1.198 against the hottest quiet record). Calibrated
   *      on the committed records: quiet pairs max 1.38, every diffuse
   *      record >= 1.42 on some heavy marker or already count/ratio-
   *      vetoed. A deliberate marker-query optimization reads < 1x and
   *      lands; a deliberate marker regression re-pins via FORCE_LAND.
   *  An honest single-query regression on a quiet host lands; a faster
   *  run always lands. SPARK_GRAFT_FORCE_LAND=1 overrides (deliberate
   *  re-pin after a known multi-query code change). BenchSpec pins all
   *  shapes against the committed r15/r16 records. */
  private[graft] def landingVeto(candidate: Map[String, Double],
                                 prior: Map[String, Double]): Option[String] = {
    if (prior.isEmpty) None
    else {
      val over2x = prior.toSeq.collect { case (n, h)
        if h > 0 && candidate.get(n).exists(c => c > 2.0 * h && c > 0.5) => n }.sorted
      val top = prior.toSeq.sortBy(-_._2).take(20)
        .flatMap { case (n, h) => candidate.get(n).filter(_ > 0).map(c => (n, h, c)) }
      val ratio =
        if (top.size < 2) 1.0
        else {
          val drop = top.maxBy { case (_, h, c) => c - h }._1
          val kept = top.filterNot(_._1 == drop)
          kept.map(_._3).sum / kept.map(_._2).sum
        }
      val heavyMarkerDrift = markerNames
        .flatMap { m => for (h <- prior.get(m) if h >= 0.5;
                             c <- candidate.get(m) if c > 0) yield (m, c / h) }
        .sortBy(-_._2).headOption
      if (over2x.size >= 4)
        Some(s"${over2x.size} queries exceed 2x their committed history entry " +
          s"(${over2x.take(8).mkString(", ")}${if (over2x.size > 8) ", ..." else ""})")
      else if (ratio > 1.2)
        Some(f"top-20 heaviest sum-ratio $ratio%.3f > 1.2 vs committed history " +
          "(excluding the single largest excess)")
      else heavyMarkerDrift.collect { case (m, d) if d > 1.45 =>
        f"heavy marker $m at $d%.2fx its committed history entry (host phase)" }
    }
  }

  /** Committed per-query closing HISTORY — the stall/wave gates'
   *  baseline. Returns (mismatch, per-query map). `mismatch` means a
   *  history exists but was recorded under a DIFFERENT regime — another
   *  scale factor, or (since r17) another core count — so it can
   *  neither gate this run nor be overwritten by it. The r16 driver
   *  sequence ran the full catalog at 8 cores AFTER the 32-core record
   *  and landed itself as latest.json; most of the scheduling-bound
   *  class runs FASTER at 8 cores at this SF, so that record would
   *  mis-gate every future 32-core run's 3x-stall and 1.5x-wave
   *  thresholds — the same poisoning class as the cross-SF landing the
   *  r15 verdict flagged, new door. A history file that EXISTS but cannot
   *  be read (truncated, corrupt, unreadable) is a mismatch too: it
   *  fails closed, neither gating this run nor being overwritten by it —
   *  an empty prior would otherwise wave the landing through. Only an
   *  absent file means "no history" (first run on a fresh checkout). */
  private[graft] def readHistory(histFile: String, sfDir: String,
                                 cpus: String): (Boolean, Map[String, Double]) =
    try {
      val f = new java.io.File(histFile)
      if (!f.isFile) (false, Map.empty)
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        val histSf = Option(root.get("sf")).map(_.asText).getOrElse("")
        val histCpus = Option(root.get("jvm")).flatMap(j => Option(j.get("cpus")))
          .map(_.asText).getOrElse("")
        if (new java.io.File(histSf).getName != new java.io.File(sfDir).getName) {
          System.err.println(s"[bench] history $histFile is for sf '$histSf', " +
            s"not '$sfDir' — running without a history gate")
          (true, Map.empty)
        } else if (histCpus.nonEmpty && histCpus != cpus) {
          System.err.println(s"[bench] history $histFile was recorded at " +
            s"cpus=$histCpus, this run is cpus=$cpus — running without a " +
            "history gate (and not landing over it)")
          (true, Map.empty)
        } else (false, Option(root.get("queries")).map { qs =>
          val it = qs.fieldNames()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val k = it.next(); b += k -> qs.get(k).asDouble }
          b.result()
        }.getOrElse(Map.empty))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not read history $histFile: $e — " +
        "running without a history gate (and not landing over it)")
      (true, Map.empty)
    }

  /** The committed per-query history a run at `cpus` cores reads, gates
   *  against and lands over by default: one record per core count, so a
   *  run on a 4-core host has a same-regime history ([[readHistory]]
   *  refuses another core count's). 32 cores keeps the original name. */
  private[graft] def defaultHistory(cpus: String): String =
    if (cpus == "32") "docs/bench/latest.json" else s"docs/bench/latest_c$cpus.json"

  private def writeRecord(path: String, json: String): Boolean =
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      true
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $path: $e"); false
    }

  /** Land a full-catalog record as `histFile` — the history this run
   *  read and gated against ([[readHistory]]), so a run pointed at
   *  another history (SPARK_GRAFT_BENCH_HISTORY) can never overwrite a
   *  record it did not read. Lands only when `veto` is empty and the
   *  history's directory exists (a checkout without docs/bench/ keeps
   *  no history). Returns whether the record was written. */
  private[graft] def landHistory(histFile: String, json: String,
                                 veto: Option[String]): Boolean = {
    val dir = new java.io.File(histFile).getAbsoluteFile.getParentFile
    veto match {
      case _ if dir == null || !dir.isDirectory => false
      case None => writeRecord(histFile, json)
      case Some(why) =>
        System.err.println(s"[bench] not landing $histFile ($why) — " +
          "history keeps the last healthy record")
        false
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    // extra confs for A/B experiments, e.g.
    // SPARK_GRAFT_EXTRA_CONF="spark.sql.streaming.stateStore.providerClass=...RocksDBStateStoreProvider"
    // Entries are ';'-separated; a literal ';' inside a value is escaped
    // as '\;' (rare, but JDBC URLs have them).
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(
      _.split("(?<!\\\\);").map(_.replace("\\;", ";")).filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v })
    val spark = Sessions.local(cpus, extra = extraConf)
    // Untimed steady-state warmup: run each query once at sf0.001 (~1% of
    // the bench scale) IMMEDIATELY before timing it. A query's generated
    // whole-stage-codegen source depends on the plan/schema, not the data
    // volume, so the tiny run populates the janino compile cache + JIT for
    // the identical timed plan — the timed numbers then measure data
    // processing, not first-run compilation (cold-vs-warm delta measured
    // 3-4x on the join-heavy queries). Warm-then-time per query, in sorted
    // name order, so two runs are comparable per-query. The shed budget
    // counts WARM time only (timed runs must not consume it — that would
    // shed the tail's warmup on big scale factors); warm cost at sf0.001
    // is itself stable run-to-run, so any shedding hits the same queries.
    spark.range(100000).selectExpr("id % 10 AS k", "id AS v")
      .groupBy("k").count().count()
    // Pay the RocksDB one-time JVM costs (native-lib extraction + first
    // DB open) OUTSIDE any timed number: the transformWithState queries
    // use the RocksDB state-store provider, and the first open otherwise
    // lands in whichever TWS query times first (observed as 1.5-9 s of
    // host-dependent noise on q84). Per-query warmup does not fully
    // absorb it when the warm budget sheds the tail.
    locally {
      var tmp: java.nio.file.Path = null
      try {
        org.rocksdb.RocksDB.loadLibrary()
        tmp = java.nio.file.Files.createTempDirectory("bench-rocks-preload")
        val opts = new org.rocksdb.Options().setCreateIfMissing(true)
        val db = org.rocksdb.RocksDB.open(opts, tmp.toString)
        db.put("k".getBytes, "v".getBytes); db.close(); opts.close()
      } catch { case scala.util.control.NonFatal(_) => () }
      finally if (tmp != null)
        org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001").getPath)
    val canWarm = new java.io.File(warmDir).isDirectory && warmDir != sfDir
    var warmSpentNs = 0L
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    // one-time layout fixtures (e.g. q65's partitioned fact) are built
    // outside the timed loop — the timed query measures the pruned read.
    // A failure here is visible (the layout write lands in q65's timed
    // number), so say so instead of swallowing silently.
    try Queries.prepareFixtures(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] fixture pre-build failed (q65 will time the write): $e")
    }
    // SPARK_GRAFT_COLD_ARTIFACTS=1: wipe the persisted resolution /
    // signature artifacts and TIME their builds explicitly — the
    // build-once half of the artifact lifecycle's build-once/serve-many
    // economics, which a warm-artifact bench run (every run after the
    // first JVM to touch a scale factor) otherwise never measures: d7
    // then benches as a parquet read. One cold + one warm total per
    // round close keeps both halves on the record. The warm-dir
    // artifacts are rebuilt UNTIMED so the per-query warmup loop below
    // is undistorted.
    val coldArtifacts = sys.env.get("SPARK_GRAFT_COLD_ARTIFACTS").contains("1")
    var artJson = ""
    if (coldArtifacts) {
      Option(new java.io.File("/tmp").listFiles((_: java.io.File, n: String) =>
          n.startsWith("graft_resolution_") || n.startsWith("graft_sigs_")))
        .foreach(_.foreach(org.apache.commons.io.FileUtils.deleteQuietly))
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      try {
        val resS = time(Queries.resolvedLabels(spark, sfDir).count())
        val sigS = time(Queries.corpusSignatures(spark, sfDir).count())
        if (canWarm) {
          Queries.resolvedLabels(spark, warmDir).count()
          Queries.corpusSignatures(spark, warmDir).count()
        }
        artJson = s""","artifacts":{"cold":true,"resolution_build_s":$resS,"sigs_build_s":$sigS}"""
      } catch { case e: Throwable =>
        // a failed explicit build is VISIBLE (the d-queries would then
        // pay it in their timed numbers — say so instead of hiding it)
        System.err.println(s"[bench] cold artifact build failed: $e")
        artJson = s""","artifacts":{"cold":true,"error":true}"""
      }
    }
    // optional subsetting for A/B diagnosis: comma-separated exact names
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val skip = sys.env.get("SPARK_GRAFT_SKIP").map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && !skip.contains(n) }
    // Warm budget SCALES with catalog size (1.5 s/query, floor 240 s): a
    // fixed cap at 188 queries exhausted mid-catalog and cold-timed the
    // alphabetic tail (s*, t*, z* read 3-16x their warm numbers in the r7
    // driver run). If the budget still sheds, each shed query is flagged
    // "warmed": false in the JSON so a cold number is never mistaken for
    // a plan regression — no silent caps.
    // SPARK_GRAFT_WARM_BUDGET_S overrides (test device: 0 cold-times the
    // whole catalog, the r14 shed-tail failure shape on demand — it
    // zeroes the lite-warm budget below too, unless that has its own
    // SPARK_GRAFT_LITE_BUDGET_S override)
    val warmOverrideS = envLong("SPARK_GRAFT_WARM_BUDGET_S")
    val warmBudgetNs = warmOverrideS
      .getOrElse(math.max(240L, (1.5 * selected.size).toLong)) * 1000L * 1000 * 1000
    // Shed-tail LITE warm (its own, smaller budget): when the full warm
    // budget is exhausted — which happens exactly when the host is slow,
    // the case where a cold first-touch number is LEAST trustworthy — a
    // single limit(1) execution at warm scale still pays Spark-infra JIT
    // and most of the subtree codegen outside the timed window, at a few
    // percent of a full warm run. The r14 driver record's 59 cold-timed
    // queries averaged ~2.9x their closing costs; lite-warmed queries
    // stay flagged "warmed": false (the number is still not a full-warm
    // measurement) and are listed in "lite_warmed".
    // Lite budget: explicit SPARK_GRAFT_LITE_BUDGET_S wins; otherwise a
    // warm-budget override of 0 (the documented pure-cold test shape)
    // zeroes lite warm too — previously the first ~60 s of queries were
    // still lite-warmed with no knob to disable it.
    val liteBudgetNs = envLong("SPARK_GRAFT_LITE_BUDGET_S")
      .orElse(warmOverrideS.filter(_ == 0L))
      .getOrElse(math.max(60L, (0.3 * selected.size).toLong)) * 1000L * 1000 * 1000
    var liteSpentNs = 0L
    var liteWarmed = List.empty[String]
    // Committed per-query closing HISTORY — the v2 outlier gate's
    // baseline. Same-run warm times fail under SUSTAINED host
    // degradation (the r14 record: slow warm runs exhausted the budget —
    // 59 queries cold-timed and retry-INELIGIBLE — and inflated the
    // 3x-warm threshold for the rest), so suspects are adjudicated
    // against the last committed full-catalog record instead: a number
    // that exceeds 3x its committed closing time is presumed a stall
    // whether or not the query warmed. History must be same-sf (scale
    // factors differ by 10x; compared by directory basename) and is read
    // BEFORE this run lands its own record.
    val histFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", defaultHistory(cpus))
    // A history recorded at ANOTHER scale factor can't gate this run —
    // but it must also not be OVERWRITTEN by it (a full-catalog sf1 run
    // landing itself would silently destroy the committed sf0.1
    // history that every sf0.1 gate reads; the empty-prior landingVeto
    // would wave it through).
    val (historySfMismatch, history) = readHistory(histFile, sfDir, cpus)
    case class QRes(name: String, firstS: Double, warmed: Boolean, warmS: Double)
    val results = selected.map { case (name, fn) =>
      // warmed means the warm run COMPLETED: a warm attempt that throws
      // leaves the timed number effectively cold, and flagging it warm
      // would let a cold number masquerade as a plan regression.
      var warmed = false
      var warmS = -1.0
      if (canWarm && warmSpentNs < warmBudgetNs) {
        val w0 = System.nanoTime()
        try { fn(spark, warmDir).count(); warmed = true }
        catch { case _: Throwable => () }
        val wDt = System.nanoTime() - w0
        warmSpentNs += wDt
        if (warmed) warmS = wDt / 1e9
      } else if (canWarm && liteSpentNs < liteBudgetNs) {
        val w0 = System.nanoTime()
        try { fn(spark, warmDir).limit(1).count(); liteWarmed ::= name }
        catch { case _: Throwable => () }
        liteSpentNs += System.nanoTime() - w0
      }
      // synchronous drain barrier: the warm run may have persisted /
      // checkpointed, and the PREVIOUS query's non-blocking cleanup may
      // still be evicting — the timed window must start with zero storage
      // blocks and no in-flight eviction (a no-op when already clean).
      // Without it, r13 booked ~10 queries at 3-16x their reproducible
      // cost from eviction/GC stalls landing inside the timed window.
      Sessions.dropStorage(spark, blocking = true)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      // Drop storage blocks the query left behind (persist/localCheckpoint
      // in iterative ops). Leftovers otherwise accumulate across 140+
      // queries until a later query's checkpoint materialization stalls
      // on eviction/GC. Non-blocking here: eviction proceeds while the
      // next query warms up; the blocking barrier above is what keeps it
      // out of the next TIMED window.
      Sessions.dropStorage(spark, blocking = false)
      QRes(name, dt, warmed, warmS)
    }
    // Outlier RE-TIME pass v2: a recorded number far above what this
    // query is KNOWN to cost is presumed a transient stall (GC pause,
    // late eviction, host noise), not a plan regression — r13's record
    // booked ~90 s of such stalls and r14's 444 s record re-measured at
    // ~170 s; in both rounds the judge reproduced every inflated query
    // at its normal level. "Known cost" is the committed per-query
    // closing HISTORY (3x gate, floor 0.5 s), which is immune to the two
    // sustained-degradation failure modes of the old same-run 3x-warm
    // gate: a slow warm loop can neither inflate the threshold nor make
    // queries retry-ineligible by shedding their warm run — cold-timed
    // queries adjudicate like any other. The warm-based gate survives
    // only as the fallback for queries with no history entry (new this
    // round). Each suspect re-runs after a blocking drain + GC; the JSON
    // records ALL samples ("retries") and adjudicates to the min, so a
    // stall can never masquerade as a regression while a REAL regression
    // reproduces in every sample and stands. Bounded at 40 retries,
    // excess-first, shed suspects reported — no silent caps.
    def flaggedBy(r: QRes): Option[String] = history.get(r.name) match {
      case Some(h) if h > 0 =>
        if (r.firstS > 3.0 * h && r.firstS > 0.5) Some("history") else None
      case _ =>
        if (r.warmed && r.firstS > 2.0 && r.firstS > 3.0 * r.warmS) Some("warm")
        else None
    }
    def baseline(r: QRes): Double =
      history.get(r.name).filter(_ > 0).getOrElse(if (r.warmS > 0) r.warmS else r.firstS)
    val suspects = results.filter(r => flaggedBy(r).nonEmpty)
      .sortBy(r => -(r.firstS - 3.0 * baseline(r)))
    // HOST-DEGRADED self-declaration: a handful of flags is normal JVM
    // noise; dozens mean the whole run is untrustworthy however well the
    // retries adjudicate — say so mechanically (the driver's record then
    // carries its own health verdict instead of standing as r14's 444 s
    // did), and do NOT let this run overwrite the committed history.
    val hostDegraded = suspects.count(r => flaggedBy(r).contains("history")) > 10
    val (retried, shedSuspects) = suspects.splitAt(40)
    def timeOnce(name: String): Double = {
      Sessions.dropStorage(spark, blocking = true)
      System.gc()
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      Sessions.dropStorage(spark, blocking = false)
      if (ok) dt else -1.0
    }
    val retryS: Map[String, Double] = retried.map(r => r.name -> timeOnce(r.name)).toMap
    // Under SUSTAINED degradation a retry lands inside the same slow
    // phase and min-adjudication cannot recover the truth — no amount of
    // re-sampling a loaded host measures a quiet one. So when the run
    // self-declares degraded, WAIT (bounded) for the host to recover —
    // cheap marker probes against their quiet-host references every 20 s
    // until the median drift is back near band or the wait budget
    // (SPARK_GRAFT_RETRY_WAIT_S, default 600) is spent — and only then
    // take the second sample. The recorded wait ("retry_wait_s") is
    // bench-harness time, never query time.
    // d9 joined the panel in r15, g4 in r16: the co-tenant-steal phases
    // observed in r15 inflate MULTI-JOB (scheduling-bound) queries ~2x
    // while every single-job marker reads ~1.1 — a panel with ONE
    // multi-job member can be vouched quiet by that member's own +/-15%
    // noise (the r15 driver record: d9 read 1.05 while its classmates
    // ran 2-3x). Two members (d9 CC star-contraction, g4 label
    // propagation — cheaper, same scheduling-bound class) make a
    // one-member fluke ~half as likely to pass the trim.
    // Reference levels come from [[deriveMarkerRef]]: committed healthy
    // history first, hard-coded literals only as the no-history
    // fallback.
    val markerRef: Map[String, Double] = deriveMarkerRef(history)
    // The recovery-wait probe must sense BOTH phase classes: the median
    // of the three trivial scans covers single-job contention, and g4
    // (the panel's cheaper multi-job member, ~2.4 s) covers the
    // co-tenant-steal phases that inflate scheduling-bound queries 2x
    // while every scan reads quiet — the r16 live run exited its wait
    // at scan drift 0.89 inside exactly such a phase. The wait holds
    // until the WORSE of the two classes is back near band; ~3 s of
    // probe per 20 s cycle.
    def markerProbeDrift(): Double = {
      def timeOf(n: String): Option[Double] =
        SparkEntry.queries.get(n).map { fn =>
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count() catch { case _: Throwable => () }
          ((System.nanoTime() - t0) / 1e9) / markerRef(n)
        }
      val scans = Seq("u1_zipwithindex", "q3_distinct", "q12_string_funcs")
        .flatMap(timeOf).sorted
      val scanMed = if (scans.isEmpty) 1.0 else scans(scans.size / 2)
      math.max(scanMed, timeOf("g4_label_propagation").getOrElse(1.0))
    }
    var retryWaitS = 0.0
    if (hostDegraded) {
      val budgetS = envDouble("SPARK_GRAFT_RETRY_WAIT_S").getOrElse(600.0)
      val w0 = System.nanoTime()
      var drift = markerProbeDrift()
      while (drift > 1.5 && (System.nanoTime() - w0) / 1e9 < budgetS) {
        Thread.sleep(20000)
        drift = markerProbeDrift()
      }
      retryWaitS = (System.nanoTime() - w0) / 1e9
      System.err.println(f"[bench] host_degraded: waited $retryWaitS%.0f s for " +
        f"recovery (marker drift now $drift%.2f) before the second retry pass")
    }
    // Second sample for still-inflated suspects (two retries per query
    // max; a REAL regression reproduces in both and stands).
    val retry2S: Map[String, Double] =
      if (!hostDegraded) Map.empty
      else retried.filter { r =>
        val best = (r.firstS +: retryS.get(r.name).filter(_ > 0).toSeq).min
        history.get(r.name).exists(h => h > 0 && best > 3.0 * h && best > 0.5)
      }.map(r => r.name -> timeOnce(r.name)).toMap
    // SECOND-WAVE sweep, EVERY full run: sustained or diffuse load also
    // inflates many queries 1.5-3x — under the stall gate but far above
    // noise (the r15 cgroup-throttle A/B: after wave 1 recovered 106 s
    // of >3x stalls, ~40 s of sub-3x contention residue remained; the
    // r15 DRIVER record: 13 queries at 1.5-2.9x and ~25 s of diffuse
    // excess with only 3 history flags, so the old degraded-only gate
    // never ran and the excess was booked as truth). Entry threshold is
    // 1.5x history (floor 0.5 s): most of a diffuse phase's drag sits
    // BETWEEN 1.5x and 2x (the r16 run-D record: q116 at 1.83x held
    // +4.1 s, five streaming-stateful queries held +8.4 s together,
    // none over 2x), while genuinely quiet back-to-back records show
    // only 0-5 such queries, all cheap — so the top-10-by-excess bound
    // (40 under host_degraded, where the recovery wait above has
    // already run) keeps the quiet-run cost at a few seconds.
    // Min-adjudication keeps this honest: a genuine regression
    // reproduces in the re-sample and stands. Shed suspects are
    // reported — no silent caps (the old take(40) dropped the excess
    // wordlessly).
    val wave2All = results.filter(r => !retryS.contains(r.name) &&
        history.get(r.name).exists(h => h > 0 && r.firstS > 1.5 * h && r.firstS > 0.5))
      .sortBy(r => -(r.firstS - 1.5 * baseline(r)))
    val (wave2, wave2Shed) = wave2All.splitAt(if (hostDegraded) 40 else 10)
    if (wave2Shed.nonEmpty)
      System.err.println(s"[bench] wave-2 budget shed ${wave2Shed.size} suspect(s): " +
        wave2Shed.map(_.name).mkString(", "))
    val wave2S: Map[String, Double] = wave2.map(r => r.name -> timeOnce(r.name)).toMap
    if (shedSuspects.nonEmpty)
      System.err.println(s"[bench] retry budget shed ${shedSuspects.size} suspect(s): " +
        shedSuspects.map(_.name).mkString(", "))
    // adjudicated per-query time: min over every completed sample
    def adjudicated(r: QRes): Double =
      (r.firstS +: (retryS.get(r.name).toSeq ++ retry2S.get(r.name).toSeq ++
        wave2S.get(r.name).toSeq).filter(_ > 0)).min
    val qs = results.map(r => s"\"" + r.name + "\":" + adjudicated(r))
      .mkString("{", ",", "}")
    val retriesJson = (retried.map { r =>
      val r2 = retry2S.get(r.name).map(t => s",\"retry2_s\":$t").getOrElse("")
      s"\"" + r.name + "\":{\"first_s\":" + r.firstS + ",\"retry_s\":" + retryS(r.name) +
        s",\"flagged_by\":\"${flaggedBy(r).getOrElse("")}\"$r2}"
    } ++ wave2.map { r =>
      s"\"" + r.name + "\":{\"first_s\":" + r.firstS + ",\"retry_s\":" + wave2S(r.name) +
        ",\"flagged_by\":\"history-wave2\"}"
    }).mkString("{", ",", "}")
    val cold = results.collect { case r if !r.warmed => "\"" + r.name + "\"" }
      .mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(adjudicated).sum else 0.0
    // Host-drift markers: eight fixed queries spanning the catalog's
    // cost classes — three trivial scans (u1/q3/q12: no shuffle, no
    // state), one shuffle+window (q6), one session-window aggregation
    // (q26), one state-store streaming drain (q74), two multi-job
    // scheduling-bound iteratives (d9/g4) — whose costs are pure
    // functions of the host at a given sf. PLANS.md adjudicates slow bench phases
    // by comparing these to their stable historical values; emitting
    // them as a named field lets the driver normalize cross-round totals
    // mechanically instead of fishing them out of the per-query map.
    // (r11 used only the three trivial scans; a 3-sub-second-scan panel
    // steering a ~160 s total was too noisy a lever — the builder's own
    // back-to-back closing pair normed 124 vs 175.)
    val markers = results.collect {
      case r if markerNames.contains(r.name) => s"\"" + r.name + "\":" + adjudicated(r)
    }.mkString("{", ",", "}")
    // value_norm: the raw total divided by the TRIMMED MEAN of the
    // markers' drift ratios against their stable quiet-host levels at
    // sf0.1 (bands PLANS.md has adjudicated against since r7 for the
    // scans — u1 0.19-0.22 s, q3 0.19-0.24, q12 0.09-0.14 — and r12
    // paired quiet runs for the three cost-class markers; midpoints
    // below). Trimming the min and max ratio before averaging keeps one
    // marker's own noise (a GC pause inside q74's drain, say) from
    // steering the whole normalization — the r11 failure mode.
    // `value` stays the raw wall-clock total — the driver's number.
    // (markerRef is defined above the retry pass — the recovery wait
    // probes the same quiet-host references.)
    val drifts = results.collect {
      case r if markerRef.contains(r.name) && adjudicated(r) > 0 =>
        adjudicated(r) / markerRef(r.name) }
    // the trimmed-mean marker drift is also emitted raw ("marker_drift")
    // so a host_degraded record carries its own severity measure
    val markerDrift =
      if (drifts.size == markerRef.size) {
        val trimmed = drifts.sorted.slice(1, drifts.size - 1)
        trimmed.sum / trimmed.size
      } else 1.0
    val valueNorm =
      if (drifts.size == markerRef.size) total / markerDrift
      else total // subset run without all markers: no normalization
    // JVM/runtime config in the record: a heap-pressure stall diagnosis
    // ("was -Xmx the default 8g again?") should be mechanical from the
    // JSON, not an archaeology dig through build.sbt history.
    val jvmJson = {
      val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
      val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      val gcNames = (0 until gcs.size).map(i => "\"" + gcs.get(i).getName + "\"").mkString(",")
      s"""{"max_heap_mb":$heapMb,"cpus":"$cpus","gc":[$gcNames]}"""
    }
    val liteJson = liteWarmed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val healthJson = s""""host_degraded":$hostDegraded,"n_flagged":${suspects.size},"marker_drift":$markerDrift,"retry_wait_s":$retryWaitS"""
    val json = s"""{"metric":"total","value":$total,"value_norm":$valueNorm,"unit":"sec","queries":$qs,"cold":$cold,"lite_warmed":$liteJson,"retries":$retriesJson,$healthJson,"jvm":$jvmJson,"markers":$markers$artJson,"sf":"$sfDir"}"""
    // The per-query line is ~6 KB at 188 queries and sbt interleaves its
    // own epilogue around stdout, so ALSO land the JSON in a file the
    // driver (or any harness) can read without scraping logs.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    writeRecord(outFile, json)
    // Durability: the round record's stdout tail truncates at ~2 KB, so
    // only ~50 of 240+ per-query timings survive into BENCH_r{N}.json.
    // ALSO land the full detail as the history file this run read
    // ([[defaultHistory]] by default, committed at round close as
    // r{N}.json) so cross-round per-query regression analysis never
    // depends on a /tmp file the next run overwrites. Full-catalog runs
    // only — a subset A/B probe must not clobber the round's record.
    // a host_degraded OR visibly-drifted OR per-query-drifted run must
    // NOT become the next run's history gate: its adjudicated numbers
    // are the best available but still host-inflated, and a poisoned
    // baseline loosens the 3x threshold for every future run — the
    // history stays quiet-host. Three doors, all closed: host_degraded
    // (>10 flags), marker drift > 1.15 (the r15 246 s close-A shape),
    // and landingVeto's per-query comparison against the history being
    // replaced (the r15 DRIVER record shape: 13 queries 1.5-2.9x hot
    // while the marker panel read 1.005 quiet). An honest code
    // regression on a quiet host still updates the history normally; a
    // deliberate multi-query re-pin uses SPARK_GRAFT_FORCE_LAND=1.
    if (only.isEmpty && skip.isEmpty) {
      val adjMap = results.map(r => r.name -> adjudicated(r)).toMap
      val veto: Option[String] =
        if (sys.env.get("SPARK_GRAFT_FORCE_LAND").contains("1")) None
        else if (historySfMismatch)
          Some(s"existing history is unreadable or for a different sf/cpus than this run")
        else if (hostDegraded) Some("host_degraded")
        else if (markerDrift > 1.15) Some(f"marker_drift $markerDrift%.3f > 1.15")
        else landingVeto(adjMap, history)
      landHistory(histFile, json, veto)
    }
    println(json)
    // LAST stdout line is a short total-only JSON that fits any log-tail
    // capture (the full per-query map above overflows a 2 KB tail).
    println(s"""{"metric":"total","value":$total,"value_norm":$valueNorm,"unit":"sec","n":${results.size},"n_cold":${results.count(!_.warmed)},"n_lite":${liteWarmed.size},"n_retried":${retried.size + wave2.size},$healthJson,"jvm":$jvmJson,"markers":$markers$artJson,"sf":"$sfDir","detail":"$outFile"}""")
    spark.stop()
  }
}
