package graft.ml

import graft.core.{Actor, JobContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Pipeline-actor wrappers for the training-data operators, so YAML/JSON
 * pipelines can invoke dedup / similarity / text analysis declaratively
 * like any other action. These are beyond-parity components (no reference
 * counterpart): the actor surface follows the same property conventions as
 * the rest of the catalog.
 */

/** Deduplication actor. `method`: exact | minhash-lsh | simhash | resolve
 *  | semdedup | incremental | index-build | bloom-build | decontaminate.
 *  exact: emits (content_hash, keep_id, dup_count);
 *  minhash-lsh: emits candidate near-dup pairs (id_a, id_b, est_jaccard);
 *  simhash: emits (id, simhash);
 *  resolve: full minhash-lsh + cluster resolution, emits
 *  (id, keep_id, is_duplicate) for every id in the duplicate graph;
 *  semdedup: embedding-space dedup over `vectorField` (k-means blocks the
 *  pair search), emits (id, cluster, is_dup) — `iterations` is the Lloyd
 *  iteration count here, `clusters`/`dim`/`cosineThreshold` apply;
 *  incremental: one-sided match of `view` (the new batch) against
 *  `indexView` (the prebuilt corpus) — emits (new_id, index_id,
 *  est_jaccard), never an index×index pair;
 *  index-build: emits the MinHash signature frame (id, mh0..mh{k-1}) of
 *  `view` — the persistable dedup index. Write it once (parquet, or a
 *  catalog table bucketed by id), then feed it back to `incremental` in ANY later session
 *  via `indexView` + `indexIsSignatures: true`: the corpus is never
 *  re-shingled/re-hashed, which is the entire economics of continuous
 *  ingestion (per-batch cost against an already-paid index);
 *  bloom-build: emits the one-row Bloom state frame (bf binary) of
 *  `view`'s shingles — the persistable decontamination filter
 *  (`bloomBits`/`bloomHashes` size it);
 *  decontaminate: flags each `view` doc contaminated against `evalView`
 *  (eval documents, or a prebuilt bloom-build frame via
 *  `evalIsState: true`), emits (id, contaminated 0/1); the state
 *  broadcasts as ONE row and corpus shingles probe it in place — no
 *  membership join, no false negatives;
 *  resolve-build: the persistable RESOLUTION artifact — the resolve
 *  label frame with the corpus fingerprint stamped per row (fp_n,
 *  fp_h). Write it once (parquet); downstream reports/weights load it
 *  instead of re-running MinHash→LSH→connected-components;
 *  resolve-load: emits a loaded resolution (`resolutionView`) after
 *  verifying its fingerprint against `view`'s corpus
 *  (`verifyResolution: false` skips — e.g. when `view` is a sample);
 *  report: per-cluster dedup audit report (n_docs/n_dups/n_sources/
 *  bytes_total/bytes_kept/bytes_saved; `sourceField` names the
 *  provenance column) off `resolutionView` when set, else resolved
 *  in-session;
 *  soft: ppm sampling weights (id, cluster_id, cluster_size, weight_u
 *  = 1e6 div cluster size) — down-weighting instead of hard deletion —
 *  off the same loaded-or-computed resolution;
 *  cdc-spans: content-defined duplicated-span dedup (rolling-hash
 *  chunk boundaries move WITH the text, so offset-shifted copies still
 *  collide — closes the stride-alignment gap of `spans`);
 *  cdc-clean: the cleaned corpus for cdc-spans' report — strip every
 *  non-first occurrence of a dedup-eligible CDC chunk, reassemble docs;
 *  stream-gate: the streaming ingest gate with within-stream linking —
 *  drains a streaming `view` through a [[SoftDedupGate]] (one join per
 *  batch against index ∪ earlier batches ∪ itself) and emits d24-style weights over
 *  the updated resolution ([[Dedup.resolveUpdateFromEdges]]);
 *  `maxCandidatesPerDoc` budgets each doc's candidates per batch;
 *  stream-gate-rebase: the same drain, emitting the REBASED gate state
 *  instead of weights — output view = the updated label frame (the next
 *  resolution artifact), extra view `sigsView` = index ∪ retained
 *  stream signatures (the next drain's `indexView` with
 *  `indexIsSignatures: true`) — the long-lived gate's periodic
 *  maintenance move, bounding the retained cost;
 *  fingerprint: the 1-row (fp_n, fp_h) [[Dedup.corpusFingerprint]]
 *  sidecar of `view` — write it with the corpus, then pass it back as
 *  `fingerprintView` so every artifact integrity check compares two
 *  stored rows instead of re-scanning the corpus. */
class DedupActor extends Actor {
  protected var view: String = ""
  protected var method: String = "exact"
  protected var textCol: String = "text"
  protected var idCol: String = "doc_id"
  protected var numHashes: Int = 8
  protected var shingleLen: Int = 3
  protected var bands: Int = 4
  protected var minEstJaccard: Double = 0.5
  protected var iterations: Int = 4
  protected var vecCol: String = "embedding"
  protected var dim: Int = 64
  protected var clusters: Int = 8
  protected var cosineThreshold: Double = 0.9
  protected var indexView: String = ""
  protected var indexIsSignatures: Boolean = false
  protected var evalView: String = ""
  protected var evalIsState: Boolean = false
  protected var bloomBits: Int = 1 << 22
  protected var bloomHashes: Int = 5
  protected var chunkTokens: Int = 10
  protected var spanWindow: Int = 40
  protected var spanStride: Int = 20
  protected var cdcWindow: Int = 8
  protected var cdcBoundaryMod: Int = 32
  protected var cdcMinLen: Int = 16
  protected var sourceCol: String = "source"
  protected var resolutionView: String = ""
  protected var verifyResolution: Boolean = true
  // optional persisted 1-row (fp_n, fp_h) fingerprint sidecar: when set,
  // integrity checks compare two stored rows instead of re-scanning the
  // corpus (build it with method `fingerprint` WHEN the corpus lands)
  protected var fingerprintView: String = ""
  // row bound for every ingest-shaped broadcast: a batch within it is
  // read to the driver by one bounded collect and broadcast; over it the
  // joins fall back to shuffles. The stream gate also caps its
  // driver-held retained signatures at this many rows
  protected var broadcastMaxRows: Long = graft.utils.LocalFrames.MaxRows
  // stream-gate per-document candidate budget (0 = unlimited): d28's
  // device applied to each micro-batch's pairs — bounds the per-batch
  // fold cost when banded chance collisions densify at corpus scale
  protected var maxCandidatesPerDoc: Int = 0
  // stream-gate-rebase: the extra-view name for the folded index
  // signatures (the output view carries the updated labels)
  protected var sigsView: String = ""
  // `fingerprint` method: the view is a SIGNATURE frame (id, mh0..),
  // not a text corpus — emit Dedup.signatureFingerprint, the sidecar a
  // REBASED artifact (stamped with the folded index's sig fingerprint)
  // verifies against
  protected var viewIsSignatures: Boolean = false

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    properties.get("method").foreach { m =>
      require(Seq("exact", "minhash-lsh", "simhash", "resolve", "resolve-pairs",
        "semdedup", "incremental", "index-build", "bloom-build", "decontaminate",
        "chunk", "spans", "resolve-build", "resolve-load", "report", "soft",
        "cdc-spans", "cdc-clean", "resolve-update", "stream-gate", "fingerprint",
        "stream-gate-rebase").contains(m),
        s"DedupActor: bad method $m")
      method = m
    }
    properties.get("broadcastMaxRows").foreach(v => broadcastMaxRows = v.toLong)
    properties.get("maxCandidatesPerDoc").foreach(v => maxCandidatesPerDoc = v.toInt)
    require(!Seq("stream-gate", "stream-gate-rebase").contains(method) ||
        (properties.getOrElse("resolutionView", "").nonEmpty &&
          properties.getOrElse("indexView", "").nonEmpty),
      s"DedupActor: $method requires resolutionView (the persisted " +
        "labels) and indexView (the corpus or its signature frame)")
    properties.get("sigsView").foreach(sigsView = _)
    require(method != "stream-gate-rebase" || sigsView.nonEmpty,
      "DedupActor: stream-gate-rebase requires sigsView (the extra-view " +
        "name for the folded index signatures)")
    properties.get("sourceField").foreach(sourceCol = _)
    properties.get("resolutionView").foreach(resolutionView = _)
    properties.get("fingerprintView").foreach(fingerprintView = _)
    properties.get("verifyResolution").foreach(v => verifyResolution = v.toBoolean)
    require(method != "resolve-load" || resolutionView.nonEmpty,
      "DedupActor: resolve-load requires resolutionView (the persisted " +
        "label frame a resolve-build step wrote)")
    require(method != "resolve-update" ||
        (resolutionView.nonEmpty && properties.getOrElse("indexView", "").nonEmpty),
      "DedupActor: resolve-update requires resolutionView (the persisted " +
        "labels) and indexView (the corpus or its signature frame)")
    properties.get("chunkTokens").foreach(v => chunkTokens = v.toInt)
    properties.get("spanWindow").foreach(v => spanWindow = v.toInt)
    properties.get("spanStride").foreach(v => spanStride = v.toInt)
    properties.get("cdcWindow").foreach(v => cdcWindow = v.toInt)
    properties.get("cdcBoundaryMod").foreach(v => cdcBoundaryMod = v.toInt)
    properties.get("cdcMinLen").foreach(v => cdcMinLen = v.toInt)
    properties.get("indexView").foreach(indexView = _)
    properties.get("indexIsSignatures").foreach(v => indexIsSignatures = v.toBoolean)
    properties.get("viewIsSignatures").foreach(v => viewIsSignatures = v.toBoolean)
    require(method != "incremental" || indexView.nonEmpty,
      "DedupActor: incremental requires indexView")
    properties.get("evalView").foreach(evalView = _)
    properties.get("evalIsState").foreach(v => evalIsState = v.toBoolean)
    properties.get("bloomBits").foreach(v => bloomBits = v.toInt)
    properties.get("bloomHashes").foreach(v => bloomHashes = v.toInt)
    require(method != "decontaminate" || evalView.nonEmpty,
      "DedupActor: decontaminate requires evalView")
    properties.get("textField").foreach(textCol = _)
    properties.get("idField").foreach(idCol = _)
    properties.get("numHashes").foreach(v => numHashes = v.toInt)
    properties.get("shingleLength").foreach(v => shingleLen = v.toInt)
    properties.get("bands").foreach(v => bands = v.toInt)
    properties.get("minEstJaccard").foreach(v => minEstJaccard = v.toDouble)
    properties.get("iterations").foreach(v => iterations = v.toInt)
    // the incremental-fold methods default to the LIBRARY's deeper CC
    // round count (resolveUpdateFromEdges' 8, matching the d26/q115
    // oracles' full-union re-resolve depth) — the actor-wide default of 4
    // silently under-converges deep duplicate chains there and breaks the
    // documented "weights == next d26 pass" equivalence. An explicit
    // `iterations` property still wins for both methods.
    if (!properties.contains("iterations") &&
        Seq("resolve-update", "stream-gate", "stream-gate-rebase").contains(method))
      iterations = 8
    properties.get("vectorField").foreach(vecCol = _)
    properties.get("dim").foreach(v => dim = v.toInt)
    properties.get("clusters").foreach(v => clusters = v.toInt)
    properties.get("cosineThreshold").foreach(v => cosineThreshold = v.toDouble)
  }

  def sourceView(v: String): this.type = { view = v; this }
  def dedupMethod(m: String): this.type = { method = m; this }
  def onColumns(text: String, id: String): this.type = { textCol = text; idCol = id; this }

  override def inputViews: Seq[String] =
    (if (view.nonEmpty) Seq(view) else Seq.empty) ++
      (if (indexView.nonEmpty) Seq(indexView) else Seq.empty) ++
      (if (evalView.nonEmpty) Seq(evalView) else Seq.empty) ++
      (if (resolutionView.nonEmpty) Seq(resolutionView) else Seq.empty) ++
      (if (fingerprintView.nonEmpty) Seq(fingerprintView) else Seq.empty)

  /** The resolution label frame the report/soft consumers work from:
   *  the loaded artifact when `resolutionView` is set (schema-checked;
   *  fingerprint-verified against `corpus` unless `verifyResolution:
   *  false` — a stale artifact silently mis-weights, so the default
   *  fails loudly), else resolved in-session. */
  private def resolutionLabels(corpus: DataFrame, ctx: JobContext): DataFrame =
    if (resolutionView.nonEmpty) loadResolution(corpus, ctx, verifyResolution)
    else resolveInSession(corpus)

  private def resolveInSession(corpus: DataFrame): DataFrame =
    Dedup.resolveDuplicates(
      Dedup.lshCandidatePairs(
        Dedup.minHashSignatures(corpus, textCol, idCol, numHashes, shingleLen),
        numHashes, bands, minEstJaccard), iterations)

  /** `resolutionView`'s label frame, schema-checked, and fingerprint-
   *  verified against `corpus` when `verify` holds. `corpus` is by-name
   *  for the reason [[verifyAgainst]] gives. */
  private def loadResolution(corpus: => DataFrame, ctx: JobContext,
                             verify: Boolean): DataFrame = {
    val r = ctx.getView(resolutionView)
    require(Seq("id", "keep_id").forall(r.columns.contains),
      s"DedupActor($method): resolutionView '$resolutionView' is not a " +
        s"resolution label frame (expected id, keep_id) — has " +
        s"${r.columns.mkString(", ")}")
    if (verify) verifyAgainst(r, corpus, ctx)
    r
  }

  /** The resolution an incremental fold starts from (resolve-update,
   *  stream-gate): the same integrity gate as resolve-load — folding into
   *  a stale or wrong-corpus artifact silently produces incorrect labels.
   *  A signature-frame index carries no text to fingerprint, so without
   *  a stored sidecar the check is only possible when `idx` is a corpus. */
  private def indexResolution(idx: DataFrame, ctx: JobContext): DataFrame =
    loadResolution(idx.select(col(idCol), col(textCol)), ctx,
      verifyResolution && (fingerprintView.nonEmpty || !indexIsSignatures))

  /** The canonical (id, mh0..mhN-1) columns of a signature frame. */
  private def signatureCols: Seq[String] = "id" +: (0 until numHashes).map(j => s"mh$j")

  /** `indexView`'s signatures: the loaded frame when `indexIsSignatures`
   *  (it must carry the width this matcher is configured for — a
   *  mismatched index yields silent zero-candidate output, so fail
   *  loudly instead), else computed from the index corpus' text. */
  private def indexSignatures(idx: DataFrame): DataFrame =
    if (indexIsSignatures) {
      require(signatureCols.toSet.subsetOf(idx.columns.toSet),
        s"DedupActor($method): indexView '$indexView' is not a signature " +
          s"frame with numHashes=$numHashes — has ${idx.columns.mkString(", ")}")
      idx
    } else Dedup.minHashSignatures(idx, textCol, idCol, numHashes, shingleLen)

  /** The integrity check behind `verifyResolution`: against the stored
   *  fingerprint sidecar when `fingerprintView` is set (two 1-row reads
   *  — the serve-many path), else the full corpus re-scan. `corpus` is
   *  BY-NAME: with `indexIsSignatures: true` + `fingerprintView` (the
   *  documented serve-many config) the call sites' corpus expression is
   *  `sigFrame.select(id, text)` — an AnalysisException if evaluated,
   *  because a signature frame carries no text. The stored-fp branch
   *  never touches it, so it must never be built there. */
  private def verifyAgainst(labels: DataFrame, corpus: => DataFrame,
                            ctx: JobContext): Unit =
    if (fingerprintView.nonEmpty)
      Dedup.requireResolutionMatchStored(labels, ctx.getView(fingerprintView))
    else Dedup.requireResolutionMatch(labels, corpus, textCol, idCol)

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    // interior caches the library pass creates (cdc-clean's chunk frame,
    // chunk/boilerplate scans) are deferred to job teardown via the
    // CacheLease contract — freed after downstream writers consumed the
    // output view, so a long-lived pipeline session never accumulates
    // corpus-scale storage across maintenance cycles
    val (out, cached) = CacheLease.collect(runMethod(ctx))
    ctx.deferUnpersist(cached)
    out
  }

  private def runMethod(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val df = ctx.getView(view)
    Some(method match {
      case "exact" => Dedup.exact(df, textCol, idCol)
      case "minhash-lsh" =>
        Dedup.lshCandidatePairs(
          Dedup.minHashSignatures(df, textCol, idCol, numHashes, shingleLen),
          numHashes, bands, minEstJaccard)
      case "simhash" => Dedup.simHash(df, textCol, idCol)
      case "resolve" => resolveInSession(df)
      case "resolve-pairs" =>
        // resolution over an EXISTING pair view (id_a, id_b) — chain
        // behind any pair producer (minhash-lsh output, image-dedup,
        // an edge list from elsewhere) without re-deriving pairs
        require(Seq("id_a", "id_b").forall(df.columns.contains),
          s"DedupActor(resolve-pairs): view '$view' needs id_a/id_b columns, " +
            s"has ${df.columns.mkString(", ")}")
        Dedup.resolveDuplicates(df, iterations)
      case "semdedup" =>
        // float embeddings cast to double once, so the kmeans/cosine
        // arithmetic matches the bit-reproducible oracle form
        val vdf = df.select(col(idCol),
          transform(col(vecCol), _.cast("double")).as(vecCol))
        Dedup.semDedup(vdf, idCol, vecCol, dim, clusters, iterations, cosineThreshold)
      case "chunk" =>
        // C4-style paragraph dedup: drop spans seen earlier in the corpus,
        // reassemble each doc from its surviving spans
        Dedup.chunkDedup(df, textCol, idCol, chunkTokens)
      case "spans" =>
        // cross-document duplicated char windows (Lee et al.-style
        // substring dedup at fixed window/stride granularity)
        Dedup.duplicateSpans(df, textCol, idCol, spanWindow, spanStride)
      case "cdc-spans" =>
        // content-defined chunk boundaries (rolling hash) — catches
        // offset-shifted copies the stride-aligned `spans` misses
        Dedup.cdcSpans(df, textCol, idCol, cdcWindow, cdcBoundaryMod, cdcMinLen)
      case "cdc-clean" =>
        // the cleaned corpus for cdc-spans' report: strip every non-first
        // occurrence of a dedup-eligible CDC chunk and reassemble docs
        Dedup.cdcClean(df, textCol, idCol, cdcWindow, cdcBoundaryMod, cdcMinLen)
      case "resolve-build" =>
        // the persistable resolution ARTIFACT: the resolve label frame +
        // the corpus fingerprint stamped per row. Write it once; report/
        // soft/resolve-load consume it in ANY later session — the corpus
        // is never re-resolved (the dedup mirror of the ANN index
        // lifecycle's build step).
        Dedup.resolveBuild(df, textCol, idCol, numHashes, shingleLen,
          bands, minEstJaccard, iterations)
      case "resolve-load" =>
        // the explicit load-with-integrity-check step: emits the loaded
        // label frame unchanged after verifying its fingerprint against
        // `view` (the corpus it claims to resolve)
        resolutionLabels(df, ctx)
      case "report" =>
        // per-cluster audit report (members, sources spanned, bytes
        // saved) off a loaded resolution when resolutionView is set,
        // else resolved in-session
        Dedup.dedupReport(resolutionLabels(df, ctx), df, textCol, idCol, sourceCol)
      case "soft" =>
        // ppm sampling weights (1e6 div cluster size) instead of hard
        // deletion, off the same loaded-or-computed resolution
        Dedup.softDedupWeights(resolutionLabels(df, ctx), df, idCol)
      case "resolve-update" =>
        // continuous-ingest maintenance of the resolution artifact:
        // fold `view` (the new batch) into `resolutionView`'s labels at
        // batch-sized cost — equals a full union re-resolve (d26's
        // oracle proves it) without ever re-resolving the corpus. The
        // updated frame is the new artifact; re-stamp and persist it.
        val idx0 = ctx.getView(indexView)
        val idxSigs0 = indexSignatures(idx0)
        val r = indexResolution(idx0, ctx)
        val batchSigs =
          Dedup.minHashSignatures(df, textCol, idCol, numHashes, shingleLen)
        val updated = Dedup.resolveUpdate(r, idxSigs0, batchSigs,
          numHashes, bands, minEstJaccard, iterations, broadcastMaxRows)
        // keep the output a first-class ARTIFACT: re-stamp so the next
        // consumer can verify it. A text-corpus index stamps the UNION
        // corpus' content fingerprint; a signature-frame index stamps
        // the UNION signatures' fingerprint (the folded sig frame IS the
        // next fold's index — refresh the sidecar in that domain with
        // `fingerprint` + `viewIsSignatures: true`).
        if (indexIsSignatures) {
          val canon = signatureCols.map(col)
          updated.crossJoin(broadcast(Dedup.signatureFingerprint(
            idxSigs0.select(canon: _*).unionAll(batchSigs.select(canon: _*)))))
        } else updated.crossJoin(broadcast(Dedup.corpusFingerprint(
          idx0.select(col(idCol), col(textCol))
            .unionAll(df.select(col(idCol), col(textCol))), textCol, idCol)))
      case "fingerprint" =>
        // the 1-row (fp_n, fp_h) sidecar: write it in the SAME job that
        // lands the corpus, then every later consumer verifies its loaded
        // resolution against this stored row (fingerprintView) instead of
        // re-scanning the corpus — build-once/serve-many applied to the
        // integrity check itself. `viewIsSignatures: true` fingerprints a
        // SIGNATURE frame instead (the sidecar for a rebased artifact,
        // which is stamped with its folded index's sig fingerprint — the
        // two domains never cross-validate, by design).
        if (viewIsSignatures) Dedup.signatureFingerprint(df, "id")
        else Dedup.corpusFingerprint(df, textCol, idCol)
      case "index-build" =>
        Dedup.minHashSignatures(df, textCol, idCol, numHashes, shingleLen)
      case "bloom-build" =>
        // one-row persistable decontamination state: the Bloom filter of
        // `view`'s shingle set (numBits/8+4 bytes however many docs).
        // Write it once, feed it back via evalView + evalIsState in any
        // later session — the eval corpus is never re-shingled.
        Dedup.shingles(df, textCol, idCol, shingleLen, distinct = false)
          .agg(graft.functions.SketchAggregates
            .bloomState(col("shingle"), bloomBits, bloomHashes).as("bf"))
      case "decontaminate" =>
        // per-doc contamination flag of `view` against `evalView` — the
        // b1 shape: broadcast ONE fixed-size state row, probe corpus
        // shingles in place (no join for the membership test). Bloom
        // guarantees no false negatives; false positives over-flag at the
        // documented rate, safe for removal decisions.
        val ev = ctx.getView(evalView)
        val state =
          if (evalIsState) {
            require(ev.columns.contains("bf"),
              s"DedupActor(decontaminate): evalView '$evalView' is not a " +
                s"bloom state frame (expected column bf) — has ${ev.columns.mkString(", ")}")
            ev.select(col("bf"))
          } else Dedup.shingles(ev, textCol, idCol, shingleLen, distinct = false)
            .agg(graft.functions.SketchAggregates
              .bloomState(col("shingle"), bloomBits, bloomHashes).as("bf"))
        Dedup.shingles(df, textCol, idCol, shingleLen, distinct = false)
          .crossJoin(broadcast(state))
          .groupBy(col("id"))
          .agg(max(graft.functions.SketchAggregates
            .bloomContains(col("bf"), col("shingle")).cast("int")).as("contaminated"))
      case "incremental" =>
        Dedup.lshMatches(
          Dedup.minHashSignatures(df, textCol, idCol, numHashes, shingleLen),
          indexSignatures(ctx.getView(indexView)), numHashes, bands,
          minEstJaccard, broadcastMaxRows)
      case "stream-gate" | "stream-gate-rebase" =>
        // q115's shape as a pipeline step: drain the STREAMING `view`
        // through a SoftDedupGate (per micro-batch: one LSH join of the
        // batch against the index, the retained earlier batches and
        // itself — within-stream duplicates LINK, the case the
        // stream-static gate shape is blind to). `stream-gate` then emits d24-style ppm
        // weights over the updated resolution — exactly what the next
        // resolve-update maintenance pass would assign; `stream-gate-
        // rebase` instead emits the REBASED artifacts — the long-lived
        // gate's periodic maintenance move: output view = the updated
        // label frame (the next resolution artifact, STAMPED with the
        // folded index's signature fingerprint — persist a matching
        // sidecar via `fingerprint` + `viewIsSignatures: true` and the
        // next drain verifies the pair with two 1-row reads), extra view
        // `sigsView` = the folded index signatures (index ∪ retained
        // stream signatures — the next drain's indexView with
        // indexIsSignatures: true). After a rebase the stream docs ARE
        // the index, so future batches match them as index rows and the
        // retained cost resets to zero.
        // The index side (indexView's signatures — computed here from text
        // unless indexIsSignatures) is materialised ONCE, when the gate is
        // built, before the first micro-batch, and held for the drain: no
        // micro-batch re-reads or re-shingles indexView. A micro-batch
        // within broadcastMaxRows costs one bounded collect and one edge
        // cut (two SQL executions).
        // AvailableNow makes the step a bounded job; production runs the
        // same gate under a processing-time trigger.
        require(df.isStreaming,
          s"DedupActor($method): view '$view' must be a streaming view")
        val gIdx0 = ctx.getView(indexView)
        val gIdxSigs = indexSignatures(gIdx0)
        val gr = indexResolution(gIdx0, ctx)
        val gate = new graft.ml.SoftDedupGate(gr, gIdxSigs, numHashes,
          shingleLen, bands, minEstJaccard, iterations, broadcastMaxRows,
          maxCandidatesPerDoc)
        val (tc, ic) = (textCol, idCol)
        val q = df.writeStream
          .foreachBatch { (b: DataFrame, _: Long) => gate.ingest(b, tc, ic) }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // the gate's frames were created on the micro-batch executions'
        // session — re-home the results so the output (and extra) views
        // register on THIS pipeline session's catalog
        if (method == "stream-gate-rebase") {
          val (newSigs, newLabels) = gate.rebase()
          registerView(sigsView,
            org.apache.spark.sql.GraftSqlBridge.onSession(spark, newSigs))
          org.apache.spark.sql.GraftSqlBridge.onSession(spark, newLabels)
        } else org.apache.spark.sql.GraftSqlBridge.onSession(spark,
          gate.weights(gate.ingestedIds(), "id").withColumnRenamed("id", idCol))
    })
  }
}

/** ANN actor: top-k cosine neighbors. `method`: brute-force | lsh | ivf
 *  | pq | ivfpq.
 *  The query set is the rows matching `queryWhere` (default: whole view). */
class SimilaritySearchActor extends Actor {
  protected var view: String = ""
  protected var method: String = "brute-force"
  protected var idCol: String = "vec_id"
  protected var vecCol: String = "embedding"
  protected var k: Int = 10
  protected var queryWhere: Option[String] = None
  protected var dim: Int = 0
  protected var numPlanes: Int = 8
  protected var numCentroids: Int = 16
  protected var nprobe: Int = 2
  protected var subspaces: Int = 8
  protected var textView: String = ""
  protected var textCol: String = "text"
  protected var textIdCol: String = "doc_id"
  protected var textQueryWhere: Option[String] = None
  protected var pool: Int = 10
  protected var rrfK: Int = 60
  protected var maxDfDenom: Int = 10
  protected var centroidsView: String = ""
  protected var assignView: String = ""
  // hybrid's semantic leg: "ivf" (production default — each query scores
  // ~nprobe/numCentroids of the corpus) or "brute" (the exact quadratic
  // baseline, for grading/recall evaluation)
  protected var semanticIndex: String = "ivf"
  protected var labelCol: String = ""
  protected var oldView: String = ""
  // ivf-rebalance: split cells > splitNum/splitDenom × the mean size
  protected var splitNum: Int = 3
  protected var splitDenom: Int = 2
  // ivf-merge / ivf-health: dissolve cells < mean/mergeDenom
  protected var mergeDenom: Int = 4

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    properties.get("method").foreach { m =>
      require(Seq("brute-force", "lsh", "ivf", "pq", "ivfpq", "hybrid",
        "ivf-centroids", "ivf-assign", "ivf-probe", "ivf-probe-stateless",
        "ivf-rebalance", "ivf-rebalance-centroids", "ivf-health",
        "ivf-merge", "ivf-merge-centroids",
        "ivf-maintain", "ivf-maintain-centroids",
        "hard-negatives", "hard-negatives-ivf", "mmr",
        "centroid-drift").contains(m),
        s"SimilaritySearchActor: bad method $m")
      method = m
    }
    properties.get("splitNum").foreach(v => splitNum = v.toInt)
    properties.get("splitDenom").foreach(v => splitDenom = v.toInt)
    properties.get("mergeDenom").foreach(v => mergeDenom = v.toInt)
    properties.get("oldView").foreach(oldView = _)
    require(method != "centroid-drift" || oldView.nonEmpty,
      "SimilaritySearchActor(centroid-drift): oldView is required (the " +
        "previous embedding snapshot to diff centroids against)")
    properties.get("labelField").foreach(labelCol = _)
    require(!Seq("hard-negatives", "hard-negatives-ivf").contains(method) ||
        labelCol.nonEmpty,
      s"SimilaritySearchActor: $method requires labelField (the " +
        "class column whose DIFFERENT-label neighbors are mined)")
    require(method != "centroid-drift" || labelCol.nonEmpty,
      "SimilaritySearchActor(centroid-drift): labelField is required (the " +
        "group column whose per-group centroids are compared)")
    properties.get("idField").foreach(idCol = _)
    properties.get("vectorField").foreach(vecCol = _)
    properties.get("k").foreach(v => k = v.toInt)
    queryWhere = properties.get("queryWhere")
    properties.get("dim").foreach(v => dim = v.toInt)
    properties.get("numPlanes").foreach(v => numPlanes = v.toInt)
    properties.get("numCentroids").foreach(v => numCentroids = v.toInt)
    properties.get("nprobe").foreach(v => nprobe = v.toInt)
    properties.get("subspaces").foreach(v => subspaces = v.toInt)
    properties.get("textView").foreach(textView = _)
    properties.get("textField").foreach(textCol = _)
    properties.get("textIdField").foreach(textIdCol = _)
    textQueryWhere = properties.get("textQueryWhere")
    properties.get("pool").foreach(v => pool = v.toInt)
    properties.get("rrfK").foreach(v => rrfK = v.toInt)
    properties.get("maxDfDenom").foreach(v => maxDfDenom = v.toInt)
    properties.get("centroidsView").foreach(centroidsView = _)
    properties.get("assignView").foreach(assignView = _)
    properties.get("semanticIndex").foreach { v =>
      require(Seq("ivf", "brute").contains(v),
        s"SimilaritySearchActor: semanticIndex must be ivf|brute, got $v")
      semanticIndex = v
    }
    require(!Seq("ivf-assign", "ivf-probe", "ivf-probe-stateless",
        "ivf-rebalance", "ivf-rebalance-centroids",
        "ivf-merge", "ivf-merge-centroids")
        .contains(method) || centroidsView.nonEmpty,
      s"SimilaritySearchActor: $method requires centroidsView")
    require(!Seq("ivf-probe", "ivf-probe-stateless",
        "ivf-rebalance", "ivf-rebalance-centroids", "ivf-health",
        "ivf-merge", "ivf-merge-centroids")
        .contains(method) || assignView.nonEmpty,
      s"SimilaritySearchActor: $method requires assignView")
    if (method == "lsh") require(dim > 0, "SimilaritySearchActor: lsh requires dim")
    if (method == "pq" || method == "ivfpq")
      require(dim > 0, s"SimilaritySearchActor: $method requires dim")
    require(method != "hybrid" || textView.nonEmpty,
      "SimilaritySearchActor: hybrid requires textView (the document view " +
        "sharing the embedding view's id space)")
  }

  override def inputViews: Seq[String] =
    (if (view.nonEmpty) Seq(view) else Seq.empty) ++
      (if (textView.nonEmpty) Seq(textView) else Seq.empty) ++
      (if (centroidsView.nonEmpty) Seq(centroidsView) else Seq.empty) ++
      (if (assignView.nonEmpty) Seq(assignView) else Seq.empty) ++
      (if (oldView.nonEmpty) Seq(oldView) else Seq.empty)

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    // interior caches the maintenance passes create (ivf-maintain/-merge/
    // -rebalance's assignment frames) are deferred to job teardown via
    // the CacheLease contract — freed after downstream writers consumed
    // the output view (MlSpec pins zero persistent RDDs post-pipeline)
    val (out, cached) = CacheLease.collect(runMethod(ctx))
    ctx.deferUnpersist(cached)
    out
  }

  private def runMethod(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val corpus = ctx.getView(view)
    val queries = queryWhere.fold(corpus)(corpus.filter)
    Some(method match {
      case "brute-force" => Similarity.bruteForceTopK(queries, corpus, idCol, vecCol, k)
      case "centroid-drift" =>
        Similarity.centroidDrift(corpus, ctx.getView(oldView), labelCol, vecCol)
      case "hard-negatives" =>
        Similarity.hardNegatives(queries, corpus, idCol, vecCol, labelCol, k)
      // production shape: IVF cell probe + per-pair label filter — each
      // query scores ~nprobe/numCentroids of the corpus, never all of it
      case "hard-negatives-ivf" =>
        Similarity.hardNegativesIvf(queries, corpus, idCol, vecCol, labelCol,
          k, numCentroids, nprobe)
      // MMR diversity re-rank over a `pool`-sized candidate set; the pool
      // build follows `semanticIndex` (ivf = production, brute = exact)
      case "mmr" =>
        Similarity.mmrTopK(queries, corpus, idCol, vecCol, k, pool,
          semantic = semanticIndex, numCentroids = numCentroids, nprobe = nprobe)
      case "lsh" => Similarity.lshTopK(queries, corpus, idCol, vecCol, k, dim, numPlanes)
      case "ivf" => Similarity.ivfTopK(queries, corpus, idCol, vecCol, k, numCentroids, nprobe)
      case "pq" => Similarity.pqTopK(queries, corpus, idCol, vecCol, k, dim, subspaces)
      case "ivfpq" => Similarity.ivfPqTopK(queries, corpus, idCol, vecCol, k,
        numCentroids, nprobe, dim, subspaces)
      // IVF index lifecycle: build ONCE (centroids + cell assignments,
      // persist the assignments partitioned by crank), probe any time
      // later against the loaded frames — queries read only their nprobe
      // cells' files
      case "ivf-centroids" =>
        Similarity.ivfCentroids(corpus, idCol, vecCol, numCentroids)
      case "ivf-assign" =>
        Similarity.ivfAssignments(corpus, ctx.getView(centroidsView), idCol, vecCol)
      case "ivf-probe" =>
        Similarity.ivfProbe(queries, ctx.getView(centroidsView),
          ctx.getView(assignView), idCol, vecCol, k, nprobe)
      // window-free probe: accepts a STREAMING query view (complete
      // output mode) — the online serving path against a loaded index
      case "ivf-probe-stateless" =>
        Similarity.ivfProbeStateless(queries, ctx.getView(centroidsView),
          ctx.getView(assignView), idCol, vecCol, k, nprobe)
      // index maintenance: split cells > splitNum/splitDenom × the mean
      // population; only the oversized cells' rows are rewritten (view =
      // ignored; operates on the loaded centroid/assignment frames).
      // `ivf-rebalance` emits the new assignments (crank, parent_crank,
      // id, v, vv), `ivf-rebalance-centroids` the matching centroid frame
      case "ivf-rebalance" =>
        Similarity.ivfRebalance(ctx.getView(centroidsView),
          ctx.getView(assignView), splitNum, splitDenom)._2
      case "ivf-rebalance-centroids" =>
        Similarity.ivfRebalance(ctx.getView(centroidsView),
          ctx.getView(assignView), splitNum, splitDenom)._1
      // the monitoring census: per-cell population/share + the hot flag
      // under the SAME threshold ivf-rebalance splits on, and the
      // starved flag under the SAME threshold ivf-merge dissolves on.
      // With the centroid view set the census is centroid-complete
      // (zero-population cells report starved); without it the census
      // can only see cells that appear in the assignments.
      case "ivf-health" if centroidsView.nonEmpty =>
        Similarity.ivfHealth(ctx.getView(centroidsView), ctx.getView(assignView),
          splitNum, splitDenom, mergeDenom)
      case "ivf-health" =>
        Similarity.ivfHealth(ctx.getView(assignView), splitNum, splitDenom, mergeDenom)
      // the composed maintenance pass: ONE centroid-complete census →
      // dissolve starved cells → split hot cells (flags under exactly
      // ivf-health's thresholds). `ivf-maintain` emits the new
      // assignments (crank, parent_crank, id, v, vv),
      // `ivf-maintain-centroids` the matching centroid frame
      case "ivf-maintain" =>
        Similarity.ivfMaintain(ctx.getView(centroidsView),
          ctx.getView(assignView), splitNum, splitDenom, mergeDenom)._2
      case "ivf-maintain-centroids" =>
        Similarity.ivfMaintain(ctx.getView(centroidsView),
          ctx.getView(assignView), splitNum, splitDenom, mergeDenom)._1
      // the other half of maintenance: dissolve cells < mean/mergeDenom
      // into their nearest SURVIVING centroid — only the starved rows
      // re-rank; untouched cells are never renumbered. `ivf-merge`
      // emits the new assignments (crank, parent_crank, id, v, vv),
      // `ivf-merge-centroids` the surviving centroid frame
      case "ivf-merge" =>
        Similarity.ivfMerge(ctx.getView(centroidsView),
          ctx.getView(assignView), mergeDenom)._2
      case "ivf-merge-centroids" =>
        Similarity.ivfMerge(ctx.getView(centroidsView),
          ctx.getView(assignView), mergeDenom)._1
      case "hybrid" =>
        // the probe set must be selected on BOTH modalities:
        // `queryWhere` filters the embedding view, `textQueryWhere`
        // (same predicate over the text view's columns; defaults to
        // queryWhere) filters the document view — the two must pick the
        // same ids or the fusion starves one side
        val docs = ctx.getView(textView)
        val qDocs = textQueryWhere.orElse(queryWhere).fold(docs)(docs.filter)
        Similarity.hybridRrfTopK(qDocs, docs, textIdCol, textCol,
          queries, corpus, idCol, vecCol, pool, k, rrfK, maxDfDenom,
          semantic = semanticIndex, numCentroids = numCentroids, nprobe = nprobe)
    })
  }
}

/** Text analysis actor: appends token counts, quality score, language id,
 *  and content fingerprint columns to the view. With `bm25Terms` set
 *  (comma-separated) it also appends BM25 relevance columns (`n_terms`,
 *  `bm25_q`) joined on `idField` (any type; the id keeps its native
 *  type through the scoring pipeline). Inputs that already carry an
 *  `n_terms`/`bm25_q` column are rejected at run with a clear message. */
class TextAnalysisActor extends Actor {
  protected var view: String = ""
  protected var textCol: String = "text"
  protected var idCol: String = "doc_id"
  protected var bm25Terms: Seq[String] = Seq.empty
  protected var method: String = "enrich"
  protected var bpeMerges: Int = 6
  protected var labelWhere: String = ""
  protected var epochs: Int = 3
  protected var buckets: Int = 1024
  protected var mergesView: String = ""
  protected var sourceCol: String = "source"
  protected var topK: Int = 256
  protected var oldView: String = ""
  protected var lmView: String = ""
  protected var backoffBits: Int = 2
  protected var langs: Seq[String] = Seq.empty
  protected var langCol: String = "lang"
  protected var weightsView: String = ""

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    properties.get("textField").foreach(textCol = _)
    properties.get("idField").foreach(idCol = _)
    properties.get("sourceField").foreach(sourceCol = _)
    properties.get("bm25Terms").foreach(v =>
      bm25Terms = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    properties.get("method").foreach { m =>
      require(Seq("enrich", "bpe-train", "bpe-encode", "perceptron-train",
        "zipf-fit", "corpus-drift", "bigram-surprise", "fertility", "oov",
        "length-drift", "langid-train", "langid-apply").contains(m),
        s"TextAnalysisActor: unknown method '$m' " +
          "(enrich | bpe-train | bpe-encode | perceptron-train | zipf-fit" +
          " | corpus-drift | bigram-surprise | fertility | oov | length-drift" +
          " | langid-train | langid-apply)")
      method = m
    }
    properties.get("langs").foreach(v =>
      langs = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    properties.get("langField").foreach(langCol = _)
    properties.get("weightsView").foreach(weightsView = _)
    require(method != "langid-train" || langs.nonEmpty,
      "TextAnalysisActor(langid-train): langs is required (comma-separated " +
        "label set, e.g. \"de,en,es,fr,zh\")")
    require(method != "langid-apply" || weightsView.nonEmpty,
      "TextAnalysisActor(langid-apply): weightsView is required (the " +
        "(lang, bucket, w) frame a langid-train step produced)")
    properties.get("bpeMerges").foreach(v => bpeMerges = v.toInt)
    properties.get("mergesView").foreach(mergesView = _)
    require(!Seq("bpe-encode", "fertility").contains(method) || mergesView.nonEmpty,
      s"TextAnalysisActor($method): mergesView is required (the learned " +
        "merge table a bpe-train step produced)")
    properties.get("topK").foreach(v => topK = v.toInt)
    properties.get("oldView").foreach(oldView = _)
    properties.get("lmView").foreach(lmView = _)
    properties.get("backoffBits").foreach(v => backoffBits = v.toInt)
    require(!Seq("corpus-drift", "length-drift").contains(method) ||
        oldView.nonEmpty,
      s"TextAnalysisActor($method): oldView is required (the previous " +
        "snapshot to score the current view's drift against)")
    properties.get("labelWhere").foreach(labelWhere = _)
    properties.get("epochs").foreach(v => epochs = v.toInt)
    properties.get("buckets").foreach(v => buckets = v.toInt)
    require(method != "perceptron-train" || labelWhere.nonEmpty,
      "TextAnalysisActor(perceptron-train): labelWhere is required (the " +
        "SQL predicate labeling the positive class, e.g. \"lang = 'en'\")")
  }

  def sourceView(v: String): this.type = { view = v; this }

  override def inputViews: Seq[String] =
    (if (view.nonEmpty) Seq(view) else Seq.empty) ++
      (if (mergesView.nonEmpty) Seq(mergesView) else Seq.empty) ++
      (if (oldView.nonEmpty) Seq(oldView) else Seq.empty) ++
      (if (lmView.nonEmpty) Seq(lmView) else Seq.empty) ++
      (if (weightsView.nonEmpty) Seq(weightsView) else Seq.empty)

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val df = ctx.getView(view)
    // trained language ID: per-language one-vs-rest perceptrons over
    // hashed char trigrams (train), argmax scoring (apply)
    if (method == "langid-train")
      return Some(TextAnalysis.langIdTrain(df, idCol, textCol, langCol,
        langs, epochs, buckets))
    if (method == "langid-apply")
      return Some(TextAnalysis.langIdApply(df, idCol, textCol,
        ctx.getView(weightsView), buckets))
    // training methods: the output is a learned TABLE (merges / weights),
    // not a row-preserving enrichment — a different shape, so a switch
    if (method == "bpe-train")
      return Some(TextAnalysis.bpeLearn(df, textCol, bpeMerges))
    if (method == "bpe-encode")
      return Some(TextAnalysis.bpeEncode(df, idCol, textCol, ctx.getView(mergesView)))
    if (method == "perceptron-train")
      return Some(TextAnalysis.perceptronTrain(df, idCol, textCol,
        expr(labelWhere), epochs, buckets))
    // corpus-health methods: per-SOURCE summaries, not per-row enrichment
    if (method == "zipf-fit")
      return Some(TextAnalysis.zipfFit(df, sourceCol, textCol, topK))
    if (method == "corpus-drift")
      return Some(TextAnalysis.corpusDrift(df, ctx.getView(oldView), sourceCol, textCol))
    if (method == "length-drift")
      return Some(TextAnalysis.lengthDrift(df, ctx.getView(oldView), sourceCol, textCol))
    if (method == "fertility")
      return Some(TextAnalysis.tokenizerFertility(df, sourceCol, textCol,
        ctx.getView(mergesView)))
    if (method == "oov")
      return Some(TextAnalysis.oovRate(df, sourceCol, textCol, topK))
    // lmView defaults to the scored view itself (self-scored corpus —
    // valid, but the backoff path then never fires; point lmView at a
    // held-out or previous snapshot for a real perplexity gate)
    if (method == "bigram-surprise")
      return Some(TextAnalysis.bigramSurprise(df,
        if (lmView.nonEmpty) ctx.getView(lmView) else df,
        idCol, textCol, backoffBits))
    val t = col(textCol)
    val enriched = df
      .withColumn("ws_tokens", TextAnalysis.wsTokenCount(t).cast("long"))
      .withColumn("bpe_tokens", TextAnalysis.bpeTokenCount(t).cast("long"))
      .withColumn("quality", TextAnalysis.qualityScore(t))
      .withColumn("lang_pred", TextAnalysis.langId(t))
      .withColumn("fingerprint", TextAnalysis.fingerprint(t))
    // Row-preserving enrichment. bm25Scores emits one row per INPUT row,
    // each carrying the per-id MERGED aggregate (it groupBys id
    // internally), so duplicate-id rows are column-identical; the
    // max-aggregate below collapses them to one row per id
    // deterministically (max of identical values) before the left join,
    // so duplicate input ids aren't row-multiplied. bm25Scores keeps the
    // id's NATIVE type, so the join key is type-exact for long AND string
    // idFields alike. Null-id rows never match and keep the 0/0 defaults.
    Some(if (bm25Terms.isEmpty) enriched
    else {
      val clash = df.columns.toSet.intersect(Set("n_terms", "bm25_q"))
      require(clash.isEmpty,
        s"TextAnalysisActor(bm25Terms): input view '$view' already has column(s) " +
          s"${clash.mkString(", ")} — rename them; bm25 output uses these names")
      val scores = TextAnalysis.bm25Scores(df, textCol, idCol, bm25Terms)
        .groupBy(col("id"))
        .agg(max(col("n_terms")).as("n_terms"), max(col("bm25_q")).as("bm25_q"))
        .withColumnRenamed("id", "graft_bm25_id")
      enriched.join(scores,
          enriched(idCol) === scores("graft_bm25_id"), "left")
        .drop("graft_bm25_id")
        .withColumn("n_terms", coalesce(col("n_terms"), lit(0L)))
        .withColumn("bm25_q", coalesce(col("bm25_q"), lit(0L)))
    })
  }
}

/** Multimodal decode actor: (id, payload binary) view -> decoded metadata
 *  + feature vectors, partition-parallel. Images decode for REAL (JDK
 *  ImageIO: PNG/BMP pixels, band-sum features) and so does WAV audio
 *  (JDK javax.sound.sampled: PCM samples, per-eighth mean-|sample|
 *  features); other payloads fall back to the synthetic-header codec.
 *  `mode = samples` switches to the exact-sample audio surface
 *  ([[Multimodal.decodeAudio]]: sample_rate/channels/bits + the full
 *  integer sample array) for audio-only views where downstream feature
 *  math needs engine-exact integers rather than summary features. */
class MultimodalDecodeActor extends Actor {
  protected var view: String = ""
  protected var mode: String = "features"

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    properties.get("mode").foreach { m =>
      require(Seq("features", "samples").contains(m),
        s"MultimodalDecodeActor: bad mode $m (features|samples)")
      mode = m
    }
  }

  def sourceView(v: String): this.type = { view = v; this }

  override def inputViews: Seq[String] = if (view.nonEmpty) Seq(view) else Seq.empty

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] =
    Some(if (mode == "samples") Multimodal.decodeAudio(ctx.getView(view))
         else Multimodal.decode(ctx.getView(view)))
}

/** Image dedup actor: (id, payload binary) view -> either the per-image
 *  perceptual hash (`output = hashes`) or the near-duplicate pairs
 *  (`output = pairs`, the default): aHash bits from REAL decoded pixels,
 *  LSH banding over hash substrings, exact Hamming grade at `maxHamming`
 *  or below. Pairs stay bucket-bounded — the image twin of DedupActor's
 *  minhash-lsh method. */
class ImageDedupActor extends Actor {
  protected var view: String = ""
  protected var output: String = "pairs"
  protected var bands: Int = 4
  protected var maxHamming: Int = 6
  protected var bandsPerKey: Int = 1

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    properties.get("output").foreach { o =>
      require(Seq("pairs", "hashes").contains(o), s"ImageDedupActor: bad output $o")
      output = o
    }
    properties.get("bands").foreach(v => bands = v.toInt)
    properties.get("maxHamming").foreach(v => maxHamming = v.toInt)
    properties.get("bandsPerKey").foreach(v => bandsPerKey = v.toInt)
    require(64 % bands == 0, s"ImageDedupActor: bands must divide 64, got $bands")
    require(bandsPerKey >= 1 && bandsPerKey < bands,
      s"ImageDedupActor: bandsPerKey must be in [1, bands), got $bandsPerKey")
  }

  def sourceView(v: String): this.type = { view = v; this }

  override def inputViews: Seq[String] = if (view.nonEmpty) Seq(view) else Seq.empty

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val hashes = Multimodal.averageHash(ctx.getView(view))
    Some(if (output == "hashes") hashes
    else Multimodal.phashNearDupPairs(hashes, bands, maxHamming, bandsPerKey))
  }
}

/** Graph actor: fixed-round graph algorithms ([[Graphs]]) over an edge
 *  view. `method`: pagerank | kcore | label-propagation. Properties:
 *  `view` (edges), `srcField`/`dstField` (default src/dst), `rounds`
 *  (default 3), `k` (kcore threshold, default 3), `symmetrize`
 *  (default true — add reverse edges; pass false when the view already
 *  carries both directions), `nodesView` (label-propagation only:
 *  optional seed node set with a `node` column; default = the edge
 *  endpoints). */
class GraphActor extends Actor {
  protected var view: String = ""
  protected var method: String = "pagerank"
  protected var srcCol: String = "src"
  protected var dstCol: String = "dst"
  protected var rounds: Int = 3
  protected var k: Int = 3
  protected var symmetrizeEdges: Boolean = true
  protected var nodesView: Option[String] = None

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    properties.get("method").foreach { m =>
      require(Seq("pagerank", "kcore", "label-propagation").contains(m),
        s"GraphActor: bad method $m")
      method = m
    }
    properties.get("srcField").foreach(srcCol = _)
    properties.get("dstField").foreach(dstCol = _)
    properties.get("rounds").foreach(v => rounds = v.toInt)
    properties.get("k").foreach(v => k = v.toInt)
    properties.get("symmetrize").foreach(v => symmetrizeEdges = v.toBoolean)
    nodesView = properties.get("nodesView")
    require(rounds >= 1, s"GraphActor: rounds must be >= 1, got $rounds")
    require(nodesView.isEmpty || method == "label-propagation",
      "GraphActor: nodesView only applies to method label-propagation")
  }

  override def inputViews: Seq[String] =
    (if (view.nonEmpty) Seq(view) else Seq.empty) ++ nodesView.toSeq

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val raw = ctx.getView(view)
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val edges = if (symmetrizeEdges) Graphs.symmetrize(raw) else raw
    Some(method match {
      case "pagerank" => Graphs.pageRankQuantized(edges, rounds)
      case "kcore" => Graphs.kCore(edges, k, rounds)
      case "label-propagation" =>
        val nodes = nodesView.map(v => ctx.getView(v).select(col("node").cast("long").as("node")))
          .getOrElse(edges.select(col("src").as("node")).distinct())
        Graphs.labelPropagation(edges, nodes, rounds)
    })
  }
}

/** Curation actor: the corpus-curation passes between dedup and batch
 *  assembly — per-source quality calibration, leakage-safe splitting,
 *  DSIR importance resampling, and Gopher repetition metrics (see
 *  [[Curation]] for the contracts; every method is graded by a catalog
 *  oracle: c13 / c14 / c12 / t20). */
class CurationActor extends Actor {
  protected var view: String = ""
  protected var method: String = "calibrate"
  protected var idCol: String = "doc_id"
  protected var textCol: String = "text"
  protected var sourceCol: String = "source"
  protected var keepAtLeastPctU: Long = 500000L
  protected var trainPct: Int = 80
  protected var validPct: Int = 10
  protected var targetWhere: String = ""
  protected var topK: Int = 20
  protected var againstView: String = ""
  protected var tokenCounter: String = "ws"
  protected var seed: String = "graft"
  protected var shuffleEpochs: Int = 2
  protected var shards: Int = 8
  protected var budget: Long = 20000L
  protected var annealEpochs: Int = 4
  protected var budgetDiv: Int = 4
  protected var maxEpochs: Int = 4
  protected var fillRounds: Int = 3

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    properties.get("method").foreach { m =>
      require(Seq("calibrate", "split", "dsir", "gopher", "surprise",
        "epochs", "pack", "diff", "shuffle", "ensemble", "mask",
        "batch", "budget", "anneal", "waterfill").contains(m),
        s"CurationActor: bad method $m")
      method = m
    }
    properties.get("annealEpochs").foreach(v => annealEpochs = v.toInt)
    properties.get("budgetDiv").foreach(v => budgetDiv = v.toInt)
    properties.get("maxEpochs").foreach(v => maxEpochs = v.toInt)
    properties.get("fillRounds").foreach(v => fillRounds = v.toInt)
    properties.get("seed").foreach(seed = _)
    properties.get("shuffleEpochs").foreach(v => shuffleEpochs = v.toInt)
    properties.get("shards").foreach(v => shards = v.toInt)
    properties.get("budget").foreach(v => budget = v.toLong)
    properties.get("againstView").foreach(againstView = _)
    require(method != "diff" || againstView.nonEmpty,
      "CurationActor(diff): againstView is required (the OLD corpus " +
        "version; `view` is the new one)")
    properties.get("tokenCounter").foreach { t =>
      require(Seq("ws", "bpe").contains(t),
        s"CurationActor: tokenCounter must be ws or bpe, got $t")
      tokenCounter = t
    }
    properties.get("idField").foreach(idCol = _)
    properties.get("textField").foreach(textCol = _)
    properties.get("sourceField").foreach(sourceCol = _)
    properties.get("keepAtLeastPctU").foreach(v => keepAtLeastPctU = v.toLong)
    properties.get("trainPct").foreach(v => trainPct = v.toInt)
    properties.get("validPct").foreach(v => validPct = v.toInt)
    properties.get("targetWhere").foreach(targetWhere = _)
    properties.get("topK").foreach(v => topK = v.toInt)
    require(method != "dsir" || targetWhere.nonEmpty,
      "CurationActor(dsir): targetWhere is required (the SQL predicate " +
        "selecting the target-domain rows, e.g. \"lang = 'en'\")")
    require(method != "split" ||
      (trainPct > 0 && validPct >= 0 && trainPct + validPct < 100),
      s"CurationActor(split): bad percentages train=$trainPct valid=$validPct")
  }

  def sourceView(v: String): this.type = { view = v; this }

  override def inputViews: Seq[String] =
    (if (view.nonEmpty) Seq(view) else Seq.empty) ++
      (if (againstView.nonEmpty) Seq(againstView) else Seq.empty)

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val df = ctx.getView(view)
    Some(method match {
      case "calibrate" =>
        Curation.calibrateQuality(df, idCol, sourceCol, textCol, keepAtLeastPctU)
      case "split" =>
        Curation.leakageSafeSplit(df, idCol, textCol, trainPct, validPct)
      case "dsir" =>
        Curation.dsirTopKPerSource(df, idCol, sourceCol, textCol, expr(targetWhere), topK)
      case "gopher" =>
        Curation.gopherTopGram(df, idCol, textCol)
      case "surprise" =>
        TextAnalysis.unigramSurprise(df, idCol, textCol)
      case "epochs" =>
        Curation.epochSchedule(df, sourceCol, textCol, tokenCount = counter)
      case "pack" =>
        Curation.packSequences(df, idCol, textCol, tokenCount = counter)
      case "diff" =>
        Curation.corpusDiff(ctx.getView(againstView), df, idCol, textCol)
      case "shuffle" =>
        Curation.epochShuffle(df, idCol, seed, shuffleEpochs, shards)
      case "ensemble" =>
        TextAnalysis.qualityEnsemble(df, idCol, textCol)
      case "mask" =>
        Curation.spanCorruption(df, idCol, textCol, seed)
      case "batch" =>
        Curation.lengthBatches(df, idCol, textCol, tokenCount = counter)
      case "budget" =>
        Curation.tokenBudgetSelect(df, idCol, textCol, budget, counter)
      // natural→uniform mixture anneal over `annealEpochs` epochs;
      // `budget` here is the per-epoch token budget the weights divide
      case "anneal" =>
        val per = df.groupBy(col(sourceCol))
          .agg(org.apache.spark.sql.functions.sum(
            counter(col(textCol)).cast("long")).as("n_tokens"))
        Curation.mixtureAnneal(per, sourceCol, "n_tokens", annealEpochs, budget)
      // water-filling budget allocation: sqrt-proportional shares under
      // per-source availability caps, capped surplus redistributed
      case "waterfill" =>
        val per = df.groupBy(col(sourceCol))
          .agg(org.apache.spark.sql.functions.sum(
            counter(col(textCol)).cast("long")).as("n_tokens"))
        Curation.waterFill(per, sourceCol, "n_tokens", budgetDiv, maxEpochs, fillRounds)
    })
  }

  /** The budget/packing token counter the `tokenCounter` property picks:
   *  whitespace (default) or the BPE-ish regex (t17/t18's family). */
  private def counter: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    if (tokenCounter == "bpe") TextAnalysis.bpeTokenCount(_)
    else TextAnalysis.wsTokenCount(_)
}

/** PII scrubbing actor: `method: detect` appends nothing and returns the
 *  per-document class counts ([[Pii.detect]]); `method: redact` returns
 *  (id, redacted, n_redacted) with every class replaced by its token
 *  ([[Pii.redact]]). Pure per-row projection — no shuffle, codegen'd
 *  regex expressions; patterns are RE2-compatible so external engines
 *  reproduce counts and redacted text exactly. */
class PiiActor extends Actor {
  protected var view: String = ""
  protected var method: String = "detect"
  protected var idCol: String = "doc_id"
  protected var textCol: String = "text"
  protected var outCol: String = "redacted"

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    properties.get("method").foreach { m =>
      require(Seq("detect", "redact").contains(m), s"PiiActor: bad method $m")
      method = m
    }
    properties.get("idField").foreach(idCol = _)
    properties.get("textField").foreach(textCol = _)
    properties.get("outputField").foreach(outCol = _)
  }

  def sourceView(v: String): this.type = { view = v; this }

  override def inputViews: Seq[String] = if (view.nonEmpty) Seq(view) else Seq.empty

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val df = ctx.getView(view)
    Some(method match {
      case "detect" => Pii.detect(df, idCol, textCol)
      case "redact" => Pii.redact(df, idCol, textCol, outCol)
    })
  }
}
