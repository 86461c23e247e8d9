package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Landing-guard v2 regression pins, against the COMMITTED r15 bench
 *  records (docs/bench/). The r15 driver run demonstrated the guarded
 *  failure live: a diffuse co-tenant phase inflated 13 queries
 *  1.5-2.9x — each under its 3x stall line — while the marker panel
 *  read 1.005 quiet, and the record landed itself as history,
 *  loosening the heavy maintenance class's stall gates ~2.7x. These
 *  tests pin the v2 guard's contract on the real records:
 *    - the poisoned driver record is VETOED against each quiet record;
 *    - the three genuine quiet records cross-accept in all directions
 *      (healthy runs must keep landing, including the 14% closeE->F
 *      quiet-band variance);
 *    - an honest ONE-query regression of any size still lands;
 *    - a diffuse sub-2x drag across the heavy tail is vetoed even when
 *      no single query trips the 2x count;
 *    - the r15 close-D record (drift 1.10, marker-quiet, ~25% hot vs
 *      closeE) — the sub-1.15-drift diffuse class — is vetoed.
 *  No SparkSession needed: the guard is a pure function of two
 *  per-query maps. */
class BenchSpec extends AnyFunSuite with Matchers {

  private def queriesOf(file: String): Map[String, Double] = {
    val f = new java.io.File(s"docs/bench/$file")
    require(f.isFile, s"missing bench fixture $f — run from the sbt root")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val qs = root.get("queries")
    val it = qs.fieldNames()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) { val k = it.next(); b += k -> qs.get(k).asDouble }
    b.result()
  }

  private lazy val poisoned = queriesOf("r15_driver_record.json")
  private lazy val closeE = queriesOf("r15_closeE.json")
  private lazy val closeF = queriesOf("r15_closeF.json")
  private lazy val quietA = queriesOf("r15_quietA.json")
  private lazy val closeD = queriesOf("r15_closeD.json")
  private lazy val diffuseA = queriesOf("r16_diffuseA.json")

  test("the r15 driver record is vetoed against each committed quiet record") {
    for (prior <- Seq(closeE, closeF, quietA)) {
      val v = Bench.landingVeto(poisoned, prior)
      withClue(s"prior record with ${prior.size} queries:") { v shouldBe defined }
    }
    // and the reason names the drifted maintenance queries, not noise
    Bench.landingVeto(poisoned, closeF).get should include("d26_resolution_update")
  }

  test("the quiet trio cross-accepts in every direction") {
    val trio = Seq("closeE" -> closeE, "closeF" -> closeF, "quietA" -> quietA)
    for ((an, a) <- trio; (bn, b) <- trio if an != bn)
      withClue(s"$an vs prior $bn:") { Bench.landingVeto(a, b) shouldBe None }
  }

  test("an honest one-query regression of any size still lands") {
    // 3x on the heaviest NON-MARKER queries — the worst case for the
    // top-20 sum-ratio (which excludes the single largest excess
    // precisely so this shape lands)
    for (q <- Seq("d18_canonical_rep", "d26_resolution_update", "q116_stream_gate_capped")) {
      val cand = closeF.updated(q, closeF(q) * 3.0)
      withClue(s"3x regression on $q:") { Bench.landingVeto(cand, closeF) shouldBe None }
    }
    // even a 20x single-query regression lands (it is honest: it will
    // reproduce, and landing it keeps the other 251 gates calibrated)
    val big = closeF.updated("d18_canonical_rep", closeF("d18_canonical_rep") * 20.0)
    Bench.landingVeto(big, closeF) shouldBe None
    // EXCEPTION by design: a regression on a MARKER query is vetoed —
    // the markers are the host-phase probes, so a hot marker is read as
    // host, not code; a deliberate marker-code change re-pins with
    // SPARK_GRAFT_FORCE_LAND=1
    val hotMarker = closeF.updated("d9_connected_components",
      closeF("d9_connected_components") * 3.0)
    Bench.landingVeto(hotMarker, closeF).get should include("heavy marker")
  }

  test("a diffuse sub-2x drag across the heavy tail is vetoed") {
    // 1.35x on the top-20 heaviest — no query trips the 2x count, but
    // the sum-ratio door closes (the close-A/close-D shape)
    val top20 = closeF.toSeq.sortBy(-_._2).take(20).map(_._1)
    val cand = top20.foldLeft(closeF)((m, q) => m.updated(q, m(q) * 1.35))
    val v = Bench.landingVeto(cand, closeF)
    v shouldBe defined
    v.get should include("sum-ratio")
  }

  test("the r15 close-D diffuse record (marker drift 1.10) is vetoed against quiet history") {
    Bench.landingVeto(closeD, closeE) shouldBe defined
  }

  test("the r16 diffuse record is vetoed against every quiet prior (heavy-marker door)") {
    // the shape that slipped the guard's first cut live: d9 at 1.87x its
    // history while the heavy tail sat at 1.4-1.8x — 0 queries over the
    // 2x count and sum-ratio 1.198 against the HOTTEST quiet record
    // (closeF), but vetoed there by the heavy-marker check; the cooler
    // quiet priors (closeE/quietA) veto it on sum-ratio alone
    for ((pn, prior) <- Seq("closeE" -> closeE, "closeF" -> closeF, "quietA" -> quietA))
      withClue(s"prior $pn:") { Bench.landingVeto(diffuseA, prior) shouldBe defined }
    Bench.landingVeto(diffuseA, closeF).get should include("heavy marker")
  }

  test("every committed r15 diffuse close record is vetoed against every quiet prior") {
    for (diff <- Seq("r15_closeA.json", "r15_closeB.json", "r15_closeC.json");
         prior <- Seq(closeE, closeF, quietA))
      withClue(s"$diff:") { Bench.landingVeto(queriesOf(diff), prior) shouldBe defined }
  }

  test("no history means no veto (first run on a fresh checkout lands)") {
    Bench.landingVeto(closeF, Map.empty) shouldBe None
  }

  test("a uniformly faster run always lands") {
    Bench.landingVeto(closeF.map { case (k, v) => k -> v * 0.5 }, closeF) shouldBe None
  }

  test("a history recorded at another core count neither gates nor lands (r16 8-core replay)") {
    // replay of the r16 poisoning: the driver's 8-core full-catalog run
    // (BENCH_r16_c8's detail, committed as a fixture via latest.json's
    // brief 8-core tenure) must refuse to adjudicate a 32-core run —
    // readHistory flags the mismatch (blocking the landing) and returns
    // an empty gate map
    val f = java.io.File.createTempFile("bench-hist-cpus", ".json")
    try {
      java.nio.file.Files.write(f.toPath,
        """{"sf":"/root/testdata/sf0.1","jvm":{"cpus":"8"},
           "queries":{"d26_resolution_update":3.06}}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val (mismatch32, hist32) = Bench.readHistory(f.getPath, "/root/testdata/sf0.1", "32")
      mismatch32 shouldBe true
      hist32 shouldBe empty
      // same-cpus read still gates normally
      val (mismatch8, hist8) = Bench.readHistory(f.getPath, "/root/testdata/sf0.1", "8")
      mismatch8 shouldBe false
      hist8("d26_resolution_update") shouldBe 3.06
      // and a record with no jvm block (pre-r16 shape) stays readable
      java.nio.file.Files.write(f.toPath,
        """{"sf":"/root/testdata/sf0.1","queries":{"q3_distinct":0.2}}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val (mismatchNone, histNone) = Bench.readHistory(f.getPath, "/root/testdata/sf0.1", "32")
      mismatchNone shouldBe false
      histNone("q3_distinct") shouldBe 0.2
    } finally f.delete()
  }

  test("a truncated or corrupt history fails closed: no gate, no landing over it") {
    // replay of an interrupted landing: the record is cut mid-write. An
    // empty prior must not read as "no history" (that lands over it)
    val f = java.io.File.createTempFile("bench-hist-trunc", ".json")
    try {
      val whole = """{"sf":"testdata/sf0.1","jvm":{"cpus":"4"},
           "queries":{"d26_resolution_update":3.06,"q3_distinct":0.2}}"""
      java.nio.file.Files.write(f.toPath, whole.take(whole.length / 2)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val (mismatch, hist) = Bench.readHistory(f.getPath, "testdata/sf0.1", "4")
      mismatch shouldBe true
      hist shouldBe empty
      // non-JSON bytes fail closed the same way
      java.nio.file.Files.write(f.toPath, Array[Byte](0, -1, 42, 10))
      Bench.readHistory(f.getPath, "testdata/sf0.1", "4") shouldBe ((true, Map.empty))
      // the whole record reads and gates normally
      java.nio.file.Files.write(f.toPath,
        whole.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val (ok, full) = Bench.readHistory(f.getPath, "testdata/sf0.1", "4")
      ok shouldBe false
      full("q3_distinct") shouldBe 0.2
    } finally f.delete()
    // an absent file is the one "no history" case
    Bench.readHistory("no-such-dir/bench-history.json", "testdata/sf0.1", "4") shouldBe
      ((false, Map.empty))
  }

  test("a run lands its record where it read its history, never over the default record") {
    // replay of the overwrite: a run pointed at another history
    // (SPARK_GRAFT_BENCH_HISTORY) used to land over docs/bench/latest.json,
    // a record it never read or gated against
    val dir = java.nio.file.Files.createTempDirectory("bench-hist-land")
    val hist = dir.resolve("latest_c4.json")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val committed = java.nio.file.Paths.get("docs/bench/latest.json")
    val committedBefore = java.nio.file.Files.readAllBytes(committed)
    try {
      val prior = """{"sf":"testdata/sf0.1","jvm":{"cpus":"4"},"queries":{"q3_distinct":0.2}}"""
      java.nio.file.Files.write(hist, prior.getBytes(utf8))
      val record = """{"sf":"testdata/sf0.1","jvm":{"cpus":"4"},"queries":{"q3_distinct":0.19}}"""
      Bench.landHistory(hist.toString, record, veto = None) shouldBe true
      new String(java.nio.file.Files.readAllBytes(hist), utf8) shouldBe record
      java.nio.file.Files.readAllBytes(committed) shouldBe committedBefore
      // the landed record is the history the next run reads and gates on
      Bench.readHistory(hist.toString, "testdata/sf0.1", "4") shouldBe
        ((false, Map("q3_distinct" -> 0.19)))
      // a vetoed landing leaves the history as it was
      Bench.landHistory(hist.toString, prior, veto = Some("host_degraded")) shouldBe false
      new String(java.nio.file.Files.readAllBytes(hist), utf8) shouldBe record
      // a history whose directory does not exist keeps no record
      val absent = dir.resolve("no-such-dir").resolve("latest.json")
      Bench.landHistory(absent.toString, record, veto = None) shouldBe false
      absent.toFile.exists shouldBe false
    } finally {
      java.nio.file.Files.deleteIfExists(hist)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("a 4-core run reads, gates against and lands over its own history file") {
    Bench.defaultHistory("32") shouldBe "docs/bench/latest.json"
    Bench.defaultHistory("4") shouldBe "docs/bench/latest_c4.json"
    // the old default: a 4-core run read the 32-core record — a cpus
    // mismatch, so it was neither gated nor landed
    Bench.readHistory(Bench.defaultHistory("32"), "testdata/sf0.1", "4")._1 shouldBe true
    // the committed 4-core record gates a 4-core run
    val (mismatch, hist) = Bench.readHistory(Bench.defaultHistory("4"), "testdata/sf0.1", "4")
    mismatch shouldBe false
    hist.size should be >= 250
    // a diffuse 3x drag is vetoed against it; a run that reads like it lands
    Bench.landingVeto(hist.map { case (k, v) => k -> v * 3 }, hist) should not be empty
    Bench.landingVeto(hist, hist) shouldBe None
    val dir = java.nio.file.Files.createTempDirectory("bench-hist-c4")
    val own = dir.resolve("latest_c4.json")
    try {
      java.nio.file.Files.copy(java.nio.file.Paths.get(Bench.defaultHistory("4")), own)
      val record = """{"sf":"testdata/sf0.1","jvm":{"cpus":"4"},"queries":{"q3_distinct":0.19}}"""
      Bench.landHistory(own.toString, record, veto = None) shouldBe true
      Bench.readHistory(own.toString, "testdata/sf0.1", "4") shouldBe
        ((false, Map("q3_distinct" -> 0.19)))
    } finally {
      java.nio.file.Files.deleteIfExists(own)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("marker reference levels derive from the history, literals only as fallback") {
    // with a committed history, every panel member's reference IS that
    // history's value — the hard-coded literal is dead weight there, so
    // editing or deleting one changes nothing on a history-bearing run
    val ref = Bench.deriveMarkerRef(closeF)
    for (m <- Bench.markerNames)
      withClue(m) { ref(m) shouldBe closeF(m) }
    // without a history (fresh checkout), the literals carry the panel
    val fresh = Bench.deriveMarkerRef(Map.empty)
    fresh.keySet shouldBe Bench.markerNames.toSet
    all(fresh.values) should be > 0.0
    // a zero/garbage history entry falls back rather than poisoning drift
    Bench.deriveMarkerRef(Map("q3_distinct" -> 0.0))("q3_distinct") shouldBe fresh("q3_distinct")
  }
}
