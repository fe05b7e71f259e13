package graft

import scala.collection.immutable.SortedMap

import org.scalatest.funsuite.AnyFunSuite
import graft.core.BenchRecord

/** The contamination defenses only work if the committed-reference parse
  * works — a silent empty map would quietly disable the rerun policy. */
class BenchSpec extends AnyFunSuite {

  test("loadCommitted parses sf and per-query times from the artifact format") {
    val json = """{"metric":"total","value":12.5,"unit":"sec",""" +
      """"queries":{"q1_pricing_summary":1.19,"t1_celsius":0.4,"dd_jaccard":4.04},""" +
      """"failed":[],"gc_ms":{"q1_pricing_summary":22},"sf":"/root/testdata/sf0.1"}"""
    val f = java.nio.file.Files.createTempFile("bench", ".json")
    java.nio.file.Files.write(f, json.getBytes("UTF-8"))
    val (sf, times) = Bench.loadCommitted(f.toString)
    assert(sf == "/root/testdata/sf0.1")
    assert(times == Map("q1_pricing_summary" -> 1.19, "t1_celsius" -> 0.4,
      "dd_jaccard" -> 4.04))
    // the "value":12.5 outside the queries object must NOT leak in
    assert(!times.contains("value"))
    java.nio.file.Files.delete(f)
  }

  test("loadCommitted on the real committed artifact: full suite, same sf as the driver runs") {
    val (sf, times) = Bench.loadCommitted()
    assert(sf.endsWith("sf0.1"), s"committed reference is the driver's sf: $sf")
    assert(times.size >= 80, s"full-suite reference present: ${times.size}")
    assert(times.values.forall(_ > 0), "no failed entries in the committed reference")
  }

  test("loadCommitted missing file -> empty reference, rerun policy falls back to min-of-2") {
    val (sf, times) = Bench.loadCommitted("/nonexistent/bench.json")
    assert(sf == "" && times.isEmpty)
  }

  test("aggregate ratchet refuses a >15% drifted run, accepts plan noise (VERDICT r6 #3)") {
    // round 6's measured drift: 227.7s vs 184.0s on common queries = 1.24×
    // — clean per-query (no rerun trips), but it must NOT become the
    // committed reference
    assert(!Bench.ratchetAllows(Seq((227.7, 184.0))),
      "the r6 drifted run would have overwritten the reference")
    // 10% is inside run-to-run plan noise — a normal overwrite
    assert(Bench.ratchetAllows(Seq((110.0, 100.0))))
    // just inside/outside the 15% bound
    assert(Bench.ratchetAllows(Seq((114.9, 100.0))))
    assert(!Bench.ratchetAllows(Seq((115.1, 100.0))))
    // no committed reference -> first run always records
    assert(Bench.ratchetAllows(Nil))
  }

  test("sub-second noise floor: a 0.3s query 3x-ing on jitter is not suspect (VERDICT r6 #4)") {
    // tx_mix_report's round-6 false alarm: 0.3s reference, ~1s noisy run.
    // Threshold = 2 × max(0.3, 1.0) = 2.0s — 0.9s is NOT suspect...
    assert(Bench.rerunThreshold(0.3, 1.0) == 2.0)
    // ...while a heavy query keeps its proportional threshold
    assert(Bench.rerunThreshold(10.0, 1.0) == 20.0)
  }

  test("calibration drift normalizes rerun thresholds, clamped to [1, 2]") {
    assert(Bench.driftFactor(1.3, 1.0) == 1.3)
    // a FASTER host must still satisfy the recorded thresholds
    assert(Bench.driftFactor(0.7, 1.0) == 1.0)
    // missing either reading -> no normalization
    assert(Bench.driftFactor(0.0, 1.0) == 1.0)
    assert(Bench.driftFactor(1.0, 0.0) == 1.0)
    // a >2x-slow host is untrustworthy — cap the allowance
    assert(Bench.driftFactor(5.0, 1.0) == 2.0)
    // a 1.3x-slow host scales a 10s reference to a 26s threshold
    assert(Bench.rerunThreshold(10.0, Bench.driftFactor(1.3, 1.0)) == 26.0)
  }

  test("loadCalibration parses calibration_sec; absent (pre-r7 artifact) -> 0") {
    val json = """{"metric":"total","value":1.0,"queries":{"q":1.0},""" +
      """"calibration_sec":0.8123,"drift_factor":1.0,"sf":"/root/testdata/sf0.1"}"""
    val f = java.nio.file.Files.createTempFile("bench_cal", ".json")
    java.nio.file.Files.write(f, json.getBytes("UTF-8"))
    assert(Bench.loadCalibration(f.toString) == 0.8123)
    java.nio.file.Files.delete(f)
    assert(Bench.loadCalibration("/nonexistent/bench.json") == 0.0)
    // the committed pre-r7 artifact (no field) degrades to 0 -> drift 1.0
    assert(Bench.driftFactor(0.9, Bench.loadCalibration("/nonexistent/x.json")) == 1.0)
  }

  test("calibration loop returns a plausible positive wall-time") {
    val s = Bench.calibrate()
    assert(s > 0.01 && s < 30.0, s"calibration reading implausible: ${s}s")
  }

  test("verdictJson carries the ratchet decision as a first-class field (VERDICT r7 #8)") {
    val v = Bench.verdictJson(208.35, 181, Nil, Nil, 3,
      Seq("sim_components_kmeans_scaled" -> 7.96), 9.85, 5.14, 0.7238, 1.0,
      "/root/testdata/sf0.1", refused = true,
      reason = "aggregate_total_gt_1.15x_committed_reference")
    // the exact failure mode this fixes: a judge reading wall-time from a
    // log tail because the refusal left no parseable verdict — the string
    // must be one self-contained JSON object with the flag and reason
    assert(v.startsWith("{") && v.endsWith("}"))
    assert(v.contains(""""ratchet_refused":true"""))
    assert(v.contains(""""ratchet_reason":"aggregate_total_gt_1.15x_committed_reference""""))
    assert(v.contains(""""value":208.35"""))
    assert(v.contains(""""calibration_sec":0.7238"""))
    assert(v.contains(""""slowest":{"sim_components_kmeans_scaled":7.96}"""))
    // a clean run records the flag false, never omits it
    val clean = Bench.verdictJson(168.2, 181, Nil, Nil, 0, Nil,
      1.0, 1.0, 0.72, 1.0, "/root/testdata/sf0.1", refused = false, reason = "")
    assert(clean.contains(""""ratchet_refused":false"""))
  }

  test("mergeDecision splices only the named entries, keeps the rest byte-identical (VERDICT r8 #8)") {
    val ref = Map("sim_kmeans_scaled" -> 4.44, "tx_dsir" -> 0.78, "q1_pricing_summary" -> 1.19)
    val sf = "/root/testdata/sf0.1"
    // the r9 use case: re-record drift-contaminated entries DOWN
    val r = Bench.mergeDecision(Set("sim_kmeans_scaled", "tx_dsir"),
      Seq(("sim_kmeans_scaled", 1.9), ("tx_dsir", 0.31)), sf, ref, sf, 1.0)
    assert(r == Right(Map("sim_kmeans_scaled" -> 1.9, "tx_dsir" -> 0.31,
      "q1_pricing_summary" -> 1.19)), "unnamed entries untouched, named replaced")
    // a legitimately-slower algorithm inside the drift-clamped threshold merges
    val up = Bench.mergeDecision(Set("sim_kmeans_scaled"),
      Seq(("sim_kmeans_scaled", 6.5)), sf, ref, sf, 1.0)
    assert(up.isRight, "6.5s vs 4.44s ref is inside the 2x threshold")
    // past the threshold: refuse — GRAFT_BENCH_FORCE is the only way through
    val over = Bench.mergeDecision(Set("sim_kmeans_scaled"),
      Seq(("sim_kmeans_scaled", 9.5)), sf, ref, sf, 1.0)
    assert(over == Left("merge_exceeds_threshold:sim_kmeans_scaled"))
    // drift clamp loosens the bound the same way the rerun policy does
    assert(Bench.mergeDecision(Set("sim_kmeans_scaled"),
      Seq(("sim_kmeans_scaled", 9.5)), sf, ref, sf, 1.2).isRight)
    // a named query absent from the reference appends (first recording)
    val app = Bench.mergeDecision(Set("mm_corpus_prep"),
      Seq(("mm_corpus_prep", 2.0)), sf, ref, sf, 1.0)
    assert(app.exists(_.get("mm_corpus_prep").contains(2.0)))
  }

  test("mergeDecision refuses failed queries, sf mismatch, and an empty reference") {
    val ref = Map("q" -> 1.0)
    val sf = "/root/testdata/sf0.1"
    assert(Bench.mergeDecision(Set("q"), Seq(("q", -1.0)), sf, ref, sf, 1.0)
      == Left("merge_named_query_failed:q"))
    assert(Bench.mergeDecision(Set("q"), Seq(("q", 0.9)),
      "/root/testdata/sf0.01", ref, sf, 1.0)
      == Left("merge_sf_mismatch:/root/testdata/sf0.01"))
    assert(Bench.mergeDecision(Set("q"), Seq(("q", 0.9)), "", Map.empty, sf, 1.0)
      == Left("merge_no_committed_reference"))
  }

  // decide() is the whole refusal policy: table-driven, no SparkSession
  private val sf01 = Bench.DefaultSfDir
  private def committedRef(sf: Option[String]) = BenchRecord("total", 12.0, "sec",
    SortedMap("q_heavy" -> 10.0, "q_light" -> 2.0), Nil, Nil, SortedMap.empty,
    SortedMap.empty, None, 1.0, 1.0, 0.9, 1.0, ratchetRefused = false, "", 4, sf)
  private def run(sf: String, times: (String, Double)*) = Bench.Run(sf, 4,
    times.map { case (n, s) => Bench.QueryRun(n, s, 10L, 0) }, 0.9, 1.0, 1.0)
  private val ref01 = Some(committedRef(Some(sf01)))

  test("decide: each gate returns its reason and only a clean or forced full run writes the reference") {
    val small = run("sf0.001", "q_heavy" -> 0.5, "q_light" -> 0.1)
    val clean = run(sf01, "q_heavy" -> 10.5, "q_light" -> 2.0)
    // (case, run, committed, force, only, merge, reason, writes BENCH_LOCAL.json)
    val cases = Seq(
      ("sf0.001 run vs committed sf0.1", small, ref01, false, Set.empty[String], Set.empty[String],
        "sf_mismatch_vs_committed_reference", false),
      ("the same run with FORCE re-bases", small, ref01, true, Set.empty[String], Set.empty[String],
        "", true),
      ("a reference without sf is a mismatch", clean, Some(committedRef(None)), false,
        Set.empty[String], Set.empty[String], "sf_mismatch_vs_committed_reference", false),
      ("an absent reference is a first recording", small, None, false, Set.empty[String],
        Set.empty[String], "", true),
      ("filtered run", clean, ref01, false, Set("q_heavy"), Set.empty[String], "filtered_run", false),
      ("FORCE does not lift the filtered refusal", clean, ref01, true, Set("q_heavy"),
        Set.empty[String], "filtered_run", false),
      ("merge run", run(sf01, "q_heavy" -> 9.0), ref01, false, Set.empty[String], Set("q_heavy"),
        "merge_run", true),
      ("contaminated: 25s vs a 10s reference", run(sf01, "q_heavy" -> 25.0, "q_light" -> 2.0),
        ref01, false, Set.empty[String], Set.empty[String], "contaminated_queries", false),
      ("ratchet: 14.4s vs 12s common total", run(sf01, "q_heavy" -> 12.0, "q_light" -> 2.4),
        ref01, false, Set.empty[String], Set.empty[String],
        "aggregate_total_gt_1.15x_committed_reference", false),
      ("clean run", clean, ref01, false, Set.empty[String], Set.empty[String], "", true))
    for ((label, r, committed, force, only, merge, reason, writes) <- cases) {
      val d = Bench.decide(r, committed, force, only, merge, drift = 1.0)
      assert(d.record.ratchetReason == reason, label)
      assert(d.record.ratchetRefused == reason.nonEmpty, label)
      assert(d.reference.nonEmpty == writes, label)
      assert(d.writeVerdict == (only.isEmpty && merge.isEmpty), label)
      assert(d.verdict.contains(s""""ratchet_reason":"$reason""""), label)
      // cpus is the configured core count, not the host's
      assert(d.record.cpus == 4 && d.record.sf.contains(r.sf), label)
      if (writes && merge.isEmpty) assert(d.reference.contains(d.record), label)
    }
  }

  test("decide: a merge splices the named entries or returns the refusal") {
    val d = Bench.decide(run(sf01, "q_heavy" -> 9.0), ref01, force = false, Set.empty,
      Set("q_heavy"), drift = 1.0)
    val m = d.reference.get
    assert(m.queries == Map("q_heavy" -> 9.0, "q_light" -> 2.0))
    assert(m.merged.contains(Seq("q_heavy")) && m.ratchetReason == "merge" && !m.ratchetRefused)
    assert(m.calibrationSec == 0.9 && d.mergeRefusal.isEmpty)
    val over = Bench.decide(run(sf01, "q_heavy" -> 25.0), ref01, force = false, Set.empty,
      Set("q_heavy"), drift = 1.0)
    assert(over.reference.isEmpty)
    assert(over.mergeRefusal.contains("merge_exceeds_threshold:q_heavy"))
  }

  test("autoShufflePartitions: input-derived, clamped to [cores, 512] (VERDICT r7 #3)") {
    import graft.core.GraftSession
    // tiny input (the driver SFs): exactly the per-core default
    assert(GraftSession.autoShufflePartitions("/root/testdata/sf0.1", 32) == 32)
    // missing dir: falls back to cores, never throws
    assert(GraftSession.autoShufflePartitions("/nonexistent/slice", 16) == 16)
    // synthetic big input: a sparse file gives the walk real byte counts.
    // Guard (ADVICE r8): on a filesystem without sparse support (some CI
    // overlays / network mounts) the "6 GiB" write materializes for real —
    // detect via usable-space delta and cancel rather than fill the disk.
    val dir = java.nio.file.Files.createTempDirectory("auto_shuf")
    val usableBefore = java.nio.file.Files.getFileStore(dir).getUsableSpace
    val f = dir.resolve("data.parquet")
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    ch.position(6L * 1024 * 1024 * 1024 - 1) // 6 GiB sparse
    ch.write(java.nio.ByteBuffer.wrap(Array[Byte](0)))
    ch.close()
    val materialized =
      usableBefore - java.nio.file.Files.getFileStore(dir).getUsableSpace >
        1L * 1024 * 1024 * 1024
    if (materialized) {
      java.nio.file.Files.delete(f); java.nio.file.Files.delete(dir)
      cancel("filesystem materializes sparse files — skipping the big-input assertions")
    }
    // 6 GiB / 32 MiB = 192 — the cluster-shape count the r7 100M-event
    // probe needed a hand lever for
    assert(GraftSession.autoShufflePartitions(dir.toString, 16) == 192)
    // the 512 clamp: a huge dir must not demand thousands of partitions of
    // a single-JVM run
    val g = dir.resolve("big.parquet")
    val ch2 = java.nio.channels.FileChannel.open(g,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    ch2.position(64L * 1024 * 1024 * 1024 - 1) // +64 GiB sparse
    ch2.write(java.nio.ByteBuffer.wrap(Array[Byte](0)))
    ch2.close()
    assert(GraftSession.autoShufflePartitions(dir.toString, 16) == 512)
    java.nio.file.Files.delete(g); java.nio.file.Files.delete(f)
    java.nio.file.Files.delete(dir)
  }
}
