package graft

import scala.collection.immutable.{ListMap, SortedMap}

import graft.core.{BenchRecord, Codegen, Json, Verdict}

/** Benchmark main — one JSON line on stdout per the driver contract.
  *
  * A run is measure → decide → write: `main` times the queries, the pure
  * [[Bench.decide]] turns the measurements and the committed reference
  * (read once) into the stdout record, the verdict trailer and what, if
  * anything, `BENCH_LOCAL.json` becomes, and `main` writes that out.
  *
  * Methodology:
  *  - a warmup pass (flagship query) absorbs JVM/codegen/classloading cost
  *    so per-query numbers are attributable to the plan, not to whoever
  *    runs first;
  *  - each query is timed to a `noop`-format write, which executes the FULL
  *    physical plan (incl. final sort and projections that `count()` lets
  *    Catalyst prune away) without sink I/O;
  *  - failures are NOT swallowed: a failing query records `-1` seconds,
  *    lands in `"failed"`, and the process exits nonzero so the driver
  *    can't mistake a broken round for a fast one.
  *
  * Contamination defenses (the round-4 driver artifact reported 493s for a
  * suite that measures 103s in a clean JVM — ambient machine load turned
  * one noisy run into the round's official number):
  *  - any query measuring > [[RerunFactor]]× its time in the committed
  *    `BENCH_LOCAL.json` is re-run (up to 2×) and the MINIMUM is reported —
  *    min-of-k is the standard noise-floor estimator for wall-clock
  *    benchmarks (noise is strictly additive);
  *  - a query with no committed reference (first appearance) always gets a
  *    second run, min-of-2;
  *  - the artifact carries its own contamination evidence: per-query JVM
  *    GC-ms, per-query rerun counts, `"contaminated"` (names still over the
  *    rerun threshold after retries — nonempty means DISTRUST this run),
  *    and the 1-minute system load average sampled at start and end
  *    (healthy: ≲ the worker-thread count; the r4 bad run would have shown
  *    a load far above it).
  */
object Bench {
  /** Rerun threshold vs the committed per-query reference. Run-to-run plan
    * noise is <1.5× (observed across rounds); the machine's PULSING
    * background load inflates the heavy cluster-chain queries ~2–2.5×
    * (measured round 5: the same build swung 7.9s ↔ 18.8s on
    * llm_corpus_prep across back-to-back runs), so 3× let contaminated
    * readings through — 2× catches the burst pattern while still never
    * firing on plan noise. */
  val RerunFactor = 2.0

  /** Sub-second noise floor for the rerun/contamination policy: a ~0.3s
    * query can 3× on pure scheduler jitter (round 6: tx_mix_report burned 3
    * reruns + a contaminated flag on noise), so per-query thresholds
    * compare against max(reference, [[NoiseFloorSec]]) — a query must
    * exceed BOTH RerunFactor× its reference AND RerunFactor×1s before it
    * counts as suspect. Heavy queries (the ones contamination actually
    * distorts) are unaffected. */
  val NoiseFloorSec = 1.0

  /** Aggregate ratchet: a run whose common-query total exceeds the
    * committed reference by more than this does NOT overwrite the
    * reference. 15%: above run-to-run plan noise (<15% observed across
    * rounds), far below the ~25% ambient-drift steps that poisoned the r4
    * reference chain — uniform host slowdowns trip no per-query rerun, so
    * the aggregate guard is the only thing keeping a drifted-but-clean run
    * from silently loosening every later threshold (VERDICT r6 #3). */
  val RatchetFactor = 1.15

  /** The driver's default scale-factor dir — also the warmup corpus (warmup
    * is about CODE, not data, so it stays pinned here even when the run
    * targets a decade slice; ADVICE r8: a SECOND hardcoded literal for the
    * same path let the warmup silently miss on a host with testdata
    * elsewhere). */
  val DefaultSfDir = "/root/testdata/sf0.1"

  /** The committed per-query rerun reference (clean runs only). */
  val ReferenceFile = "BENCH_LOCAL.json"

  /** The committed record of the last full-suite run, refused or not. */
  val VerdictFile = "BENCH_VERDICT.json"

  /** Pinned CPU-calibration microbenchmark: a fixed integer-hash loop whose
    * wall-time depends only on host throughput (no allocation, no I/O, no
    * Spark). Emitted into every artifact as `calibration_sec` so a reader
    * (or a later run) can normalize wall-times across host-speed drift —
    * the round-6 1.24× "regression" was exactly this kind of ambient drift
    * and cost a forensic pass to attribute. ~0.5–1s on current hosts. */
  def calibrate(): Double = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0L
    val n = 400000000L
    val t0 = System.nanoTime()
    while (i < n) {
      h ^= i; h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
      i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // fold h into a side effect the JIT can't elide
    if (h == 42L) System.err.println("[bench] calibration sentinel")
    sec
  }

  /** Per-query suspicion threshold: RerunFactor × max(reference ×
    * driftFactor, [[NoiseFloorSec]]). `driftFactor` ≥ 1 scales the
    * committed reference up when the calibration loop shows the HOST is
    * slower than when the reference was recorded (clamped ≤2 — past that
    * the run is untrustworthy anyway), so a uniformly slow host doesn't
    * burn reruns on every heavy query. */
  def rerunThreshold(refSec: Double, driftFactor: Double): Double =
    RerunFactor * math.max(refSec * driftFactor, NoiseFloorSec)

  /** Host-drift factor from calibration readings: how much slower this
    * host runs the pinned loop than the host that recorded the reference.
    * 1.0 when either reading is missing; never below 1 (a FASTER host
    * must still satisfy the recorded thresholds); clamped at 2. */
  def driftFactor(calNow: Double, calRef: Double): Double =
    if (calNow > 0 && calRef > 0) math.min(2.0, math.max(1.0, calNow / calRef))
    else 1.0

  /** The aggregate ratchet decision: may this run's per-query times become
    * the committed reference? `common` pairs (thisRun, committed) seconds
    * for queries present in both. Refuses when the common total exceeds
    * the committed total by >[[RatchetFactor]] — ambient drift, not code,
    * moves totals that way without tripping any per-query rerun. */
  def ratchetAllows(common: Seq[(Double, Double)]): Boolean =
    common.isEmpty ||
      common.map(_._1).sum <= common.map(_._2).sum * RatchetFactor

  /** One query's measurement: the minimum seconds over its attempts (-1
    * when every attempt failed), the GC ms of that attempt, and how many
    * reruns it took. */
  final case class QueryRun(name: String, sec: Double, gcMs: Long, reruns: Int)

  /** Everything a run measured: the input to [[decide]]. */
  final case class Run(sf: String, cpus: Int, queries: Seq[QueryRun],
      calibrationSec: Double, loadAvgStart: Double, loadAvgEnd: Double)

  /** What [[decide]] concluded. `record` is the stdout line and carries
    * `ratchet_refused`/`ratchet_reason`; `verdict` is the trailer, saved
    * to `BENCH_VERDICT.json` when `writeVerdict`; `reference` is what
    * `BENCH_LOCAL.json` becomes (None: it stays as it is); `mergeRefusal`
    * is why a GRAFT_BENCH_MERGE run may not splice (the run exits 1). */
  final case class Decision(record: BenchRecord, verdict: String,
      writeVerdict: Boolean, reference: Option[BenchRecord],
      mergeRefusal: Option[String])

  /** The committed per-query reference a run at `sf` is judged against.
    * Only meaningful at the SAME scale factor: an sf0.01 iteration run
    * judged against committed sf0.1 times would never trip, and the
    * converse would mark everything contaminated. */
  def referenceTimes(committed: Option[BenchRecord], sf: String): Map[String, Double] =
    committed.filter(_.sf.contains(sf)).fold(Map.empty[String, Double])(_.queries)

  /** A measurement past the drift-normalized rerun threshold of a usable
    * (positive) reference time. */
  def overThreshold(sec: Double, ref: Option[Double], drift: Double): Boolean =
    ref.exists(r => r > 0 && sec > rerunThreshold(r, drift))

  /** The whole refusal policy, as a pure function of what was measured
    * and what is committed. Reasons, first match wins:
    *  - `merge_run` / `filtered_run`: a GRAFT_BENCH_MERGE or positional-args
    *    run never becomes the full-suite record (merge mode splices via
    *    [[mergeDecision]] instead);
    *  - `sf_mismatch_vs_committed_reference`: the committed reference was
    *    recorded at another scale factor, or carries no `sf` at all
    *    (VERDICT r10 #1: an sf0.001 iteration run overwrote the sf0.1
    *    reference, because cross-sf totals are not comparable and so the
    *    ratchet waved it through). An absent file is a first recording;
    *  - `contaminated_queries`: some query stayed past its rerun threshold;
    *  - `aggregate_total_gt_1.15x_committed_reference`: ambient load that
    *    slows every query ~1.5× trips NO per-query rerun, so a noisy run
    *    would silently become the reference and raise the bar the next
    *    noisy run is judged against (observed: 112s → 124s → 174s across
    *    three same-code runs as machine load rose; VERDICT r6 #3, r7 #8).
    * `force` (GRAFT_BENCH_FORCE) is the human-in-the-loop lever for a
    * LEGITIMATE whole-suite or per-query change (new algorithm, regenerated
    * testdata, a new sf): it lifts the sf, contamination and aggregate
    * gates — without it a legitimately-slower query could never enter the
    * reference (the r8 deadlock). Never set it on ambient suspicion. */
  def decide(run: Run, committed: Option[BenchRecord], force: Boolean,
      only: Set[String], mergeSet: Set[String], drift: Double): Decision = {
    val ref = referenceTimes(committed, run.sf)
    val ok = run.queries.filter(_.sec >= 0)
    val failed = run.queries.filter(_.sec < 0).map(_.name)
    val dirty = ok.filter(q => overThreshold(q.sec, ref.get(q.name), drift)).map(_.name)
    val total = ok.map(_.sec).sum
    val sfMismatch = committed.exists(!_.sf.contains(run.sf))
    val ratchetOk = force ||
      ratchetAllows(ok.flatMap(q => ref.get(q.name).filter(_ > 0).map(q.sec -> _)))
    val reason =
      if (mergeSet.nonEmpty) "merge_run"
      else if (only.nonEmpty) "filtered_run"
      else if (!force && sfMismatch) "sf_mismatch_vs_committed_reference"
      else if (!force && dirty.nonEmpty) "contaminated_queries"
      else if (!ratchetOk) s"aggregate_total_gt_${RatchetFactor}x_committed_reference"
      else ""
    val refused = reason.nonEmpty
    def byName[V](f: QueryRun => V, qs: Seq[QueryRun] = run.queries) =
      SortedMap.from(qs.map(q => q.name -> f(q)))
    val record = BenchRecord("total", total, "sec", byName(_.sec), failed, dirty,
      byName(_.gcMs), byName(_.reruns, run.queries.filter(_.reruns > 0)), None,
      run.loadAvgStart, run.loadAvgEnd, run.calibrationSec, drift, refused, reason,
      run.cpus, Some(run.sf))
    val verdict = verdictJson(total, run.queries.size, failed, dirty,
      run.queries.count(_.reruns > 0), ok.sortBy(-_.sec).take(10).map(q => q.name -> q.sec),
      run.loadAvgStart, run.loadAvgEnd, run.calibrationSec, drift, run.sf, refused, reason)
    val merge =
      if (mergeSet.isEmpty) None
      else Some(mergeDecision(mergeSet, run.queries.map(q => q.name -> q.sec),
        committed.flatMap(_.sf).getOrElse(""), ref, run.sf, drift))
    // calibration of a merged reference = the FASTEST host that contributed
    // entries, so future drift normalization never under-scales a threshold
    // recorded on a quicker machine
    val calRef = committed.fold(0.0)(_.calibrationSec)
    val mergedCal = if (calRef > 0) math.min(run.calibrationSec, calRef) else run.calibrationSec
    val reference = merge match {
      case Some(Right(m)) => Some(BenchRecord("total", m.values.sum, "sec",
        SortedMap.from(m), Nil, Nil, SortedMap.empty, SortedMap.empty,
        Some(mergeSet.toSeq.sorted), run.loadAvgStart, run.loadAvgEnd, mergedCal,
        drift, ratchetRefused = false, "merge", run.cpus, Some(run.sf)))
      case _ => if (refused) None else Some(record)
    }
    Decision(record, verdict, writeVerdict = only.isEmpty && mergeSet.isEmpty,
      reference, merge.flatMap(_.left.toOption))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    val cpus = graft.core.GraftSession.cores
    // optional positional args: run only the named queries (local iteration
    // aid — the driver passes none and gets the full suite)
    val only: Set[String] = args.toSet
    // GRAFT_BENCH_MERGE=q1,q2 — re-record ONLY the named queries into the
    // committed reference (min-of-3), keep every other entry byte-identical;
    // see [[mergeDecision]] for the refusal contract (VERDICT r8 #8)
    val mergeSet: Set[String] = sys.env.get("GRAFT_BENCH_MERGE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val unknownMerge = mergeSet.filterNot(SparkEntry.queries.contains)
    if (unknownMerge.nonEmpty) {
      System.err.println(s"[bench] GRAFT_BENCH_MERGE names unknown queries: " +
        unknownMerge.toSeq.sorted.mkString(","))
      sys.exit(1)
    }
    val force = sys.env.contains("GRAFT_BENCH_FORCE")
    // absent or unreadable reads as None: the first recording
    val committed = Json.readFile[BenchRecord](ReferenceFile).toOption
    val ref = referenceTimes(committed, sfDir)

    val spark = graft.core.GraftSession.builder(cpus, "graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // shuffle partitions sized to the INPUT, not the host (VERDICT r7 #3):
    // at the driver SFs this is the old per-core default; on a multi-GB
    // decade slice it reproduces the cluster-shape partition count without
    // the manual SPARK_GRAFT_SHUFFLE_PARTITIONS lever
    val shuffleParts = graft.core.GraftSession.autoTuneShuffle(spark, sfDir, cpus)
    if (shuffleParts != cpus)
      System.err.println(s"[bench] shuffle partitions auto-tuned to $shuffleParts for $sfDir")

    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcTotalMs(): Long = gcBeans.map(_.getCollectionTime).sum
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage

    /** One timed execution → (seconds, gcMsDuringRun). */
    def runOnce(name: String, dir: String = sfDir): (Double, Long) = {
      val gc0 = gcTotalMs()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // queries that persist intermediates (dedup pipelines) must not leak
      // cached RDDs into later measurements
      spark.catalog.clearCache()
      (sec, gcTotalMs() - gc0)
    }

    // warmup: one relational, one windowed, one LLM-pipeline query — covers
    // the codegen'd join/agg paths AND the md5/array expression paths, so
    // per-query numbers are attributable to plans, not JIT order. Warmup is
    // about CODE (JIT/codegen/classloading), not data, so it runs on the
    // driver's fixed sf0.1 regardless of the target slice — a decade-slice
    // run must not pay a multi-minute dd_jaccard warm lap at 5M docs
    // (identical behavior for the driver's own sf0.1 runs). Falls back to
    // the run's own sfDir when the default corpus is absent on this host —
    // a silent warmup miss costs per-query JIT attribution (ADVICE r8).
    val warmDir =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(DefaultSfDir)))
        DefaultSfDir
      else sfDir
    try { runOnce("w1_window_avg", warmDir); runOnce("q5_revenue_by_region", warmDir)
          runOnce("dd_jaccard", warmDir) }
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }
    // the component-loop plan shapes (label-propagation joins + pointer
    // jump) pay ~5s of one-time whole-stage-codegen compilation on their
    // FIRST execution in a JVM (measured: dd_clusters 12.3s cold vs 6.3s
    // on every later run in the same JVM) — warm them on the tiny sf0.001
    // corpus so the measured dd_clusters/dd_split/llm_cluster_stage numbers
    // are the plan's cost, not the JIT's
    try {
      SparkEntry.queries("dd_clusters")(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    } catch { case e: Throwable => System.err.println(s"[bench] loop warmup failed: $e") }

    // host-speed calibration (min-of-2 — the loop itself is noise-prone to
    // one scheduler preemption): normalizes per-query rerun thresholds
    // against the committed run's host speed and rides into the artifact
    val calNow = math.min(calibrate(), calibrate())
    val calRef = committed.fold(0.0)(_.calibrationSec)
    val drift = driftFactor(calNow, calRef)
    if (drift > 1.05)
      System.err.println(f"[bench] host ${drift}%.2fx slower than the committed " +
        f"reference's calibration ($calNow%.3fs vs $calRef%.3fs) — rerun " +
        "thresholds normalized; reference will not be overwritten on drift")

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => if (mergeSet.nonEmpty) mergeSet(n) else only.isEmpty || only(n))
    val measured = names.map { name =>
      val c0 = Codegen.compiles
      var sec = -1.0
      var gc = 0L
      var runs = 0
      def attempt(): Unit =
        try {
          val (s, g) = runOnce(name)
          runs += 1
          if (sec < 0 || s < sec) { sec = s; gc = g }
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            runs += 1
        }
      attempt()
      // merge mode re-records reference entries: always min-of-3 (the
      // r8 re-record contract) before the usual suspicion logic runs
      while (mergeSet.nonEmpty && sec >= 0 && runs < 3) attempt()
      // threshold vs max(drift-normalized reference, 1s noise floor):
      // sub-second queries 3×-ing on scheduler jitter must not burn
      // reruns or flag contamination (round-6 tx_mix_report false alarm).
      // No reference → always min-of-2. Up to 3 retries: the round-5
      // burst pattern can span two consecutive attempts of a heavy query.
      val r = ref.get(name).filter(_ > 0)
      while (sec >= 0 && runs < 4 && r.fold(runs < 2)(_ => overThreshold(sec, r, drift)))
        attempt()
      if (sec >= 0 && overThreshold(sec, r, drift))
        System.err.println(f"[bench] $name still $sec%.2fs after ${runs - 1} rerun(s) " +
          f"vs committed ${r.get}%.2fs — treat this artifact as contaminated")
      System.err.println(Codegen.line(Codegen.compiles - c0, s"query=$name"))
      QueryRun(name, sec, gc, runs - 1)
    }
    System.err.println(Codegen.line(Codegen.compiles, "run"))
    val run = Run(sfDir, cpus, measured, calNow, loadStart, osBean.getSystemLoadAverage)
    val d = decide(run, committed, force, only, mergeSet, drift)

    if (d.writeVerdict && d.record.ratchetRefused)
      System.err.println(s"[bench] $ReferenceFile NOT updated: ${d.record.ratchetReason} " +
        "(GRAFT_BENCH_FORCE=1 overrides; never on ambient suspicion)")
    println(Json.write(d.record))
    def save(path: String, write: => Unit): Unit =
      try write catch { case e: Throwable => System.err.println(s"[bench] $path write failed: $e") }
    // Every full-suite run — contaminated or refused INCLUDED — records its
    // verdict to the repo as a committed artifact, so wall-time and the
    // ratchet decision are never read from a log tail. This file is the
    // round's RECORD; BENCH_LOCAL.json stays the clean-runs-only rerun
    // REFERENCE (the ratchet protects it, not this). The reference file
    // also persists the stdout line, which can exceed the driver's tail
    // capture (r3 lost the head of the per-query map).
    if (d.writeVerdict)
      save(VerdictFile, java.nio.file.Files.writeString(
        java.nio.file.Paths.get(VerdictFile), d.verdict + "\n"))
    d.reference.foreach { r =>
      save(ReferenceFile, Json.writeFile(ReferenceFile, r))
      r.merged.foreach(m => System.err.println(s"[bench] merged ${m.size} re-recorded " +
        s"entr${if (m.size == 1) "y" else "ies"} into $ReferenceFile"))
    }
    d.mergeRefusal.foreach { why =>
      System.err.println(s"[bench] GRAFT_BENCH_MERGE refused: $why " +
        s"($ReferenceFile unchanged; GRAFT_BENCH_FORCE remains the " +
        "break-glass lever for a change past the threshold)")
      spark.stop()
      sys.exit(1)
    }
    // The driver's round artifact keeps only the LAST ~2,000 chars of
    // stdout, so the trailer must be the FINAL app line (all stderr
    // messages above were printed before it): total + verdict fields +
    // slowest queries, self-sufficient no matter how long the full line
    // grows.
    println(d.verdict)
    spark.stop()
    if (run.queries.exists(_.sec < 0)) sys.exit(1)
  }

  /** GRAFT_BENCH_MERGE decision (VERDICT r8 #8): may this run's re-records
    * of `named` queries be spliced into the committed reference? The r8
    * re-record had to be done by hand under GRAFT_BENCH_FORCE — which
    * overrode EVERY gate and let ambient drift ride into five unrelated
    * tripwires. Merge mode re-records ONLY the named queries (each
    * min-of-3), keeps every other committed entry untouched, and refuses —
    * Left(reason) — when:
    *  - the run's sf differs from the committed reference's (times are not
    *    comparable across scale factors),
    *  - there is no committed reference to merge into (a first recording is
    *    a full run's job),
    *  - a named query failed,
    *  - a named query's new time exceeds its committed entry by more than
    *    the drift-clamped rerun threshold ([[rerunThreshold]]) — a
    *    legitimately-slower algorithm inside that band merges cleanly;
    *    past it, the change is large enough that GRAFT_BENCH_FORCE must be
    *    reached for consciously (and it stays the break-glass lever ONLY).
    * Right(merged) is the full per-query reference with the named entries
    * replaced by this run's times (named queries absent from the old
    * reference simply append). */
  def mergeDecision(named: Set[String], results: Seq[(String, Double)],
      refSf: String, refT: Map[String, Double], sfDir: String,
      drift: Double): Either[String, Map[String, Double]] = {
    val times = results.toMap
    val failedNames = named.filter(n => !times.get(n).exists(_ >= 0)).toSeq.sorted
    if (refSf.nonEmpty && refSf != sfDir) Left(s"merge_sf_mismatch:$refSf")
    else if (refT.isEmpty) Left("merge_no_committed_reference")
    else if (failedNames.nonEmpty)
      Left(s"merge_named_query_failed:${failedNames.mkString(",")}")
    else {
      val overs = named.toSeq.sorted.filter { n =>
        refT.get(n).exists(r => r > 0 && times(n) > rerunThreshold(r, drift))
      }
      if (overs.nonEmpty) Left(s"merge_exceeds_threshold:${overs.mkString(",")}")
      else Right(refT ++ named.map(n => n -> times(n)))
    }
  }

  /** The verdict trailer JSON — the round's first-class wall-time record
    * (VERDICT r7 #8). `ratchet_refused` true means this run did NOT become
    * the committed rerun reference; `ratchet_reason` says why, one of the
    * [[decide]] reasons: `merge_run`, `filtered_run`,
    * `sf_mismatch_vs_committed_reference`, `contaminated_queries`,
    * `aggregate_total_gt_1.15x_committed_reference`. `slowest` keeps its
    * order and is rounded to 0.01 s. */
  def verdictJson(total: Double, nQueries: Int, failed: Seq[String],
      dirty: Seq[String], rerunsN: Int, slowest: Seq[(String, Double)],
      loadStart: Double, loadEnd: Double, calNow: Double, drift: Double,
      sfDir: String, refused: Boolean, reason: String): String =
    Json.write(Verdict("verdict", total, "sec", nQueries, failed, dirty, rerunsN,
      ListMap.from(slowest.map { case (n, s) => n -> Json.decimal(s, 2) }),
      loadStart, loadEnd, calNow, drift, refused, reason, sfDir))

  /** (sf, per-query seconds) of a committed reference (("", empty) if
    * absent or unreadable). */
  def loadCommitted(path: String = ReferenceFile): (String, Map[String, Double]) =
    Json.readFile[BenchRecord](path).fold(_ => ("", Map.empty), r => (r.sf.getOrElse(""), r.queries))

  /** A committed reference's `calibration_sec` (0 if absent — pre-round-7
    * artifacts carry none, and [[driftFactor]] degrades to 1). */
  def loadCalibration(path: String = ReferenceFile): Double =
    Json.readFile[BenchRecord](path).fold(_ => 0.0, _.calibrationSec)
}
