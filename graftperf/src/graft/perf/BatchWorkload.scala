package graft.perf

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.batch.Q

/** The query set of the batch workload, and the queries whose outputs are
  * pinned. A lap runs every query of the set once, in an order drawn from
  * the seed; the set is fixed so that laps of different seeds do the same
  * work.
  *
  * llm_batch covers three LLM modules (dedup, similarity with a staged
  * IVF-PQ index, text retrieval; LM scoring runs in curate_stream):
  * many-stage plans, single-split document scans, the custom kernels, and
  * a StagedTable build in the cold lap that later laps adopt. It has an odd
  * number of queries, so its median query latency is one query's. */
object Workloads {
  val llm: Seq[String] = Seq("dd_simhash", "sim_ivfpq_scaled_staged", "tx_bm25")

  /** Every query of the five relational modules plus the sixteen LLM
    * queries ROADMAP targets: the set whose fingerprints are pinned. */
  val pinned: Seq[String] = {
    import graft.batch._
    (TransformQueries.all ++ AggQueries.all ++ JoinQueries.all ++ FunnelQueries.all ++
      StatefulTwinQueries.all).map(_.name) ++ Seq(
      "dd_jaccard", "dd_clusters", "dd_best_of_cluster", "dd_simhash", "sim_ivfpq",
      "sim_ivfpq_scaled", "sim_kmeans_scaled", "sim_knn_graph_multiprobe", "tx_bm25",
      "tx_hybrid_rrf", "tx_decontam", "tx_lm_score", "mm_corpus_prep", "mm_scene_cuts",
      "llm_corpus_prep", "sim_ivfpq_scaled_staged")
  }

  def resolve(names: Seq[String]): Seq[Q] = {
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"no query $n")))
  }

  /** name -> pinned fingerprint, from the `name rows hash` lines of the file. */
  def loadFingerprints(p: java.nio.file.Path): Map[String, Fingerprint] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, r, h) = l.split("\\s+")
        n -> Fingerprint(r.toLong, h.toLong)
      }.toMap
  }
}

/** One timed execution of one query: construction (`q.fn`, including any
  * eager jobs inside it), then the write through [[ChecksumSink]]. */
final case class Exec(lap: Int, traced: Boolean, name: String, buildS: Double, runS: Double)

final case class Lap(n: Int, traced: Boolean, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000
}

object BatchWorkload {
  /** Laps before this one are warm-up: lap 0 is the cold lap, and lap 1
    * still runs about a third slower than the laps after it. */
  val FirstWarmLap = 2

  /** Cold lap, a second warm-up lap, then measured laps until `seconds`
    * have passed since the first of them began (at least 4). A traced run
    * traces the cold lap and every second measured lap; the untraced laps
    * between them give the tracing overhead without a bias from laps
    * getting faster. */
  def run(setup: Setup, names: Seq[String]): Outcome = {
    val o = setup.o
    val spark = setup.spark
    val queries = Workloads.resolve(names)
    val pinned = o.fingerprints.map(Workloads.loadFingerprints).getOrElse(Map.empty)
    val failures = mutable.ArrayBuffer.empty[String]
    val execs = mutable.ArrayBuffer.empty[Exec]
    val laps = mutable.ArrayBuffer.empty[Lap]
    val tracer = setup.tracer
    var measureFrom = Double.MaxValue
    var lap = 0
    while (lap < FirstWarmLap + 4 || Clock.nowMs - measureFrom < o.seconds * 1000) {
      if (lap == FirstWarmLap) measureFrom = Clock.nowMs
      val traced = tracer.isDefined && (lap == 0 || (lap > FirstWarmLap && (lap - FirstWarmLap) % 2 == 1))
      tracer.foreach { t => if (traced) t.attach() else if (t.attached) { t.drain(); t.detach() } }
      val order = new scala.util.Random(o.seed * 1000 + lap).shuffle(queries)
      val lapStart = Clock.nowMs
      val lapSpan = tracer.filter(_ => traced).map(_.nextId()).getOrElse(0L)
      order.foreach { q =>
        val e = once(spark, q, lap, tracer.filter(_ => traced), lapSpan, pinned, o.data)
        execs += e._1
        e._2.foreach(failures += _)
      }
      val lapEnd = Clock.nowMs
      tracer.filter(_ => traced).foreach(_.add(Span(lapSpan, 0, s"lap $lap", "bench",
        lapStart, lapEnd, Map("lap" -> lap))))
      laps += Lap(lap, traced, lapStart, lapEnd)
      lap += 1
    }
    tracer.foreach { t => if (t.attached) { t.drain(); t.detach() } }

    val warmUntraced = laps.filter(l => l.n >= FirstWarmLap && !l.traced).map(_.seconds).toSeq
    val warmExecs = execs.filter(e => e.lap >= FirstWarmLap && !e.traced)
    // a query's latency is its median over the measured laps; the
    // percentiles are taken over the queries of the set
    val queryMs = warmExecs.groupBy(_.name).map { case (n, es) =>
      n -> Stats.median(es.map(e => (e.buildS + e.runS) * 1000).toSeq) }
    val e2e = Map(
      "cold_lap_s" -> laps.head.seconds,
      "warm_lap_s" -> Stats.median(warmUntraced),
      "capacity_per_s" -> warmExecs.size / warmUntraced.sum,
      "latency_p50_ms" -> Stats.quantile(queryMs.values.toSeq, 0.5),
      "latency_p90_ms" -> Stats.quantile(queryMs.values.toSeq, 0.9))
    val samples = Map("cold_lap_s" -> 1, "warm_lap_s" -> warmUntraced.size,
      "capacity_per_s" -> warmExecs.size, "latency_p50_ms" -> queryMs.size,
      "latency_p90_ms" -> queryMs.size)
    val perLayer = tracer.map(t => Layers.batch(t, o.cores, execs.toSeq,
      laps.toSeq)).getOrElse(Map.empty)
    Outcome(e2e, samples, perLayer, execs.size, failures.toSeq,
      Map("laps" -> laps.size, "lap_s" -> laps.map(_.seconds).toSeq,
        "query_warm_ms" -> queryMs))
  }

  /** One execution of `q`; `tracer` is set when this lap is traced. */
  private def once(spark: SparkSession, q: Q, lap: Int, tracer: Option[Tracer],
      lapSpan: Long, pinned: Map[String, Fingerprint], data: String): (Exec, Option[String]) = {
    val traced = tracer.isDefined
    val key = s"lap$lap/${q.name}"
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(key, q.name, interruptOnCancel = false)
    val qid = tracer.map(_.nextId()).getOrElse(0L)
    val attrs = Map[String, Any]("group" -> key, "query" -> q.name, "lap" -> lap)
    val start = Clock.nowMs
    var buildEnd = start
    val err = try {
      val df = tracer match {
        case Some(t) =>
          val d = t.span("build", "llm", qid, attrs)(q.fn(spark, data))
          // the DataFrame is analyzed as it is built; the write command's
          // own tracker (QueryExecutionListener) sees only the rest
          t.plans.add(PlanRec("construct", d.queryExecution.tracker.phases
            .filter(_._1 == "analysis").map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }))
          d
        case None => q.fn(spark, data)
      }
      buildEnd = Clock.nowMs
      val write = () => df.write.format(classOf[ChecksumSink].getName)
        .option("key", key).mode("overwrite").save()
      tracer match {
        case Some(t) => t.span("execute", "sink", qid, attrs)(write())
        case None => write()
      }
      val got = ChecksumSink.take(key)
      pinned.get(q.name) match {
        case None => Some(s"$key: no pinned fingerprint (got $got)")
        case Some(want) if !got.contains(want) => Some(s"$key: fingerprint $got != pinned $want")
        case _ => None
      }
    } catch {
      case e: Exception => Some(s"$key: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    } finally {
      if (traced) sc.clearJobGroup()
    }
    val end = Clock.nowMs
    tracer.foreach(_.add(Span(qid, lapSpan, q.name, "bench", start, end, attrs)))
    spark.catalog.clearCache()
    (Exec(lap, traced, q.name, (buildEnd - start) / 1000, (end - buildEnd) / 1000), err)
  }
}
