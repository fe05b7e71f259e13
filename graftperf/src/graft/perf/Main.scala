package graft.perf

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, StagedTable}
import graft.functions.GraftFunctions

/** Command-line options of one benchmark JVM (see graftperf/run.py). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: Path, cores: Int, fingerprints: Option[Path], pinOut: Option[Path])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", need("data"), Paths.get(need("work")).toAbsolutePath,
      need("cores").toInt, m.get("fingerprints").map(Paths.get(_)),
      m.get("pin").map(Paths.get(_).toAbsolutePath))
  }
}

/** What one run measured: end-to-end values with their sample counts, the
  * per-layer values of a traced run, and the correctness tally. */
final case class Outcome(e2e: Map[String, Double], samples: Map[String, Int],
    perLayer: Map[String, Double], attempted: Long, failures: Seq[String],
    extra: Map[String, Any] = Map.empty)

/** Entry point of the benchmark JVM: sets up the session (timed), runs one
  * workload and prints one `GRAFTPERF {...}` line for run.py. */
object Main {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Writes the result line, the spans and the pinned oracle SQL as JSON. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS).build()

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    if (o.pinOut.isDefined) { Pin.run(o); return }
    val setup = Setup(o)
    val out = o.workload match {
      case "llm_batch" => BatchWorkload.run(setup, Workloads.llm)
      case "curate_stream" => CurateWorkload.run(setup)
      case w => sys.error(s"unknown workload $w")
    }
    val spark = setup.spark
    setup.tracer.foreach { t =>
      t.add(Span(t.nextId(), 0, "setup", "core", setup.startMs, setup.endMs))
      t.writeJsonl(o.work.resolve("spans.jsonl"), t.derivedSpans())
    }
    val perLayer =
      if (!o.trace) Map.empty[String, Double]
      else Layers.complete(out.perLayer ++ Kernels.measure(spark, o.seed) ++ Map(
        "core.session_s" -> setup.sessionS,
        "core.stage_builds" -> StagedTable.stagingsComputed.toDouble))
    val e2e = out.e2e ++ Map("setup_s" -> setup.setupS, "peak_rss_mb" -> peakRssMb())
    val record = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_master" -> spark.sparkContext.master,
      "cores_configured" -> o.cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "data" -> o.data, "session_s" -> setup.sessionS,
      "failed_frac" -> out.failures.size.toDouble / math.max(out.attempted, 1L),
      "failures" -> out.failures.take(50)) ++ out.extra
    println("GRAFTPERF " + json.writeValueAsString(Map(
      "attempted" -> out.attempted, "failed" -> out.failures.size,
      "e2e" -> e2e, "samples" -> (out.samples ++ Map("setup_s" -> 1, "peak_rss_mb" -> 1)),
      "per_layer" -> perLayer, "record" -> record)))
    spark.stop()
  }

  /** VmHWM of this JVM: the peak resident set, in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** The timed session set-up, from JVM start to a ready session: graft's
  * functions registered, the shuffle width derived from the input and, for
  * the stream, the pinned LM tables trained. It is measured once per JVM:
  * a session rebuilt inside a warm JVM is ready in about 0.1 s and would
  * not show what a fresh process pays. */
final class Setup(val o: Opts, val spark: SparkSession, val startMs: Double, val endMs: Double,
    val sessionS: Double, val lm: Option[LmTables]) {
  def setupS: Double = (endMs - startMs) / 1000
  val tracer: Option[Tracer] = if (o.trace) Some(new Tracer(spark)) else None
}

object Setup {
  def apply(o: Opts): Setup = {
    val s0 = Clock.nowMs
    val spark = session(o)
    val sessionS = (Clock.nowMs - s0) / 1000
    val lm = if (o.workload == "curate_stream") Some(LmTables.train(spark, o.data)) else None
    new Setup(o, spark, Main.jvmStartMs.toDouble, Clock.nowMs, sessionS, lm)
  }

  def session(o: Opts): SparkSession = {
    val spark = GraftSession.builder(o.cores, "graftperf")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", o.work.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", o.work.resolve("checkpoints").toString)
      // the stream check maps rows to batches through every batch's progress
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${o.work.resolve("metastore_db")};create=true")
      .getOrCreate()
    GraftFunctions.register(spark)
    GraftSession.autoTuneShuffle(spark, o.data, o.cores)
    spark
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
