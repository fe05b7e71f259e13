package graft.core

import scala.collection.immutable.{ListMap, SortedMap}

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule, JavaTypeable}

/** The one JSON codec for graft's artifacts: every JSON read and write in
  * the program goes through [[Json.write]] / [[Json.read]] and the case
  * classes below, so an artifact's shape is declared once, as a type.
  *
  * Field names are camelCase in Scala and snake_case on disk; a key's
  * position on disk is its field's position in the case class. `None`
  * fields are omitted. An absent key reads back as `None`, an empty
  * collection, 0 or false (null for a plain `String`), so artifacts
  * written before a field existed still parse; unknown keys are ignored
  * for the same reason. Numeric map values name their boxed class in
  * `@JsonDeserialize(contentAs = ...)`, since erasure hides it. */
object Json {
  private val mapper = (JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .serializationInclusion(JsonInclude.Include.NON_ABSENT)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .build() :: ClassTagExtensions)

  def write(value: Any): String = mapper.writeValueAsString(value)

  def read[T: JavaTypeable](json: String): T = mapper.readValue[T](json)

  /** `x` written with exactly `scale` decimals (half-up), e.g. 4.20. */
  def decimal(x: Double, scale: Int): BigDecimal =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)

  /** Reads a file; Left carries why it is missing or malformed. */
  def readFile[T: JavaTypeable](path: String): Either[String, T] =
    try Right(read[T](java.nio.file.Files.readString(java.nio.file.Paths.get(path))))
    catch { case e: Exception => Left(s"cannot read $path: $e") }

  /** Writes `value` as one line plus a newline, creating parent dirs. */
  def writeFile(path: String, value: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, write(value) + "\n")
  }
}

/** `BENCH_LOCAL.json` and `graft.Bench`'s stdout line: per-query seconds
  * (-1 = failed) plus the run's contamination evidence and ratchet verdict.
  * A merged reference carries `merged` and empty `gcMs`/`reruns`. */
final case class BenchRecord(metric: String, value: Double, unit: String,
    @JsonDeserialize(contentAs = classOf[java.lang.Double]) queries: SortedMap[String, Double],
    failed: Seq[String], contaminated: Seq[String],
    @JsonDeserialize(contentAs = classOf[java.lang.Long]) gcMs: SortedMap[String, Long],
    @JsonDeserialize(contentAs = classOf[java.lang.Integer]) reruns: SortedMap[String, Int],
    merged: Option[Seq[String]], loadAvgStart: Double, loadAvgEnd: Double,
    calibrationSec: Double, driftFactor: Double, ratchetRefused: Boolean,
    ratchetReason: String, cpus: Int, sf: Option[String])

/** `BENCH_VERDICT.json` and the last stdout line of `graft.Bench`: the
  * run's wall-time record, with the ten slowest queries rounded to 0.01 s. */
final case class Verdict(trailer: String, value: Double, unit: String, nQueries: Int,
    failed: Seq[String], contaminated: Seq[String], rerunsN: Int,
    slowest: ListMap[String, BigDecimal], loadAvgStart: Double, loadAvgEnd: Double,
    calibrationSec: Double, driftFactor: Double, ratchetRefused: Boolean,
    ratchetReason: String, sf: String)

/** `CORRECTNESS_LOCAL.json` (written by `scripts/selfcheck.py`): per query,
  * a flat map of boolean checks. */
final case class CorrectnessRecord(nFail: Int, nPass: Int,
    queries: Option[Map[String, Map[String, Boolean]]], sf: Option[String])

/** `STREAM_RATE_*.json`: one streaming pipeline's measured sustained rate. */
final case class StreamRate(pipeline: String, partitions: Int, offeredRowsPerSec: Int,
    measuredRowsPerSec: BigDecimal, measuredRowsPerSecPerPartition: BigDecimal,
    targetRowsPerSecPerPartition: Int, steadyStateSec: BigDecimal, totalRows: Long)
