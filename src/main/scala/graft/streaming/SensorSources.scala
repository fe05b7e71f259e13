package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SensorReading, SmokeLevelReading}

/** Streaming source emulators for the reference generators (SURVEY.md §2.1).
  *
  * Reference `util/SensorSource.scala:34-74` runs a Gaussian random walk per
  * sensor with wall-clock timestamps — inherently non-replayable, which is
  * why the reference needs `ResettableSensorSource` (checkpointed operator
  * state, `util/ResettableSensorSource.scala:38-134`) for recovery demos.
  *
  * Spark-first design: every generated record is a **pure function of the
  * rate-source offset**, so replay determinism comes from the source's
  * offset-tracking contract — no operator state, no snapshot code, and the
  * generator scales linearly with `numPartitions` (each partition generates
  * its own offset range; no shuffle, no coordination). This is the S2 design
  * note from SURVEY §2.1 made concrete.
  *
  * The "random" walk is a seeded hash mix per (sensor, step): base(id) +
  * bounded pseudo-noise. Distributionally equivalent to the reference's walk
  * for demo purposes and exactly reproducible on replay at any parallelism.
  */
object SensorSources {

  /** Deterministic temperature: 65 + 20·u1(id) + 0.5·u2(id, step) where
    * u1/u2 are hash-derived uniforms in [-1, 1]. Pure Catalyst expressions —
    * codegen'd, no UDF. */
  private def temperatureExpr(idCol: String, stepCol: String) = {
    val u1 = (pmod(xxhash64(col(idCol)), lit(10000L)) / 5000.0) - 1.0
    val u2 = (pmod(xxhash64(col(idCol), col(stepCol)), lit(10000L)) / 5000.0) - 1.0
    lit(65.0) + u1 * 20.0 + u2 * 0.5
  }

  private def readingsFromValue(df: DataFrame, sensorsPerPartition: Int,
      numPartitions: Int): Dataset[SensorReading] = {
    import df.sparkSession.implicits._
    val n = sensorsPerPartition * numPartitions
    df.withColumn("id", concat(lit("sensor_"), (pmod(col("value"), lit(n)) + 1)))
      .withColumn("step", (col("value") / n).cast("long"))
      .select(col("id"),
        unix_millis(col("timestamp")).as("timestamp"),
        temperatureExpr("id", "step").as("temperature"))
      .as[SensorReading]
  }

  /** S1 — streaming sensor source: 10 sensors per partition, 100 readings/s
    * per partition (matches BASELINE.md's reference rate). */
  def sensorStream(spark: SparkSession, numPartitions: Int = 1,
      readingsPerSecondPerPartition: Int = 100): Dataset[SensorReading] = {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", (readingsPerSecondPerPartition * numPartitions).toString)
      .option("numPartitions", numPartitions.toString)
      .load()
    readingsFromValue(rate, 10, numPartitions)
  }

  /** S1/S2 batch twin: `n` readings over the same deterministic generator —
    * byte-identical to what a replayed stream would produce. */
  def sensorBatch(spark: SparkSession, n: Long, numPartitions: Int = 1,
      startEpochMs: Long = 0L, stepMs: Long = 10L): Dataset[SensorReading] = {
    val df = spark.range(0, n, 1, math.max(numPartitions, 1)).toDF("value")
      .withColumn("timestamp", timestamp_millis(lit(startEpochMs) + col("value") * stepMs))
    readingsFromValue(df, 10, numPartitions)
  }

  /** S3 — smoke-level control stream: 1 event/s, P(High) ≈ 0.21
    * (`chapter5/util/SmokeLevelSource.scala:27-60`). Deterministic via
    * offset hashing rather than `nextGaussian > 0.8`. */
  def smokeLevelStream(spark: SparkSession): Dataset[SmokeLevelReading] = {
    import spark.implicits._
    spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .select(
        when(pmod(xxhash64(col("value")), lit(100L)) < 21, "High").otherwise("Low").as("level"),
        unix_millis(col("timestamp")).as("timestamp"))
      .as[SmokeLevelReading]
  }

  /** S4/S5 — count source 0,1,2,… (`chapter8/SourceFunctionExample.scala:24-81`).
    * Replayability is the rate source's offset contract; nothing to write. */
  def countStream(spark: SparkSession, rowsPerSecond: Int = 1000): Dataset[Long] = {
    import spark.implicits._
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(col("value")).as[Long]
  }
}
