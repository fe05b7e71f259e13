package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.core.{Alert, SensorReading, SmokeLevel, SmokeLevelReading}

/** Multi-stream transformations (SURVEY.md §2.7 P6 / reference
  * `chapter5/MultiStreamTransformations.scala`).
  *
  * P6 — RaiseAlertFlatMap: alert when temperature > threshold AND the latest
  * broadcast smoke level is High. The reference broadcasts the 1-event/s
  * control stream to all tasks and keeps the latest level in a plain var
  * (explicitly racy — no cross-stream ordering guarantee). The Spark-first
  * equivalent keeps "latest smoke level" as a 1-row aggregate of the control
  * stream and broadcast-cross-joins it per micro-batch: the fact stream
  * never shuffles, the control side is bytes — the same plan shape survives
  * a 1000-executor cluster.
  */
object MultiStream {

  /** Batch/per-micro-batch core: readings ⨯ broadcast(latest smoke) → alerts. */
  def smokeAlertsBatch(readings: Dataset[SensorReading],
      smoke: Dataset[SmokeLevelReading], threshold: Double = 100.0): Dataset[Alert] = {
    import readings.sparkSession.implicits._
    val latest = smoke.agg(max_by(col("level"), col("timestamp")).as("level"))
    readings.toDF.crossJoin(broadcast(latest))
      .filter(col("level") === SmokeLevel.High && col("temperature") > threshold)
      .select(concat(lit("Risk of fire! "), col("id")).as("message"),
        col("timestamp"))
      .as[Alert]
  }

  /** Streaming wiring: union-ADT the two streams so one `foreachBatch`
    * sees both; latest smoke level carries across batches via `lastSmoke`
    * (the Spark analog of the reference's shared var — updated once per
    * micro-batch on the driver, read by the broadcast join). `sink` gets
    * the per-batch alerts. */
  def smokeAlertsStream(readings: Dataset[SensorReading],
      smoke: Dataset[SmokeLevelReading], threshold: Double = 100.0)(
      sink: (Dataset[Alert], Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[_] = {
    val spark = readings.sparkSession
    import spark.implicits._
    // tag: readings carry smoke=null, smoke rows carry id=null
    val unioned = readings.toDF
      .select(col("id"), col("timestamp"), col("temperature"), lit(null: String).as("level"))
      .unionByName(smoke.toDF.select(lit(null: String).as("id"), col("timestamp"),
        lit(Double.NaN).as("temperature"), col("level")))
    val lastSmoke = new java.util.concurrent.atomic.AtomicReference[String](SmokeLevel.Low)
    unioned.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
      val smokeRows = batch.filter(col("level").isNotNull)
        .orderBy(col("timestamp").desc).select("level").limit(1).collect()
      if (smokeRows.nonEmpty) lastSmoke.set(smokeRows.head.getString(0))
      val alerts = batch.filter(col("id").isNotNull)
        .filter(lit(lastSmoke.get()) === SmokeLevel.High && col("temperature") > threshold)
        .select(concat(lit("Risk of fire! "), col("id")).as("message"), col("timestamp"))
        .as[Alert]
      sink(alerts, batchId)
    }
  }
}
