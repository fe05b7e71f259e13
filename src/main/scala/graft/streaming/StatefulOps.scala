package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.{Alert, SensorReading, Switch, ThresholdUpdate}

/** The reference's stateful keyed-processing family (SURVEY.md §2.7, P1–P9)
  * re-expressed on `flatMapGroupsWithState`.
  *
  * Shared patterns (SURVEY §7.2 step 6):
  *  - Flink `ValueState` → a single case-class `GroupState[S]`; Flink's
  *    implicit zero-value reads (`ValueState.value()` == 0.0 when unset,
  *    relied on at `chapter6/ProcessFunctionTimers.scala:63-71`) become
  *    explicit `state.getOption.getOrElse(default)` — same semantics, no
  *    behavior drift (SURVEY §7.5.6).
  *  - Flink timers → `GroupStateTimeout` + deadline fields *inside* the
  *    state object; Spark allows one timeout per group where Flink allows
  *    many timers, so extra deadlines are checked on every invocation
  *    (SURVEY §7.5.3).
  *  - Connected streams (`CoProcessFunction`, broadcast state) → a union-ADT:
  *    both inputs mapped into one sum-type dataset, unioned, grouped by key.
  *    Flink gives no cross-stream ordering guarantee either (the reference's
  *    `RaiseAlertFlatMap` shared var is explicitly racy), so batch-boundary
  *    interleaving is within-spec.
  *
  * Scale: state is hash-partitioned by group key across executors (state
  * store), exactly like Flink's keyed state backend — at 100 TB of keys,
  * configure the RocksDB state store provider (see GraftSession).
  *
  * Records within a micro-batch are sorted by event time inside each group
  * before processing, so single-batch replays match the reference's
  * per-record order.
  */
object StatefulOps {

  /** Union ADT for connected streams, flattened to a tagged record so the
    * product Encoder stays Catalyst-native (nested Option[Product] fields
    * would fall back to opaque serialization). `kind` discriminates. */
  case class Routed(key: String, kind: Int, ts: Long, temp: Double,
      durationMs: Long, threshold: Double)

  object Routed {
    val KindReading = 0
    val KindSwitch = 1
    val KindThreshold = 2
    def ofReading(r: SensorReading): Routed =
      Routed(r.id, KindReading, r.timestamp, r.temperature, 0L, 0.0)
    def ofSwitch(s: Switch): Routed =
      Routed(s.id, KindSwitch, 0L, 0.0, s.durationMs, 0.0)
    def ofThreshold(t: ThresholdUpdate): Routed =
      Routed(t.id, KindThreshold, 0L, 0.0, 0L, t.threshold)
    def toReading(r: Routed): SensorReading = SensorReading(r.key, r.ts, r.temp)
  }

  // ---------------------------------------------------------------- P1/P2
  case class LastTemp(temperature: Double)

  /** P1 — TemperatureAlertFunction (`chapter7/KeyedStateFunction.scala:73-100`):
    * emit (id, temp, diff) when |temp − last| > threshold. */
  def temperatureAlerts(readings: Dataset[SensorReading], threshold: Double)
      : Dataset[(String, Double, Double)] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.id)
      .flatMapGroupsWithState[LastTemp, (String, Double, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id, rows, state: GroupState[LastTemp]) =>
          val sorted = rows.toSeq.sortBy(_.timestamp)
          val out = Seq.newBuilder[(String, Double, Double)]
          var last = state.getOption
          sorted.foreach { r =>
            last.foreach { l =>
              val diff = math.abs(r.temperature - l.temperature)
              if (diff > threshold) out += ((id, r.temperature, diff))
            }
            last = Some(LastTemp(r.temperature))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  // ------------------------------------------------------------------ P3
  case class IncreaseState(lastTemp: Double, deadlineMs: Long)

  /** P3 — TempIncreaseAlertFunction (`chapter6/ProcessFunctionTimers.scala:42-97`):
    * warn if a sensor's temperature rises monotonically for `riseMs` of
    * processing time. Timer-set-on-first-increase / delete-on-decrease maps
    * to a deadline in state + ProcessingTimeTimeout.
    *
    * Operational notes for ProcessingTimeTimeout queries:
    *  - ALWAYS set an explicit `Trigger.ProcessingTime(...)`: with the
    *    default trigger the engine busy-loops empty micro-batches (each
    *    writing state deltas) because a configured processing-time timeout
    *    makes `shouldRunAnotherBatch` unconditionally true.
    *  - For the same reason `StreamingQuery.processAllAvailable()` NEVER
    *    RETURNS on such queries (`noNewData` is never signaled) — tests and
    *    ops tooling must poll the sink instead. */
  def temperatureIncreaseWarnings(readings: Dataset[SensorReading],
      riseMs: Long = 1000L): Dataset[Alert] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.id)
      .flatMapGroupsWithState[IncreaseState, Alert](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (id, rows, state: GroupState[IncreaseState]) =>
          if (state.hasTimedOut) {
            val out = Iterator.single(
              Alert(s"Temperature of sensor '$id' monotonically increased for $riseMs ms",
                state.getOption.map(_.deadlineMs).getOrElse(0L)))
            state.getOption.foreach(s => state.update(s.copy(deadlineMs = 0L)))
            out
          } else {
            val now = System.currentTimeMillis()
            val sorted = rows.toSeq.sortBy(_.timestamp)
            var st = state.getOption.getOrElse(IncreaseState(Double.NaN, 0L))
            val out = Seq.newBuilder[Alert]
            // ProcessingTimeTimeout fires only for groups that receive NO
            // data for the duration, so a sensor that keeps streaming rising
            // readings (the reference's exact scenario) never reaches the
            // hasTimedOut branch — an expired deadline must be honored here
            // too, before this batch's readings are folded in.
            if (st.deadlineMs != 0L && now >= st.deadlineMs) {
              out += Alert(
                s"Temperature of sensor '$id' monotonically increased for $riseMs ms",
                st.deadlineMs)
              st = st.copy(deadlineMs = 0L)
            }
            sorted.foreach { r =>
              if (st.lastTemp.isNaN) {
                st = IncreaseState(r.temperature, st.deadlineMs) // first reading
              } else if (r.temperature < st.lastTemp) {
                st = IncreaseState(r.temperature, 0L) // strictly falling: clear "timer"
              } else if (r.temperature > st.lastTemp && st.deadlineMs == 0L) {
                st = IncreaseState(r.temperature, now + riseMs) // first rise: arm
              } else {
                // equal temps keep the timer (reference only deletes on
                // `temp < lastTemp`, chapter6/ProcessFunctionTimers.scala:77-82)
                st = st.copy(lastTemp = r.temperature)
              }
            }
            state.update(st)
            if (st.deadlineMs > 0L) state.setTimeoutDuration(math.max(st.deadlineMs - now, 1L))
            out.result().iterator
          }
      }
  }

  // ------------------------------------------------------------------ P4
  case class TtlTemp(lastTemp: Double, cleanupAtMs: Long)

  /** P4 — SelfCleaningTemperatureAlertFunction
    * (`chapter7/StatefulProcessFunction.scala:56-110`): P1's alert plus
    * per-key state TTL via an event-time cleanup timer — exact mapping to
    * EventTimeTimeout + setTimeoutTimestamp(ts + ttl). */
  def selfCleaningAlerts(readings: Dataset[SensorReading], threshold: Double,
      ttlMs: Long = 3600 * 1000L, watermarkDelay: String = "5 seconds")
      : Dataset[(String, Double, Double)] = {
    import readings.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    readings
      // EventTimeTimeout needs an event-time watermark on the input
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withWatermark("ts", watermarkDelay)
      .as[SensorReading]
      .groupByKey(_.id)
      .flatMapGroupsWithState[TtlTemp, (String, Double, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (id, rows, state: GroupState[TtlTemp]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(_.timestamp)
            val out = Seq.newBuilder[(String, Double, Double)]
            var last = state.getOption
            var maxTs = 0L
            sorted.foreach { r =>
              last.foreach { l =>
                val diff = math.abs(r.temperature - l.lastTemp)
                if (diff > threshold) out += ((id, r.temperature, diff))
              }
              last = Some(TtlTemp(r.temperature, r.timestamp + ttlMs))
              maxTs = math.max(maxTs, r.timestamp)
            }
            last.foreach { l =>
              state.update(l)
              // (re)register the cleanup timer one TTL past the newest reading
              state.setTimeoutTimestamp(maxTs + ttlMs)
            }
            out.result().iterator
          }
      }
  }

  // ------------------------------------------------------------------ P5
  case class GateState(enabled: Boolean, disableAtMs: Long)

  /** P5 — ReadingFilter (`chapter6/CoProcessFunctionTimers.scala:49-102`):
    * a control stream (id, durationMs) opens a per-sensor forwarding gate
    * for the duration; readings pass only while the gate is open. Connected
    * keyed streams → union-ADT + one flatMapGroupsWithState.
    *
    * Flink disables the gate with a processing-time timer; here the deadline
    * is evaluated lazily when data for the key arrives (`now >= disableAtMs`
    * drops the reading), which yields identical forwarded output WITHOUT an
    * armed `ProcessingTimeTimeout` — an armed timeout makes
    * MicroBatchExecution busy-loop empty micro-batches until it fires (each
    * writing a state delta), a real throughput defect for long gates. The
    * trade-off is that an expired gate's tiny GateState lingers until the
    * key's next record instead of being cleaned at the deadline. */
  def gatedReadings(readings: Dataset[SensorReading], switches: Dataset[Switch])
      : Dataset[SensorReading] = {
    val spark = readings.sparkSession
    import spark.implicits._
    val routed = readings.map(Routed.ofReading _).union(switches.map(Routed.ofSwitch _))
    routed.groupByKey(_.key)
      .flatMapGroupsWithState[GateState, SensorReading](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[GateState]) =>
          val now = System.currentTimeMillis()
          var st = state.getOption.getOrElse(GateState(enabled = false, 0L))
          val out = Seq.newBuilder[SensorReading]
          // control first: a switch in the same batch opens the gate for
          // the batch's readings (Flink gives no cross-stream order anyway)
          val (controls, data) = rows.toSeq.partition(_.kind == Routed.KindSwitch)
          controls.foreach { sw =>
            st = GateState(enabled = true, now + sw.durationMs)
          }
          if (st.enabled && now >= st.disableAtMs) st = GateState(enabled = false, 0L)
          if (st.enabled)
            data.sortBy(_.ts).map(Routed.toReading).foreach(out += _)
          state.update(st)
          out.result().iterator
      }
  }

  // ------------------------------------------------------------------ P7
  case class ThresholdState(threshold: Option[Double], lastTemp: Option[Double])

  /** P7 — UpdatableTemperatureAlertFunction
    * (`chapter7/BroadcastStateFunction.scala:69-126`): per-sensor alert
    * thresholds streamed in as config; `threshold == 0.0` removes the key's
    * config. The reference broadcasts the config to every task; here config
    * records are *keyed* like the data (same sensor id), so they meet their
    * group's state directly — no broadcast needed, and the pattern scales to
    * per-key config cardinality a broadcast map could not hold. */
  def updatableAlerts(readings: Dataset[SensorReading],
      thresholds: Dataset[ThresholdUpdate]): Dataset[(String, Double, Double)] = {
    val spark = readings.sparkSession
    import spark.implicits._
    val routed = readings.map(Routed.ofReading _).union(thresholds.map(Routed.ofThreshold _))
    routed.groupByKey(_.key)
      .flatMapGroupsWithState[ThresholdState, (String, Double, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id, rows, state: GroupState[ThresholdState]) =>
          var st = state.getOption.getOrElse(ThresholdState(None, None))
          val out = Seq.newBuilder[(String, Double, Double)]
          val (controls, data) = rows.toSeq.partition(_.kind == Routed.KindThreshold)
          controls.foreach { t =>
            st = st.copy(threshold = if (t.threshold == 0.0) None else Some(t.threshold))
          }
          data.sortBy(_.ts).foreach { r =>
            for (thr <- st.threshold; last <- st.lastTemp) {
              val diff = math.abs(r.temp - last)
              if (diff > thr) out += ((id, r.temp, diff))
            }
            st = st.copy(lastTemp = Some(r.temp))
          }
          state.update(st)
          out.result().iterator
      }
  }

  // --------------------------------------------------------------- P8/P9
  case class Count(n: Long)

  /** P8 — HighTempCounter (`chapter7/CheckpointedFunctionExample.scala:45-85`):
    * per-sensor running count of readings above `threshold`, emitted as
    * (id, count) updates. The reference's per-operator-instance ListState
    * total is a runtime artifact; the quantity it computes is the global
    * count = sum over keys (aggregate downstream). */
  def highTempCounts(readings: Dataset[SensorReading], threshold: Double)
      : Dataset[(String, Long)] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.id)
      .flatMapGroupsWithState[Count, (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id, rows, state: GroupState[Count]) =>
          val prev = state.getOption.map(_.n).getOrElse(0L)
          val add = rows.count(_.temperature > threshold)
          if (add > 0) {
            val n = prev + add
            state.update(Count(n))
            Iterator.single((id, n))
          } else Iterator.empty
      }
  }
}
