package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A user behavior event on the ingest stream (epoch-millis timestamp). */
case class UserEvent(user_id: Long, timestamp: Long, event_type: String)

/** A funnel stage completion: stage 1 = view, 2 = click, 3 = purchase;
  * `us` is the committing event's epoch-µs time. */
case class FunnelHit(user_id: Long, stage: Int, us: Long)

/** Per-user funnel machine + watermark buffer. `vt/ct/pt` are committed
  * stage times in µs (Long.MinValue = not reached); `bufTs`/`bufTy` hold
  * events still ahead of the watermark. */
case class FunnelMachine(bufTs: Seq[Long], bufTy: Seq[String],
    vt: Long, ct: Long, pt: Long)

/** Online ordered-funnel detection — `ev_funnel`'s streaming twin and the
  * Spark-native answer to Flink-CEP-style sequence patterns: each user's
  * view → click → purchase progress is tracked in keyed state and a
  * [[FunnelHit]] is appended the moment a stage commits.
  *
  * Watermark-EXACT (the `asofEnrichExact` machinery): events buffer in
  * state until the watermark passes their event time, then fold into the
  * stage machine in EVENT-TIME order — so out-of-order arrival within the
  * watermark can never commit a wrong stage (a click arriving before its
  * anchoring view still counts only if its event time follows the view's).
  * Events later than the watermark are dropped by the exec, the same
  * envelope every watermarked aggregation has. State per user is the
  * in-flight watermark window plus three longs — bounded by user activity
  * rate, not stream length; a completed funnel's machine keeps only the
  * three longs (buffer always drains).
  *
  * Semantics folded (identical to the batch `ev_funnel` oracle): first
  * view anchors; earliest click strictly after the view within [[stepUs]];
  * earliest purchase strictly after that click within [[stepUs]].
  */
object FunnelStream {

  /** Funnel step window (µs) — matches the batch twin. */
  val stepUs: Long = 24L * 3600 * 1000 * 1000

  private val unset = Long.MinValue

  def funnelStream(events: Dataset[UserEvent], delay: String = "10 seconds")
      : Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withWatermark("ts", delay)
      .as[UserEvent](Encoders.product[UserEvent])
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelMachine, FunnelHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[FunnelMachine]) =>
          val w = state.getCurrentWatermarkMs() * 1000L // µs
          val st = state.getOption.getOrElse(FunnelMachine(Nil, Nil, unset, unset, unset))
          // stage incoming rows into the buffer (µs event times)
          val add = rows.map(e => (e.timestamp * 1000L, e.event_type)).toSeq
          val bufTs = st.bufTs ++ add.map(_._1)
          val bufTy = st.bufTy ++ add.map(_._2)
          // fold everything at or behind the watermark, in event-time order
          val (ripe, pending) = (bufTs zip bufTy).partition(_._1 <= w)
          var (vt, ct, pt) = (st.vt, st.ct, st.pt)
          val hits = Seq.newBuilder[FunnelHit]
          ripe.sortBy(_._1).foreach { case (ts, ty) =>
            ty match {
              case "view" if vt == unset =>
                vt = ts; hits += FunnelHit(uid, 1, ts)
              case "click" if vt != unset && ct == unset &&
                  ts > vt && ts <= vt + stepUs =>
                ct = ts; hits += FunnelHit(uid, 2, ts)
              case "purchase" if ct != unset && pt == unset &&
                  ts > ct && ts <= ct + stepUs =>
                pt = ts; hits += FunnelHit(uid, 3, ts)
              case _ => // stage already committed, out of window, or non-funnel type
            }
          }
          state.update(FunnelMachine(pending.map(_._1), pending.map(_._2), vt, ct, pt))
          // wake when the watermark passes the oldest pending event (clamped
          // ahead of the current watermark — a past timer kills the query)
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(pending.map(_._1).min / 1000L + 1, state.getCurrentWatermarkMs() + 1))
          hits.result().iterator
      }
  }
}
