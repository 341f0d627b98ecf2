package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time stamp: an interval plus opaque string metadata.
  *
  * Mirrors the reference's `TimeStamp` (reference:
  * pkg/events/timestamps.go:12-16): fresh events carry a degenerate
  * interval (start == end); derived events span the interval of every
  * input event that produced them.
  */
final case class Stamp(
    start_time: Timestamp,
    end_time: Timestamp,
    meta: Map[String, String]) {

  /** Merge with another stamp: min start, max end, union of metas with
    * `other` winning on key collision (reference:
    * pkg/events/timestamper.go:22-50).
    */
  def merge(other: Stamp): Stamp = Stamp(
    if (start_time.before(other.start_time)) start_time else other.start_time,
    if (end_time.after(other.end_time)) end_time else other.end_time,
    meta ++ other.meta)
}

object Stamp {
  def at(t: Timestamp): Stamp = Stamp(t, t, Map.empty)
  def now(): Stamp = at(new Timestamp(System.currentTimeMillis()))

  /** Fold many stamps into the derived-event stamp (min start / max end /
    * later-wins meta union). Reference: pkg/events/timestamper.go:22-50.
    */
  def mergeAll(stamps: Seq[Stamp]): Stamp = stamps.reduceLeft(_ merge _)

  /** Aggregation columns that compute a merged stamp over grouped rows —
    * the DataFrame-side equivalent of `NewEventFromOthers`
    * (reference: pkg/events/event.go:42-44). Meta union uses later-wins
    * semantics via map_from_entries over collected entries.
    */
  def mergedStampCols(stampCol: String = "stamp"): Seq[Column] = Seq(
    min(col(s"$stampCol.start_time")).as("start_time"),
    max(col(s"$stampCol.end_time")).as("end_time"))
}

/** A timestamped event carrying an arbitrary payload — the unit of the
  * reference's data model (reference: pkg/events/event.go:9-17). In
  * DataFrame form this is a `stamp` struct column + content column(s).
  */
final case class EventEnvelope[T](stamp: Stamp, content: T)

object EventEnvelope {
  def of[T](content: T): EventEnvelope[T] = EventEnvelope(Stamp.now(), content)
  def at[T](t: Timestamp, content: T): EventEnvelope[T] =
    EventEnvelope(Stamp.at(t), content)
  def at[T](t: Timestamp, content: T,
      meta: Map[String, String]): EventEnvelope[T] =
    EventEnvelope(Stamp(t, t, meta), content)

  /** Lift a plain DataFrame with an event-time column into envelope form:
    * adds a `stamp` struct(start_time, end_time, meta) built from `tsCol`.
    */
  def withStamp(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn(
      "stamp",
      struct(
        col(tsCol).as("start_time"),
        col(tsCol).as("end_time"),
        map().cast("map<string,string>").as("meta")))

  /** The event-time step every streaming window operator starts from:
    * an `event_time` column holding the stamp's start, watermarked with
    * `delay`.
    */
  def withEventTime(df: DataFrame, delay: String): DataFrame =
    df.withColumn("event_time", col("stamp.start_time"))
      .withWatermark("event_time", delay)
}
