package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.core.EventEnvelope
import graft.queries.Tables

/** Sources and sinks.
  *
  * The reference supports only in-memory publishers plus JSON-bytes
  * ingestion into map events (reference: NewEventFromJSON,
  * pkg/events/event.go:54-62; README limitation :29-31 — no external
  * connectors). This engine keeps the in-memory path
  * (graft.streaming.PubSub) and adds the connectors a Spark deployment
  * gets for free: parquet/json/csv batch and streaming file sources, and
  * file sinks. At 100 TB the parquet streaming source with
  * maxFilesPerTrigger is the backpressure knob (the reference's bounded
  * buffers, buffer.go:514-561, become source-side rate control).
  */
object EventSources {

  /** Parse a JSON-string column into a map event — the reference's
    * map[string]any dynamic payload (NewEventFromJSON; numbers arrive as
    * float64/double there, so values stringify identically).
    */
  def jsonToMapEvent(df: DataFrame, jsonCol: String): DataFrame =
    df.withColumn("content",
      from_json(col(jsonCol), MapType(StringType, StringType)))

  /** Batch-read one fixture table (nanos-aware). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Streaming file source over a parquet directory. Schema is read from
    * the existing files (one footer on the driver, [[Tables.read]]);
    * `maxFilesPerTrigger` bounds per-batch intake (backpressure). This is
    * how the engine tails a 100 TB lake table.
    */
  def parquetStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(Tables.read(spark, path).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Streaming JSON-lines source. Streaming readers need a schema up
    * front; pass one, or let the helper infer from the files already
    * present — fine for a fixture, but at lake scale inference is a
    * full extra scan, so production callers pass the schema.
    */
  def jsonStream(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema.getOrElse(spark.read.json(path).schema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** Streaming CSV source (same schema contract as [[jsonStream]]). */
  def csvStream(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      header: Boolean = true,
      maxFilesPerTrigger: Int = 16): DataFrame = {
    val inferred = schema.getOrElse(
      spark.read.option("header", header).option("inferSchema", true)
        .csv(path).schema)
    spark.readStream
      .schema(inferred)
      .option("header", header)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(path)
  }

  /** Lift a DataFrame with an event-time column into envelope shape
    * (stamp struct + content columns) — the bridge from lake tables to
    * the event model.
    */
  def withStamp(df: DataFrame, tsCol: String): DataFrame =
    EventEnvelope.withStamp(df, tsCol)

  /** Partitioned parquet sink for batch results: partition by the given
    * columns so downstream reads prune (at 100 TB, partition pruning is
    * the first-order win).
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }
}
