package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Aggregators
import graft.sources.EventSources

/** Lake-facing sources/sinks and the typed Aggregator surface. */
class SourcesSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  test("streaming parquet source: tail a lake table, agg matches batch") {
    // file streaming sources tail a DIRECTORY of files (the lake-table
    // shape) — stage the single-file fixture into one
    val path = tempPath("lake")
    new java.io.File(path).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/lineitem.parquet"),
      java.nio.file.Paths.get(s"$path/part-000.parquet"))
    val stream = EventSources.parquetStream(spark, path, maxFilesPerTrigger = 2)
    val agg = stream.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val got = mutable.Map.empty[String, Long]
    val q = agg.writeStream.outputMode("complete")
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        got.synchronized {
          got.clear()
          b.collect().foreach(r =>
            got(r.getString(0)) = r.getLong(1))
        }; ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val batch = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").groupBy("l_returnflag").count()
      .as[(String, Long)].collect().toMap
    assert(got.toMap == batch)
  }

  test("streaming json and csv sources: tailed aggregates match batch") {
    val base = tempPath("textsrc")
    val jsonDir = s"$base/json"; val csvDir = s"$base/csv"
    new java.io.File(jsonDir).mkdirs(); new java.io.File(csvDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$jsonDir/part-0.json"),
      """{"k":"a","v":1}
        |{"k":"a","v":2}
        |{"k":"b","v":5}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$csvDir/part-0.csv"),
      "k,v\na,1\na,2\nb,5\n")
    def drain(src: DataFrame): Map[String, Long] = {
      val got = mutable.Map.empty[String, Long]
      val q = src.groupBy("k").agg(sum(col("v").cast("long")).as("s"))
        .writeStream.outputMode("complete")
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.synchronized {
            got.clear()
            b.collect().foreach(r =>
              got(r.getAs[String]("k")) = r.getAs[Long]("s"))
          }; ()
        }.start()
      q.processAllAvailable(); q.stop()
      got.synchronized(got.toMap)
    }
    assert(drain(EventSources.jsonStream(spark, jsonDir)) ==
      Map("a" -> 3L, "b" -> 5L))
    assert(drain(EventSources.csvStream(spark, csvDir)) ==
      Map("a" -> 3L, "b" -> 5L))
  }

  test("partitioned sink: reads prune partitions (scan shows filters)") {
    val dir = tempPath("part")
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    EventSources.writePartitioned(df, dir, Seq("l_returnflag"))
    val read = spark.read.parquet(dir).where(col("l_returnflag") === "R")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("l_returnflag"),
      s"expected partition pruning in plan:\n$plan")
    assert(read.count() ==
      df.where(col("l_returnflag") === "R").count())
  }

  test("stream -> lake roundtrip: windowed agg lands in partitioned parquet") {
    import graft.core.EventEnvelope
    import graft.streaming._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ps = new PubSub(spark)
    val t = ps.topic[Double]("to-lake")
    val out = tempPath("lakeout")
    val agg = TemporalOps.batchSum[Double]("10 seconds")(t.stream)
      .withColumn("day", date_format(col("window_start"), "yyyy-MM-dd"))
    val q = agg.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        // append-mode rows are final (watermark-closed) — safe to append
        // to the lake partitioned by day
        if (!b.isEmpty) b.write.mode("append").partitionBy("day").parquet(out)
        ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(ts(1), 1.5), EventEnvelope.at(ts(3), 2.5),
      EventEnvelope.at(ts(12), 4.0),
      EventEnvelope.at(ts(25), 9.9))) // closes both earlier windows
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(out)
      .select("window_start", "sum_value")
      .as[(java.sql.Timestamp, Double)].collect().toMap
    assert(back == Map(
      new java.sql.Timestamp(1700000000000L) -> 4.0,
      new java.sql.Timestamp(1700000010000L) -> 4.0))
    ps.close()
  }

  test("CountMinSketch: overcounts bounded, heavy hitter recovered") {
    val words = Seq.fill(500)("hot") ++
      (1 to 300).map(i => s"tail$i") // 800 tokens, one heavy hitter
    val cms = Aggregators.countMin(4, 256)
    val sketch = words.toDF("w").as[String]
      .repartition(7) // force partial-merge path across partitions
      .select(cms.toColumn).head()
    val hot = cms.estimate(sketch, "hot")
    assert(hot >= 500 && hot <= 500 + (2 * 800 / 256) + 8) // CMS overcount bound (slack)
    val absent = cms.estimate(sketch, "never-seen")
    assert(absent <= 2 * 800 / 256 + 8)
  }

  test("CmsBuckets expression matches the aggregator's bucket function") {
    val (depth, width) = (4, 256)
    val cms = Aggregators.countMin(depth, width)
    val keys = Seq("hot", "tail1", "", "a b", "日本語")
    val fromExpr = keys.toDF("k")
      .select(col("k"), graft.expressions.CmsBuckets(col("k"), depth, width)
        .as("bks"))
      .as[(String, Seq[Int])].collect().toMap
    keys.foreach { k =>
      assert(fromExpr(k) == (0 until depth).map(r => cms.bucket(r, k)),
        s"bucket divergence for '$k' would silently zero all estimates")
    }
  }

  test("EnvelopeSum aggregator: sum with merged stamp lineage") {
    import graft.core.EventEnvelope
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ds = Seq(
      EventEnvelope.at(ts(3), 1.5), EventEnvelope.at(ts(1), 2.0),
      EventEnvelope.at(ts(7), 0.5)).toDS()
    val out = ds.select(Aggregators.envelopeSum.toColumn).head()
    assert(out.content == 4.0)
    assert(out.stamp.start_time == ts(1)) // min input start
    assert(out.stamp.end_time == ts(7))   // max input end
  }
}
