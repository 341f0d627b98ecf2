package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** One benchmark run in one JVM: set up, measure a closed loop for the
  * requested seconds, check outputs, and write the raw record (samples,
  * checks, set-up parts, host state and — when traced — spans and
  * listener events) as one JSON object to `--out`. run.py turns that
  * record into the reported metrics.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --data <fixture dir> --work <scratch dir>
  *     --out <file>
  */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "pubsub_roundtrip" -> PubSubRoundtrip,
    "batch_headliners" -> BatchHeadliners)
  /** Spark's local cores, also its shuffle partitions. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String =
      opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.getOrElse(need("workload"),
      sys.error(s"unknown workload ${need("workload")}; have " +
        Workloads.keys.toSeq.sorted.mkString(", ")))
    val run = new Run(
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      traced = need("trace") == "1",
      dataDir = need("data"),
      workDir = need("work"))

    val t0 = System.nanoTime()
    val spark = Sessions.tune(SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.streaming.checkpointLocation",
        s"${run.workDir}/checkpoints")
      .config("spark.local.dir", s"${run.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${run.workDir}/warehouse"),
      Cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.quietSupersededCheckpointWarnings()
    run.setupPart("core.session_s", (System.nanoTime() - t0) / 1e9)

    try workload.run(spark, run)
    finally spark.stop()
    val out = new java.io.File(need("out"))
    java.nio.file.Files.write(out.toPath,
      Json.render(run.record(workload.name)).getBytes("UTF-8"))
  }

  /** Milliseconds since the epoch at which this JVM started. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
