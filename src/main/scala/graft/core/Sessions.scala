package graft.core

import org.apache.spark.sql.SparkSession
import scala.util.chaining._

/** One place to build correctly-tuned sessions for this engine.
  *
  * Scale stance: these settings are what we would ship to a 1000-executor
  * cluster, modulo `master`. AQE handles runtime re-planning (skew joins,
  * partition coalescing); shuffle partitions default low for local mode and
  * would be raised (or left to AQE) on a real cluster.
  *
  * Streaming checkpoints go through [[NioCheckpointFileManager]]. Each
  * micro-batch writes an offset-log and a commit-log file, and without
  * Hadoop's native library the local filesystem forks `chmod`/`readlink`
  * shell commands for each one: that fixed per-batch cost set most of
  * the pub/sub round trip. The manager writes and renames local
  * checkpoint files with java.nio instead; paths on any non-local
  * filesystem (HDFS, S3, ...) keep the manager Spark would pick on its
  * own, so cluster behaviour is unchanged.
  */
object Sessions {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    tune(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()

  /** Multi-process execution override — the cheapest stand-in for a
    * real cluster this container can run. `SPARK_GRAFT_MASTER=
    * local-cluster[2,8,4096]` re-points ANY session built through here
    * (Verify, Bench, every spec) at real executor JVMs launched by an
    * in-process standalone master/worker pair: separate heaps, real
    * closure/encoder serialization, real broadcast + shuffle transport —
    * the bug classes `local[n]`'s single JVM structurally cannot
    * surface. `SPARK_GRAFT_JARS` (comma-separated) ships the
    * application — and, for specs, test — classes to those executors;
    * `SPARK_GRAFT_EXECUTOR_MEM` sizes their heaps under the worker's
    * memory budget (default 3g under the 4096 MB worker above).
    * Unset env → builders pass through untouched (the normal path).
    */
  private def masterOverride(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_MASTER").fold(b) { m =>
      val withM = b.master(m)
      val withJ = sys.env.get("SPARK_GRAFT_JARS")
        .fold(withM)(j => withM.config("spark.jars", j))
      withJ.config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
    }

  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    masterOverride(b)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // The raise-partitions-at-scale dial the scaladoc above promises,
      // made concrete: big shuffle stages START at this width (small
      // per-task sorts — a sort that fits executor memory spills its
      // input to disk ~once; one that doesn't re-spills it repeatedly)
      // and AQE coalesces SMALL stages back down, so low-SF plans are
      // unchanged. Default = shufflePartitions, which is AQE's own
      // default initial width — a no-op unless the env raises it. The
      // mult=300 scale harness sets 512: the auto-LSH candidate
      // DISTINCT there is ~10⁹ rows, and at width 24 its per-task sort
      // re-spilled past the host's entire free disk (measured twice)
      // while width 512 holds each sort in memory.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
          shufflePartitions.toString))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Like the initial-partitions dial: a deployment-sizing knob with
      // the local default unchanged. Big-memory executors routinely run
      // 256-512 MB broadcast thresholds; the mult=300 harness sets
      // 512m so the embed verify join-back broadcasts the ~180 MB
      // vector table instead of shuffling 256-byte arrays onto ~10⁹
      // candidate pairs (a ~200 GB shuffle — linear and trivially
      // spread on a 1000-executor cluster, but past this single
      // host's disk; broadcasting the SMALL side is what that cluster
      // would do too).
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BROADCAST_THRESHOLD",
          (64L * 1024 * 1024).toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.spill.compress", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // Shuffle-file retention is a scale contract (mult=1000 lesson,
      // SCALE.md seventh point): ContextCleaner frees shuffle files only
      // on driver GC, and the default ~30-min cadence let ~50 GB of dead
      // shuffle files from a multi-query run (Verify dump batches, Bench
      // suites) accumulate into no-space aborts. Whenever a scale dial is
      // set (the mult>=300 harness signature) the fast periodic GC rides
      // along automatically; SPARK_GRAFT_PERIODIC_GC overrides either way.
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC",
          if (sys.env.contains("SPARK_GRAFT_INITIAL_PARTITIONS") ||
              sys.env.contains("SPARK_GRAFT_BROADCAST_THRESHOLD")) "60s"
          else "30min"))
      .config("spark.ui.enabled", "false")
      .config(NioCheckpointFileManager.ConfKey,
        classOf[NioCheckpointFileManager].getName)
      // Heartbeat resilience (mult=1000 lesson #2): under a saturating
      // stage the single-JVM driver's RPC dispatcher can starve long
      // enough that the IN-PROCESS executor misses 60 consecutive 10-s
      // heartbeats and kills itself with SparkExitCode 56 — in local
      // mode executor and driver share fate, so the suicide only turns
      // a busy dump into a dead one (it cost a full 35-min mult=1000
      // Verify attempt). Widened ONLY when the effective master is the
      // in-process local[n] (no SPARK_GRAFT_MASTER override): on a real
      // cluster — and under the local-cluster[..] stand-in, whose
      // executors are separate JVMs — heartbeats carry genuine liveness
      // signal, and a 30s/600s/1000-failure budget would let a hung
      // executor evade self-exit for hours while the driver's
      // lost-executor detection widens from 120s to 600s. There the
      // Spark defaults stand unless the env overrides explicitly.
      .pipe(b => heartbeatSettings(sys.env).foldLeft(b) {
        case (bb, (k, v)) => bb.config(k, v)
      })

  /** The heartbeat/network/failure-budget entries `tune` applies, as a
    * pure function of the environment (spec-pinned in SessionsSpec).
    * No SPARK_GRAFT_MASTER → in-process local[n]: widen all three.
    * SPARK_GRAFT_MASTER set (local-cluster stand-in or a real cluster)
    * → emit nothing, Spark's defaults stand; the explicit
    * SPARK_GRAFT_HEARTBEAT / SPARK_GRAFT_NETWORK_TIMEOUT env vars win
    * in either mode.
    */
  private[graft] def heartbeatSettings(
      env: Map[String, String]): Seq[(String, String)] = {
    val inProcessLocal = !env.contains("SPARK_GRAFT_MASTER")
    Seq(
      ("spark.executor.heartbeatInterval",
        "SPARK_GRAFT_HEARTBEAT_INTERVAL", "30s"),
      ("spark.network.timeout", "SPARK_GRAFT_NETWORK_TIMEOUT", "600s"),
      ("spark.executor.heartbeat.maxFailures",
        "SPARK_GRAFT_HEARTBEAT_MAX_FAILURES", "1000")
    ).flatMap { case (key, envKey, localDefault) =>
      env.get(envKey)
        .orElse(if (inProcessLocal) Some(localDefault) else None)
        .map(key -> _)
    }
  }

  /** Fail fast when a Spark main is launched via bare `java -cp` without
    * the JDK17 `--add-opens` set (build.sbt's `javaOptions` list): without
    * them Spark 4's Platform/Kryo paths fail much later with obscure
    * IllegalAccess/serialization errors — at mult=1000 that cost a full
    * dump attempt. sbt-forked JVMs always carry the opens; a direct
    * launch must pass them (the `/tmp/jdk_opens.txt` pattern). Call from
    * every main before building a session.
    */
  def assertJdkOpens(): Unit = {
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    import scala.jdk.CollectionConverters._
    val opens = args.asScala.filter(_.contains("--add-opens")) ++
      args.asScala.filter(_.startsWith("java.base/"))
    val need = "java.base/sun.nio.ch"
    val have = args.asScala.mkString(" ").contains(need)
    if (!have)
      throw new IllegalStateException(
        s"JVM launched without --add-opens (missing $need): Spark 4 on " +
          "JDK 17 needs build.sbt's javaOptions add-opens list. Run " +
          "through sbt, or pass the list (see build.sbt javaOptions / " +
          s"the jdk_opens.txt pattern). Saw ${opens.size} open-ish args.")
  }

  /** Quiet the "RDD was locally checkpointed, its lineage has been
    * truncated and cannot be recomputed after unpersisting" WARN spam.
    * The two-generation checkpoint discipline (Components / Bpe / Ann,
    * through Materialize.free) unpersists SUPERSEDED generations on
    * purpose — the data is never referenced again, so the warning
    * describes intended behavior, and at bench scale it floods the tail
    * of the log the driver captures. Scoped to the org.apache.spark.rdd
    * category only (scheduler/storage warnings stay on).
    */
  def quietSupersededCheckpointWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

  /** Streaming-at-scale add-on: RocksDB state store. The default in-memory
    * (HDFS-backed) provider holds all keyed state on-heap — fine for tests,
    * fatal for 100 TB keyed counting windows / stream joins. RocksDB spills
    * state to local disk with incremental checkpointing.
    *
    * Exercised by RocksDbStateSpec (dedup + keyed gapless under this
    * provider, outputs identical to the in-memory store) and by
    * StreamBench under `SPARK_GRAFT_STATE_STORE=rocksdb`; the measured
    * cost is in SCALE.md §"RocksDB state store".
    */
  def tuneLargeState(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // State-locality dials for the put/get-heavy ingest stages (the
      // 60-76% of the per-doc budget SCALE.md attributes to the two
      // stateful stages). Spark's RocksDB block cache defaults to 8 MB
      // — far under a growing band-claim working set, so point lookups
      // miss to SST reads; raising it keeps the hot index/filter/data
      // blocks resident. trackTotalNumberOfRows=false drops the
      // get-before-put RocksDB does per mutation to maintain exact row
      // counts in metrics (docs: a documented write-path lever; the
      // count becomes approximate, nothing in this engine consumes
      // it). Both env-gated with Spark's defaults preserved; measured
      // in SCALE.md's ingest-state-levers row.
      .config("spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB",
        sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_BLOCK_CACHE_MB", "8"))
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_TRACK_ROWS", "true"))
}
