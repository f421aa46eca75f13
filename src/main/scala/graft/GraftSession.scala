package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one session builder: every main (`Bench`, `Verify`, `Explain`,
  * `ScaleStress`) and the test suite take their session from [[apply]],
  * so the posture the suite is tested under is the one the mains run.
  *
  * The posture: `local[cores]`, [[GraftExtensions]], shuffle partitions
  * = cores, byte-sized post-shuffle coalescing, UTC session time and no
  * UI. Coalescing by BYTES (`advisoryPartitionSizeInBytes`) instead of
  * the parallelism floor: with the default parallelism-first coalescing
  * every tiny reduce stage keeps `defaultParallelism` near-empty tasks,
  * and a 300-entry suite pays task-dispatch and per-partition constants
  * everywhere. Measured full-surface A/B at sf0.1: 392.2 s -> 353.8 s
  * (median per-entry 0.93×). Results are partitioning-independent, so
  * the correctness surface is unchanged.
  */
object GraftSession {
  /** Worker threads of a main's session: `SPARK_GRAFT_CPUS`, else every
    * core of the host. */
  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session in the posture above on `cores` worker threads, plus any
    * confs `SPARK_GRAFT_EXTRA_CONF` sets. */
  def apply(cores: Int = envCores, logLevel: String = "ERROR"): SparkSession = {
    // A/B hook for optimization experiments: extra runtime confs as
    // "k=v;k=v". Absent, the session is exactly the posture below. Every
    // applied conf is echoed so an A/B run is self-describing — a leaked
    // env var can never alter results without a trace in the log.
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(parseExtraConf)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    extra.foreach { case (k, v) =>
      spark.conf.set(k, v)
      System.err.println(s"[graft:conf] extra conf applied: $k=$v")
    }
    spark
  }

  /** `"k=v;k=v"` → pairs, trimmed. Empty segments are skipped and a value
    * keeps any further `=`; an entry with no `=` or an empty key throws,
    * because a mistyped conf would otherwise run the unmodified session
    * under a log that reads like an A/B run. */
  private[graft] def parseExtraConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not k=v")
      }
    }

  /** Forces every value of `df` and returns its row count: xxhash64 over
    * all columns, xor-folded (bit_xor can't overflow under ANSI mode,
    * unlike a sum of longs). A bare count() lets Catalyst prune the
    * projections and unread aggregates to a near-empty scan. */
  private[graft] def materialize(df: DataFrame): Long = {
    val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
    df.select(h.as("h")).agg(bit_xor(col("h")), count(lit(1)))
      .collect()(0).getLong(1)
  }

  /** Releases session-accumulated executor state (cached frames,
    * localCheckpoint blocks, GC debt) so the next timed run measures its
    * own plan, not its predecessors' debris. */
  private[graft] def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Blocks until the async listener bus is empty, so every event of the
    * jobs run so far has reached its listeners. `waitUntilEmpty` is
    * private[spark] — bytecode-public, reached via reflection. */
  private[graft] def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val m = bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount <= 1)
      .get
    if (m.getParameterCount == 0) m.invoke(bus)
    else m.invoke(bus, java.lang.Long.valueOf(30000L))
  }
}
