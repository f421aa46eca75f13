package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Benchmark main. Runs every registered query on SPARK_GRAFT_SF_DIR,
  * forcing full materialization (xxhash64-agg over every column — a count()
  * lets Catalyst collapse projections to a near-empty scan), two passes,
  * reporting best-of-two: the first pass absorbs JVM/codegen warmup, and a
  * transient contention spike in either pass can't fake a regression.
  * Emits ONE clean JSON line on stdout and mirrors it to
  * bench_result.json so the driver's parse never depends on sbt log
  * formatting. Failures are reported as null timings, not swallowed.
  */
object Bench {
  /** Host-speed control probe: a fixed synthetic workload (100M-row
    * codegen'd hash projection + a 1M-key shuffle aggregate) that shares
    * NO code path or testdata with any entry, so its timing moves only
    * when the machine does. Pinned against [[HostRefSec]] — the
    * quietest warm reading observed across round 13 (2.41 s during the
    * idle full-bench run; ambient-load runs the same day read
    * 3.4-3.9 s) — so host_factor ≈ 1.0 means "as idle as this host
    * gets" and > 1 means contention. The absolute anchor is arbitrary;
    * what adjudicates cross-round drift is the RATIO: entries
    * regressing together with host_factor is a loaded host, an entry
    * regressing alone is a plan change. Rounds 10-12 each lost
    * 2×-class readings to exactly this ambiguity (r12's
    * ann_index_persist 6.50 s → 3.92 s at r13's idle control, no code
    * change).
    */
  private def hostControl(spark: SparkSession): Double = {
    // the probe's EXECUTION SHAPE is pinned to its round-13 calibration
    // (parallelism-first AQE coalescing, the Spark default), independent
    // of the session's own tuning: the control exists to compare HOSTS
    // across rounds, so a session-level plan-shape change must never
    // move it (r20 set parallelismFirst=false session-wide; unpinned,
    // that halves the probe's reduce parallelism and breaks the 2.4 s
    // reference anchor)
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, 32)
        .select((col("id") % 1000000L).as("k"), xxhash64(col("id")).as("h"))
        .groupBy("k").agg(bit_xor(col("h")).as("x"))
        .agg(bit_xor(col("x"))).collect()
      (System.nanoTime() - t0) / 1e9
    } finally spark.conf.set(key, prev)
  }

  /** Round-13 idle-host calibration of [[hostControl]] (see its doc). */
  private val HostRefSec = 2.4

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    // optional args restrict the run (local iteration aid); an unknown
    // name is a typo, and a silently-empty run would read as "fast"
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      val unknown = args.filterNot(all.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      if (args.isEmpty) all else all.filter(args.toSet)
    }
    // Phase breakdowns for composite entries (PhaseTimer), keyed
    // "<query>.<stage>". Phases are carried PER PASS alongside the
    // timing, and the emitted breakdown is the one from the pass whose
    // timing won best-of — attaching a slow pass's phases to a fast
    // pass's total made sums exceed the entry by 3× (r19 close:
    // st_ann_index_upsert phases 22.2 s vs 6.3 s entry).
    // Per-entry host adjudication (r13 verdict task 4): ONE control
    // probe bracketing the whole suite mis-normalizes — same-day runs
    // disagreed by 40% because host load drifts WITHIN a 25-minute
    // pass. So a control probe is interleaved before every GROUP of
    // GroupSize consecutive entries (and before each isolated re-run),
    // and each entry's reported timing carries the control reading of
    // the group it was measured in (`query_controls` in the output).
    // Cross-round adjudication is then per-entry: an entry whose
    // timing and group control moved together is host drift; an entry
    // regressing against a quiet group control is a plan change. Still
    // a flag, not a divisor — quiet-window re-times remain the ground
    // truth.
    val GroupSize = 24
    // timing, group control, and THIS pass's phase breakdown
    type Meas = (Double, Double, Map[String, Double])
    def onePass(tag: String, subset: Seq[String]): Map[String, Meas] =
      subset.grouped(GroupSize).flatMap { group =>
        val ctl = hostControl(spark)
        System.err.println(f"[bench:$tag] group control $ctl%.3fs " +
          s"(entries ${group.head}..${group.last})")
        group.flatMap { n =>
          val t0 = System.nanoTime()
          PhaseTimer.drain() // clear anything a failed predecessor left
          try {
            GraftSession.materialize(SparkEntry.queries(n)(spark, sfDir))
            val dt = (System.nanoTime() - t0) / 1e9
            val ph = PhaseTimer.drain()
            ph.foreach { case (p, v) =>
              System.err.println(f"[bench:$tag]   $n.$p $v%.2fs")
            }
            System.err.println(f"[bench:$tag] $n $dt%.2fs")
            Some(n -> ((dt, ctl, ph)))
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench:$tag] $n FAILED: ${e.getMessage}")
              None
          }
        }
      }.toMap
    // Control probe brackets the suite: 3 runs up front (first absorbs
    // codegen warmup; best-of-2 warm = the host reading) and 1 after the
    // isolated pass (did the host drift DURING the bench?).
    val ctlStart = { hostControl(spark); Seq(hostControl(spark), hostControl(spark)).min }
    System.err.println(f"[bench:ctl] host control start $ctlStart%.3fs (ref $HostRefSec%.2fs)")
    val p1 = onePass("p1", names)
    val p2 = onePass("p2", names)
    // Isolated third pass for the slowest warm entries: suite pressure
    // showed up round over round as 3-4× inflation on whichever heavy
    // entry ran behind the checkpoint-heavy ones; best-of including an
    // isolated run makes the reading reflect the plan again. Bounded to
    // the top few so the bench's wall-clock stays dominated by real work.
    // Default 16: round 7 showed rank-7 (dedup_simhash) missing the window
    // and reading 8× its isolated time — the tail of suite-pressure victims
    // is wider than 6.
    val isoTop = sys.env.getOrElse("SPARK_GRAFT_ISOLATE_TOP", "16").toInt
    val slowest = names
      .flatMap(n => p2.get(n).map(n -> _._1))
      .sortBy(-_._2).take(math.max(0, isoTop)).map(_._1)
    val p3 = slowest.flatMap { n =>
      // release suite-accumulated state (entries localCheckpoint
      // intermediates): the isolated re-run times the QUERY
      GraftSession.quiesce(spark)
      onePass("iso", Seq(n)) // its own group: per-entry control
    }.toMap
    // min over passes by TIMING; the winning pass's group control AND
    // phase breakdown ride along, so per-entry drift is adjudicated
    // against the host reading taken minutes away, and phase sums can
    // never exceed the entry they're attached to
    val results: Seq[(String, Option[Meas])] = names.map { n =>
      // a query must succeed in the warm pass to count; p1-only success
      // (e.g. a flaky external resource) is not a benchmarkable state
      n -> p2.get(n).map(t2 =>
        (Seq(t2) ++ p1.get(n) ++ p3.get(n)).minBy(_._1))
    }
    val qs = results.map {
      case (k, Some((v, _, _))) => "\"" + k + "\":" + f"$v%.3f"
      case (k, None) => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val qctl = results.flatMap {
      case (k, Some((_, c, _))) => Some("\"" + k + "\":" + f"$c%.3f")
      case _ => None
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2.map(_._1)).sum
    val nFailed = results.count(_._2.isEmpty)
    val ph = results.flatMap {
      case (n, Some((_, _, p))) =>
        p.toSeq.map { case (k, v) => s"$n.$k" -> v }
      case _ => Nil
    }.sorted
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // Key order is load-bearing for the driver, not for JSON semantics:
    // the driver keeps only the LAST ~2000 chars of stdout, and 170+
    // per-query timings push a leading summary out of that window (rounds
    // 5-7 recorded parsed:null). Emitting queries/phases FIRST keeps
    // metric/value/failed inside the captured tail; bench_result.json
    // still holds the full clean line.
    val ctlEnd = hostControl(spark)
    System.err.println(f"[bench:ctl] host control end $ctlEnd%.3fs")
    // host_factor uses the BEST control reading of the run: transient
    // load during one probe can't overstate the host penalty, while a
    // genuinely slow host slows every probe. >1 = slower than the pinned
    // calibration host; divide entry timings by it to compare rounds.
    val hostFactor = math.min(ctlStart, ctlEnd) / HostRefSec
    val line =
      f"""{"queries":$qs,"query_controls":$qctl,"phases":$ph,"group_size":$GroupSize,"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","failed":$nFailed,"host_control_sec":${math.min(ctlStart, ctlEnd)}%.3f,"host_control_end_sec":$ctlEnd%.3f,"host_ref_sec":$HostRefSec%.2f,"host_factor":$hostFactor%.3f}"""
    // self-check the one-line contract BEFORE emitting: a line that
    // doesn't parse (e.g. a query name with a stray quote, or a future
    // format edit) would silently blind the driver's per-query
    // comparison for a whole round (r19's artifact did exactly that) —
    // fail the run loudly instead
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    println(line)
    Files.writeString(Paths.get("bench_result.json"), line)
    spark.stop()
  }
}
