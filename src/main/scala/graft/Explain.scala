package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool: print the formatted physical plan of registry entries —
  * `runMain graft.Explain [--exec] <sfDir> <query> [query...]`. The
  * session is [[GraftSession]]'s, so the audited plan is the one Verify
  * and Bench run. With `--exec` each entry also runs, and its job census
  * (every Spark job it ran: id, wall time, description) is printed.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // --exec: run the query to completion first, so the printed plan is
    // the AQE FINAL plan (isFinalPlan=true, AQEShuffleRead visible) —
    // the shape runtime coalescing claims must be audited against
    val exec = args.contains("--exec")
    val rest = args.filterNot(_ == "--exec")
    val sfDir = rest(0)
    val names = rest.drop(1)
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession()
    // (job id, wall ms, description) of every job that ENDED since the
    // last census; starts are held until their end arrives
    val started =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val ended =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    // description of every SQL execution started, by execution id
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId, s.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the job's description (a streaming batch sets one), else its
        // SQL execution's (jobs AQE submits from its own threads carry
        // only a CompletableFuture call site), else the call site its
        // result stage is named after
        val prop = (k: String) =>
          Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        val desc = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id")
            .flatMap(id => Option(executions.get(id.toLong))))
          .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("?")
          .replaceAll("\\s+", " ").trim
        started.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(started.remove(je.jobId)).foreach { case (t0, desc) =>
          ended.add((je.jobId, je.time - t0, desc))
        }
    })
    names.foreach { name =>
      println(s"==== $name ====")
      GraftSession.drainListenerBus(spark)
      ended.clear()
      // built inside the census: entries that run jobs while building
      // (localCheckpoint, driver-side collects) pay them here
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (exec) {
        // run THIS Dataset's own query execution to completion (a write
        // or a derived aggregate would plan a separate execution), so
        // the explain below prints its finalized AdaptiveSparkPlan —
        // isFinalPlan=true with AQEShuffleRead nodes visible. Dev tool:
        // entry results are bench-sized, the collect is driver-safe.
        df.collect()
        // job events reach listeners asynchronously: read the census
        // only once the bus has delivered the last job's end
        GraftSession.drainListenerBus(spark)
        val jobs =
          ended.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
        println(f"-- jobs: ${jobs.length}, job wall sum " +
          f"${jobs.map(_._2).sum / 1e3}%.3fs")
        jobs.foreach { case (id, ms, desc) =>
          println(f"  job $id%4d ${ms / 1e3}%7.3fs  ${desc.take(100)}")
        }
        // the formatted plan labels AQEShuffleRead only "coalesced";
        // the COUNT is the evidence runtime-coalescing claims need
        println(s"-- final output partitions: ${df.rdd.getNumPartitions}")
      }
      df.explain("formatted")
    }
    spark.stop()
  }
}
