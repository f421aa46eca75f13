package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** Spark work credited to one span. Times are seconds; bytes and rows are
  * as Spark's task metrics report them.
  */
final class Counts {
  var wallS = 0.0
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuS = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputRows = 0L
  var outputBytes = 0L
}

/** Credits every job, stage and task to the span that was open when the
  * job started. The span travels with the job as the local property
  * [[Trace.SpanKey]], which Spark copies onto threads a call starts, such
  * as a streaming query's; a job without it goes to the span open on the
  * calling thread.
  */
final class SpanListener extends SparkListener {
  val counts = TrieMap[String, Counts]()
  private val stageSpan = TrieMap[Int, String]()
  @volatile var open: String = Trace.Unattributed
  @volatile private var fenceSeen = -1L

  private def of(span: String): Counts = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .getOrElse(open)
    e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
    if (span.startsWith(Trace.FencePrefix))
      fenceSeen = math.max(fenceSeen, span.stripPrefix(Trace.FencePrefix).toLong)
    else of(span).synchronized(of(span).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).filterNot(_.startsWith(Trace.FencePrefix))
      .foreach(s => of(s).synchronized(of(s).stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrElse(e.stageId, open)
    if (!span.startsWith(Trace.FencePrefix)) {
      val c = of(span)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuS += m.executorCpuTime / 1e9
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outputRows += m.outputMetrics.recordsWritten
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private[perfbench] def sawFence(n: Long): Boolean = fenceSeen >= n
}

/** Spans around the benchmark's calls into the program. With no listener
  * attached (untraced runs) a span is a plain call.
  */
final class Trace(spark: SparkSession) {
  private var listener: Option[SpanListener] = None
  private var fences = 0L

  def start(): SpanListener = {
    val l = new SpanListener
    spark.sparkContext.addSparkListener(l)
    listener = Some(l)
    l
  }

  def stop(): Unit = {
    listener.foreach(spark.sparkContext.removeSparkListener)
    listener = None
  }

  def apply[T](name: String)(body: => T): T = listener match {
    case None => body
    case Some(l) =>
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(Trace.SpanKey)
      val prevOpen = l.open
      sc.setLocalProperty(Trace.SpanKey, name)
      l.open = name
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(Trace.SpanKey, prevProp)
        l.open = prevOpen
        fence(l)
        val c = l.counts.getOrElseUpdate(name, new Counts)
        c.synchronized(c.wallS += dt)
      }
  }

  /** Events reach a listener asynchronously, in order. A one-task job
    * tagged with a fresh fence number marks the end of a span's events:
    * once the listener has seen that job start, it has seen every earlier
    * job too, and the tasks those jobs waited on.
    */
  private def fence(l: SpanListener): Unit = {
    fences += 1
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, Trace.FencePrefix + fences)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.SpanKey, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!l.sawFence(fences) && System.nanoTime() < deadline) Thread.sleep(1)
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val FencePrefix = "_fence:"
  val Unattributed = "unattributed"

  /** One line per span on stderr: where a traced run's time and work went. */
  def report(l: SpanListener): Unit = {
    System.err.println("[perfbench] span wall_s jobs stages tasks cpu_s shuffle_read_b " +
      "shuffle_write_b spill_b out_rows out_b")
    l.counts.toSeq.sortBy(_._1).foreach { case (n, c) =>
      System.err.println(f"[perfbench] $n ${c.wallS}%.3f ${c.jobs} ${c.stages} ${c.tasks} " +
        f"${c.cpuS}%.3f ${c.shuffleReadBytes} ${c.shuffleWriteBytes} ${c.spillBytes} " +
        s"${c.outputRows} ${c.outputBytes}")
    }
  }
}
