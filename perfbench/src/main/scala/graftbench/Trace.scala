package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded call: `parent` is the enclosing span's id (-1 at the op
  * root), `op` the timed operation it belongs to. Times are wall-clock
  * milliseconds, so they can be matched against listener event times.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Engine work of one Spark job, summed over the tasks of its stages. */
final case class JobWork(jobId: Int, startMs: Long, tags: String,
                         stages: Int, tasks: Long, cpuMs: Double,
                         shuffleBytes: Long, scanBytes: Long,
                         spillBytes: Long, gcMs: Long)

/** Collects job, stage and task events. Registered only in traced runs. */
final class EngineListener extends SparkListener {
  private final class Agg {
    var tasks = 0L; var cpuNs = 0L; var shuffle = 0L; var scan = 0L
    var spill = 0L; var gc = 0L
  }
  private val jobStart = mutable.LinkedHashMap.empty[Int, (Long, String, Seq[Int])]
  private val stageAgg = mutable.HashMap.empty[Int, Agg]
  private val stageRan = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
    jobStart(e.jobId) = (e.time, tags, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageRan += e.stageInfo.stageId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new Agg)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.shuffle += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      a.scan += m.inputMetrics.bytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gc += m.jvmGCTime
    }
  }

  def jobs: Seq[JobWork] = synchronized {
    jobStart.toSeq.map { case (id, (t, tags, stageIds)) =>
      val ran = stageIds.filter(stageRan.contains)
      val aggs = stageIds.flatMap(stageAgg.get)
      JobWork(id, t, tags, ran.size, aggs.map(_.tasks).sum,
        aggs.map(_.cpuNs).sum / 1e6, aggs.map(_.shuffle).sum,
        aggs.map(_.scan).sum, aggs.map(_.spill).sum, aggs.map(_.gc).sum)
    }
  }
}

/** Spans around the benchmark's own calls into graft. In an untraced run
  * `span` only runs its body and samples block-manager storage; nothing
  * is recorded and no listener exists. In a traced run every other op is
  * traced: its calls are recorded as spans and their Spark jobs are
  * tagged with the span id (`SparkSession.addTag`), so the listener's
  * jobs can be charged to the innermost open span. Untagged jobs (for
  * example ones submitted from another thread) fall back to the span
  * whose interval holds the job's start, which is exact here because one
  * client runs one op at a time.
  */
final class Tracer(spark: SparkSession, val traceMode: Boolean) {
  val listener: Option[EngineListener] =
    if (traceMode) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = -1
  private var opTraced = false
  /** Ids of the ops that were traced. */
  val tracedOps = mutable.LinkedHashSet.empty[Int]
  /** Highest block-manager storage use seen at a call boundary, bytes. */
  var storagePeak = 0L

  private def nowMs: Double = System.nanoTime() / 1e6
  // wall clock anchored once, advanced by the monotonic clock
  private val wall0 = System.currentTimeMillis().toDouble - nowMs
  private def wallMs: Double = wall0 + nowMs

  def spans: Seq[Span] = recorded.toSeq
  def currentOp: Int = opId

  def sampleStorage(): Unit = {
    val used = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    if (used > storagePeak) storagePeak = used
  }

  /** Runs one timed operation and returns its result and wall time in ms.
    * In trace mode half the ops are traced (every other one, unless the
    * caller chooses), so the tracing overhead is measured inside the run.
    */
  def op[T](kind: String, traced: Option[Boolean] = None)(body: => T): (T, Double, Boolean) = {
    opId += 1
    opTraced = traceMode && traced.getOrElse(opId % 2 == 0)
    if (opTraced) tracedOps += opId
    val t0 = nowMs
    try {
      val r = span(kind)(body)
      (r, nowMs - t0, opTraced)
    } finally opTraced = false
  }

  def span[T](name: String)(body: => T): T = {
    if (!opTraced) {
      val r = body
      sampleStorage()
      r
    } else {
      val id = nextId
      nextId += 1
      val tag = s"graftbench-$id"
      val parent = stack.headOption.getOrElse(-1)
      val start = wallMs
      stack = id :: stack
      spark.addTag(tag)
      try body
      finally {
        spark.removeTag(tag)
        stack = stack.tail
        recorded += Span(id, name, parent, opId, start, wallMs)
        sampleStorage()
      }
    }
  }

  def close(): Unit = listener.foreach { l =>
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
  }
}

/** Per-span totals after charging every job to a span. */
final case class SpanWork(span: Span, selfMs: Double, jobs: Seq[JobWork])

object Attribution {
  private val TagRe = """graftbench-(\d+)""".r

  /** Charges each job to the innermost span that tagged it, or else to the
    * innermost span open at the job's start, and computes self times.
    * `jobs` of a span include those of its descendants.
    */
  def apply(spans: Seq[Span], jobs: Seq[JobWork]): Seq[SpanWork] = {
    val byId = spans.map(s => s.id -> s).toMap
    val own = mutable.HashMap.empty[Int, mutable.ArrayBuffer[JobWork]]
    for (j <- jobs) {
      val tagged = TagRe.findAllMatchIn(j.tags).map(_.group(1).toInt)
        .filter(byId.contains).toSeq
      val target =
        if (tagged.nonEmpty) Some(tagged.max)
        else spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(_.startMs).lastOption.map(_.id)
      target.foreach(t => own.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += j)
    }
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[JobWork] =
      own.get(id).map(_.toSeq).getOrElse(Nil) ++
        children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
        .sortBy(_._1)
      // union of the children's intervals, clipped to the span
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      for ((a0, b0) <- kids) {
        val a = math.max(a0, s.startMs)
        val b = math.min(b0, s.endMs)
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      SpanWork(s, math.max(0.0, s.durMs - covered), subtree(s.id))
    }
  }
}
