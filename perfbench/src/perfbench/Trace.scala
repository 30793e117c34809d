package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark-side call into a layer: wall-clock interval on the
  * monotonic clock plus its parent span (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
  var endNs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Per-span totals of the Spark work the listener attributed to the span
  * and its descendants.
  */
final case class SpanWork(jobs: Int, batchJobs: Int, jobBusyS: Double,
                          shuffleBytes: Long, spillBytes: Long,
                          bytesWritten: Long, taskMs: Seq[Seq[Long]]) {
  /** max/median task time of the stage with the most tasks (1.0 when the
    * span ran no multi-task stage).
    */
  def taskSkew: Double = taskMs.sortBy(-_.size).headOption.filter(_.size > 1)
    .map { ts =>
      val s = ts.sorted
      val med = Stats.median(s.map(_.toDouble))
      if (med <= 0) s.last.toDouble.max(1.0) else s.last / med
    }.getOrElse(1.0)
}

/** One micro-batch's progress, as the streaming listener saw it. */
final case class BatchProgress(runId: String, batchId: Long, triggerMs: Long,
                               addBatchMs: Long, inputRows: Long)

/** Spans around benchmark-side calls, plus the listeners that count the
  * Spark work inside them. Always on: the streaming listener (micro-batch
  * durations are an end-to-end metric). With `enabled` (the traced run):
  * spans, a job group per span, and a SparkListener for jobs, stages,
  * tasks, shuffle, spill and output bytes. Spans stay in memory and are
  * written once, at the end of the run.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  // job times arrive as epoch millis; spans run on the monotonic clock
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private final class JobRec(val id: Int, val group: String, val batchId: String,
                             val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  private final class StageRec {
    var shuffleBytes = 0L; var spillBytes = 0L; var bytesWritten = 0L
    val taskMs = ArrayBuffer.empty[Long]
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val progress = new ConcurrentLinkedQueue[BatchProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      jobs.put(e.jobId, new JobRec(e.jobId, prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"), e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val s = stages.computeIfAbsent(e.stageId, _ => new StageRec)
      s.synchronized {
        s.taskMs += e.taskInfo.duration
        if (m != null) {
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(BatchProgress(p.runId.toString, p.batchId, d("triggerExecution"),
        d("addBatch"), p.numInputRows))
    }
  }

  spark.streams.addListener(streamListener)
  if (enabled) sc.addSparkListener(sparkListener)

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    if (enabled) sc.removeSparkListener(sparkListener)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Run `body` inside a span named `name`. Jobs it starts carry the
    * span's job group; the parent's group is restored afterwards.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = Span(spans.size, name, stack.headOption.fold(-1)(_.id), System.nanoTime())
      spans += sp
      stack = sp :: stack
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s"$runId:${sp.id}", name)
      try body
      finally {
        sp.endNs = System.nanoTime()
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  /** Micro-batches of one streaming run, in batch order (call after [[drain]]). */
  def batches(streamRunId: String): Seq[BatchProgress] =
    progress.asScala.filter(_.runId == streamRunId).toSeq.sortBy(_.batchId)

  def spansSince(mark: Int): Seq[Span] = spans.drop(mark).toSeq
  def mark: Int = spans.size

  private def nsOfMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  /** The span a job belongs to: the span named by its job group, else the
    * innermost span open at the job's start.
    */
  private def ownerOf(j: JobRec): Int = {
    val prefix = runId + ":"
    if (j.group != null && j.group.startsWith(prefix)) j.group.drop(prefix.length).toInt
    else {
      val t = nsOfMs(j.startMs)
      spans.filter(s => s.startNs <= t && (s.endNs < 0 || t <= s.endNs))
        .sortBy(-_.startNs).headOption.fold(-1)(_.id)
    }
  }

  private def children: Map[Int, Seq[Int]] =
    spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id).toSeq }

  private def subtree(id: Int, kids: Map[Int, Seq[Int]]): Seq[Int] =
    id +: kids.getOrElse(id, Nil).flatMap(subtree(_, kids))

  /** Spark work attributed to `sp` and its descendants (call after
    * [[drain]], once the spans of interest have closed).
    */
  def work(sp: Span): SpanWork = {
    val ids = subtree(sp.id, children).toSet
    val js = jobs.values.asScala.filter(j => ids.contains(ownerOf(j))).toSeq
    val sts = js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
    // wall time covered by at least one running job, clipped to the span
    val ivs = js.map(j => (nsOfMs(j.startMs).max(sp.startNs),
        (if (j.endMs < 0) sp.endNs else nsOfMs(j.endMs)).min(sp.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    if (curB > curA) busy += curB - curA
    SpanWork(js.size, js.count(_.batchId != null), busy / 1e9,
      sts.map(_.shuffleBytes).sum, sts.map(_.spillBytes).sum,
      sts.map(_.bytesWritten).sum, sts.map(s => s.taskMs.toSeq))
  }

  /** Self time: wall time not covered by child spans. */
  def selfS(sp: Span): Double =
    sp.wallS - children.getOrElse(sp.id, Nil).map(spans(_).wallS).sum

  /** Every span as one JSON line: name, start, end, parent, run id, wall,
    * self time and the attributed Spark work.
    */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.filter(_.endNs >= 0).map { sp =>
      val w = work(sp)
      Json.obj(
        "run_id" -> runId, "id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent,
        "start_ms" -> (sp.startNs + epochOffsetNs) / 1e6,
        "end_ms" -> (sp.endNs + epochOffsetNs) / 1e6,
        "wall_s" -> sp.wallS, "self_s" -> selfS(sp),
        "driver_s" -> (sp.wallS - w.jobBusyS).max(0.0), "jobs" -> w.jobs,
        "shuffle_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes,
        "bytes_written" -> w.bytesWritten)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Just enough JSON for the run record: numbers, strings, booleans,
  * sequences and insertion-ordered objects.
  */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case Raw(s) => s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Pre-rendered JSON, embedded verbatim. */
  final case class Raw(s: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
