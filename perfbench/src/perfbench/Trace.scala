package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a module: `tag` is the Spark job tag set around it. */
final case class Span(name: String, tag: String, parent: Option[String],
    startMs: Long, endMs: Long, wallS: Double)

/** A Spark job and the benchmark tags it carried. */
final class Job(val id: Int, val tags: Set[String], val startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Task aggregates of one stage, over all its attempts. */
final class Stage {
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var failed = 0
  val taskRunMs = ArrayBuffer.empty[Long]
}

/** Spark listener that keeps job, stage and task metrics keyed by the
  * benchmark's job tags, and samples the bytes held by cached RDD blocks.
  * Listener events arrive asynchronously; read the aggregates only after
  * [[Trace.drain]]. */
final class Tracer extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageOwner = new ConcurrentHashMap[Int, Int]
  private val stages = new ConcurrentHashMap[Int, Stage]
  private val peakBytes = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val raw = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
    val tags = raw.split(',').map(_.trim).filter(_.startsWith(Trace.prefix)).toSet
    jobs.put(e.jobId, new Job(e.jobId, tags, e.time))
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stages.computeIfAbsent(e.stageId, _ => new Stage)
    st.synchronized {
      if (e.reason != Success) st.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskMs += m.executorRunTime
        st.taskRunMs += m.executorRunTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Samples the bytes held by cached RDD blocks every 20 ms and keeps the
    * peak, until [[stopSampling]]. */
  private val sampler = new Thread(() => {
    try while (!Thread.currentThread().isInterrupted) { sample(); Thread.sleep(20) }
    catch { case _: InterruptedException => () }
  }, "perfbench-cache-sampler")
  sampler.setDaemon(true)

  @volatile private var context: SparkContext = _
  def sample(): Unit = if (context != null) {
    val bytes = context.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peakBytes.accumulateAndGet(bytes, math.max)
  }
  def startSampling(sc: SparkContext): Unit = { context = sc; sample(); sampler.start() }
  def stopSampling(): Unit = { sampler.interrupt(); sampler.join() }
  def peakCacheMb: Double = peakBytes.get() / 1e6

  def jobsTagged(tag: String): Seq[Job] = jobs.values.asScala.filter(_.tags.contains(tag)).toSeq
  def jobsBetween(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq

  /** Stages first submitted by the given jobs, with their aggregates. */
  def stagesOf(js: Seq[Job]): Seq[Stage] = {
    val ids = js.map(_.id).toSet
    stageOwner.asScala.collect { case (s, j) if ids.contains(j) => Option(stages.get(s)) }.flatten.toSeq
  }
}

/** Job-tag scopes around calls into the program, and the per-span and
  * per-run aggregates computed from the [[Tracer]]. */
object Trace {
  val prefix = "perfbench-"
  private var sc: SparkContext = _
  private var tracer: Tracer = _
  private var seq = 0
  private val open = scala.collection.mutable.Stack.empty[String]
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def enabled: Boolean = tracer != null

  def start(context: SparkContext): Unit = {
    sc = context
    tracer = new Tracer
    sc.addSparkListener(tracer)
    tracer.startSampling(sc)
  }

  def stop(): Unit = if (tracer != null) {
    drain()
    tracer.stopSampling()
    sc.removeSparkListener(tracer)
    tracer = null
  }

  /** Runs `body` with no listener and no job tags, as an untraced run would. */
  def paused[T](body: => T): T =
    if (tracer == null) body
    else {
      val t = tracer
      drain()
      sc.removeSparkListener(t)
      tracer = null
      try body
      finally { tracer = t; sc.addSparkListener(t) }
    }

  /** Name of the scope around the benchmark's own output checks. */
  val check = "check"

  /** Waits until the listener bus has delivered every posted event. Both
    * calls are `private[spark]` (public in bytecode), hence the reflection. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Runs `body` with a fresh job tag and description named after the span;
    * untraced runs call `body` directly. */
  def scope[T](name: String)(body: => T): T =
    if (tracer == null) body
    else {
      seq += 1
      val tag = s"$prefix$seq"
      val parent = open.headOption
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.addJobTag(tag)
      sc.setJobDescription(name)
      open.push(tag)
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        spans += Span(name, tag, parent, startMs, System.currentTimeMillis(), wall)
        open.pop()
        sc.removeJobTag(tag)
        sc.setJobDescription(prevDesc)
      }
    }

  /** Length of the union of the given intervals, clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** wall_s, jobs, task_s, driver_s and shuffle_mb of one span instance. */
  def spanStats(s: Span): Map[String, Double] = {
    val js = tracer.jobsTagged(s.tag)
    val st = tracer.stagesOf(js)
    val busy = unionMs(js.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)), s.startMs, s.endMs)
    Map(
      "wall_s" -> s.wallS,
      "jobs" -> js.size.toDouble,
      "task_s" -> st.map(_.taskMs).sum / 1e3,
      "driver_s" -> math.max(0.0, s.wallS - busy / 1e3),
      "shuffle_mb" -> st.map(_.shuffleBytes).sum / 1e6)
  }

  /** Jobs started in [fromMs, toMs]: skew (max / median task time of the
    * stage with the most task time), spill in MB, failed task attempts and
    * the count of jobs that carry no benchmark tag. */
  def windowStats(fromMs: Long, toMs: Long): Map[String, Double] = {
    val js = tracer.jobsBetween(fromMs, toMs)
    val st = tracer.stagesOf(js)
    val skew = if (st.isEmpty) 1.0 else {
      val top = st.maxBy(_.taskMs)
      val ts = top.taskRunMs.sorted
      val med = if (ts.isEmpty) 0.0
        else if (ts.size % 2 == 1) ts(ts.size / 2).toDouble
        else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
      if (med <= 0) 1.0 else ts.last / med
    }
    Map(
      "skew" -> skew,
      "spill_mb" -> st.map(_.spillBytes).sum / 1e6,
      "failed_tasks" -> st.map(_.failed).sum.toDouble,
      "unattributed_jobs" -> js.count(_.tags.isEmpty).toDouble)
  }

  def peakCacheMb: Double = { tracer.sample(); tracer.peakCacheMb }

  /** Spans as JSON values, for the trace file written at the end of a run. */
  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("name" -> s.name, "tag" -> s.tag, "parent" -> s.parent.orNull,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
      "job_ids" -> tracer.jobsTagged(s.tag).map(_.id).sorted)
  }
}
