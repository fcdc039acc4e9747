package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters attached to one span. */
final class Counters {
  var jobs, tasks, busyMs, gcMs, planMs = 0L
  var inputBytes, outputBytes, shuffleWriteBytes, shuffleReadBytes,
      spillBytes = 0L
}

/** One timed region: a pass, or one call into a layer (`kind` "call" for
  * the public function itself, "exec" for the action that drains or writes
  * what it returned).
  */
final class Span(val id: Int, val name: String, val layer: String,
                 val kind: String, val pass: Int, val parent: Int,
                 val depth: Int) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endMs, endNs = 0L
  val c = new Counters
  /** Persistent RDDs registered while the span ran. */
  var createdRdds: Set[Int] = Set.empty
  def wallS: Double = (endNs - startNs) / 1e9
  def contains(t: Long): Boolean = startMs <= t && t <= endMs
}

/** The span recorder: one SparkListener plus one QueryExecutionListener,
  * attached only while a traced pass runs, and a span stack the benchmark
  * pushes around every call into a layer.
  *
  * Jobs are attributed to spans by TIME WINDOW: a job belongs to the
  * innermost span open when it was submitted. The benchmark issues one call
  * at a time, so the window is unambiguous, and it also catches jobs the
  * library submits from its own Future pool threads, which carry none of
  * the calling thread's local properties. Tasks follow their stage's job.
  * Events arrive asynchronously; [[endPass]] runs a one-task marker job and
  * waits for its end event, after which every earlier event has been
  * delivered (the listener bus keeps order within a queue).
  */
final class Recorder(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private final case class JobEv(id: Int, timeMs: Long, stages: Seq[Int])
  private final case class TaskEv(stage: Int, launchMs: Long, busyMs: Long,
      in: Long, out: Long, shw: Long, shr: Long, spill: Long)
  private final case class PlanEv(startMs: Long, ms: Long)
  private val jobEvs = new ConcurrentLinkedQueue[JobEv]
  private val taskEvs = new ConcurrentLinkedQueue[TaskEv]
  private val planEvs = new ConcurrentLinkedQueue[PlanEv]
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markerDone = new Semaphore(0)
  private val MarkerKey = "perfbench.marker"

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var attached = false

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty(MarkerKey) != null)
      markerJobs.add(e.jobId)
    else jobEvs.add(JobEv(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId)) markerDone.release()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskEvs.add(TaskEv(e.stageId, e.taskInfo.launchTime,
      m.executorRunTime, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = plan(qe)

  /** Catalyst phase times of `qe`, each charged to the span open at its
    * start: analysis runs when a frame is built, optimization and physical
    * planning when it is first executed.
    */
  def plan(qe: QueryExecution): Unit = if (attached)
    qe.tracker.phases.values.foreach(ph =>
      planEvs.add(PlanEv(ph.startTimeMs, ph.durationMs)))

  def tracing: Boolean = attached

  def beginPass(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  /** Flush the listener bus, attribute the pass's events, detach. */
  def endPass(pass: Int): Unit = {
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    if (!markerDone.tryAcquire(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain in 60 s")
    attached = false
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attribute(spans.filter(_.pass == pass).toSeq)
  }

  private def innermost(ps: Seq[Span], t: Long): Option[Span] = {
    val hits = ps.filter(_.contains(t))
    if (hits.isEmpty) None
    else Some(hits.maxBy(s => (s.depth, s.startMs)))
  }

  private def attribute(ps: Seq[Span]): Unit = {
    val stageSpan = mutable.Map[Int, Span]()
    for (j <- drainQueue(jobEvs); s <- innermost(ps, j.timeMs)) {
      s.c.jobs += 1
      j.stages.foreach(st => stageSpan.getOrElseUpdate(st, s))
    }
    for (t <- drainQueue(taskEvs);
         s <- stageSpan.get(t.stage).orElse(innermost(ps, t.launchMs))) {
      s.c.tasks += 1; s.c.busyMs += t.busyMs
      s.c.inputBytes += t.in; s.c.outputBytes += t.out
      s.c.shuffleWriteBytes += t.shw; s.c.shuffleReadBytes += t.shr
      s.c.spillBytes += t.spill
    }
    for (p <- drainQueue(planEvs); s <- innermost(ps, p.startMs))
      s.c.planMs += p.ms
  }

  private def drainQueue[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = mutable.ArrayBuffer[T]()
    var e = q.poll()
    while (e != null) { out += e; e = q.poll() }
    out.toSeq
  }

  def open(name: String, layer: String, kind: String, pass: Int): Span = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, layer, kind, pass,
      parent.map(_.id).getOrElse(-1), parent.map(_.depth + 1).getOrElse(0))
    s.c.gcMs = -Recorder.gcMs()
    // the registered set at open; close() turns it into the span's delta
    s.createdRdds = sc.getPersistentRDDs.keySet.toSet
    spans += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    s.c.gcMs += Recorder.gcMs()
    s.createdRdds = sc.getPersistentRDDs.keySet.toSet -- s.createdRdds
    stack = stack.tail
  }

  /** Span wall time not covered by its children. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  /** Per-layer metrics of one traced pass, named `<layer>.<metric>`. */
  def layerMetrics(pass: Int, layers: Seq[String]): Map[String, Double] = {
    val live = sc.getPersistentRDDs.keySet
    layers.flatMap { l =>
      val ss = spans.filter(s => s.pass == pass && s.layer == l).toSeq
      def sum(f: Span => Double) = ss.map(f).sum
      val wall = sum(_.wallS)
      val busy = sum(_.c.busyMs / 1e3)
      Seq(
        "build_s" -> ss.filter(_.kind == "call").map(_.wallS).sum,
        "exec_s" -> ss.filter(_.kind == "exec").map(_.wallS).sum,
        "plan_s" -> sum(_.c.planMs / 1e3),
        "jobs" -> sum(_.c.jobs.toDouble),
        "tasks" -> sum(_.c.tasks.toDouble),
        "task_busy_s" -> busy,
        "core_idle_s" -> (wall * cores - busy),
        "gc_s" -> sum(_.c.gcMs / 1e3),
        "input_bytes" -> sum(_.c.inputBytes.toDouble),
        "output_bytes" -> sum(_.c.outputBytes.toDouble),
        "shuffle_write_bytes" -> sum(_.c.shuffleWriteBytes.toDouble),
        "shuffle_read_bytes" -> sum(_.c.shuffleReadBytes.toDouble),
        "spill_bytes" -> sum(_.c.spillBytes.toDouble),
        "persisted_rdds" ->
          ss.flatMap(_.createdRdds).count(live.contains).toDouble
      ).map { case (k, v) => s"$l.$k" -> v }
    }.toMap
  }

  def spanJson(s: Span): Map[String, Any] = Json.obj(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "kind" -> s.kind,
    "pass" -> s.pass, "parent" -> s.parent, "start_ms" -> s.startMs,
    "end_ms" -> s.endMs, "wall_s" -> s.wallS, "self_s" -> selfS(s),
    "jobs" -> s.c.jobs, "tasks" -> s.c.tasks,
    "task_busy_s" -> s.c.busyMs / 1e3, "gc_s" -> s.c.gcMs / 1e3,
    "plan_s" -> s.c.planMs / 1e3, "input_bytes" -> s.c.inputBytes,
    "output_bytes" -> s.c.outputBytes,
    "shuffle_write_bytes" -> s.c.shuffleWriteBytes,
    "shuffle_read_bytes" -> s.c.shuffleReadBytes,
    "spill_bytes" -> s.c.spillBytes,
    "persisted_rdds_created" -> s.createdRdds.size)
}

object Recorder {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}

/** Peak JVM heap in use since [[reset]]: the heap occupancy just before
  * each collection (from GC notifications), or a sampled occupancy if
  * higher.
  */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      bump(info.getGcInfo.getMemoryUsageBeforeGc.asScala
        .collect { case (k, v) if heapPools(k) => v.getUsed }.sum)
    }

  private def bump(used: Long): Unit = synchronized {
    if (used > peak) peak = used
  }
  def sample(): Unit =
    bump(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  def reset(): Unit = { synchronized { peak = 0L }; sample() }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}
