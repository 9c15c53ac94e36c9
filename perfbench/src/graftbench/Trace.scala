package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into graft, made from the benchmark's own code. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One finished Spark task, attributed to the innermost span that was
  * open on the submitting thread when its job was submitted. */
final case class TaskRec(span: Int, stage: Int, runMs: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         shuffleReadBytes: Long, spillBytes: Long,
                         peakMem: Long, sortMs: Long, bytesRead: Long, bytesWritten: Long)

/** A finished Spark job: wall interval on the listener's event clock (ms). */
final case class JobRec(span: Int, startMs: Long, endMs: Long)

/** Spans kept in memory (written out once, when the benchmark ends) plus
  * a SparkListener that attributes task metrics to them. Span ids travel
  * to Spark as the `graftbench.span` local property, which every job
  * submitted from the same thread (including AQE stage jobs) inherits.
  */
final class Tracer(sc: SparkContext, val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 1
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val Prop = "graftbench.span"
  private val MarkerProp = "graftbench.marker"
  private val cached = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)
      props.flatMap(p => Option(p.getProperty(MarkerProp))).foreach(m =>
        jobSpan.put(e.jobId, (-m.toInt, e.time)))
      if (!jobSpan.containsKey(e.jobId)) jobSpan.put(e.jobId, (span, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (span, start) = Option(jobSpan.get(e.jobId)).getOrElse((0, e.time))
      if (span < 0) ended.add((-span).toString)
      else jobs.add(JobRec(span, start, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val sortMs = e.taskInfo.accumulables.iterator
        .filter(a => a.name.contains("sort time"))
        .flatMap(_.update).map(v => v.toString.toLong).sum
      tasks.add(TaskRec(
        span = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(0),
        stage = e.stageId, runMs = m.executorRunTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        spillBytes = m.diskBytesSpilled, peakMem = m.peakExecutionMemory,
        sortMs = sortMs, bytesRead = m.inputMetrics.bytesRead,
        bytesWritten = m.outputMetrics.bytesWritten))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) cached.synchronized {
        val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
        val now = b.memSize + b.diskSize
        cachedNow += now - cached.getOrElse(key, 0L)
        if (now > 0) cached(key) = now else cached.remove(key)
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }
  }
  sc.addSparkListener(listener)

  /** Time `f` as a span named `name`, nested under the span open now. */
  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    val prior = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    open = (id, name, System.nanoTime()) :: open
    try f
    finally {
      val (_, _, start) = open.head
      open = open.tail
      spans += Span(id, name, parent, run, start, System.nanoTime())
      sc.setLocalProperty(Prop, prior)
    }
  }

  /** Block until the listener has seen every event posted so far: a
    * marker job is submitted and its JobEnd awaited (the listener bus
    * delivers events in order). */
  def drain(): Unit = {
    val token = nextId
    nextId += 1
    sc.setLocalProperty(MarkerProp, token.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerProp, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!ended.contains(token.toString) && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(ended.contains(token.toString), "Spark listener bus did not drain within 60 s")
  }

  def stop(): Unit = sc.removeSparkListener(listener)

  /** Peak bytes of cached RDD blocks (memory + disk) above the level at
    * the start, while `f` runs. Persisted Datasets are cached RDD blocks. */
  def peakCachedBytes[T](f: => T): (T, Long) = {
    drain()
    val base = cached.synchronized { cachedPeak = cachedNow; cachedNow }
    val r = f
    drain()
    (r, cached.synchronized(cachedPeak) - base)
  }

  def allSpans: Seq[Span] = spans.toSeq
  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Ids of `root` and every span nested under it. */
  def subtree(root: Int): Set[Int] = {
    var ids = Set(root)
    var grew = true
    while (grew) {
      val more = spans.filter(s => ids.contains(s.parent)).map(_.id).toSet -- ids
      grew = more.nonEmpty
      ids ++= more
    }
    ids
  }

  def tasksIn(spanIds: Set[Int]): Seq[TaskRec] =
    tasks.asScala.filter(t => spanIds.contains(t.span)).toSeq

  def jobsIn(spanIds: Set[Int]): Seq[JobRec] =
    jobs.asScala.filter(j => spanIds.contains(j.span)).toSeq

  /** Spans as JSON lines: name, start, end, parent, run id. */
  def spansJson: Seq[String] = spans.map { s =>
    s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.toSeq
}

object Tracer {
  /** Total length of the union of [start, end) intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
