package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call of the harness: a batch key (with build / plan / exec
  * children), an EventLog call, a micro-batch, a set-up step. Wall time
  * is taken with `nanoTime`; the epoch-millisecond copy lines the span
  * up with Spark's stage timestamps.
  */
final case class Span(id: Long, name: String, parent: Long,
                      startNs: Long, startMs: Long,
                      var endNs: Long = -1L, var endMs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def millis: Double = (endNs - startNs) / 1e6
}

/** What Spark executed on behalf of one span (or of several merged). */
final class Usage {
  var jobs = 0
  val stages = ArrayBuffer.empty[(Long, Long)] // [submitted, completed] ms
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def add(o: Usage): Usage = {
    jobs += o.jobs; stages ++= o.stages; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes
    this
  }

  /** Length in seconds of the union of stage intervals inside [from, to]. */
  def activeSeconds(fromMs: Long, toMs: Long): Double = {
    val clipped = stages.iterator
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total += curB - curA
    total / 1e3
  }
}

/** Span recorder and, once attached to the context, a SparkListener that
  * charges every job and stage to the span that caused it.
  *
  * Attribution uses a local property owned by the benchmark
  * ([[Tracer.SpanKey]]), set on the driver thread for the duration of a
  * span. Local properties are inherited by threads created while the
  * span is open, so the pool threads of `core.Overlap` carry it too; the
  * job group cannot serve here because Overlap overwrites it on those
  * threads. Micro-batch jobs run on the stream's own thread, created at
  * `start()`, so they are attributed instead by the query and batch ids
  * Spark stamps on them and mapped to spans with [[alias]].
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0L

  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val usage = new ConcurrentHashMap[String, Usage]()
  private val aliases = new ConcurrentHashMap[Long, Vector[String]]()
  /** Time spent inside the listener callbacks: the tracing's own cost. */
  @volatile var listenerNs = 0L

  def allSpans: Seq[Span] = spans.toSeq

  /** Run `body` as a span, child of the innermost open one. */
  def span[T](sc: SparkContext, name: String)(body: => T): (T, Span) = {
    nextId += 1
    val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try {
      val r = body
      (r, s)
    } finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, prev)
      stack = stack.tail
    }
  }

  /** Charge a micro-batch's jobs to `spanId`. */
  def alias(spanId: Long, queryId: String, batchId: Long): Unit =
    aliases.merge(spanId, Vector(streamKey(queryId, batchId)), _ ++ _)

  def children(id: Long): Seq[Span] = spans.filter(_.parent == id).toSeq

  private def descendants(id: Long): Seq[Span] = {
    val direct = spans.filter(_.parent == id).toSeq
    direct ++ direct.flatMap(c => descendants(c.id))
  }

  /** Everything Spark ran for the span and its descendants. */
  def usageOf(s: Span): Usage = {
    val u = new Usage
    (s +: descendants(s.id)).foreach { d =>
      Option(usage.get(s"span:${d.id}")).foreach(u.add)
      Option(aliases.get(d.id)).getOrElse(Vector.empty)
        .foreach(k => Option(usage.get(k)).foreach(u.add))
    }
    u
  }

  /** Span time minus the time its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var a = -1L
    var b = -1L
    kids.foreach { case (x, y) =>
      if (x > b) { covered += b - a; a = x; b = y } else b = math.max(b, y)
    }
    covered += b - a
    (s.endNs - s.startNs - covered) / 1e9
  }

  // ---- SparkListener ---------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    val props = Option(e.properties)
    val owner = props.flatMap(p => Option(p.getProperty(StreamQueryKey))
        .zip(Option(p.getProperty(StreamBatchKey))))
      .map { case (q, b) => streamKey(q, b.toLong) }
      .orElse(props.flatMap(p => Option(p.getProperty(SpanKey))).map("span:" + _))
      .getOrElse("unattributed")
    val u = usage.computeIfAbsent(owner, _ => new Usage)
    u.synchronized { u.jobs += 1 }
    e.stageIds.foreach(id => stageOwner.put(id, owner))
    listenerNs += System.nanoTime() - t0
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t0 = System.nanoTime()
    val info = e.stageInfo
    val owner = Option(stageOwner.get(info.stageId)).getOrElse("unattributed")
    val u = usage.computeIfAbsent(owner, _ => new Usage)
    u.synchronized {
      for (a <- info.submissionTime; b <- info.completionTime)
        u.stages += ((a, b))
      val tm = info.taskMetrics
      if (tm != null) {
        u.cpuNs += tm.executorCpuTime
        u.gcMs += tm.jvmGCTime
        u.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
        u.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        u.inputBytes += tm.inputMetrics.bytesRead
      }
    }
    listenerNs += System.nanoTime() - t0
  }

  def unattributedJobs: Int =
    Option(usage.get("unattributed")).map(_.jobs).getOrElse(0)
}

object Tracer {
  val SpanKey = "graft.perfbench.span"
  // set by Spark on every job of a streaming micro-batch
  val StreamQueryKey = "sql.streaming.queryId"
  val StreamBatchKey = "streaming.sql.batchId"
  def streamKey(queryId: String, batchId: Long): String = s"stream:$queryId:$batchId"
}
