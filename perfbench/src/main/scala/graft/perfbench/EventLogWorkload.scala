package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.EventLog

/** The reference's own path on `EventLog`, in three phases per round:
  *
  *  1. bulk keyed produce of a seeded, Zipf-skewed batch into a
  *     64-partition log that keeps growing over the rounds;
  *  2. one consumer group catches up on it with bounded
  *     `poll(maxMessages)`;
  *  3. the reference tail loop on an 8-partition log: produce 10
  *     messages (sequence keys, `"#" + i` payloads), poll at most 10,
  *     hand them to the handler, commit.
  *
  * After the rounds, [[close]] runs `compact` on the bulk log (one file
  * per produce batch and partition by then).
  *
  * Checks, from outside: every produced (partition, offset) reaches a
  * handler exactly once, offsets are contiguous per partition after the
  * compaction, and lag (high-water mark minus committed offset, per
  * partition) is 0 at the end of each catch-up, tail round and of the
  * compaction.
  */
final class EventLogWorkload(h: Harness, rng: scala.util.Random, root: String,
                             bulkBatchSize: Int, catchupMax: Long) {
  import EventLogWorkload._

  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private val spans = mutable.Map.empty[String, mutable.ArrayBuffer[Span]]
  private def noteSpan(k: String, s: Span): Unit =
    spans.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += s
  var rounds = 0
  /** (uncommitted backlog before the poll, poll ms) of every catch-up
    * poll: the cost of a bounded poll against the tail it ranks.
    */
  private val catchupCurve = mutable.ArrayBuffer.empty[(Long, Double)]
  private val files = mutable.Map.empty[String, Double]

  private val bulk = new EventLog(s"$root/bulk", 64)
  private val tail = new EventLog(s"$root/tail", 8)
  private var produced = 0L
  private var consumed = 0L
  private var nextTail = 0
  /** Per partition, (count, distinct, min, max) of the offsets each
    * catch-up handler call saw.
    */
  private val seen = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long, Long, Long)]]

  private val keySpace = 10000
  // Zipf(1.1) over the key space, as a CDF for inverse sampling
  private val zipfCdf: Array[Double] = {
    val w = (1 to keySpace).map(r => 1.0 / math.pow(r, 1.1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private def zipfKey(): String = {
    val u = rng.nextDouble()
    var lo = 0
    var hi = keySpace - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    s"k$lo"
  }
  private def payload(n: Int): String = {
    val sb = new StringBuilder(n)
    while (sb.length < n) sb.append(('a' + rng.nextInt(26)).toChar)
    sb.toString
  }

  private val recordSchema = StructType(Seq(
    StructField("key", StringType), StructField("payload", StringType)))
  private def records(rows: Seq[(String, String)]): DataFrame =
    h.spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, p) => Row(k, p) }: _*),
      recordSchema)

  /** Check the group's lag, computed from outside: the sum over
    * partitions of high-water mark minus committed offset. Returns the
    * high-water marks.
    */
  private def checkLag(log: EventLog, group: String, want: Long, phase: String): Map[Int, Long] = {
    val hwm = log.highWaterMarks(h.spark)
    val done = log.committed(group)
    val lag = hwm.map { case (p, o) => o - done.getOrElse(p, -1L) }.sum
    if (lag != want) h.fail(s"eventlog $phase: lag $lag, expected $want")
    hwm
  }

  /** Per-partition (count, distinct, min, max) of a frame's offsets. */
  private def offsetStats(df: DataFrame): Map[Int, (Long, Long, Long, Long)] =
    df.groupBy("partition")
      .agg(count(lit(1)), countDistinct(col("offset")), min("offset"), max("offset"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  /** One round of the three phases. */
  def round(): Unit = {
    val batch = records(Seq.fill(bulkBatchSize)((zipfKey(), payload(64))))

    // 1. bulk produce
    val (_, bs) = h.call("bulk_produce")(bulk.produce(batch))
    noteSpan("bulk_produce", bs)
    note("bulk_produce_ms", bs.millis)
    note("produce_msgs_per_s", bulkBatchSize / bs.seconds)
    produced += bulkBatchSize

    // 2. catch-up: bounded polls until the backlog is consumed (a poll
    // that makes no progress ends the phase; the checks flag it)
    val p2 = System.nanoTime()
    var n = 1L
    var polls = 0
    while (n > 0 && consumed < produced) {
      val backlog = produced - consumed
      val (r, s) = h.call("catchup_poll") {
        bulk.poll(h.spark, "catchup", catchupMax) { b =>
          offsetStats(b).foreach { case (p, st) =>
            seen.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += st
          }
        }
      }
      n = r.getOrElse(0L)
      if (n > 0) {
        noteSpan("catchup_poll", s)
        note("catchup_poll_ms", s.millis)
        catchupCurve += backlog -> s.millis
        polls += 1
      }
      consumed += n
    }
    note("catchup_polls", polls)
    note("catchup_msgs_per_s", bulkBatchSize / ((System.nanoTime() - p2) / 1e9))
    checkLag(bulk, "catchup", 0L, "catch-up")

    // 3. the reference tail loop: one produce / poll / commit
    val ids = nextTail until nextTail + 10
    nextTail += 10
    val created = ids.map(i => s"$i" -> System.nanoTime()).toMap
    val msgs = records(ids.map(i => (s"$i", s"#$i")))
    val (_, ps) = h.call("produce")(tail.produce(msgs))
    noteSpan("produce", ps)
    note("produce_ms", ps.millis)
    var handlerMs = 0.0
    val got = mutable.Set.empty[String]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val (polled, qs) = h.call("poll") {
      tail.poll(h.spark, "myGroup", 10L) { b =>
        val (rows, hs) = h.tracer.span(h.sc, "handler")(
          b.select("key", "payload").collect())
        val now = System.nanoTime()
        rows.foreach { r =>
          got += r.getString(0)
          created.get(r.getString(0)).foreach(c => latencies += (now - c) / 1e6)
          if (r.getString(1) != "#" + r.getString(0))
            h.fail(s"eventlog tail: payload ${r.getString(1)} for key ${r.getString(0)}")
        }
        handlerMs = hs.millis
      }
    }
    noteSpan("poll", qs)
    note("poll_ms", qs.millis)
    note("handler_ms", handlerMs)
    note("poll_self_ms", qs.millis - handlerMs)
    if (polled.isDefined && got != created.keySet)
      h.fail(s"eventlog tail: polled ${got.size} of ${created.size} produced keys")
    latencies.foreach(note("tail_latency_ms", _))
    if (latencies.nonEmpty) note("tail_latency_round_ms", Stats.median(latencies.toSeq))
    checkLag(tail, "myGroup", 0L, "tail")
    files("commit_files") = countFiles(s"$root/tail.groups/myGroup", "")
    rounds += 1
  }

  /** Compact the bulk log once, after the rounds; then check that
    * every produced offset reached a catch-up handler exactly once and
    * that offsets stay contiguous and fully committed after compaction.
    */
  def close(): Unit = {
    files("topic_files") = countFiles(s"$root/bulk", ".parquet")
    files("bytes_per_msg") = dirBytes(s"$root/bulk") / produced.toDouble
    val (_, cs) = h.call("compact")(bulk.compact(h.spark))
    noteSpan("compact", cs)
    note("compact_ms", cs.millis)
    val compacted = offsetStats(bulk.consume(h.spark))
    compacted.foreach { case (p, (c, d, lo, hi)) =>
      if (lo != 0L || hi != c - 1 || d != c)
        h.fail(s"eventlog compact: partition $p offsets not contiguous after compact")
    }
    val done = bulk.committed("catchup")
    val lagC = compacted.map { case (p, st) => st._4 - done.getOrElse(p, -1L) }.sum
    if (lagC != 0L) h.fail(s"eventlog compact: lag $lagC, expected 0")

    val hwm = bulk.highWaterMarks(h.spark)
    hwm.foreach { case (p, top) =>
      val st = seen.getOrElse(p, mutable.ArrayBuffer.empty)
      val cnt = st.map(_._1).sum
      val distinct = st.map(_._2).sum
      val ranges = st.map(x => (x._3, x._4)).sortBy(_._1)
      val tiled = ranges.headOption.forall(_._1 == 0L) &&
        ranges.sliding(2).forall(w => w.size < 2 || w(1)._1 == w(0)._2 + 1) &&
        ranges.lastOption.forall(_._2 == top)
      if (cnt != top + 1 || distinct != cnt || !tiled)
        h.fail(s"eventlog catch-up: partition $p handler saw $cnt offsets, expected ${top + 1}")
    }
    if (hwm.values.map(_ + 1).sum != produced)
      h.fail(s"eventlog produce: log holds ${hwm.values.map(_ + 1).sum} messages, produced $produced")
  }

  private def med(k: String): Double = Stats.median(samples(k).toSeq)
  private def fastest(k: String): Double = samples(k).min

  /** Time of one round's three phases, each kind of call at its fastest
    * over the rounds (a co-running process can slow a reading, never
    * speed it up), plus the compaction.
    */
  def workSeconds: Double =
    (fastest("bulk_produce_ms") + med("catchup_polls") * fastest("catchup_poll_ms") +
      fastest("compact_ms") + fastest("produce_ms") + fastest("poll_ms")) / 1e3

  /** Fastest time of each kind of call, and the tail latency (the
    * fastest round's median), in ms.
    */
  def kindMillis: Seq[Double] =
    Seq("bulk_produce_ms", "catchup_poll_ms", "compact_ms", "produce_ms", "poll_ms",
      "tail_latency_round_ms").map(fastest)

  def detail: Map[String, Any] = Map(
    "eventlog.produce_msgs_per_s" -> Metric(med("produce_msgs_per_s"), "1/s"),
    "eventlog.catchup_msgs_per_s" -> Metric(med("catchup_msgs_per_s"), "1/s"),
    "eventlog.tail_latency_ms.p50" -> Metric(med("tail_latency_ms"), "ms"),
    "eventlog.tail_latency_ms.p90" ->
      Metric(Stats.quantile(samples("tail_latency_ms").toSeq, 0.9), "ms"),
    "eventlog.tail_latency_samples" -> samples("tail_latency_ms").size,
    "eventlog.rounds" -> rounds,
    "eventlog.catchup_polls" -> catchupCurve.map { case (b, ms) =>
      Map("backlog" -> b, "ms" -> ms) },
    "eventlog.messages_per_round" -> (bulkBatchSize + 10),
    "eventlog.samples_ms" -> Seq("bulk_produce_ms", "catchup_poll_ms", "compact_ms",
      "produce_ms", "poll_ms").map(k => k -> samples(k).map(v => math.rint(v * 10) / 10)).toMap)

  def layers: Map[String, Double] = {
    h.drainListener()
    def usage(kind: String) = spans.getOrElse(kind, mutable.ArrayBuffer.empty[Span])
      .map(s => (s, h.tracer.usageOf(s))).toSeq
    def medOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val catchup = usage("catchup_poll")
    val p = "streaming.eventlog."
    Map(
      p + "produce_ms.p50" -> med("produce_ms"),
      p + "produce_jobs" -> medOf(usage("produce").map(_._2.jobs.toDouble)),
      p + "bulk_produce_ms.p50" -> med("bulk_produce_ms"),
      p + "poll_ms.p50" -> med("poll_ms"),
      p + "poll_self_ms.p50" -> med("poll_self_ms"),
      p + "handler_ms.p50" -> med("handler_ms"),
      p + "poll_jobs" -> medOf(usage("poll").map(_._2.jobs.toDouble)),
      p + "catchup_poll_ms.p50" -> med("catchup_poll_ms"),
      p + "catchup_poll_jobs" -> medOf(catchup.map(_._2.jobs.toDouble)),
      p + "catchup_shuffle_mb" -> medOf(catchup.map(_._2.shuffleWriteBytes / 1048576.0)),
      p + "input_mb_per_poll" -> medOf(catchup.map(_._2.inputBytes / 1048576.0)),
      p + "driver_gap_ms_per_poll" -> medOf(catchup.map { case (s, u) =>
        (s.seconds - u.activeSeconds(s.startMs, s.endMs)) * 1e3 }),
      p + "topic_files" -> files("topic_files"),
      p + "commit_files" -> files("commit_files"),
      p + "bytes_per_msg" -> files("bytes_per_msg"),
      p + "compact_s" -> med("compact_ms") / 1e3)
  }
}

object EventLogWorkload {
  private def walk(dir: String): Vector[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(d)) Vector.empty
    else {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(d)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toVector
      finally w.close()
    }
  }
  def countFiles(dir: String, suffix: String): Double =
    walk(dir).count(_.getFileName.toString.endsWith(suffix)).toDouble
  def dirBytes(dir: String): Double =
    walk(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum.toDouble
}
