package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see run.py). */
final case class Opts(mode: String, workload: String, seed: Long,
                      seconds: Double, trace: Boolean, base: String,
                      scaled: String, copies: Int, work: String, cpus: Int,
                      digests: String, spawnMs: Long)

/** Session life cycle, timed calls and the outside-in probes shared by
  * every workload. Everything a workload measures goes through [[call]],
  * which charges one operation to `attempted` (and to `failed` when it
  * throws or its output check fails), then, after the stopwatch, reads
  * the leak probes and cleans up between calls, timing that as hygiene.
  */
final class Harness(val opts: Opts) {
  var spark: SparkSession = _
  var tracer: Tracer = new Tracer
  private var attached = false

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var hygieneSec = 0.0
  var confChanges = 0
  var peakStorageMb = 0.0
  /** pins_left per call name, read after the call's action. */
  val pinsLeft = mutable.Map.empty[String, Int]

  def sc = spark.sparkContext

  /** A fresh session, stopping any previous one. Returns the seconds it
    * took.
    */
  def startSession(): Double = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = graft.core.GraftSession.builder(s"local[${opts.cpus}]", opts.cpus)
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer = new Tracer
    attached = false
    (System.nanoTime() - t0) / 1e9
  }

  /** Start attributing jobs and stages to spans (the traced run). */
  def attachTracer(): Unit = {
    tracer = new Tracer
    sc.addSparkListener(tracer)
    attached = true
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Record a failed operation (wrong output or exception). */
  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Run one measured operation as a span. Returns the span (wall time)
    * and the body's value, or None when it threw. Leak probes and the
    * hygiene after it are outside the span.
    */
  def call[T](name: String)(body: => T): (Option[T], Span) = {
    attempted += 1
    val confBefore = spark.conf.getAll
    val (r, s) = tracer.span(sc, name) {
      try Some(body)
      catch { case e: Throwable =>
        fail(s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(200)}")
        None
      }
    }
    probeAndClean(name, confBefore)
    (r, s)
  }

  /** Leak and side-effect probes, then cleanup (timed as hygiene): undo
    * the call's session-conf changes and drop what it left pinned.
    */
  private def probeAndClean(name: String, confBefore: Map[String, String]): Unit = {
    val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peakStorageMb = math.max(peakStorageMb, storage / 1048576.0)
    val pins = sc.getPersistentRDDs.size +
      org.apache.spark.sql.perfbench.Probes.cachedRelations(spark)
    pinsLeft(name) = pins
    val confAfter = spark.conf.getAll
    val changed = (confBefore.keySet ++ confAfter.keySet)
      .filter(k => confBefore.get(k) != confAfter.get(k))
    confChanges += changed.size
    val h0 = System.nanoTime()
    changed.foreach { k =>
      confBefore.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None    => spark.conf.unset(k)
      }
    }
    if (pins > 0) {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    hygieneSec += (System.nanoTime() - h0) / 1e9
  }

  /** Wait until the listener has seen every event posted so far. */
  def drainListener(): Unit =
    if (attached) org.apache.spark.sql.perfbench.Probes.drainListenerBus(spark)
}

/** A reported value with its unit. */
final case class Metric(value: Double, unit: String)

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def gmean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** /proc/loadavg plus the count of sibling JVM / python / duckdb
    * processes: a co-running process shows up here before it is blamed
    * on the code.
    */
  def contention(): (String, Int) = {
    val la =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "?" }
    val self = ProcessHandle.current().pid.toString
    val sibs =
      try new java.io.File("/proc").listFiles()
        .filter(f => f.getName.forall(_.isDigit) && f.getName != self)
        .count { f =>
          try {
            val comm = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"/proc/${f.getName}/comm"))).trim
            comm == "java" || comm.startsWith("python") || comm.contains("duckdb")
          } catch { case _: Throwable => false }
        }
      catch { case _: Throwable => -1 }
    (la, sibs)
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case Metric(v, u) => apply(Map("value" -> v, "unit" -> u))
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
