package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A batch workload: named `SparkEntry.queries` keys, each over its own
  * corpus directory.
  *
  * One untimed pass (in seeded key order) checks every key's output
  * digest and warms the JIT; then whole timed passes, each in its own
  * seeded order, run until the time budget is spent. A key is timed as
  * the `Bench` main times it: the key function (which runs any eager
  * checkpoints), then `queryExecution.toRdd.count()` on its frame. The
  * span splits that into build / plan / exec.
  */
final class BatchWorkload(h: Harness, dirs: Seq[(String, String)]) {
  private val keys = dirs.map(_._1)
  private val dirOf = dirs.toMap
  private val fns = keys.map(k => k -> graft.SparkEntry.queries(k)).toMap
  private def frame(k: String): DataFrame = fns(k)(h.spark, dirOf(k))

  final case class KeyRun(key: String, wall: Double, build: Double,
                          plan: Double, exec: Double, span: Span)

  private val runs = mutable.ArrayBuffer.empty[KeyRun]
  var checkPassSec = 0.0
  var passes = 0
  private val passSecs = mutable.ArrayBuffer.empty[Double]

  /** Order-insensitive digest of a frame: row count plus the exact sum of
    * a 64-bit hash of every row. Doubles are hashed as floats: a double
    * sum's last bits follow the addition order, which follows the task
    * split, and the float rounding absorbs them.
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`").cast(BatchWorkload.floatened(f.dataType))
      f.dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** The untimed check pass; returns the digests it saw. */
  def checkPass(rng: scala.util.Random, expected: Map[String, String]): Map[String, String] = {
    val t0 = System.nanoTime()
    val seen = rng.shuffle(keys).map { k =>
      val (d, _) = h.call(s"check:$k")(digest(frame(k)))
      val got = d.getOrElse("error")
      expected.get(k) match {
        case Some(want) if want != got => h.fail(s"$k: digest $got, expected $want")
        case None if expected.nonEmpty => h.fail(s"$k: no expected digest")
        case _ =>
      }
      k -> got
    }.toMap
    checkPassSec = (System.nanoTime() - t0) / 1e9
    seen
  }

  private def timeKey(k: String): Unit = {
    var build = 0.0
    var plan = 0.0
    var exec = 0.0
    val (_, s) = h.call(k) {
      val (df, bs) = h.tracer.span(h.sc, "build")(frame(k))
      val (_, ps) = h.tracer.span(h.sc, "plan")(df.queryExecution.executedPlan)
      val (_, es) = h.tracer.span(h.sc, "exec")(df.queryExecution.toRdd.count())
      build = bs.seconds; plan = ps.seconds; exec = es.seconds
    }
    runs += KeyRun(k, s.seconds, build, plan, exec, s)
  }

  /** Timed passes until `seconds` have been spent, and at least three: a
    * key's time is its minimum over the passes (the `Bench` protocol: a
    * co-running process can slow a reading, never speed it up).
    */
  def measure(seconds: Double, rng: scala.util.Random): Unit = {
    val t0 = System.nanoTime()
    while (passes < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      rng.shuffle(keys).foreach(timeKey)
      passSecs += (System.nanoTime() - p0) / 1e9
      passes += 1
    }
  }

  /** Minimum wall time per key over the timed passes. */
  def perKey: Map[String, Double] =
    runs.groupBy(_.key).map { case (k, rs) => k -> rs.map(_.wall).min }

  def endToEnd: Map[String, Double] = {
    val pk = perKey.values.toSeq
    Map("work_s" -> pk.sum, "gmean_ms" -> Stats.gmean(pk) * 1e3)
  }
  /** Layer metrics per owning module, summed over that module's keys;
    * each key contributes the mean over its timed runs.
    */
  def layers: Map[String, Double] = {
    h.drainListener()
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    runs.groupBy(_.key).foreach { case (k, rs) =>
      val m = BatchWorkload.module(k)
      val n = rs.size.toDouble
      rs.foreach { r =>
        val u = h.tracer.usageOf(r.span)
        val active = u.activeSeconds(r.span.startMs, r.span.endMs)
        def add(name: String, v: Double): Unit = out(s"$m.$name") += v / n
        add("build_s", r.build)
        add("plan_s", r.plan)
        add("exec_s", r.exec)
        add("jobs", u.jobs)
        add("stage_active_s", active)
        add("driver_gap_s", math.max(0.0, r.wall - active))
        add("cpu_s", u.cpuNs / 1e9)
        add("gc_s", u.gcMs / 1e3)
        add("shuffle_write_mb", u.shuffleWriteBytes / 1048576.0)
        add("spill_mb", u.spillBytes / 1048576.0)
      }
      out(s"$m.pins_left") += h.pinsLeft.getOrElse(k, 0)
    }
    out.toMap
  }

  /** The batch_total_s / batch_gmean_s pair of each key family. */
  def detail: Map[String, Any] = {
    val pk = perKey
    val families = Seq(
      "batch_relational" -> BatchWorkload.Relational,
      "batch_iterative" -> BatchWorkload.Iterative)
    families.flatMap { case (f, ks) =>
      val ts = ks.flatMap(pk.get)
      if (ts.isEmpty) Nil
      else Seq(s"$f.batch_total_s" -> Metric(ts.sum, "s"),
        s"$f.batch_gmean_s" -> Metric(Stats.gmean(ts), "s"))
    }.toMap ++ Map("pass_s" -> passSecs.toSeq, "per_key_s" -> pk.toSeq.sortBy(_._1).toMap)
  }
}

object BatchWorkload {
  /** A type with every double (also inside arrays, maps and structs)
    * replaced by float.
    */
  def floatened(t: DataType): DataType = t match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(floatened(e), n)
    case MapType(k, v, n) => MapType(floatened(k), floatened(v), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = floatened(f.dataType))))
    case other => other
  }

  /** Scan / join / aggregate / window keys (TPC-H shape and events). */
  val Relational: Seq[String] = Seq(
    "q1_pricing_summary", "q21_blame_supplier", "q_window_running",
    "evt_sessionize")

  /** Fixpoint, beam and multi-round keys: one per library module. */
  val Iterative: Seq[String] = Seq(
    "graph_components", "sim_kmeans", "dedup_minhash", "txt_bpe_pairs",
    "mm_chunk_dedup")

  val Modules: Seq[String] =
    Seq("operators", "dedup", "similarity", "graph", "text", "multimodal")

  /** The library module that owns a key, by the key's family prefix. */
  def module(key: String): String = key.takeWhile(_ != '_') match {
    case "graph" => "graph"
    case "sim"   => "similarity"
    case "dedup" => "dedup"
    case "txt"   => "text"
    case "mm"    => "multimodal"
    case _       => "operators"
  }
}
