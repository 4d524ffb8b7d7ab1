package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Entry point of the layered benchmark (driven by `perfbench/run.py`).
  *
  * Modes:
  *  - `prepare`: build the scaled relational corpus from the base corpus
  *    with `GenScale` and write its manifest (row counts, build time);
  *  - `run`: one measured run of one workload. The last stdout line is
  *    the result object; the line before it holds the per-workload
  *    detail (the workload's own metric names, error rate, contention).
  */
object Main {

  /** Row counts of the vendored base corpus, checked before every use. */
  val BaseRows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 1500L, "supplier" -> 100L,
    "part" -> 2000L, "orders" -> 15000L, "lineitem" -> 60000L,
    "events" -> 10000L, "documents" -> 500L, "embeddings" -> 500L)

  /** Bounded dimensions stay fixed under GenScale; the rest scale. */
  def scaledRows(copies: Int): Map[String, Long] = BaseRows.map {
    case (t, n) if t == "region" || t == "nation" => t -> n
    case (t, n) => t -> n * copies
  }

  val Workloads = Seq("batch", "streaming")
  /** Rounds of the streaming workload: at least the first, at most the
    * second (the number of stream slices staged).
    */
  val StreamMinRounds = 2
  val StreamMaxRounds = 6

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m.getOrElse("mode", "run"), m.getOrElse("workload", ""),
      m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m("base"), m("scaled"),
      m.getOrElse("copies", "1").toInt, m("work"),
      m.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      m.getOrElse("digests", ""), m.getOrElse("spawn-ms", "0").toLong)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val code =
      try opts.mode match {
        case "prepare" => prepare(opts); 0
        case "run" if Workloads.contains(opts.workload) => run(opts)
        case _ =>
          System.err.println(s"[perfbench] unknown mode/workload: ${opts.mode} ${opts.workload}")
          2
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        1
      }
    System.exit(code)
  }

  def prepare(opts: Opts): Unit = {
    val h = new Harness(opts)
    h.startSession()
    try {
      val t0 = System.nanoTime()
      graft.tools.GenScale.generate(h.spark, opts.base, opts.scaled, opts.copies)
      val sec = (System.nanoTime() - t0) / 1e9
      val manifest = Map("copies" -> opts.copies, "build_s" -> sec,
        "rows" -> scaledRows(opts.copies))
      Files.writeString(Paths.get(opts.scaled, "_MANIFEST.json"), Json(manifest))
      System.err.println(f"[perfbench] scaled corpus built in $sec%.1f s")
    } finally h.stop()
  }

  /** Batch keys with the corpus each reads: the relational family on
    * the scaled corpus, the iterative family on the base corpus.
    */
  private def batchKeys(opts: Opts): Seq[(String, String)] =
    BatchWorkload.Relational.map(_ -> opts.scaled) ++
      BatchWorkload.Iterative.map(_ -> opts.base)

  /** The tables a workload reads, with their corpus and expected row
    * count (touched and counted in every set-up).
    */
  private def tablesOf(opts: Opts): Seq[(String, String, Long)] = opts.workload match {
    case "batch" =>
      val scaled = scaledRows(opts.copies)
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events").map(t => (opts.scaled, t, scaled(t))) ++
        Seq("documents", "embeddings").map(t => (opts.base, t, BaseRows(t)))
    case _ => Seq("documents", "embeddings").map(t => (opts.base, t, BaseRows(t)))
  }

  def run(opts: Opts): Int = {
    val h = new Harness(opts)
    val mainStart = System.currentTimeMillis()
    val (la0, sibs0) = Stats.contention()
    val rng = new scala.util.Random(opts.seed)

    // ---- set-up, once and cold: the JVM start (from the spawn stamp
    // run.py passes), session start, then every table touched (listed,
    // read, row-counted and checked) concurrently. The untimed warm-up
    // below completes it.
    val jvmStartS = if (opts.spawnMs > 0) (mainStart - opts.spawnMs) / 1e3 else 0.0
    val sessionS = h.startSession()
    val tableS = {
      val t0 = System.nanoTime()
      val tables = tablesOf(opts)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
      try {
        val counts = tables.map { case (dir, t, _) =>
          pool.submit(() =>
            if (t == "events") graft.core.Tables.events(h.spark, dir).count()
            else graft.core.Tables.load(h.spark, dir, t).count())
        }.map(_.get())
        tables.zip(counts).foreach { case ((dir, t, rows), n) =>
          if (n != rows) h.fail(s"corpus $dir: $t has $n rows, expected $rows")
        }
      } finally pool.shutdown()
      h.spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      (System.nanoTime() - t0) / 1e9
    }
    val corpusBuildS = if (opts.workload != "batch") None else
      "\"build_s\":([0-9.eE+-]+)".r
        .findFirstMatchIn(Files.readString(Paths.get(opts.scaled, "_MANIFEST.json")))
        .map(_.group(1).toDouble)

    // {"cpus": n, "workload": {"key": "count:sum", ...}, ...}
    val digestTxt =
      if (opts.digests.isEmpty || !Files.exists(Paths.get(opts.digests))) ""
      else Files.readString(Paths.get(opts.digests))
    val digestCpus = "\"cpus\"\\s*:\\s*([0-9]+)".r.findFirstMatchIn(digestTxt)
      .map(_.group(1).toInt)
    val expected: Map[String, String] = {
      val block = ("\"" + opts.workload + "\"\\s*:\\s*\\{([^}]*)\\}").r
        .findFirstMatchIn(digestTxt).map(_.group(1)).getOrElse("")
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(block)
        .map(m => m.group(1) -> m.group(2)).toMap
    }

    // ---- the workload: untimed warm-up (with the output check), then
    // the measured phase, with the tracer attached in a traced run.
    val work = s"${opts.work}/data"
    val hyg0 = h.hygieneSec
    val conf0 = h.confChanges
    def startTracing(): Unit = if (opts.trace) h.attachTracer()
    val (e2e, layers, detail, warmS) = opts.workload match {
      case "batch" =>
        val w = new BatchWorkload(h, batchKeys(opts))
        val seen = w.checkPass(rng, expected)
        if (expected.isEmpty) h.fail("no expected digests for batch")
        if (h.failed > 0 && digestCpus.exists(_ != opts.cpus))
          System.err.println(s"[perfbench] the expected digests were taken with " +
            s"cpus=${digestCpus.get}, this run has cpus=${opts.cpus}: a mismatch " +
            "may come from a different summation order, not from the program")
        startTracing()
        w.measure(opts.seconds, rng)
        (w.endToEnd, if (opts.trace) w.layers else Map.empty[String, Double],
          w.detail ++ Map("digests" -> seen.toSeq.sortBy(_._1).toMap), w.checkPassSec)
      case "streaming" =>
        // the warm-up of the set-up: the stream slices staged and both
        // ingest stores seeded (the StreamBench protocol seeds before
        // streaming); the first round's cold calls are timed, and the
        // fastest reading of each kind of call is the one reported
        startTracing()
        val ingest = new IngestWorkload(h, opts.seed, opts.base, s"$work/ingest",
          slices = StreamMaxRounds)
        val w0 = System.nanoTime()
        ingest.open()
        val warm = (System.nanoTime() - w0) / 1e9
        val log = new EventLogWorkload(h, rng, s"$work/log", bulkBatchSize = 1000,
          catchupMax = 1000L)
        // rounds interleave every kind of call over the whole measurement,
        // so that each kind's fastest reading comes from its quietest spell
        val m0 = System.nanoTime()
        while (ingest.remaining > 0 &&
          (log.rounds < StreamMinRounds || (System.nanoTime() - m0) / 1e9 < opts.seconds)) {
          ingest.next()
          log.round()
        }
        val measureS = (System.nanoTime() - m0) / 1e9
        ingest.close()
        log.close()
        val e2e = Map(
          "work_s" -> (log.workSeconds + ingest.workSeconds),
          "gmean_ms" -> Stats.gmean(log.kindMillis ++ ingest.kindMillis))
        (e2e, if (opts.trace) log.layers ++ ingest.layers else Map.empty[String, Double],
          log.detail ++ ingest.detail ++ Map("measure_s" -> measureS), warm)
    }
    val (la1, sibs1) = Stats.contention()
    h.stop()

    val setupS = jvmStartS + sessionS + tableS + warmS
    val endToEnd = Map("setup_s" -> ("s", setupS), "work_s" -> ("s", e2e("work_s")),
      "gmean_ms" -> ("ms", e2e("gmean_ms")))

    val core = Map(
      "core.session_start_s" -> sessionS,
      "core.table_warm_s" -> tableS,
      "core.jit_warm_s" -> warmS,
      "core.hygiene_s" -> (h.hygieneSec - hyg0),
      "core.conf_changes" -> (h.confChanges - conf0).toDouble)

    val absent = mutable.LinkedHashMap.empty[String, String]
    val metricsJson =
      if (!opts.trace)
        endToEnd.map { case (k, (u, v)) => k -> Map("unit" -> u, "value" -> v) }
      else {
        // the tracing's own cost: time inside the listener callbacks, as
        // a share of the traced measurement's work
        val measured = layers ++ core ++ Map("core.trace_overhead_pct" ->
          h.tracer.listenerNs / 1e9 / e2e("work_s") * 100.0)
        PerLayer.all.map { case (name, unit) =>
          val v = measured.getOrElse(name, {
            absent(name) = PerLayer.absentReason(name, opts.workload); 0.0
          })
          name -> Map("unit" -> unit, "value" -> v)
        }.toMap
    }

    val errorRate = if (h.attempted == 0) 1.0 else h.failed.toDouble / h.attempted
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "cpus" -> opts.cpus,
      "jvm_start_s" -> jvmStartS,
      "corpus_build_s" -> corpusBuildS.getOrElse(0.0),
      "error_rate" -> Metric(errorRate, "ratio"),
      "peak_storage_mb" -> Metric(h.peakStorageMb, "MB"),
      "warm_s" -> warmS,
      "contention" -> Map("start" -> s"$la0 sibs=$sibs0", "end" -> s"$la1 sibs=$sibs1"),
      "failures" -> h.failures.toSeq)
    info ++= detail
    if (opts.trace)
      info("traced_end_to_end") = endToEnd.map { case (k, (u, v)) => k -> Metric(v, u) }
    if (absent.nonEmpty) info("absent") = absent
    println(Json(Map("perfbench" -> info)))
    if (opts.trace) {
      val out = Paths.get(opts.work, s"trace-${opts.workload}-seed${opts.seed}.jsonl")
      Files.write(out, h.tracer.allSpans.map(s => Json(Map("id" -> s.id,
        "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "wall_s" -> s.seconds,
        "self_s" -> h.tracer.selfSeconds(s)))).mkString("\n").getBytes("UTF-8"))
      System.err.println(s"[perfbench] spans written to $out " +
        s"(${h.tracer.unattributedJobs} jobs ran outside any span)")
    }
    val correct = h.failed == 0
    println(Json(Map("correct" -> correct, "attempted" -> h.attempted,
      "failed" -> h.failed, "metrics" -> metricsJson)))
    0
  }
}

/** The per-layer metric catalogue (names and units, in output order). */
object PerLayer {
  private val batch = Seq("build_s" -> "s", "plan_s" -> "s", "exec_s" -> "s",
    "jobs" -> "count", "stage_active_s" -> "s", "driver_gap_s" -> "s",
    "cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "pins_left" -> "count")
  private val eventlog = Seq("produce_ms.p50" -> "ms", "produce_jobs" -> "count",
    "bulk_produce_ms.p50" -> "ms", "poll_ms.p50" -> "ms",
    "poll_self_ms.p50" -> "ms", "handler_ms.p50" -> "ms", "poll_jobs" -> "count",
    "catchup_poll_ms.p50" -> "ms", "catchup_poll_jobs" -> "count",
    "catchup_shuffle_mb" -> "MB", "input_mb_per_poll" -> "MB",
    "driver_gap_ms_per_poll" -> "ms", "topic_files" -> "count",
    "commit_files" -> "count", "bytes_per_msg" -> "B", "compact_s" -> "s")
  private val ingest = Seq("seed_s" -> "s", "seed_jobs" -> "count",
    "latest_offset_ms" -> "ms", "get_batch_ms" -> "ms",
    "query_planning_ms" -> "ms", "add_batch_ms" -> "ms", "wal_commit_ms" -> "ms",
    "jobs_per_batch" -> "count", "driver_gap_ms" -> "ms",
    "shuffle_write_mb_per_batch" -> "MB")
  private val core = Seq("session_start_s" -> "s", "table_warm_s" -> "s",
    "jit_warm_s" -> "s", "hygiene_s" -> "s", "conf_changes" -> "count",
    "trace_overhead_pct" -> "%")

  val all: Seq[(String, String)] =
    BatchWorkload.Modules.flatMap(m => batch.map { case (n, u) => s"$m.$n" -> u }) ++
      eventlog.map { case (n, u) => s"streaming.eventlog.$n" -> u } ++
      Seq("dedup_ingest", "ann_ingest").flatMap(i =>
        ingest.map { case (n, u) => s"streaming.$i.$n" -> u }) ++
      core.map { case (n, u) => s"core.$n" -> u }

  def absentReason(metric: String, workload: String): String =
    s"$workload makes no call that $metric measures; reported as 0"
}
