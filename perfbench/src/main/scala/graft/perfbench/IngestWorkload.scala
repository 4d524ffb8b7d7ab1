package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `DedupIngest` and `AnnIngest` fed equal-sized file-source micro-batches
  * over a growing store, each seeded first (the `StreamBench` protocol).
  * The seed decides which rows seed the store and which fall into each
  * stream slice. Slices are staged untimed and moved into the live
  * source directory one at a time; each `processAllAvailable()` is one
  * micro-batch.
  *
  * [[open]] seeds both stores; each [[next]] then runs one timed
  * micro-batch per ingest, so that the caller can interleave them with
  * other work. Between micro-batches a query is stopped, so that it does
  * not poll its source while other work is timed. [[close]]
  * checks that the store's row count equals seed rows plus streamed
  * rows, and that DedupIngest decided every streamed document.
  */
final class IngestWorkload(h: Harness, seed: Long, dataDir: String, root: String,
                           slices: Int) {

  final case class Batch(span: Span, durations: Map[String, Double])

  /** One ingest: its staged slices, store, checkpoint and query. */
  private final class Feed(val name: String, dir: String, stream: DataFrame, id: String,
                           seedFn: String => Unit,
                           startFn: (DataFrame, String, String) => StreamingQuery,
                           check: (String, Long) => Unit) {
    private val (inDir, store, ckpt, staging) =
      (s"$dir/in", s"$dir/store", s"$dir/ckpt", s"$dir/staging")
    private var streamed = 0L
    private var fed = 0
    private var lastBatch = -1L
    private var query: Option[StreamingQuery] = None
    private var schema: org.apache.spark.sql.types.StructType = _
    var seedSpan: Span = _
    val batches = mutable.ArrayBuffer.empty[Batch]

    def open(): Unit = {
      rmTree(Paths.get(dir))
      stream.withColumn("_slice", bucket(id, 1, slices))
        .write.partitionBy("_slice").parquet(staging)
      streamed = h.spark.read.parquet(staging).count()
      schema = h.spark.read.parquet(s"$staging/_slice=0").schema
      seedSpan = h.call(s"$name.seed")(seedFn(store))._2
      Files.createDirectories(Paths.get(inDir))
    }

    /** Feed the next slice and time its micro-batch. */
    def next(): Unit = {
      val t0 = System.nanoTime()
      val q = startFn(h.spark.readStream.schema(schema).parquet(inDir), store, ckpt)
      query = Some(q)
      try {
        // an idle trigger first: the query has recovered its checkpoint
        // before the slice lands and the stopwatch starts
        q.processAllAvailable()
        val sliceDir = Paths.get(s"$staging/_slice=$fed")
        val parts = {
          val s = Files.list(sliceDir)
          try s.iterator().asScala.toVector finally s.close()
        }
        parts.filter(_.getFileName.toString.endsWith(".parquet")).foreach(p =>
          Files.move(p, Paths.get(inDir).resolve(s"slice$fed-${p.getFileName}")))
        fed += 1
        val (_, s) = h.call(s"$name.batch")(q.processAllAvailable())
        val fresh = q.recentProgress.filter(p => p.batchId > lastBatch && p.numInputRows > 0)
        fresh.foreach(p => h.tracer.alias(s.id, q.id.toString, p.batchId))
        if (fresh.nonEmpty) lastBatch = fresh.map(_.batchId).max
        val dur = fresh.flatMap(_.durationMs.asScala.toSeq)
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.doubleValue).sum }
        batches += Batch(s, dur)
        Option(q.exception.orNull).foreach(e => h.fail(s"$name: ${e.getMessage.take(200)}"))
        restartSeconds -= s.seconds
      } finally stop()
      restartSeconds += (System.nanoTime() - t0) / 1e9
    }

    def stop(): Unit = { query.foreach(_.stop()); query = None }

    def close(): Unit = {
      stop()
      // slices never fed are not part of the store
      val unfed = (fed until slices).map(i =>
        h.spark.read.parquet(s"$staging/_slice=$i").count()).sum
      check(store, streamed - unfed)
    }
  }

  /** Untimed time around the micro-batches: query start, checkpoint
    * recovery and stop.
    */
  var restartSeconds = 0.0

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toVector.sortBy(-_.getNameCount).foreach(Files.delete)
    finally walk.close()
  }

  /** `pmod(xxhash64(id, seed), n)`: the seeded split of a key column. */
  private def bucket(id: String, salt: Long, n: Int) =
    pmod(xxhash64(col(id), lit(seed * 31 + salt)), lit(n))

  private val feeds: Seq[Feed] = {
    val spark = h.spark
    val docs = graft.core.Tables.documents(spark, dataDir).select("doc_id", "text")
    val vecs = graft.core.Tables.embeddings(spark, dataDir)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "label", "v")

    val dedupCorpus = docs.filter(bucket("doc_id", 0, 4) =!= 0)
    val dedup = new Feed("dedup_ingest", s"$root/dedup",
      docs.filter(bucket("doc_id", 0, 4) === 0), "doc_id",
      store => graft.streaming.DedupIngest.seedIndex(dedupCorpus, store),
      (s, store, ckpt) => graft.streaming.DedupIngest.start(
        s, store, s"$root/dedup/decisions", ckpt),
      (store, streamed) => {
        val decided = spark.read.parquet(s"$root/dedup/decisions").count()
        val indexed = graft.streaming.DedupIngest.readIndex(spark, store)
          .select("doc_id").distinct().count()
        val want = dedupCorpus.count() + streamed
        if (decided != streamed)
          h.fail(s"dedup_ingest: $decided decisions for $streamed streamed docs")
        if (indexed != want)
          h.fail(s"dedup_ingest: store holds $indexed docs, expected $want")
      })

    val annSeed = vecs.filter(bucket("vec_id", 2, 2) === 0)
    val ann = new Feed("ann_ingest", s"$root/ann",
      vecs.filter(bucket("vec_id", 2, 2) === 1), "vec_id",
      store => graft.similarity.AnnIndex.seed(annSeed, store),
      (s, store, ckpt) => graft.streaming.AnnIngest.start(s, store, ckpt),
      (store, streamed) => {
        val stored = graft.similarity.AnnIndex.readCodes(spark, store)
          .select("vec_id").distinct().count()
        val want = annSeed.count() + streamed
        if (stored != want)
          h.fail(s"ann_ingest: store holds $stored vectors, expected $want")
      })
    Seq(dedup, ann)
  }

  /** Seed both stores. */
  def open(): Unit = feeds.foreach(_.open())

  /** Micro-batches left to feed. */
  def remaining: Int = slices - rounds
  var rounds = 0

  /** One timed micro-batch per ingest. */
  def next(): Unit = {
    feeds.foreach(_.next())
    rounds += 1
  }

  def close(): Unit = feeds.foreach(_.close())

  private def feed(n: String) = feeds.find(_.name == n).get
  private def batchSecs(n: String) = feed(n).batches.map(_.span.seconds).toSeq
  private def seedSecs(n: String) = feed(n).seedSpan.seconds

  /** Seconds spent seeding both stores. */
  def seedSeconds: Double = feeds.map(_.seedSpan.seconds).sum

  /** Time of one micro-batch per ingest, each its fastest over the
    * rounds (a co-running process can slow a reading, never speed it up).
    */
  def workSeconds: Double = feeds.map(f => batchSecs(f.name).min).sum

  /** Fastest micro-batch time of each ingest, in ms. */
  def kindMillis: Seq[Double] = feeds.map(f => batchSecs(f.name).min * 1e3)

  def detail: Map[String, Any] = Map(
    "stream.dedup_batch_s.p50" -> Metric(Stats.median(batchSecs("dedup_ingest")), "s"),
    "stream.ann_batch_s.p50" -> Metric(Stats.median(batchSecs("ann_ingest")), "s"),
    "stream.ingest_seed_s" -> Metric(seedSeconds, "s"),
    "stream.dedup_seed_s" -> seedSecs("dedup_ingest"),
    "stream.ann_seed_s" -> seedSecs("ann_ingest"),
    "stream.timed_batches" -> rounds,
    "stream.restart_s" -> restartSeconds,
    "stream.samples_ms" -> feeds.map(f => f.name ->
      batchSecs(f.name).map(v => math.rint(v * 1e4) / 10)).toMap)

  def layers: Map[String, Double] = {
    h.drainListener()
    feeds.flatMap { f =>
      val bs = f.batches.toSeq
      def med(g: Batch => Double) = Stats.median(bs.map(g))
      def dur(k: String)(b: Batch) = b.durations.getOrElse(k, 0.0)
      val p = s"streaming.${f.name}."
      Seq(
        p + "seed_s" -> f.seedSpan.seconds,
        p + "seed_jobs" -> h.tracer.usageOf(f.seedSpan).jobs.toDouble,
        p + "latest_offset_ms" -> med(dur("latestOffset")),
        p + "get_batch_ms" -> med(dur("getBatch")),
        p + "query_planning_ms" -> med(dur("queryPlanning")),
        p + "add_batch_ms" -> med(dur("addBatch")),
        p + "wal_commit_ms" -> med(dur("walCommit")),
        p + "jobs_per_batch" -> med(b => h.tracer.usageOf(b.span).jobs.toDouble),
        p + "driver_gap_ms" -> med { b =>
          val u = h.tracer.usageOf(b.span)
          (b.span.seconds - u.activeSeconds(b.span.startMs, b.span.endMs)) * 1e3
        },
        p + "shuffle_write_mb_per_batch" ->
          med(b => h.tracer.usageOf(b.span).shuffleWriteBytes / 1048576.0))
    }.toMap
  }
}
