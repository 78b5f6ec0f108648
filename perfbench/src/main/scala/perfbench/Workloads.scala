package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.ops.ApproxDedup
import graft.storage.PipeStorage
import graft.streaming.StreamingSync
import graft.sync.{SyncEngine, SyncHooks, SyncResult}

/** What the runner needs from one workload: the op kinds behind its
  * primary latency, what its throughput counts, set-up repetitions, final
  * check failures, sizes and layer extras. Ops themselves live in the
  * tracer. */
final case class Outcome(
    primary: Set[String],
    itemsUnit: String,
    preloadS: Seq[Double],
    failures: Seq[String],
    diskBytes: Long,
    liveRows: Long,
    sizes: Map[String, Any],
    extra: Map[String, Double])

final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val work: String, val cpus: Int) {
  /** Pipe roots as file: URIs. PipeStorage.rowCount compares listed
    * (qualified) paths with the root to skip hidden directories; with a
    * scheme-less root that walk runs past the root, and any `.`- or
    * `_`-prefixed directory above it hides every file. */
  def root(name: String): String = new java.io.File(s"$work/$name").toURI.toString

  /** A sync engine over a fresh root; the traced run wraps each pipe's
    * store and opens a span around every sync the engine runs. */
  def engine(root: String, hooks: SyncHooks = SyncHooks()): SyncEngine =
    if (tracer.on)
      new SyncEngine(spark, root, hooks = hooks,
        storeFactory = (s, r, sp) => new TracedStore(new PipeStorage(s, r, sp), tracer))
    else new SyncEngine(spark, root, hooks = hooks)

  /** Warm-up ops (untimed), then timed ops until `seconds` have passed and
    * the last block of `block` ops is complete. Ops still get faster as the
    * JIT warms, so whole blocks make a run on a slowed machine time the
    * same ops of that curve as any other run, not only its earlier ones. */
  def loop(warmup: Int, block: Int)(step: (Int, Boolean) => Boolean): Unit = {
    var i = 0
    while (i < warmup && step(i, false)) i += 1
    val ticks = cpuTicks()
    val until = System.nanoTime() + (seconds * 1e9).toLong
    while ((System.nanoTime() < until || (i - warmup) % block != 0) && step(i, true)) i += 1
    val d = cpuTicks().zip(ticks).map { case (b, a) => b - a }
    if (d.length > 7 && d.sum > 0) stealShare = d(7).toDouble / d.sum
  }

  /** Share of the machine's CPU time that the hypervisor gave to other
    * guests while the timed ops ran (`steal` in /proc/stat). Runs slowed by
    * a busy host show it; 0 where /proc/stat is missing. */
  var stealShare = 0.0

  private def cpuTicks(): Array[Long] = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) Array.empty
    else Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
  }

  /** Time `reps` fresh preloads; returns the last one's product and the
    * seconds each took. */
  def preload[A](reps: Int)(body: Int => A): (A, Seq[Double]) = {
    val times = ArrayBuffer.empty[Double]
    var last: Option[A] = None
    for (r <- 0 until reps) {
      val t0 = System.nanoTime()
      last = Some(body(r))
      times += (System.nanoTime() - t0) / 1e9
    }
    (last.get, times.toSeq)
  }

  /** Counters of the timed ops, for the traced run's layer metrics. */
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def count(key: String, v: Double, timed: Boolean): Unit = if (timed) synchronized { counters(key) += v }
  def countSync(offered: Long, r: SyncResult, timed: Boolean): Unit = {
    count("sync.rows_offered", offered.toDouble, timed)
    count("sync.rows_inserted", r.inserted.toDouble, timed)
    count("sync.rows_updated", r.updated.toDouble, timed)
    count("sync.retries", (r.attempts - 1).toDouble, timed)
  }
}

object Workloads {
  val Names: Seq[String] = Seq("stream_sync", "dedup_index")

  // The stress-plugin shape: one row per id per minute, daily chunks. A
  // stream step is 6,000 rows (375 new and 375 backtrack minutes), so its
  // backtrack read prunes to the last one or two daily chunks. See
  // README.md, Sizes.
  val Ids = 8
  val PreloadDays = 7
  val PreloadMinutes: Int = PreloadDays * 1440
  val FreshMinutes = 375
  val BackMinutes = 375
  val ChangeShare = 0.1
  // Set-up runs this many times; the first runs on a cold JIT, so the
  // median is a warm set-up, and the two repeats cost 1-4 s.
  val Preloads = 3

  val Schema: StructType = StructType(Seq(
    StructField("ts", TimestampNTZType), StructField("id", LongType), StructField("val", DoubleType)))

  def spec(name: String): PipeSpec = PipeSpec(
    keys = PipeKeys("bench", name),
    columns = ColumnRoles(Map("datetime" -> "ts", "id" -> "id")),
    chunkMinutes = 1440)

  def run(name: String, c: Ctx): Outcome = name match {
    case "stream_sync" => streamSync(c)
    case "dedup_index" => dedupIndex(c)
    case other         => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Input content hash of a workload's generator for `seed`: the
    * determinism self-check compares it across seeds. */
  def inputDigest(name: String, seed: Long): String = name match {
    case "dedup_index" =>
      val d = new Gen.Digest
      val g = Docs(seed, 200, 0.1)
      for (b <- 0 until 3) {
        val (docs, planted) = g.batch(b)
        docs.foreach { case (id, t) => d.add(Gen.mix(id, t.hashCode.toLong)) }
        planted.foreach { case (a, b2) => d.add(Gen.mix(a, b2, 7L)) }
      }
      d.value
    case _ =>
      val s = Series(seed, Ids, 1440 + FreshMinutes * 4)
      s.grow(1440)
      val d = new Gen.Digest
      for (k <- 0 until 4; (m, id, v) <- s.nextBatch(k, FreshMinutes, BackMinutes, ChangeShare).rows)
        d.add(Series.rowHash(m, id, v))
      d.value + "/" + s.digest
  }

  // ── series helpers ────────────────────────────────────────────────────

  /** Rows of fresh (version 0) minutes, generated in Spark tasks. */
  private def freshRows(c: Ctx, seed: Long, minutes: Range): DataFrame = {
    val ids = Ids
    val rdd = c.spark.sparkContext.parallelize(minutes, c.cpus).flatMap { m =>
      (1 to ids).map(id => Row(Series.Base.plusMinutes(m.toLong), id.toLong,
        Series.value(seed, m, id, 0)))
    }
    c.spark.createDataFrame(rdd, Schema)
  }

  /** Preload a series pipe `Preloads` times into fresh roots; the last one
    * is kept. */
  private def preloadSeries(c: Ctx, s: Series, sp: PipeSpec,
                            hooks: SyncHooks = SyncHooks()): (SyncEngine, Seq[Double], Option[String]) = {
    val minutes = s.grow(PreloadMinutes)
    val ((eng, err), times) = c.preload(Preloads) { r =>
      val e = c.engine(c.root(s"pipes-$r"), hooks)
      val res = e.sync(sp, freshRows(c, s.seed, minutes))
      (e, if (res.inserted != s.rows) Some(s"preload inserted ${res.inserted}, expected ${s.rows}") else None)
    }
    (eng, times, err)
  }

  /** Compare the stored pipe with the series' last-write-wins state. */
  private def pipeMatches(c: Ctx, eng: SyncEngine, sp: PipeSpec, s: Series): Option[String] = {
    val got = eng.getData(sp).select(col("ts"), col("id"), col("val")).collect()
    val d = new Gen.Digest
    got.foreach { r =>
      val m = java.time.Duration.between(Series.Base, r.getAs[java.time.LocalDateTime](0)).toMinutes.toInt
      d.add(Series.rowHash(m, r.getLong(1).toInt, r.getDouble(2)))
    }
    val want = s.digest
    if (d.value == want) None else Some(s"pipe digest ${d.value} != reference $want")
  }

  private def seriesSizes(s: Series, eng: SyncEngine, sp: PipeSpec, batchRows: Long): Map[String, Any] = {
    val st = eng.storage(sp)
    Map("ids" -> Ids, "preload_rows" -> PreloadMinutes.toLong * Ids,
      "final_rows" -> s.rows, "batch_rows" -> batchRows,
      "chunks" -> chunks(s), "pipe_bytes" -> st.sizeBytes, "pipe_files" -> st.fileCount)
  }

  private def chunks(s: Series): Int = (s.filled + 1439) / 1440

  /** Live files and files per chunk. A pipe with a datetime axis has one
    * chunk per day it covers; one without (the band index) is a single
    * versioned snapshot, one chunk. */
  private def storageExtras(eng: SyncEngine, sp: PipeSpec, nChunks: Int): Map[String, Double] = {
    val files = eng.storage(sp).fileCount.toDouble
    Map("storage.files" -> files, "storage.files_per_chunk" -> files / math.max(1, nChunks))
  }

  // ── stream_sync ───────────────────────────────────────────────────────

  def streamSync(c: Ctx): Outcome = {
    // the JIT speeds a step up steeply for about a dozen files (first file
    // ~5 s, then ~2.4 s, ~1.7 s at the tenth) and slowly after that; twelve
    // warm-up files leave the timed steps on the flat end of that curve, so
    // a run on a calm host, which times more steps, does not also time much
    // faster ones
    val warm = 12
    // files for one step per 1/3 s; a stream faster than that ends the run early
    val maxSteps = warm + math.ceil(c.seconds * 3).toInt
    val s = Series(c.seed, Ids, PreloadMinutes + FreshMinutes * (maxSteps + 1))
    val sp = spec("stream_sync")
    val results = new ConcurrentLinkedQueue[SyncResult]()
    @volatile var syncSpan = 0L
    val hooks =
      if (!c.tracer.on) SyncHooks()
      else SyncHooks(
        preSync = (_, df) => { syncSpan = c.tracer.begin("sync", "sync"); df },
        postSync = (_, _) => c.tracer.end(syncSpan))
    val (eng, preS0, preErr) = preloadSeries(c, s, sp, hooks)

    // stage every step's file up front, one parquet file per step
    val t0 = System.nanoTime()
    val gen = s.copy()
    gen.filled = s.filled
    val batches = (0 until maxSteps).map(k => gen.nextBatch(k, FreshMinutes, BackMinutes, ChangeShare))
    val staged = s"${c.work}/staged"
    val stagedRows = batches.zipWithIndex.flatMap { case (b, k) =>
      b.rows.map { case (m, id, v) => Row(Series.Base.plusMinutes(m.toLong), id.toLong, v, k) }
    }
    c.spark.createDataFrame(c.spark.sparkContext.parallelize(stagedRows, c.cpus),
        Schema.add("step", IntegerType))
      .repartition(col("step")).write.partitionBy("step").parquet(staged)
    val src = Paths.get(s"${c.work}/source")
    Files.createDirectories(src)
    val q = StreamingSync.run(eng, sp,
      StreamingSync.parquetStream(c.spark, src.toString, Schema, maxFilesPerTrigger = Some(1)),
      s"${c.work}/checkpoint", trigger = Trigger.ProcessingTime(0L),
      onBatch = r => { results.add(r); () })
    val stageS = (System.nanoTime() - t0) / 1e9

    var landed = 0
    val stepFails = ArrayBuffer.empty[String]
    try {
      c.loop(warm, block = 3) { (k, timed) =>
        if (k >= maxSteps || !q.isActive) false
        else {
          val b = batches(k)
          val file = Files.list(Paths.get(s"$staged/step=$k")).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          c.tracer.op("fresh", timed, b.rows.size) {
            Files.move(file, src.resolve(f"$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
            landed += 1
            awaitBatch(q, k)
            () => {
              val r = results.asScala.drop(k).headOption
              c.countSync(b.rows.size, r.getOrElse(SyncResult(0, 0)), timed)
              r match {
                case Some(r) if r.inserted == b.inserted && r.updated == b.updated => None
                case Some(r) => Some(s"stream step $k: got (${r.inserted}, ${r.updated}), expected (${b.inserted}, ${b.updated})")
                case None => Some(s"stream step $k: no sync result")
              }
            }
          }
          true
        }
      }
    } finally {
      q.stop()
      c.tracer.drainAll()
    }
    q.exception.foreach(e => stepFails += s"stream query failed: ${e.getMessage.take(200)}")
    // the reference: the preload plus the steps that landed, replayed
    val ref = Series(c.seed, Ids, s.capacityMinutes)
    ref.grow(PreloadMinutes)
    for (k <- 0 until landed) ref.nextBatch(k, FreshMinutes, BackMinutes, ChangeShare)
    val fails = (preErr.toSeq ++ stepFails ++ pipeMatches(c, eng, sp, ref))
      .map(e => s"stream_sync final: $e")
    Outcome(Set("fresh"), "rows", preS0.map(_ + stageS), fails,
      eng.storage(sp).sizeBytes, ref.rows,
      seriesSizes(ref, eng, sp, (FreshMinutes + BackMinutes).toLong * Ids) ++
        Map("staged_files" -> maxSteps, "landed_files" -> landed),
      c.counters.toMap ++ storageExtras(eng, sp, chunks(ref)))
  }

  /** Block until the query has reported batch `id` (its commit is logged). */
  private def awaitBatch(q: org.apache.spark.sql.streaming.StreamingQuery, id: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while ({ val p = q.lastProgress; p == null || p.batchId < id }) {
      if (!q.isActive) throw new IllegalStateException("stream stopped", q.exception.orNull)
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"batch $id not committed in 60 s")
      java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
    }
  }

  // ── dedup_index ───────────────────────────────────────────────────────

  val DocsPerBatch = 2500
  val CopyShare = 0.1
  val Threshold = 0.6
  val Shingle = 3
  val SigK = 24
  val Bands = 12

  def dedupIndex(c: Ctx): Outcome = {
    val g = Docs(c.seed, DocsPerBatch, CopyShare)
    val sp = PipeSpec(keys = PipeKeys("bench", "band_index"))
    val docSchema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    def frame(docs: Seq[(Long, String)]) =
      c.spark.createDataFrame(docs.map { case (id, t) => Row(id, t) }.asJava, docSchema)
    def bandRows(df: DataFrame) = ApproxDedup.minhashBandIndex(df, "id", "text", Shingle, SigK, Bands)

    // the band-index pipe starts from batch 0's index
    val (first, _) = g.batch(0)
    val ((eng, preErr), preS) = c.preload(Preloads) { r =>
      val e = c.engine(c.root(s"pipes-$r"))
      val res = e.syncBlind(sp, bandRows(frame(first)))
      (e, if (res.inserted != first.size.toLong * Bands) Some(s"preload inserted ${res.inserted}") else None)
    }
    var indexed = first.size.toLong * Bands
    var planted = 0L
    var found = 0L
    c.loop(warmup = 1, block = 2) { (i, timed) =>
      val (docs, pairs) = g.batch(i + 1)
      val df = frame(docs)
      c.tracer.op("dedup", timed, docs.size) {
        val out = c.tracer.span("ops", "minhashNearDupsFast") {
          ApproxDedup.minhashNearDupsFast(df, "id", "text", Threshold, Shingle, SigK, Bands).collect()
        }
        val r = c.tracer.span("ops", "minhashBandIndex") {
          val rows = bandRows(df)
          c.tracer.span("sync", "syncBlind")(eng.syncBlind(sp, rows))
        }
        c.countSync(docs.size.toLong * Bands, r, timed)
        c.count("ops.pairs_out", out.length.toDouble, timed)
        indexed += r.inserted
        () => {
          val got = out.map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
          val missing = pairs.filterNot(got.contains)
          if (timed) { planted += pairs.size; found += pairs.size - missing.size }
          val text = docs.toMap
          val bad = got.collect { case ((a, b), j) if {
              val exact = Shingles.jaccard(Shingles.of(text(a), Shingle), Shingles.of(text(b), Shingle))
              exact < Threshold - 1e-9 || math.abs(exact - j) > 1e-9
            } => (a, b) }
          if (missing.nonEmpty) Some(s"dedup $i: ${missing.size} planted pairs missed, e.g. ${missing.head}")
          else if (bad.nonEmpty) Some(s"dedup $i: ${bad.size} pairs below threshold, e.g. ${bad.head}")
          else if (r.inserted != docs.size.toLong * Bands) Some(s"dedup $i: band index inserted ${r.inserted}")
          else None
        }
      }
      true
    }
    val st = eng.storage(sp)
    val stored = st.rowCount
    val fails = (preErr.toSeq ++
      (if (stored == indexed) None else Some(s"band index holds $stored rows, expected $indexed")))
      .map(e => s"dedup_index final: $e")
    Outcome(Set("dedup"), "docs", preS, fails, st.sizeBytes, stored,
      Map("docs_per_batch" -> DocsPerBatch, "copy_share" -> CopyShare, "threshold" -> Threshold,
        "k" -> SigK, "bands" -> Bands, "index_rows" -> stored, "pipe_bytes" -> st.sizeBytes,
        "pipe_files" -> st.fileCount),
      c.counters.toMap ++ storageExtras(eng, sp, 1) ++
        Map("ops.planted_recall" -> (if (planted > 0) found.toDouble / planted else 0.0)))
  }
}
