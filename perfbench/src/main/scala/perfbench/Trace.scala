package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.PipeSpec
import graft.storage.{InstanceStore, StrayScan}

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` is 0 for an op's root span; `op` is shared by every span of
  * one op. */
final case class Span(id: Long, layer: String, name: String,
                      start: Long, end: Long, parent: Long, op: Long)

/** One op of the closed loop: its window and outcome. */
final case class OpRec(id: Long, kind: String, start: Long, end: Long,
                       timed: Boolean, items: Long, error: Option[String]) {
  def ms: Double = (end - start) / 1000.0
}

/** Spans and op windows, kept in memory and written out when the run ends.
  * With `on = false` every call is a pass-through, so the untraced run
  * pays only a clock read per op. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val ids = new AtomicLong(0)
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val ops: ArrayBuffer[OpRec] = ArrayBuffer.empty
  @volatile var currentOp: Long = 0L
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val open = new ConcurrentHashMap[Long, (String, String, Long, Long, Long)]()

  val jobs = new JobListener
  val catalyst = new CatalystListener
  val stream = new StreamListener
  if (on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(stream)
  }

  /** Open a span on this thread; returns its id (0 when tracing is off). */
  def begin(layer: String, name: String): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      val st = stack.get()
      open.put(id, (layer, name, nowUs, st.headOption.getOrElse(0L), currentOp))
      stack.set(id :: st)
      id
    }

  def end(id: Long): Unit = if (on && id != 0L) {
    val (layer, name, start, parent, op) = open.remove(id)
    stack.set(stack.get().filterNot(_ == id))
    spans.synchronized { spans += Span(id, layer, name, start, nowUs, parent, op) }
  }

  def span[A](layer: String, name: String)(body: => A): A = {
    val id = begin(layer, name)
    try body finally end(id)
  }

  /** Run one op of the closed loop. `body` does the engine work and
    * returns the op's check, which runs after the clock stops; a thrown
    * exception or a failed check marks the op failed. */
  def op(kind: String, timed: Boolean, items: Long)(body: => () => Option[String]): OpRec = {
    val id = ids.incrementAndGet()
    currentOp = id
    if (on) spark.sparkContext.setJobGroup(s"perfbench-op-$id", kind, interruptOnCancel = false)
    val rootId = begin("bench", kind)
    val start = nowUs
    val outcome: Either[String, () => Option[String]] =
      try Right(body)
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val stop = nowUs
    end(rootId)
    if (on) { drain(start, stop); spark.sparkContext.clearJobGroup() }
    val err = outcome match {
      case Left(e) => Some(e)
      case Right(check) =>
        try check() catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val rec = OpRec(id, kind, start, stop, timed, items, err.map(_.take(300)))
    ops.synchronized { ops += rec }
    currentOp = 0L
    rec
  }

  /** Wait until the listener bus has delivered this op's events: every job
    * started inside the window has ended. A job-end event can be posted a
    * moment after the action returns, hence the bounded re-drain. */
  private def drain(startUs: Long, stopUs: Long): Unit = {
    var tries = 0
    PerfbenchBus.drain(spark.sparkContext)
    while (jobs.openIn(startUs / 1000, stopUs / 1000 + 1) && tries < 200) {
      Thread.sleep(1); PerfbenchBus.drain(spark.sparkContext); tries += 1
    }
  }

  /** Drain the bus without an op window (end of run). */
  def drainAll(): Unit = if (on) PerfbenchBus.drain(spark.sparkContext)

  def close(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(stream)
  }
}

/** Per-job and per-stage records from the Spark scheduler. Stages map to
  * jobs through `SparkListenerJobStart.stageIds`. */
final class JobListener extends SparkListener {
  import JobListener._
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val failedTasks = new ConcurrentHashMap[Int, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, Job(e.jobId, g, e.time, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, Stage(i.numTasks, m.executorRunTime,
      m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success)
      failedTasks.computeIfAbsent(e.stageId, _ => new AtomicLong()).incrementAndGet()

  def openIn(fromMs: Long, toMs: Long): Boolean =
    jobs.values().asScala.exists(j => j.end < 0 && j.start >= fromMs && j.start <= toMs)
}

object JobListener {
  final case class Job(id: Int, group: Option[String], start: Long, var end: Long,
                       stages: Seq[Int])
  final case class Stage(tasks: Int, runMs: Long, input: Long, shufRead: Long,
                         shufWrite: Long, output: Long, outRecords: Long, spill: Long)
}

/** Catalyst phase times of every executed query, read from
  * `QueryExecution.tracker`. */
final class CatalystListener extends QueryExecutionListener {
  import CatalystListener.Query
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[Query]()
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val windows = Seq("analysis", "optimization", "planning").flatMap(k =>
      ph.get(k).map(p => (k, p.startTimeMs, p.endTimeMs)))
    val start = if (windows.isEmpty) System.currentTimeMillis() else windows.map(_._2).min
    queries.add(Query(start, d("analysis"), d("optimization"), d("planning"), windows))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

object CatalystListener {
  /** Phase durations (ms) of one query, its first phase start (epoch ms)
    * and the phase windows for spans. */
  final case class Query(start: Long, analysis: Long, optimization: Long, planning: Long,
                         phases: Seq[(String, Long, Long)])
}

/** Per-trigger progress of streaming queries. */
final class StreamListener extends StreamingQueryListener {
  import StreamListener.Trigger
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
    triggers.add(Trigger(ts, p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

object StreamListener {
  /** `ts` is the trigger's start; a trigger that finds a new file may have
    * started just before the file landed, so ops are matched on `end`. */
  final case class Trigger(ts: Long, batchId: Long, inputRows: Long, durations: Map[String, Long]) {
    def end: Long = ts + durations.getOrElse("triggerExecution", 0L)
  }
}

/** The storage layer, timed: wraps the pipe's store and records a span per
  * call of the engine into it. */
final class TracedStore(inner: InstanceStore, t: Tracer) extends InstanceStore {
  private def s[A](m: String)(b: => A): A = t.span("storage", m)(b)
  def spec: PipeSpec = inner.spec
  override def exists: Boolean = s("exists")(inner.exists)
  override def read: DataFrame = s("read")(inner.read)
  override def schemaDdl: Option[String] = inner.schemaDdl
  override def readRange(begin: Option[Any], end: Option[Any], endInclusive: Boolean): DataFrame =
    s("readRange")(inner.readRange(begin, end, endInclusive))
  override def readIn(values: Seq[Any]): DataFrame = inner.readIn(values)
  override def rowCount: Long = s("rowCount")(inner.rowCount)
  override def create(df: DataFrame, cluster: Boolean): Unit = s("create")(inner.create(df, cluster))
  override def overwrite(df: DataFrame): Unit = inner.overwrite(df)
  override def append(df: DataFrame): Unit = s("append")(inner.append(df))
  override def upsert(patch: DataFrame, keys: Seq[String], knownChunks: Option[Seq[String]],
                      strayScan: StrayScan): Unit =
    s("upsert")(inner.upsert(patch, keys, knownChunks, strayScan))
  override def applyDelta(updates: DataFrame, inserts: DataFrame, keys: Seq[String],
                          knownChunks: Option[Seq[String]], strayScan: StrayScan): Unit =
    s("applyDelta")(inner.applyDelta(updates, inserts, keys, knownChunks, strayScan))
  override def clear(predicate: Column, boundLo: Option[Any], boundHi: Option[Any]): Unit =
    inner.clear(predicate, boundLo, boundHi)
  override def clearStructured(boundLo: Option[Any], boundHi: Option[Any],
                               params: Map[String, Any]): Unit =
    inner.clearStructured(boundLo, boundHi, params)
  override def deduplicate(keys: Seq[String], orderBy: Seq[String]): Long =
    inner.deduplicate(keys, orderBy)
  override def drop(): Unit = inner.drop()
  override def syncTime(newest: Boolean): Option[java.time.LocalDateTime] =
    s("syncTime")(inner.syncTime(newest))
  override def syncTimeEpoch(newest: Boolean): Option[Long] = inner.syncTimeEpoch(newest)
  override def readMaxId: Option[Long] = inner.readMaxId
  override def writeMaxId(v: Long): Unit = inner.writeMaxId(v)
  override def chunkLabel: Option[Column] = inner.chunkLabel
  override def compact(): Unit = inner.compact()
  override def vacuum(): Unit = inner.vacuum()
  override def fileCount: Long = inner.fileCount
  override def sizeBytes: Long = inner.sizeBytes
  override def withWriteLease[A](body: => A): A = s("withWriteLease")(inner.withWriteLease(body))
}

object TracedStore {
  val Methods: Seq[String] = Seq("readRange", "read", "rowCount", "exists", "create",
    "append", "upsert", "applyDelta", "syncTime", "withWriteLease")
}

/** Folds a traced run's spans and listener records into per-layer metrics
  * and a span tree over the timed ops. */
final class Layers(t: Tracer) {
  private val timed = t.ops.filter(_.timed).sortBy(_.start)
  private val n = math.max(1, timed.size).toDouble
  private val timedIds = timed.map(_.id).toSet
  private val starts = timed.map(_.start).toArray

  /** The timed op whose window holds `us`, if any. */
  def opAt(us: Long): Option[OpRec] = {
    val i = java.util.Arrays.binarySearch(starts, us)
    val k = if (i >= 0) i else -i - 2
    if (k >= 0 && us <= timed(k).end + 1000) Some(timed(k)) else None
  }

  private val jobsByOp: Map[Long, Seq[JobListener.Job]] = t.jobs.jobs.values().asScala.toSeq.flatMap { j =>
    val byGroup = j.group.collect { case g if g.startsWith("perfbench-op-") =>
      g.stripPrefix("perfbench-op-").toLong }
    byGroup.orElse(opAt(j.start * 1000).map(_.id)).filter(timedIds).map(_ -> j)
  }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Union length of intervals (ms). */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def metrics(extra: Map[String, Double]): Map[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val spans = t.spans.toSeq.filter(s => timedIds(s.op))
    def per(v: Double) = v / n
    def perL(v: Long) = v.toDouble / n
    // sync
    val sync = spans.filter(_.layer == "sync")
    val storage = spans.filter(_.layer == "storage")
    val syncBusy = sync.map(s => s.end - s.start).sum / 1000.0
    val storageInSync = sync.map { s =>
      union(storage.filter(c => c.op == s.op && c.start >= s.start && c.end <= s.end)
        .map(c => (c.start, c.end))) / 1000.0
    }.sum
    out("sync.calls") = (per(sync.size), "count")
    out("sync.busy_ms") = (per(syncBusy), "ms")
    out("sync.self_ms") = (per(syncBusy - storageInSync), "ms")
    for (k <- Seq("sync.retries", "sync.rows_offered", "sync.rows_inserted", "sync.rows_updated"))
      out(k) = (per(extra.getOrElse(k, 0.0)), "count")
    val offered = extra.getOrElse("sync.rows_offered", 0.0)
    val useful = extra.getOrElse("sync.rows_inserted", 0.0) + extra.getOrElse("sync.rows_updated", 0.0)
    out("sync.useful_ratio") = (if (offered > 0) useful / offered else 0.0, "ratio")
    // storage
    for (m <- TracedStore.Methods) {
      val ss = storage.filter(_.name == m)
      out(s"storage.$m.calls") = (per(ss.size), "count")
      out(s"storage.$m.ms") = (per(ss.map(s => s.end - s.start).sum / 1000.0), "ms")
    }
    // spark
    val opJobs = timed.map(o => o -> jobsByOp.getOrElse(o.id, Nil))
    val allJobs = opJobs.flatMap(_._2)
    val stageRecs = allJobs.flatMap(_.stages).distinct.flatMap(s => Option(t.jobs.stages.get(s)))
    val outRecords = stageRecs.map(_.outRecords).sum.toDouble
    out("storage.files") = (extra.getOrElse("storage.files", 0.0), "count")
    out("storage.files_per_chunk") = (extra.getOrElse("storage.files_per_chunk", 0.0), "ratio")
    out("storage.write_amp") = (if (useful > 0) outRecords / useful else 0.0, "ratio")
    // catalyst
    val queries = t.catalyst.queries.asScala.toSeq.filter(q => opAt(q.start * 1000).isDefined)
    val an = queries.map(_.analysis).sum.toDouble
    val opt = queries.map(_.optimization).sum.toDouble
    val pl = queries.map(_.planning).sum.toDouble
    val busy = timed.map(_.ms).sum
    out("catalyst.actions") = (per(queries.size), "count")
    out("catalyst.analysis_ms") = (per(an), "ms")
    out("catalyst.optimization_ms") = (per(opt), "ms")
    out("catalyst.planning_ms") = (per(pl), "ms")
    out("catalyst.plan_share") = (if (busy > 0) (an + opt + pl) / busy else 0.0, "ratio")
    out("spark.jobs_per_op") = (per(allJobs.size), "count")
    out("spark.stages_per_op") = (per(stageRecs.size), "count")
    out("spark.tasks_per_op") = (per(stageRecs.map(_.tasks).sum), "count")
    out("spark.task_ms") = (perL(stageRecs.map(_.runMs).sum), "ms")
    val gaps = opJobs.map { case (o, js) =>
      val win = js.filter(_.end >= 0).map(j => (math.max(j.start, o.start / 1000), math.min(j.end, o.end / 1000)))
      o.ms - union(win.filter(w => w._2 > w._1)).toDouble
    }
    out("spark.driver_gap_ms") = (per(gaps.sum), "ms")
    out("spark.input_bytes") = (perL(stageRecs.map(_.input).sum), "B")
    out("spark.shuffle_read_bytes") = (perL(stageRecs.map(_.shufRead).sum), "B")
    out("spark.shuffle_write_bytes") = (perL(stageRecs.map(_.shufWrite).sum), "B")
    out("spark.output_bytes") = (perL(stageRecs.map(_.output).sum), "B")
    out("spark.spill_bytes") = (perL(stageRecs.map(_.spill).sum), "B")
    out("spark.failed_tasks") = (perL(allJobs.flatMap(_.stages).distinct
      .flatMap(s => Option(t.jobs.failedTasks.get(s))).map(_.get).sum), "count")
    // streaming
    val trig = t.stream.triggers.asScala.toSeq.filter(p => opAt(p.end * 1000).isDefined)
    out("streaming.triggers") = (per(trig.size), "count")
    out("streaming.empty_triggers") = (per(trig.count(_.inputRows == 0)), "count")
    out("streaming.input_rows") = (perL(trig.map(_.inputRows).sum), "count")
    for ((k, key) <- Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch",
        "latest_offset" -> "latestOffset", "get_batch" -> "getBatch",
        "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
        "commit_offsets" -> "commitOffsets"))
      out(s"streaming.${k}_ms") = (perL(trig.map(_.durations.getOrElse(key, 0L)).sum), "ms")
    // ops
    val opsSpans = spans.filter(_.layer == "ops")
    out("ops.near_dups_ms") = (per(opsSpans.filter(_.name == "minhashNearDupsFast")
      .map(s => s.end - s.start).sum / 1000.0), "ms")
    out("ops.band_index_ms") = (per(opsSpans.filter(_.name == "minhashBandIndex")
      .map(s => s.end - s.start).sum / 1000.0), "ms")
    out("ops.pairs_out") = (per(extra.getOrElse("ops.pairs_out", 0.0)), "count")
    out("ops.planted_recall") = (extra.getOrElse("ops.planted_recall", 0.0), "ratio")
    out.toMap
  }

  /** The timed ops' spans plus their listener records as spans: streaming
    * triggers, jobs and catalyst phases. A derived span, and a span opened
    * on a thread with no enclosing span (the stream's sync), gets as parent
    * the smallest longer span of its op that holds its start (listener
    * times have millisecond resolution, hence the 1 ms slack), else the
    * op's root span. */
  def allSpans(): Seq[Span] = {
    val own = t.spans.toSeq.filter(s => timedIds(s.op))
    var next = if (t.spans.isEmpty) 1L else t.spans.map(_.id).max + 1
    def derive(layer: String, name: String, s: Long, e: Long, op: Long): Span = {
      next += 1
      Span(next - 1, layer, name, s, math.max(s, e), 0L, op)
    }
    val triggers = t.stream.triggers.asScala.toSeq.flatMap(p => opAt(p.end * 1000).map(o =>
      derive("streaming", s"trigger-${p.batchId}", p.ts * 1000, p.end * 1000, o.id)))
    val leaves = jobsByOp.toSeq.flatMap { case (op, js) =>
      js.filter(_.end >= 0).map(j => derive("spark", s"job-${j.id}", j.start * 1000, j.end * 1000, op))
    } ++ t.catalyst.queries.asScala.toSeq.flatMap(q => opAt(q.start * 1000).toSeq.flatMap(o =>
      q.phases.map { case (ph, s, e) => derive("catalyst", ph, s * 1000, e * 1000, o.id) }))
    val holders = (own ++ triggers).groupBy(_.op)
    def adopt(x: Span): Span =
      if (x.parent != 0L || x.layer == "bench") x
      else x.copy(parent = holders.getOrElse(x.op, Nil)
        .filter(p => p.id != x.id && (p.layer == "bench" ||
          p.start - 1000 <= x.start && x.start <= p.end && p.end - p.start > x.end - x.start))
        .sortBy(p => if (p.layer == "bench") Long.MaxValue else p.end - p.start)
        .headOption.map(_.id).getOrElse(0L))
    (own ++ triggers ++ leaves).map(adopt)
  }

  /** Per layer: total self time (duration minus the union of its direct
    * children) over the timed ops, in ms per op. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter(w => w._2 > w._1)
        (s.end - s.start - union(c)) / 1000.0
      }.sum / n
    }
  }
}
