package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.FileLogOffset

object Clock {
  /** Wall clock in µs; comparable across the generator and the system under test. */
  def wallUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The `at` percentile, or the highest one that leaves at least 10
    * samples above it; returns (quantile used, value). */
  def tail(xs: Seq[Double], at: Double = 0.99): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    val q = math.min(at, 1.0 - 10.0 / n)
    require(q > 0.5, s"only $n latency samples")
    (q, s(math.max(0, math.ceil(q * n).toInt - 1)))
  }

  /** Length of the union of intervals (a, b). */
  def covered(ivs: Seq[(Long, Long)]): Long =
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
      }._1

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.length < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.length
      val my = pts.map(_._2).sum / pts.length
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
    }
}

/** In-memory span log: name, start, end, parent and a shared id (the
  * batch id for triggers), written out when the run ends. */
object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startUs: Long,
                        endUs: Long, key: String)
}

final class Tracer {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]

  def add(name: String, parent: Int, startUs: Long, endUs: Long,
          key: String = ""): Int = synchronized {
    val id = spans.length + 1
    spans += Span(id, name, parent, startUs, endUs, key)
    id
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name under `root`: each span's interval, clipped
    * to its parent's, minus the union of its children's clipped
    * intervals. The self times of a tree add up to the root's duration. */
  def selfSeconds(root: Int): Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def visit(s: Span, lo: Long, hi: Long): Unit = {
      val (a, b) = (math.max(s.startUs, lo), math.min(s.endUs, hi))
      if (b > a) {
        val kids = byParent.getOrElse(s.id, Nil)
        val covered = Stats.covered(kids.map(k => (math.max(k.startUs, a), math.min(k.endUs, b))))
        out(s.name) += (b - a - covered) / 1e6
        kids.foreach(visit(_, a, b))
      }
    }
    all.find(_.id == root).foreach(s => visit(s, s.startUs, s.endUs))
    out.toMap
  }

  def write(f: File): Unit = {
    val w = new PrintWriter(f, UTF_8)
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"key":"${s.key}"}""")
    } finally w.close()
  }
}

/** Listeners of the traced run, registered through Spark's public
  * listener APIs: per-trigger progress of the measured query, task
  * metrics, job intervals, and Catalyst phase times. */
object Probe {
  final case class Task(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long,
                        input: Long)
  final case class Job(startMs: Long, var endMs: Long)
  final case class Planning(startMs: Long, analysisMs: Long,
                            optimizationMs: Long, planningMs: Long)
}

final class Probe(spark: SparkSession) {
  import Probe._

  val progress = ArrayBuffer.empty[StreamingQueryProgress]
  val tasks = ArrayBuffer.empty[Task]
  val jobs = mutable.Map.empty[Int, Job]
  val stages = ArrayBuffer.empty[Long]
  val plans = ArrayBuffer.empty[Planning]
  @volatile var queryId: java.util.UUID = _

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.id == queryId) progress.synchronized(progress += e.progress)
  })

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized(tasks += Task(e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.synchronized(jobs(e.jobId) = Job(e.time, -1L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.synchronized(stages += e.stageInfo.completionTime.getOrElse(0L))
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      plans.synchronized(plans += Planning(start, ms("analysis"),
        ms("optimization"), ms("planning")))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution").toLong

  /** Records admitted so far vs records in the log, at a trigger. */
  def backlog(p: StreamingQueryProgress): Double = p.sources.map { s =>
    if (s.latestOffset == null || s.endOffset == null) 0L
    else {
      val latest = FileLogOffset.parse(s.latestOffset).parts
      val end = FileLogOffset.parse(s.endOffset).parts
      latest.map { case (k, v) => v - end.getOrElse(k, 0L) }.sum
    }
  }.sum.toDouble

  /** Layer metrics of one phase [fromMs, toMs] under the `ph` prefix. */
  def phaseMetrics(ph: String, fromMs: Long, toMs: Long): Seq[(String, Double)] = {
    val ps = progress.synchronized(progress.toList)
      .filter(p => startMs(p) >= fromMs && startMs(p) <= toMs)
    val data = ps.filter(_.numInputRows > 0)
    def med(k: String) = Stats.medianOr0(data.map(dur(_, k)))
    val ts = tasks.synchronized(tasks.toList).filter(t => t.endMs >= fromMs && t.endMs <= toMs)
    val js = jobs.synchronized(jobs.values.toList)
      .filter(j => j.startMs >= fromMs && j.startMs <= toMs)
    val st = stages.synchronized(stages.toList).count(t => t >= fromMs && t <= toMs)
    val pl = plans.synchronized(plans.toList).filter(p => p.startMs >= fromMs && p.startMs <= toMs)
    // time inside each trigger with no Spark job running
    val noJob = data.map { p =>
      val (a, b) = (startMs(p), endMs(p))
      (b - a - Stats.covered(js.map(j =>
        (math.max(a, j.startMs), math.min(b, if (j.endMs < 0) b else j.endMs))))).toDouble
    }
    val state = data.flatMap(_.stateOperators.headOption)
    Seq(
      s"engine.$ph.latest_offset_ms" -> med("latestOffset"),
      s"engine.$ph.query_planning_ms" -> med("queryPlanning"),
      s"engine.$ph.add_batch_ms" -> med("addBatch"),
      s"engine.$ph.wal_commit_ms" -> med("walCommit"),
      s"engine.$ph.commit_offsets_ms" -> med("commitOffsets"),
      s"engine.$ph.trigger_ms" -> med("triggerExecution"),
      s"engine.$ph.batches" -> ps.length.toDouble,
      s"engine.$ph.rows_per_batch" -> Stats.medianOr0(data.map(_.numInputRows.toDouble)),
      s"source.$ph.backlog_records" -> Stats.medianOr0(ps.map(backlog)),
      // records/s; a live phase that keeps up does not trend upward
      s"source.$ph.backlog_slope_rps" -> Stats.slope(ps.map(p => (startMs(p) / 1e3, backlog(p)))),
      s"state.$ph.rows_total" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      s"state.$ph.rows_updated" -> Stats.medianOr0(state.map(_.numRowsUpdated.toDouble)),
      s"state.$ph.memory_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      s"state.$ph.commit_ms" -> Stats.medianOr0(state.map(_.commitTimeMs.toDouble)),
      s"catalyst.$ph.analysis_s" -> pl.map(_.analysisMs).sum / 1e3,
      s"catalyst.$ph.optimization_s" -> pl.map(_.optimizationMs).sum / 1e3,
      s"catalyst.$ph.planning_s" -> pl.map(_.planningMs).sum / 1e3,
      s"sched.$ph.jobs" -> js.length.toDouble,
      s"sched.$ph.stages" -> st.toDouble,
      s"sched.$ph.tasks" -> ts.length.toDouble,
      s"sched.$ph.no_job_ms" -> Stats.medianOr0(noJob),
      s"exec.$ph.run_s" -> ts.map(_.runMs).sum / 1e3,
      s"exec.$ph.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      s"exec.$ph.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      s"shuffle.$ph.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      s"shuffle.$ph.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      s"spill.$ph.bytes" -> ts.map(_.spill).sum.toDouble,
      s"scan.$ph.input_bytes" -> ts.map(_.input).sum.toDouble,
    )
  }

  /** Trigger spans rebuilt from progress: the engine reports each part's
    * duration, laid out in execution order inside the trigger; addBatch
    * ends where commitOffsets begins. Returns the addBatch spans as
    * (start µs, end µs, span id), for the sink's measured calls to nest in. */
  def triggerSpans(tr: Tracer, phaseSpan: Int, fromMs: Long, toMs: Long): Seq[(Long, Long, Int)] =
    progress.synchronized(progress.toList)
      .filter(p => startMs(p) >= fromMs && startMs(p) <= toMs)
      .map { p =>
        val a = startMs(p) * 1000L
        val b = endMs(p) * 1000L
        val key = p.batchId.toString
        val t = tr.add("trigger", phaseSpan, a, b, key)
        var cur = a
        Seq("latestOffset" -> "latest_offset", "walCommit" -> "wal_commit").foreach {
          case (k, n) =>
            val d = (dur(p, k) * 1000).toLong
            tr.add(n, t, cur, cur + d, key); cur += d
        }
        val commit = (dur(p, "commitOffsets") * 1000).toLong
        val add = (dur(p, "addBatch") * 1000).toLong
        val planning = (dur(p, "queryPlanning") * 1000).toLong
        val addStart = b - commit - add
        tr.add("planning", t, addStart - planning, addStart, key)
        tr.add("commit_offsets", t, b - commit, b, key)
        (addStart, b - commit, tr.add("add_batch", t, addStart, b - commit, key))
      }

  /** Nest measured sink calls under the addBatch span they overlap most;
    * returns (parent span id, call µs) per call. */
  def nest(tr: Tracer, adds: Seq[(Long, Long, Int)], phaseSpan: Int,
           name: String, calls: Seq[(Long, Long)]): Seq[(Int, Long)] =
    calls.map { case (a, b) =>
      val parent = adds.map { case (x, y, id) => (math.min(b, y) - math.max(a, x), id) }
        .filter(_._1 > 0).sortBy(-_._1).headOption.map(_._2).getOrElse(phaseSpan)
      tr.add(name, parent, a, b)
      (parent, b - a)
    }
}
