package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** One run of one workload, in the process of the system under test.
  * Writes `result.json` to the run directory for run.py.
  *
  * Usage: Main <telemetry_demux|session_store> <seed> <runDir> <seconds> <trace 0|1> <cpus>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, runDir, seconds, trace, cpus) = args
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = GraftSession.builder(cpus).appName(s"perfbench-$workload").getOrCreate()
    val c = new Ctx(spark, new File(runDir), seconds.toDouble, trace == "1", jvmStartUs)
    c.log("session built")
    try {
      workload match {
        case "telemetry_demux" => Demux.run(c)
        case "session_store"   => Sessions.run(c)
        case other             => sys.error(s"unknown workload $other")
      }
      c.finish()
    } finally spark.stop()
  }
}

/** State shared by a run: the session, the run directory's layout, the
  * phase clock, and the metrics and verdict that go to `result.json`. */
final class Ctx(val spark: SparkSession, val runDir: File, val seconds: Double,
                val trace: Boolean, runStartUs: Long) {
  val logRoot: String = new File(runDir, "log").getPath
  val probe: Option[Probe] = if (trace) Some(new Probe(spark)) else None
  val tracer = new Tracer
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Measured sink calls (start µs, end µs) by span name. */
  val sinkCalls = mutable.LinkedHashMap.empty[String, Seq[(Long, Long)]]
  var attempted = 0L
  var failed = 0L
  private var readyUs = 0L
  private val phases = mutable.LinkedHashMap.empty[String, (Long, Long)]

  def topic(name: String): Map[String, String] =
    Map("path" -> logRoot, "topic" -> name, "numPartitions" -> Gen.Partitions.toString)

  def readTopic(name: String): DataFrame =
    spark.read.format("filelog").options(topic(name)).load()

  def checkpoint(name: String): String = new File(runDir, s"ckpt-$name").getPath

  /** Set-up ends: the session is built and the warm-up queries have drained. */
  def ready(): Unit = {
    readyUs = Clock.wallUs()
    metrics("setup_s") = (readyUs - runStartUs) / 1e6
    log("ready")
  }

  def phase(name: String, fromUs: Long, toUs: Long): Unit = {
    phases(name) = (fromUs, toUs)
    log(f"$name ${(toUs - fromUs) / 1e6}%.2f s; JVM so far: ${Ctx.jvmTotals}")
  }

  /** Progress on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(Clock.wallUs() - runStartUs) / 1e6}%.2f s] $msg")

  /** Start the generator's live phase and wait until it has produced its
    * last record; returns the schedule's anchor in wall-clock µs. */
  def runLive(): Long = {
    Gen.write(new File(runDir, "live.go"), "go")
    val done = new File(runDir, "gen.json")
    val deadline = System.currentTimeMillis() + (seconds * 1000).toLong + 60000L
    while (!done.exists()) {
      require(System.currentTimeMillis() < deadline, "generator did not finish")
      Thread.sleep(20)
    }
    new String(Files.readAllBytes(new File(runDir, "live.anchor").toPath)).trim.toLong
  }

  /** Live e2e samples, (due offset ms, latency ms) → e2e_p50_ms,
    * e2e_p99_ms (or the highest percentile with ten samples beyond it)
    * over the samples due after the first `warmInS` seconds. */
  def latencies(samples: Seq[(Long, Double)], warmInS: Int): Unit = {
    Gen.write(new File(runDir, "samples.tsv"),
      samples.sortBy(_._1).map { case (d, l) => s"$d\t$l" }.mkString("", "\n", "\n"))
    val ms = samples.collect { case (d, l) if d >= warmInS * 1000L => l }
    require(ms.length >= 100, s"only ${ms.length} live latency samples")
    val (q, tail) = Stats.tail(ms)
    metrics("e2e_p50_ms") = Stats.median(ms)
    metrics("e2e_p99_ms") = tail
    metrics("e2e.p95_ms") = Stats.tail(ms, 0.95)._2
    metrics("e2e.samples") = ms.length.toDouble
    metrics("e2e.tail_quantile") = q
    log(s"${ms.length} latency samples")
  }

  /** Per-layer figures of the traced run: listener metrics and the span
    * tree per phase, with self times per span name. */
  private def layers(p: Probe): Unit = {
    p.drain()
    val root = tracer.add("workload", 0, runStartUs, Clock.wallUs())
    tracer.add("setup", root, runStartUs, readyUs)
    for ((ph, (a, b)) <- phases) {
      p.phaseMetrics(ph, a / 1000, b / 1000).foreach { case (k, v) => metrics(k) = v }
      val phaseSpan = tracer.add(ph, root, a, b)
      val adds = p.triggerSpans(tracer, phaseSpan, a / 1000, b / 1000)
      val nested = Sink.Names.flatMap { n =>
        val in = sinkCalls.getOrElse(n, Nil).filter(c => c._1 >= a && c._1 <= b)
        val layer = if (n == "upsert") "store" else "sink"
        metrics(s"$layer.$ph.${n}_ms") = Stats.medianOr0(in.map(c => (c._2 - c._1) / 1e3))
        p.nest(tracer, adds, phaseSpan, n, in)
      }
      // addBatch time outside the measured sink calls (persist, collect, unpersist)
      val byAdd = nested.groupBy(_._1).map { case (id, cs) => id -> cs.map(_._2).sum }
      metrics(s"sink.$ph.other_ms") = Stats.medianOr0(adds.collect {
        case (x, y, id) if byAdd.contains(id) => (y - x - byAdd(id)) / 1e3 })
      val self = tracer.selfSeconds(phaseSpan)
      (Seq("trigger", "latest_offset", "wal_commit", "planning", "add_batch",
           "commit_offsets") ++ Sink.Names)
        .foreach(n => metrics(s"self.$ph.${n}_s") = self.getOrElse(n, 0.0))
      metrics(s"self.$ph.unattributed_s") = self.getOrElse(ph, 0.0)
    }
    for (k <- Seq("setup_s", "drain_rps", "e2e_p50_ms", "e2e_p99_ms"))
      metrics(s"traced.$k") = metrics(k)
    // layers that this workload's path does not cross
    for (k <- Ctx.WorkloadLayers if !metrics.contains(k)) metrics(k) = 0.0
  }

  def finish(): Unit = {
    log("checked")
    probe.foreach(layers)
    if (trace) tracer.write(new File(runDir, "spans.jsonl"))
    val ms = metrics.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    Gen.write(new File(runDir, "result.json"),
      s"""{"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
  }
}

object Ctx {
  /** GC, JIT and CPU time the JVM has spent so far, for the progress log. */
  def jvmTotals: String = {
    import scala.jdk.CollectionConverters._
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val cpuS = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }
    f"gc ${gcMs / 1e3}%.2f s, jit ${jitMs / 1e3}%.2f s, cpu $cpuS%.2f s"
  }

  /** Per-layer metrics that only one workload's path produces. */
  val WorkloadLayers: Seq[String] = Seq(
    "trace.read_s", "trace.parse_s", "trace.viol_derive_s", "trace.status_derive_s",
    "trace.encode_s", "trace.write_s", "trace.replay_s", "ingest.parsed_ratio",
    "derive.viol_per_record", "derive.status_per_record",
    "session.clear_closes", "session.ttl_closes", "store.files", "store.bytes",
    "store.reprobes", "store.catchup.touched_buckets", "store.live.touched_buckets")
}

object Sink {
  /** Spans the workloads measure inside addBatch. */
  val Names = Seq("viol_write", "status_write", "collect", "upsert")
}

object Json {
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
}
