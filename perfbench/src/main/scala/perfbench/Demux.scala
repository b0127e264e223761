package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.app.DerivePipeline
import graft.ingest.KafkaTelemetrySource
import graft.sink.KafkaEventSink
import graft.sources.FileLogOffset

/** telemetry_demux: `telemetry.raw` → parsedTelemetry → demuxQuery
  * (trigger 0) → toKafkaRecords → two FileLog topics, with a checkpoint.
  * Catch-up drains the pre-produced backlog under a fixed admission cap;
  * live runs the generator's open loop of LiveDevices devices at 1 msg/s.
  */
object Demux {
  val MaxOffsetsPerTrigger = 40000
  val Viol = "violations.events"
  val Status = "device-status.events"

  /** A demux sink that writes one FileLog topic and records when each
    * call returned; the violation sink also records the topic's end
    * offsets after each commit, which the latency join maps records to. */
  final class Writer(c: Ctx, topic: String, trackOffsets: Boolean)
      extends (DataFrame => Unit) {
    val calls = ArrayBuffer.empty[(Long, Long)]
    val ends = ArrayBuffer.empty[Map[Int, Long]]
    def apply(df: DataFrame): Unit = {
      val a = Clock.wallUs()
      KafkaEventSink.toKafkaRecords(df).write.format("filelog")
        .options(c.topic(topic)).mode("append").save()
      calls += ((a, Clock.wallUs()))
      if (trackOffsets)
        ends += FileLogOffset.current(c.logRoot, topic, Gen.Partitions).parts
    }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    def parsed(topic: String, cap: Int) = KafkaTelemetrySource.parsedTelemetry(
      spark.readStream.format("filelog").options(c.topic(topic))
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", cap.toString).load())

    // untimed warm-up on topics of its own: one catch-up-sized batch
    val warm = KafkaEventSink.demuxQuery(parsed("telemetry.warm", Gen.WarmRecords),
      c.checkpoint("telemetry.warm"), 0L)(
      new Writer(c, "violations.warm", false), new Writer(c, "status.warm", false))
    warm.processAllAvailable()
    warm.stop()
    c.ready()

    val viol = new Writer(c, Viol, true)
    val status = new Writer(c, Status, false)
    val catchStart = Clock.wallUs()
    val q = KafkaEventSink.demuxQuery(parsed("telemetry.raw", MaxOffsetsPerTrigger),
      c.checkpoint("main"), 0L)(viol, status)
    c.probe.foreach(_.queryId = q.id)
    q.processAllAvailable()
    val drained = status.calls.last._2
    c.phase("catchup", catchStart, drained)
    c.metrics("drain_rps") = Gen.BacklogRecords / ((drained - catchStart) / 1e6)

    val anchorUs = c.runLive()
    q.processAllAvailable()
    c.phase("live", anchorUs + Gen.LiveWarmInS * 1000000L, Clock.wallUs())
    q.stop()
    c.sinkCalls("viol_write") = viol.calls.toSeq
    c.sinkCalls("status_write") = status.calls.toSeq

    // live latency: violation commit time − due time of its record
    val commits = viol.calls.map(_._2).zip(viol.ends)
    val live = c.readTopic(Viol)
      .select($"partition", $"offset",
        get_json_object($"value".cast("string"), "$.mqtt_sent_at_ms").cast("long").as("sent"))
      .filter($"sent" >= Gen.LiveBaseMs)
      .as[(Int, Long, Long)].collect()
    c.latencies(live.toSeq.map { case (p, off, sent) =>
      val k = commits.indexWhere(_._2.getOrElse(p, 0L) > off)
      require(k >= 0, s"violation $p/$off has no commit")
      (sent - Gen.LiveBaseMs, (commits(k)._1 - anchorUs - (sent - Gen.LiveBaseMs) * 1000L) / 1e3)
    }, Gen.LiveWarmInS)

    // gate: both topics equal, as multisets, a batch replay of the log
    val input = KafkaTelemetrySource.parsedTelemetry(c.readTopic("telemetry.raw")).persist()
    val (v, s) = DerivePipeline.runBatch(input)
    for ((expected, topic) <- Seq(v -> Viol, s -> Status)) {
      val (n, bad) = multisetDiff(KafkaEventSink.toKafkaRecords(expected),
        c.readTopic(topic).select($"key".cast("string"), $"value".cast("string")))
      c.attempted += n
      c.failed += bad
    }
    input.unpersist()

    if (c.trace) replay(c)
  }

  /** (expected records, records missing or extra), comparing the sorted
    * 64-bit hashes of each side's (key, value) records. */
  def multisetDiff(expected: DataFrame, got: DataFrame): (Long, Long) = {
    def hashes(df: DataFrame) =
      df.select(xxhash64(col("key"), col("value"))).collect().map(_.getLong(0)).sorted
    val (e, g) = (hashes(expected), hashes(got))
    var (i, j, bad) = (0, 0, 0L)
    while (i < e.length || j < g.length) {
      if (j == g.length || (i < e.length && e(i) < g(j))) { bad += 1; i += 1 }
      else if (i == e.length || g(j) < e(i)) { bad += 1; j += 1 }
      else { i += 1; j += 1 }
    }
    (e.length.toLong, bad)
  }

  /** Traced batch replay of the input log through the same public calls,
    * one cached stage at a time, so each span's time is that stage's own. */
  def replay(c: Ctx): Unit = {
    val t = c.tracer
    val startUs = Clock.wallUs()
    val spans = ArrayBuffer.empty[(String, Long, Long)]
    def stage(name: String)(df: => DataFrame): (DataFrame, Long) = {
      val a = Clock.wallUs()
      val d = df.persist()
      val n = d.count()
      spans += ((name, a, Clock.wallUs()))
      (d, n)
    }
    val (raw, nRaw) = stage("read")(c.readTopic("telemetry.raw"))
    val (parsed, nParsed) = stage("parse")(KafkaTelemetrySource.parsedTelemetry(raw))
    val (v, s) = DerivePipeline.runBatch(parsed)
    val (viol, nViol) = stage("viol_derive")(v)
    val (status, nStatus) = stage("status_derive")(s)
    val (ev, _) = stage("encode_viol")(KafkaEventSink.toKafkaRecords(viol))
    val (es, _) = stage("encode_status")(KafkaEventSink.toKafkaRecords(status))
    val a = Clock.wallUs()
    ev.write.format("filelog").options(c.topic("replay.viol")).mode("append").save()
    es.write.format("filelog").options(c.topic("replay.status")).mode("append").save()
    spans += (("write", a, Clock.wallUs()))
    Seq(raw, parsed, viol, status, ev, es).foreach(_.unpersist())
    val endUs = Clock.wallUs()
    val replaySpan = t.add("replay", 0, startUs, endUs)
    spans.foreach { case (n, x, y) => t.add(n, replaySpan, x, y) }
    val self = t.selfSeconds(replaySpan)
    def selfOf(ns: String*) = ns.map(self.getOrElse(_, 0.0)).sum
    c.metrics("trace.read_s") = selfOf("read")
    c.metrics("trace.parse_s") = selfOf("parse")
    c.metrics("trace.viol_derive_s") = selfOf("viol_derive")
    c.metrics("trace.status_derive_s") = selfOf("status_derive")
    c.metrics("trace.encode_s") = selfOf("encode_viol", "encode_status")
    c.metrics("trace.write_s") = selfOf("write")
    c.metrics("trace.replay_s") = (endUs - startUs) / 1e6
    c.metrics("ingest.parsed_ratio") = nParsed.toDouble / nRaw
    c.metrics("derive.viol_per_record") = nViol.toDouble / nParsed
    c.metrics("derive.status_per_record") = nStatus.toDouble / nParsed
  }
}
