package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.schema.TelemetryModel.{SessionDoc, StatusEvent}
import graft.session.Sessionize
import graft.sink.BucketStore
import graft.sources.FileLogOffset

/** session_store: status JSON → from_json → Sessionize.stateful
  * (flatMapGroupsWithState, watermark) → BucketStore.upsert on
  * (device_uuid, start_timestamp) with the store's default bucket count.
  * Catch-up drains a backlog of touch…clear cycles; live runs the
  * generator's open loop at StatusRatePerS events/s.
  */
object Sessions {
  val MaxOffsetsPerTrigger = 2700  // the backlog drains in two batches
  val Key = Seq("device_uuid", "start_timestamp")
  /** Batches cut the log mid-second and admit each partition's share
    * separately, so a batch can hold events a few slots older than the
    * previous batch's newest; the delay keeps those from being dropped as
    * late. Clear closes do not wait for the watermark. */
  val WatermarkDelay = "10 seconds"
  private val statusSchema = Encoders.product[StatusEvent].schema
  private val docSchema = Encoders.product[SessionDoc].schema

  /** The foreachBatch sink: persist the batch, collect its docs (the
    * benchmark's record of what the stream emitted), upsert it. */
  final class Sink(c: Ctx, store: String) {
    val collects = ArrayBuffer.empty[(Long, Long)]
    val upserts = ArrayBuffer.empty[(Long, Long)]
    val endByBatch = mutable.Map.empty[Long, Long]
    val batches = ArrayBuffer.empty[(Long, Seq[SessionDoc])]
    val docs = mutable.Map.empty[(String, Long), SessionDoc]
    val clearCommits = mutable.Map.empty[(String, Long), Long]
    var conflicts = 0L

    def apply(b: Dataset[SessionDoc], batchId: Long): Unit = {
      b.persist()
      try {
        val a = Clock.wallUs()
        val got = b.collect().toSeq
        val u = Clock.wallUs()
        if (got.nonEmpty) {
          BucketStore.upsert(c.spark, b.toDF(), store, Key)
          upserts += ((u, Clock.wallUs()))
        }
        val end = Clock.wallUs()
        collects += ((a, u))
        endByBatch(batchId) = end
        if (got.nonEmpty) batches += ((end, got))
        got.foreach { d =>
          val k = (d.device_uuid, d.start_timestamp)
          docs.put(k, d).foreach(prev => if (prev != d) conflicts += 1)
          if (d.closed_by == "clear") clearCommits(k) = end
        }
      } finally { b.unpersist(); () }
    }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    def events(raw: DataFrame) = raw
      .select(from_json($"value".cast("string"), statusSchema).as("e")).select("e.*")
      .withColumn("event_ts", timestamp_seconds($"timestamp"))
    def start(topic: String, sink: Sink, cap: Int) = Sessionize.stateful(
        events(spark.readStream.format("filelog").options(c.topic(topic))
          .option("startingOffsets", "earliest")
          .option("maxOffsetsPerTrigger", cap.toString).load())
          .withWatermark("event_ts", WatermarkDelay).as[StatusEvent])
      .writeStream.trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", c.checkpoint(topic))
      .foreachBatch((b: Dataset[SessionDoc], id: Long) => sink(b, id))
      .start()
    val store = new File(c.runDir, "store").getPath

    // untimed warm-up on a topic and store of its own: a first write,
    // then read-merge-writes of every bucket
    val warm = start("status.warm", new Sink(c, new File(c.runDir, "store-warm").getPath),
      Gen.StatusWarmEvents / Gen.StatusWarmBatches)
    warm.processAllAvailable()
    warm.stop()
    c.ready()

    val backlogEnd = FileLogOffset.current(c.logRoot, "status.raw", Gen.Partitions).parts
    val sink = new Sink(c, store)
    BucketStore.resetProbeStats()
    val catchStart = Clock.wallUs()
    val q = start("status.raw", sink, MaxOffsetsPerTrigger)
    c.probe.foreach(_.queryId = q.id)
    q.processAllAvailable()
    // the batch that admitted the backlog's last record
    val last = q.recentProgress.find(p => p.sources.forall { s =>
      val end = FileLogOffset.parse(s.endOffset).parts
      backlogEnd.forall { case (k, v) => end.getOrElse(k, 0L) >= v }
    }).getOrElse(sys.error("backlog not drained"))
    val drained = sink.endByBatch(last.batchId)
    c.phase("catchup", catchStart, drained)
    c.metrics("drain_rps") = Gen.StatusBacklogEvents / ((drained - catchStart) / 1e6)

    val anchorUs = c.runLive()
    q.processAllAvailable()
    c.phase("live", anchorUs + Gen.StatusWarmInS * 1000000L, Clock.wallUs())
    q.stop()
    c.sinkCalls("collect") = sink.collects.toSeq
    c.sinkCalls("upsert") = sink.upserts.toSeq

    // live latency: upsert return − due time of the clear that closed the doc
    val due = new String(Files.readAllBytes(new File(c.runDir, "clears.tsv").toPath))
      .split("\n").filter(_.nonEmpty).map { l =>
        val Array(d, s, off) = l.split("\t")
        (d, s.toLong) -> off.toLong
      }.toMap
    c.latencies(due.toSeq.flatMap { case (k, off) =>
      sink.clearCommits.get(k).map(t => (off, (t - anchorUs - off * 1000L) / 1e3))
    }, Gen.StatusWarmInS)

    // gate: every clear-closed doc equals its batch twin, and the store
    // holds exactly the docs the stream emitted
    val twins = Sessionize.stateful(events(c.readTopic("status.raw")).as[StatusEvent])
      .collect().filter(_.closed_by == "clear")
      .map(d => (d.device_uuid, d.start_timestamp) -> d).toMap
    val streamedClear = sink.docs.filter(_._2.closed_by == "clear")
    val stored = BucketStore.read(spark, store, docSchema).as[SessionDoc].collect()
    val storedByKey = stored.groupBy(d => (d.device_uuid, d.start_timestamp))
    c.attempted = twins.size + sink.docs.size
    c.failed = sink.conflicts +
      twins.count { case (k, d) => !streamedClear.get(k).contains(d) } +
      streamedClear.keys.count(k => !twins.contains(k)) +
      sink.docs.count { case (k, d) => !storedByKey.get(k).exists(_.toSeq == Seq(d)) } +
      storedByKey.keys.count(k => !sink.docs.contains(k))

    c.metrics("session.clear_closes") = streamedClear.size.toDouble
    c.metrics("session.ttl_closes") = (sink.docs.size - streamedClear.size).toDouble
    if (c.trace) {
      val stats = BucketStore.stats(spark, store)
      c.metrics("store.files") = stats.map(_.files).sum.toDouble
      c.metrics("store.bytes") = stats.map(_.bytes).sum.toDouble
      c.metrics("store.reprobes") = BucketStore.probeStats().reProbes.toDouble
      for ((ph, in) <- Seq("catchup" -> ((t: Long) => t <= drained), "live" -> ((t: Long) => t > drained)))
        c.metrics(s"store.$ph.touched_buckets") = Stats.medianOr0(sink.batches.toSeq.collect {
          case (t, b) if in(t) =>
            BucketStore.touchedBuckets(spark.createDataset(b).toDF(), Key).length.toDouble
        })
    }
  }
}
