package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import graft.sources.FileLog

/** Seeded load generator: a process of its own, separate from the system
  * under test, that feeds it only through `FileLog.produce`.
  *
  * It writes the warm-up topics and the catch-up backlog, prints `READY`,
  * then waits for the `live.go` file of the system under test and runs
  * the live phase on a fixed schedule: record j is due at
  * anchor + j·interval whatever the system does, and records that fall
  * due while a `produce` call is in flight go out together in the next
  * call. Payloads depend only on the seed: times inside them are
  * offsets from fixed epoch bases
  * ([[Gen.LiveBaseMs]], [[Gen.EventBaseS]]), and the wall-clock anchor
  * of the live phase goes to `live.anchor` instead.
  *
  * Usage: Gen <telemetry|status> <seed> <logRoot> <runDir> <liveSeconds>
  * (the timed part of the live loop, which runs `warmInS` seconds longer)
  */
object Gen {
  val Partitions = 6
  /** Backlog records carry `mqtt_sent_at_ms` below this base, live ones
    * at LiveBaseMs + due offset, so every output event says which phase
    * produced it. */
  val LiveBaseMs = 1800000000000L
  val BacklogBaseMs = 1700000000000L
  /** Status event time is EventBaseS + (global slot · StatusIntervalMs)/1000. */
  val EventBaseS = 1700000000L

  // telemetry_demux: catch-up backlog, and the reference's live regime.
  // The engine's per-trigger code runs once per batch, so it is compiled
  // only after many small batches: live triggers shrink by a third over
  // their first ~10 s. The first LiveWarmInS seconds of the live loop
  // are therefore untimed.
  val TelemetryDevices = 2000
  val WarmRecords = 10000
  val BacklogRecords = 120000
  val LiveDevices = 200          // 1 msg/s each, evenly spaced
  val LiveWarmInS = 10
  // session_store: touch…clear cycles over a fixed device population
  val StatusDevices = 2000
  val StatusRatePerS = 200
  val StatusIntervalMs = 1000 / StatusRatePerS
  // session_store batches are large in both phases (each rewrites most
  // buckets of the store), so its warm-up is two such batches
  val StatusWarmEvents = 2000
  val StatusWarmBatches = 2
  val StatusBacklogEvents = 5400
  val StatusWarmInS = 12         // about four live batches

  def main(args: Array[String]): Unit = {
    val Array(kind, seedS, root, runDir, liveS) = args
    val seed = seedS.toLong
    val live = kind match {
      case "telemetry" => new Telemetry(seed, root)
      case "status"    => new Status(seed, root, runDir)
      case other       => sys.error(s"unknown generator kind $other")
    }
    live.prepare()
    println("READY"); System.out.flush()

    val go = new File(runDir, "live.go")
    val deadline = System.currentTimeMillis() + 170000L
    while (!go.exists()) {
      if (System.currentTimeMillis() > deadline) sys.error("no live.go")
      LockSupport.parkNanos(2000000L)
    }
    val count = (live.ratePerS * (live.warmInS + liveS.toDouble)).round.toInt
    val late = runLive(live, count, new File(runDir, "live.anchor"))
    live.finish()
    val sorted = late.sorted
    def pct(p: Double) = sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
    write(new File(runDir, "gen.json"),
      s"""{"records":$count,"late_p50_ms":${pct(0.50)},"late_p99_ms":${pct(0.99)},""" +
        s""""late_max_ms":${sorted.last},"digest":"${live.digest()}"}""")
  }

  /** Open loop: returns each record's lateness (ms behind its due time). */
  private def runLive(live: Source, count: Int, anchorFile: File): Array[Double] = {
    val intervalNs = 1000000000L / live.ratePerS
    val anchorUs = Clock.wallUs() + 20000L
    val anchorNs = System.nanoTime() + 20000000L
    write(anchorFile, anchorUs.toString)
    val late = new Array[Double](count)
    var j = 0
    while (j < count) {
      val dueNs = anchorNs + j * intervalNs
      var wait = dueNs - System.nanoTime()
      while (wait > 0) { LockSupport.parkNanos(wait); wait = dueNs - System.nanoTime() }
      // everything due by now goes out in this call
      val now = System.nanoTime()
      var k = j
      val recs = ArrayBuffer.empty[(Array[Byte], Array[Byte])]
      while (k < count && anchorNs + k * intervalNs <= now) {
        recs += live.liveRecord(k, (k * intervalNs) / 1000000L)
        k += 1
      }
      FileLog.produce(root = live.root, topic = live.topic, records = recs.toSeq,
        numPartitions = Partitions)
      val sent = System.nanoTime()
      (j until k).foreach(i => late(i) = (sent - (anchorNs + i * intervalNs)) / 1e6)
      j = k
    }
    late
  }

  def write(f: File, s: String): Unit = {
    val tmp = new File(f.getPath + ".tmp")
    val w = new PrintWriter(tmp, UTF_8)
    try w.print(s) finally w.close()
    require(tmp.renameTo(f), s"rename $tmp")
  }

  /** One workload's input stream; `digest` covers every payload produced. */
  abstract class Source(val root: String, val topic: String) {
    def ratePerS: Int
    /** Untimed seconds at the start of the live loop. */
    def warmInS: Int
    def prepare(): Unit
    def liveRecord(j: Int, dueOffsetMs: Long): (Array[Byte], Array[Byte])
    def finish(): Unit = ()
    private val md = MessageDigest.getInstance("SHA-256")
    protected def rec(key: String, value: String): (Array[Byte], Array[Byte]) = {
      val k = if (key == null) null else key.getBytes(UTF_8)
      val v = value.getBytes(UTF_8)
      if (k != null) md.update(k)
      md.update(0.toByte); md.update(v); md.update(1.toByte)
      (k, v)
    }
    def digest(): String = md.digest().map(b => f"$b%02x").mkString.take(16)
    protected def produceChunked(topic: String, n: Int, chunk: Int)(
        f: Int => (Array[Byte], Array[Byte])): Unit =
      (0 until n by chunk).foreach { s =>
        FileLog.produce(root, topic, (s until math.min(n, s + chunk)).map(f),
          numPartitions = Partitions)
      }
  }

  /** Reference-shaped telemetry (SURVEY S4, `mqtt_publish.js:171-285`)
    * plus the wire quirks the tolerant parser exists for. */
  final class Telemetry(seed: Long, root: String) extends Source(root, "telemetry.raw") {
    val ratePerS: Int = LiveDevices
    val warmInS: Int = LiveWarmInS
    private val rnd = new SplittableRandom(seed)
    private val devices = (0 until TelemetryDevices).map(i => f"dev-$i%05d-${seed % 97}%02d")
    // Zipf(1) over device rank for the backlog: a few devices are hot
    private val zipfCdf = {
      val w = (1 to TelemetryDevices).map(r => 1.0 / r)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private def zipfDevice(): Int = {
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      math.min(TelemetryDevices - 1, if (i >= 0) i else -i - 1)
    }
    private val liveDevices = {
      val idx = (0 until TelemetryDevices).toArray
      (0 until LiveDevices).map { i =>
        val j = i + rnd.nextInt(TelemetryDevices - i)
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        idx(i)
      }
    }

    def prepare(): Unit = {
      produceChunked("telemetry.warm", WarmRecords, 20000)(i =>
        record(zipfDevice(), BacklogBaseMs - WarmRecords + i))
      produceChunked(topic, BacklogRecords, 20000)(i =>
        record(zipfDevice(), BacklogBaseMs + i))
    }

    def liveRecord(j: Int, dueOffsetMs: Long): (Array[Byte], Array[Byte]) =
      record(liveDevices(j % LiveDevices), LiveBaseMs + dueOffsetMs)

    private def d(lo: Double, hi: Double) = lo + (hi - lo) * rnd.nextDouble()
    /** x with three decimals, locale-free. */
    private def f3(x: Double): String = {
      val m = math.round(x * 1000)
      val a = math.abs(m)
      val frac = (a % 1000).toString
      (if (m < 0) "-" else "") + (a / 1000) + "." + ("000".substring(frac.length) + frac)
    }

    private def record(dev: Int, sentMs: Long): (Array[Byte], Array[Byte]) = {
      val id = devices(dev)
      val ts = sentMs / 1000
      val noUuid = rnd.nextDouble() < 0.01
      val power = if (rnd.nextDouble() < 0.15)
        Seq("battery", "Battery", "BATTERY")(rnd.nextInt(3)) else "external"
      val speed = d(0, 90)
      val spike = rnd.nextDouble() < 0.25
      val accelY = if (spike) (if (rnd.nextBoolean()) 1 else -1) * d(2.8, 4.5) else d(-1.5, 1.5)
      val viols =
        if (rnd.nextDouble() < 0.65) {
          (0 until 1 + rnd.nextInt(2)).map { _ =>
            val r = rnd.nextDouble()
            val tpe =
              if (r < 0.45) "harsh_brake" else if (r < 0.90) "harsh_accel"
              else Seq("harsh-braking", "harsh_turn")(rnd.nextInt(2))
            val vts = if (rnd.nextDouble() < 0.1) 0L else ts - rnd.nextInt(3)
            s"""{"timestamp":$vts,"type":"$tpe","accel_y":${f3(accelY)},""" +
              s""""speed_kph":${f3(speed)},"delta_speed":${f3(d(5, 25))}}"""
          }.mkString(""","violations":[""", ",", "]")
        } else ""
      val json =
        "{" + (if (noUuid) "" else s""""device_uuid":"$id",""") +
          s""""mqtt_sent_at_ms":$sentMs,"timestamp":$ts,"fix_quality":"${rnd.nextInt(3)}",""" +
          s""""temp_C":${f3(d(20, 45))},"accel_x":${f3(d(-1, 1))},"accel_y":${f3(accelY)},""" +
          s""""accel_z":${f3(d(9.5, 10.1))},"gyro_x":${f3(d(-2, 2))},"gyro_y":${f3(d(-2, 2))},""" +
          s""""gyro_z":${f3(d(-2, 2))},"cpu_temp":${40 + rnd.nextInt(30)},"soc_temp":${40 + rnd.nextInt(30)},""" +
          s""""main_board_temp":${f3(d(30, 60))},"sim_iccid":"8991$dev","sim_imsi":"40410${dev}",""" +
          s""""signal_strength_percent":${rnd.nextInt(101)},"imu_is_stopped":${speed < 1},""" +
          s""""dashcam_power_source":"$power","battery_capacity":${rnd.nextInt(101)},""" +
          s""""lat_dir":"N","lon_dir":"E","location_changed":${rnd.nextInt(2)},""" +
          s""""speed_kph":${f3(speed)},"speed_mph":${f3(speed * 0.621371)},"ontrip":${speed > 0},""" +
          s""""location":{"type":"Point","coordinates":[${f3(d(72, 73.5))},${f3(d(21, 23.5))}]},""" +
          s""""vehicle_id":"veh-$dev","account_id":"acc-${dev % 50}"""" + viols + "}"
      val q = rnd.nextDouble()
      val value =
        if (q < 0.005) json.substring(0, json.length / 2)          // malformed
        else if (q < 0.055)                                       // double-encoded
          "\"" + json.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        else json
      rec(if (noUuid) null else id, value)
    }
  }

  /** Device-status touch…clear cycles on a monotone event clock: devices
    * take slots round-robin, so each device emits every
    * StatusDevices·StatusIntervalMs ms of event time (10 s), far below
    * the 300 s session gap; a cycle is 1-4 touches then a clear. The
    * live clears' (device, session start, due offset) go to
    * `clears.tsv` for the latency join. */
  final class Status(seed: Long, root: String, runDir: String)
      extends Source(root, "status.raw") {
    val ratePerS: Int = StatusRatePerS
    val warmInS: Int = StatusWarmInS
    private val rnd = new SplittableRandom(seed)
    private val order = {
      val a = (0 until StatusDevices).toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private final class Dev(var left: Int, var start: Long)
    private def cycle() = 1 + rnd.nextInt(4)
    private val warmState = Array.fill(StatusDevices)(new Dev(cycle(), -1))
    private val state = Array.fill(StatusDevices)(new Dev(cycle(), -1))
    private val clears = new StringBuilder

    def prepare(): Unit = {
      produceChunked("status.warm", StatusWarmEvents, 10000)(i =>
        event(warmState, i, "sw", -1L))
      produceChunked(topic, StatusBacklogEvents, 10000)(i =>
        event(state, i, "sd", -1L))
    }

    def liveRecord(j: Int, dueOffsetMs: Long): (Array[Byte], Array[Byte]) =
      event(state, StatusBacklogEvents + j, "sd", dueOffsetMs)

    override def finish(): Unit =
      write(new File(runDir, "clears.tsv"), clears.toString)

    private def event(st: Array[Dev], slot: Int, prefix: String,
                      dueOffsetMs: Long): (Array[Byte], Array[Byte]) = {
      val dev = order(slot % StatusDevices)
      val id = f"$prefix-$dev%05d"
      val ts = EventBaseS + slot.toLong * StatusIntervalMs / 1000
      val s = st(dev)
      val action =
        if (s.start >= 0 && s.left == 0) {
          if (dueOffsetMs >= 0) clears.append(s"$id\t${s.start}\t$dueOffsetMs\n")
          s.start = -1; s.left = cycle(); "clear"
        } else {
          if (s.start < 0) s.start = ts
          s.left -= 1; "touch"
        }
      rec(id,
        s"""{"event_type":"device_status","status_type":"cable-unplugged",""" +
          s""""action":"$action","device_uuid":"$id","timestamp":$ts,""" +
          s""""vehicle_id":"veh-$dev","account_id":"acc-${dev % 50}"}""")
    }
  }
}
