package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.TimeUnit

import scala.collection.mutable

import graft.Service
import graft.api.Api
import graft.model.Tier
import org.apache.spark.sql.functions.col

/**
 * live_service — open loop. A started `graft.Service` tails a frames
 * directory. One generator thread lands a frame file every `FrameMs`
 * (fixed event rate) and a dashboard command file every `QueryMs`,
 * each timed from when it was due. A closed-loop
 * probe thread (500 ms think time) calls `Api.dispatch` on the service
 * context to see when each frame became queryable: every frame carries
 * one probe event whose value is the frame number.
 */
object LiveService extends Workload {
  // below capacity: on a 4-core machine the warmed dashboard query takes
  // 0.3–0.5 s through the transport beside the ingest micro-batches, so
  // one command a second leaves the transport idle half the time or more
  val FrameMs = 500L
  val EventsPerFrame = 10
  val QueryMs = 1000L
  val ProbePauseMs = 500L
  /** Command numbers of the untimed warm-up (the timed ones count from 1). */
  val WarmFrom = 900000
  val Setups = 3

  final class Live(val dir: Path, val svc: Service, val devs: IndexedSeq[Gen.Device], val probeDev: Gen.Device) {
    val frames: Path = dir.resolve("frames")
    val cmds: Path = dir.resolve("cmds")
    /** frame number → (landed ms, raw points) */
    val landed = mutable.LinkedHashMap.empty[Int, (Double, Long)]
    /** command number → (due ms, landed ms) */
    val sent = mutable.LinkedHashMap.empty[Int, (Double, Double)]
  }

  private def nowMs: Double = System.currentTimeMillis().toDouble

  private def land(tmp: Path, dst: Path, body: String): Double = {
    Files.write(tmp, body.getBytes(UTF_8))
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    nowMs
  }

  /**
   * Lands frame `n`: the probe event plus a seeded mix of device events. The
   * set-up frame (0) carries one event of every device kind instead, so the
   * first commands of a run already find points in their window.
   */
  def landFrame(l: Live, rnd: SplittableRandom, n: Int): Unit = {
    val sec = System.currentTimeMillis() / 1000
    val senders =
      if (n == 0) l.devs.groupBy(_.kind).values.map(_.minBy(_.idx)).toSeq.sortBy(_.idx)
      else Seq.fill(EventsPerFrame - 1)(l.devs(rnd.nextInt(l.devs.size)))
    val evs = Gen.event(rnd, l.probeDev, sec, probeValue = n) +: senders.map { d =>
      // a late share: events stamped two minutes back
      val t = if (rnd.nextInt(20) == 0) sec - 120 else sec
      Gen.event(rnd, d, t)
    }
    val at = land(l.frames.resolve(f"._f$n%06d.log"), l.frames.resolve(f"f$n%06d.log"),
      evs.map(Gen.line).mkString("", "\n", "\n"))
    l.landed(n) = (at, evs.map(_.points.count(_.dest == Gen.Raw)).sum.toLong)
  }

  /**
   * One dashboard query, the same in every command: a single kind keeps
   * p50 and p90 over every answer rather than over a third of them (the
   * kinds of a mix differ by several times in latency). `max` keeps it on
   * gen_raw, the only tier the frames reach while no maintenance runs; a
   * `mean` over 5m buckets would read the empty gen_day.
   */
  val Command: String = Queries.gdp("electricity_meter_power", "1h", "max", "5m", tag = "dir")

  def landCommand(l: Live, n: Int, dueMs: Double): Unit = {
    val json = Command
    val at = land(l.cmds.resolve(f"._cmd-$n%06d.json"), l.cmds.resolve(f"cmd-$n%06d.json"), json)
    l.sent(n) = (dueMs, at)
  }

  /** Highest frame number visible to queries, or -1. */
  def probe(l: Live): Double = {
    val df = Api.dispatch(l.svc.ctx, "cmd.tsdb.get_data_points", Api.GetDataPointsRequest(
      measurementName = "sensor_probe.evt.sensor.report", relativeTime = "1h", dataFunction = "max"))
    val rows = df.collect()
    if (rows.isEmpty || rows(0).isNullAt(rows(0).fieldIndex("value"))) -1 else rows(0).getAs[Double]("value")
  }

  def start(r: Run, i: Int): Live = {
    val dir = r.dir(s"live-$i")
    val rnd = new SplittableRandom(r.seed)
    val devs = Gen.devices(Gen.liveMix, scale = 1, zipfS = 1.1)
    val probeDev = Gen.Device(devs.size, Gen.Probe, s"${Gen.Probe.topicPrefix}/ad:1_0", 1, 1, 1, "probe", inMeta = false)
    val svc = new Service(r.spark, Service.Config(storeRoot = dir.resolve("store").toString,
      framesDir = dir.resolve("frames").toString, checkpointDir = dir.resolve("ck").toString,
      commandDir = dir.resolve("cmds").toString, saveIntervalMs = 250L, maintenanceIntervalMs = 86400000L,
      maintenanceSinceDays = 1, commandPollMs = 20L, selectors = Seq("pt:j1/mt:evt/#"))).start()
    val l = new Live(dir, svc, devs, probeDev)
    Files.createDirectories(l.cmds)
    Common.awaitMaintenanceIdle()
    // warm: one frame visible and one command answered
    landFrame(l, rnd, 0)
    landCommand(l, 0, nowMs)
    val deadline = System.currentTimeMillis() + 60000
    while ((probe(l) < 0 || !Files.exists(l.cmds.resolve("rsp-000000.json"))) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    require(probe(l) >= 0, "warm-up frame never became visible")
    l
  }

  /**
   * Untimed: a few commands through the transport, so the timed ones run on
   * compiled query paths (a first answer takes up to three times as long).
   */
  def warm(l: Live): Unit = {
    val ids = (1 to 3).map(WarmFrom + _)
    ids.foreach(n => landCommand(l, n, nowMs))
    val deadline = System.currentTimeMillis() + 60000
    while (!ids.forall(n => Files.exists(l.cmds.resolve(f"rsp-$n%06d.json"))) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    require(ids.forall(n => Files.exists(l.cmds.resolve(f"rsp-$n%06d.json"))), "warm-up commands were not answered")
  }

  def run(r: Run): Unit = {
    val setups = (0 until Setups).map { i =>
      val (l, ms) = r.timed(start(r, i))
      if (i < Setups - 1) { l.svc.stop(); Common.deleteTree(l.dir) }
      (l, ms)
    }
    val l = setups.last._1
    warm(l)
    Heap.checkpoint()
    r.phase("setup")
    r.progress.clear()
    val rnd = new SplittableRandom(r.seed * 31 + 17)

    val seconds = r.seconds
    val t0 = nowMs + 100
    @volatile var done = false
    val late = mutable.ArrayBuffer.empty[Double]
    val probes = mutable.ArrayBuffer.empty[(Double, Double, Double)] // (sent, answered, max frame)
    val generator = new Thread(() => {
      // one schedule for frames and commands, each landing due at a fixed time
      val due = ((1 to (seconds * 1000 / FrameMs).toInt).map(k => (t0 + k * FrameMs, 0, k)) ++
        (1 to (seconds * 1000 / QueryMs).toInt).map(k => (t0 + k * QueryMs - QueryMs / 2, 1, k))).sortBy(_._1)
      due.foreach { case (at, kind, k) =>
        val wait = at - nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
        late.synchronized(late += nowMs - at)
        if (kind == 0) landFrame(l, rnd, k) else landCommand(l, k, at)
      }
    }, "perfbench-generator")
    val prober = new Thread(() => {
      while (!done) {
        val s = nowMs
        val v = probe(l)
        probes.synchronized(probes += ((s, nowMs, v)))
        Thread.sleep(ProbePauseMs)
      }
    }, "perfbench-probe")
    val frames = (seconds * 1000 / FrameMs).toInt
    val commands = (seconds * 1000 / QueryMs).toInt
    generator.start()
    prober.start()
    generator.join()
    // drain: the last frame visible and every command answered
    val deadline = System.currentTimeMillis() + 60000
    def answered = (1 to commands).count(n => Files.exists(l.cmds.resolve(f"rsp-$n%06d.json")))
    def lastSeen = probes.synchronized(probes.lastOption.map(_._3).getOrElse(-1.0))
    while ((lastSeen < frames || answered < commands) && System.currentTimeMillis() < deadline) Thread.sleep(50)
    done = true
    prober.join()
    r.phase("measure")
    // traced run: one maintenance cycle on the drained store (a cycle takes
    // longer than the whole query window here, so none runs inside it)
    val maintMs = if (r.trace) Seq(r.timed(r.span("service", "maintenance")(l.svc.maintenanceCycle()))._2) else Nil
    Heap.checkpoint()

    // query latency: response file written − due
    val answerRows = mutable.ArrayBuffer.empty[Int]
    val queryLat = (1 to commands).flatMap { n =>
      val rsp = l.cmds.resolve(f"rsp-$n%06d.json")
      if (!Files.exists(rsp)) { r.op(ok = false); None }
      else {
        val body = new String(Files.readAllBytes(rsp), UTF_8)
        r.op(!Common.isError(body))
        answerRows += Common.valueRows(Common.parse(body) \ "val")
        val written = Files.getLastModifiedTime(rsp).to(TimeUnit.MICROSECONDS) / 1000.0
        val (due, at) = l.sent(n)
        val ctime = java.time.Instant.parse(Common.parse(body).\("ctime").values.toString)
        Some((written - due, ctime.toEpochMilli - at, written))
      }
    }
    // freshness: frame landed → first probe answer that contains it
    val ps = probes.synchronized(probes.toList)
    val fresh = (1 to frames).flatMap { n =>
      val at = l.landed(n)._1
      ps.find { case (_, ans, v) => ans >= at && v >= n }.map(_._2 - at)
    }
    r.checkEq("live.frames_visible", frames, fresh.size)

    // exactly once: every frame's probe row once, every point once
    val raw = l.svc.store.read(Tier.GenRaw)
    val probeRows = raw.filter(col("measurement") === "sensor_probe.evt.sensor.report")
    r.checkEq("live.probe_rows", l.landed.size.toLong, probeRows.count())
    r.checkEq("live.probe_distinct", l.landed.size.toLong, probeRows.select("value").distinct().count())
    r.checkEq("live.raw_points", l.landed.values.map(_._2).sum, raw.count())
    r.checkEq("live.commands_answered", commands, answered)
    r.checkEq("live.answers_with_rows", queryLat.size, answerRows.count(_ > 0))

    val lat = queryLat.map(_._1)
    r.endToEnd("setup_s", Stats.median(setups.map(_._2 / 1000)), "s", Setups)
    r.endToEnd("p50_ms", Common.percentileOrZero(lat, 0.5), "ms", lat.size)
    r.endToEnd("p90_ms", Common.percentileOrZero(lat, 0.9), "ms", lat.size)
    // answered per second from the first due time to the last response
    val spanS = (queryLat.map(_._3).max - l.sent(1)._1) / 1000
    r.endToEnd("ops_per_s", lat.size / spanS, "1/s", lat.size)
    r.endToEnd("ready_ms", Common.percentileOrZero(fresh, 0.5), "ms", fresh.size)
    r.endToEnd("peak_heap_mb", Heap.peakMb, "MB", 2)
    r.info("inputs") = s"""{"frames":$frames,"events_per_frame":$EventsPerFrame,"frame_ms":$FrameMs,""" +
      s""""query_ms":$QueryMs,"late_share":0.05,"devices":${l.devs.size + 1}}"""
    r.info("fresh_p90_ms") = f"${Common.percentileOrZero(fresh, 0.9)}%.3f"
    r.info("answer_rows") = answerRows.sorted.distinct.mkString(",")

    if (r.trace) {
      val batches = r.progress.all
      r.perLayer("ingest.batches", batches.size.toDouble, "count")
      r.perLayer("ingest.batch_ms_p50", Common.percentileOrZero(batches.map(_.triggerMs.toDouble), 0.5), "ms", batches.size)
      r.perLayer("ingest.add_batch_ms_p50", Common.percentileOrZero(batches.map(_.addBatchMs.toDouble), 0.5), "ms", batches.size)
      r.perLayer("ingest.rows_per_batch", Stats.mean(batches.map(_.rows.toDouble)), "count", batches.size)
      r.perLayer("ingest.processed_rows_per_s", Common.percentileOrZero(batches.map(_.rowsPerS), 0.5), "1/s", batches.size)
      r.perLayer("sources.lines_read", batches.map(_.rows).sum.toDouble, "count", batches.size)
      r.perLayer("service.maintenance_ms", Stats.mean(maintMs), "ms", maintMs.size)
      r.perLayer("service.transport_ms", Common.percentileOrZero(queryLat.map(_._2), 0.5), "ms", queryLat.size)
      r.perLayer("service.gen_late_ms_p90", Common.percentileOrZero(late.toSeq, 0.9), "ms", late.size)
      r.perLayer("service.probe_ms", Common.percentileOrZero(ps.map(p => p._2 - p._1), 0.5), "ms", ps.size)
      r.perLayer("service.fresh_p90_ms", Common.percentileOrZero(fresh, 0.9), "ms", fresh.size)
    }
    l.svc.stop()
  }
}
