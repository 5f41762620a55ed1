package perfbench

import java.nio.file.Path
import java.time.Instant

import scala.collection.mutable

import graft.Service
import graft.api.{Api, CommandCodec}
import graft.ingest.{FilterCompiler, IngestPipeline, TopicMatch}
import graft.meta.MetadataStore
import graft.model.{DataPointsRequest, Tier}
import graft.query.{InfluxQL, Planner, TierPolicy}
import graft.rollup.Downsampler
import graft.sources.LogReplay
import graft.store.TierStore
import graft.stream.Aggregator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}

/**
 * dashboard_read — closed loop, one client. Set-up (three times; the
 * last store is kept): the generator writes one FIMP log file per day and
 * a device metadata file, replayed with `LogReplay.read` →
 * `IngestPipeline.runBatch` with enrichment into a fresh store. The run
 * fills the rollup tiers with `Downsampler.maintain` over every date
 * (`ready_ms`), opens a `graft.Service` and, after each request of the
 * mix once untimed, sends whole cycles of a fixed query mix through `Service.execute`
 * (closed loop); 8 of every 20 requests repeat the
 * one before exactly, as a dashboard refresh would. Nothing is written
 * while queries run.
 */
object Dashboard extends Workload {
  val Days = 3
  val Setups = 3
  /**
   * Share of exact repeats in a query cycle (8 of 20). An assumption, not
   * a measured dashboard trace; the run reports first-send and repeat
   * latency apart (`repeat_split`) so a cache can be weighed for another share.
   */
  val RepeatShare = 0.4
  /** Untimed passes over the distinct requests of the mix before the timed cycles. */
  val WarmPasses = 2
  /** Seconds a timed cycle takes on a 4-core machine: a run times `seconds / CycleS` cycles. */
  val CycleS = 5.0
  /** Seconds of index searches in the traced run's corpus phase. */
  val TracedCorpusSearchS = 5.0

  final case class Built(dir: Path, hist: Gen.History, store: TierStore, files: (Long, Long, Long))

  /**
   * One set-up: the generator writes the day log files and the metadata
   * file, and they are replayed (`LogReplay.read` → `IngestPipeline.runBatch`
   * with enrichment) into a fresh store. Returns the store, the set-up
   * time and the replay time.
   */
  def prepare(r: Run, i: Int, anchor: Long, events: Int, last: Boolean): (Built, Double, Double) = {
    val ((h, dir, logs, meta), genMs) = r.timed {
      val h = new Gen.History(r.seed, anchor, Days, events, scale = 1)
      val dir = r.dir(s"dashboard-$i")
      (0 until Days).foreach(d => h.writeDay(dir.resolve("logs"), d))
      (h, dir, dir.resolve("logs"), h.writeMetadata(dir.resolve("meta/devices.json")))
    }
    val root = dir.resolve("store")
    val (store, replayMs) = r.timed {
      val store = new TierStore(r.spark, s"$root/proc_1")
      store.init()
      val md = MetadataStore.load(r.spark, meta.toString)
      if (r.trace && last) traceIngest(r, logs.toString, md, h)
      r.span("store", "write")(
        IngestPipeline.runBatch(LogReplay.read(r.spark, logs.toString), Common.replayConfig, Some(md), store))
      store
    }
    (Built(dir, h, store, Common.footprint(root)), genMs + replayMs, replayMs)
  }

  def run(r: Run): Unit = {
    val events = if (r.tiny) 2000 else 6000
    val anchor = Common.anchorNow()
    // each set-up replays into a fresh store and then fills its rollup tiers;
    // setup_s and ready_ms are medians over the set-ups, and the last store is kept
    val setups = (0 until Setups).map { i =>
      val last = i == Setups - 1
      val (b, setupMs, replayMs) = prepare(r, i, anchor, events, last)
      if (last) afterReplay(r, b)
      val (_, maintainMs) = r.timed(r.span("rollup", "maintain")(
        Downsampler.maintain(b.store, Instant.ofEpochSecond(anchor), sinceDays = Days + 1)))
      if (!last) Common.deleteTree(b.dir)
      r.phase(s"setup$i")
      (b, setupMs, replayMs, maintainMs)
    }
    val b = setups.last._1
    val maintainMs = Stats.median(setups.map(_._4))
    // only Service.execute is used: the service is not started, so no
    // maintenance or transport thread runs beside the queries
    val svc = new Service(r.spark, Service.Config(storeRoot = b.dir.resolve("store").toString))
    r.op(!Common.isError(svc.execute(Queries.gdp("sensor_temp.evt.sensor.report", "1h", "max", "5m"))))
    Heap.checkpoint()
    r.info("inputs") = b.hist.props(RepeatShare).json

    val client = new Client(r, svc)
    // untimed passes over the mix's distinct requests first: the query path is
    // still being compiled through the first cycles (after one pass the next
    // three cycles' medians fall by a tenth to a fifth)
    (0 until WarmPasses).foreach(_ => Queries.cycle(b.hist).distinct.foreach { json =>
      val resp = svc.execute(json)
      r.op(!Common.isError(resp))
      if (json.contains(Queries.EnergyCommand)) r.info("energy_query") = energyAnswer(b.hist, resp)
    })
    r.phase("warm")
    val timed = mutable.ArrayBuffer.empty[(Double, Boolean)] // (ms, exact repeat of the request before)
    val t0 = System.nanoTime()
    // a fixed number of whole cycles, so every run answers the same requests
    // whatever the machine's speed (a count that follows the clock would give
    // a slow run fewer and less warmed cycles)
    val cycles = math.max(1, math.round(r.seconds / CycleS).toInt)
    (0 until cycles).foreach { _ =>
      Queries.cycle(b.hist).foldLeft("") { (prev, json) =>
        val (resp, ms) = r.timed(client.execute(timed.size + 1L, json))
        timed += ((ms, json == prev))
        r.op(!Common.isError(resp))
        json
      }
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val lat = timed.map(_._1).toSeq
    Heap.checkpoint()
    r.phase("measure")

    r.endToEnd("setup_s", Stats.median(setups.map(_._2 / 1000)), "s", Setups)
    r.endToEnd("p50_ms", Stats.median(lat), "ms", lat.size)
    r.endToEnd("p90_ms", Stats.quantile(lat, 0.9), "ms", lat.size)
    r.endToEnd("ops_per_s", lat.size / measuredS, "1/s", lat.size)
    r.endToEnd("ready_ms", maintainMs, "ms", Setups)
    r.endToEnd("peak_heap_mb", Heap.peakMb, "MB", 2)
    r.info("replay_events_per_s") = f"${Stats.median(setups.map(s => s._1.hist.all.size / (s._3 / 1000)))}%.1f"
    r.info("rollup_s") = f"${maintainMs / 1000}%.3f"
    r.info("setups_ms") = "setup=" + setups.map(s => f"${s._2}%.0f").mkString(",") +
      " maintain=" + setups.map(s => f"${s._4}%.0f").mkString(",")
    // first sends and exact repeats apart, so a cache's effect can be weighed for another repeat share
    val perCycle = timed.size / cycles
    r.info("cycle_p50_ms") = timed.map(_._1).grouped(perCycle).map(c => f"${Stats.median(c.toSeq)}%.1f").mkString(",")
    val (repeats, firsts) = timed.partition(_._2)
    r.info("repeat_split") = f"first_p50_ms=${Stats.median(firsts.map(_._1).toSeq)}%.3f n=${firsts.size} " +
      f"repeat_p50_ms=${Stats.median(repeats.map(_._1).toSeq)}%.3f n=${repeats.size}"
    if (r.trace) {
      client.report()
      r.perLayer("store.write_ms", Stats.median(setups.map(_._3)), "ms", Setups)
      r.perLayer("store.write_calls", 1, "count")
      r.perLayer("store.files_written", b.files._1.toDouble, "count")
      r.perLayer("store.bytes_written", b.files._2.toDouble, "B")
      r.perLayer("store.small_files", b.files._3.toDouble, "count")
      r.perLayer("rollup.maintain_ms", maintainMs, "ms", Setups)
    }

    checks(r, svc, b.hist)
    rollupChecks(r, b, anchor)
    r.phase("checks")
    // traced only: the functions layer (index builds, dedup, searches) on a seeded corpus
    if (r.trace) CorpusIndex.measure(r, CorpusIndex.prepare(r, 0), TracedCorpusSearchS)
  }

  /**
   * Straight after the last replay: points per tier are the generator's
   * fan-out arithmetic; traced, the stream layer's batch forms run over the
   * replayed points (derived series, not stored): A1 over raw, A2 over the
   * energy-sampled points routed to gen_year.
   */
  def afterReplay(r: Run, b: Built): Unit = {
    val routed = Seq("gen_raw", "gen_default", "gen_year").map(t => t -> b.store.read(b.store.tierByName(t).get).count()).toMap
    r.checkEq("dashboard.tier_points", Gen.tierCounts(b.hist.points), routed)
    if (r.trace) {
      val agg = r.timed(r.span("stream", "aggregate")(Aggregator.aggregate(b.store.read(Tier.GenRaw)).count()))
      val diff = r.timed(r.span("stream", "difference")(Aggregator.difference(b.store.read(Tier.GenYear)).count()))
      r.perLayer("stream.aggregate_ms", agg._2, "ms")
      r.perLayer("stream.difference_ms", diff._2, "ms")
      r.perLayer("stream.rows_out", (agg._1 + diff._1).toDouble, "count")
    }
  }

  /** verifyRollups over every replayed date, rollup rows per tier, compaction. */
  def rollupChecks(r: Run, b: Built, anchor: Long): Unit = {
    val store = b.store
    // scoped to the series the cascade rolls up: the measurements ingest routes
    // straight into gen_year have no gen_month source (see perfbench/README.md)
    val routedToYear = b.hist.points.filter(_.dest == Gen.Year).map(_.measurement).distinct
    val (mismatches, verifyMs) = r.timed(r.span("rollup", "verify") {
      Downsampler.verifyRollups(store, Common.date(anchor - Days * 86400L), Common.date(anchor))
        .filter(!(col("tier") === Tier.GenYear.name && col("measurement").isin(routedToYear: _*)))
        .agg(sum(col("n_missing") + col("n_extra") + col("n_value_mismatch"))).head().getLong(0)
    })
    r.checkEq("dashboard.verify_mismatches", 0L, mismatches)
    val rollupRows = Seq(Tier.GenDay, Tier.GenWeek, Tier.GenMonth).map(t => t.name -> store.read(t).count()).toMap
    r.checkEq("dashboard.rollup_rows", Gen.rollupCounts(b.hist.all) - "gen_year", rollupRows)
    // gen_year also holds the routed energy-sampled points; reported, not checked (see perfbench/README.md)
    r.info("gen_year_after_maintain") = s"rows=${store.read(Tier.GenYear).count()} " +
      s"rollup_rows=${Gen.rollupCounts(b.hist.all)("gen_year")} routed_points=${Gen.tierCounts(b.hist.points)("gen_year")}"
    val (_, compactMs) = r.timed(r.span("store", "compact")(Seq(Tier.GenRaw, Tier.GenDefault).foreach(t => store.compact(t))))
    val (_, bytes, _) = Common.footprint(b.dir.resolve("store"))
    val routed = Gen.tierCounts(b.hist.points).values.sum
    r.info("store_bytes_per_point") = f"${bytes.toDouble / routed}%.3f"
    if (r.trace) {
      r.perLayer("rollup.verify_ms", verifyMs, "ms")
      r.perLayer("rollup.mismatches", mismatches.toDouble, "count")
      r.perLayer("rollup.rows_written", rollupRows.values.sum.toDouble, "count")
      r.perLayer("store.compact_ms", compactMs, "ms")
      r.perLayer("store.bytes_per_point", bytes.toDouble / routed, "B", routed)
    }
  }

  /**
   * Rows of the energy answer beside the routed gen_year points it reads
   * (imports within its window). Reported, not checked: maintenance
   * currently deletes those points, so the answer is empty.
   */
  def energyAnswer(h: Gen.History, resp: String): String = {
    val from = System.currentTimeMillis() / 1000 - Queries.EnergyDays * 86400L
    val source = h.points.count(p => p.dest == Gen.Year && p.dir == "import" && p.timeSec >= from)
    s"rows=${Common.valueRows(Common.parse(resp) \ "val")} routed_points_in_window=$source"
  }

  /** Absolute-range queries whose answers the benchmark computes from the generated events. */
  def checks(r: Run, svc: Service, h: Gen.History): Unit = {
    val a = h.anchorSec
    val pts = h.points
    def in(m: String, from: Long, to: Long) = pts.filter(p => p.measurement == m && p.timeSec >= from && p.timeSec <= to)
    def ask(m: String, fn: String, from: Long, to: Long): Double = {
      val resp = svc.execute(Queries.absolute(m, fn, from, to))
      Common.firstValue(resp).getOrElse(Double.NaN)
    }
    val (f1, t1) = (a - 3 * 3600L, a - 3600L)
    val temp = in("sensor_temp.evt.sensor.report", f1, t1).map(_.value)
    r.checkEq("dashboard.raw_max", temp.max, ask("sensor_temp.evt.sensor.report", "max", f1, t1))
    val power = in("electricity_meter_power", f1, t1).map(_.value)
    r.checkEq("dashboard.raw_count", power.size.toDouble, ask("electricity_meter_power", "count", f1, t1))
    val sum = power.sum
    r.checkNear("dashboard.raw_sum", sum, ask("electricity_meter_power", "sum", f1, t1), 1e-6 * math.max(1, math.abs(sum)))
    val (f2, t2) = (a - 3 * 86400L, a - 86400L)
    r.checkEq("dashboard.default_count", in("battery.evt.lvl.report", f2, t2).size.toDouble,
      ask("battery.evt.lvl.report", "count", f2, t2))
  }

  /**
   * Traced run only: the replay is lazy, so each layer's output is forced
   * once with a count inside its own span (tracing overhead). The layers
   * are rebuilt from the public functions `IngestPipeline.transform`
   * composes: selector match, filter chain, enrichment, transform.
   */
  def traceIngest(r: Run, logs: String, md: DataFrame, h: Gen.History): Unit = {
    val cfg = Common.replayConfig
    val events = LogReplay.read(r.spark, logs)
    val (nEvents, decodeMs) = r.timed(r.span("sources", "decode", forced = true)(events.count()))
    val lines = r.span("sources", "lines", forced = true)(r.spark.read.text(logs).count())
    val selected = events.filter(TopicMatch.anySelector(events("topic"), cfg.selectors.map(_.topic)))
    val nSel = r.span("ingest", "select", forced = true)(selected.count())
    val admitted = selected.filter(FilterCompiler.compile(cfg.filters))
    val nAdm = r.span("ingest", "filter", forced = true)(admitted.count())
    val (hits, enrichMs) = r.timed(r.span("meta", "enrich", forced = true)(
      MetadataStore.enrich(admitted, md).filter(col("dev_id").isNotNull).count()))
    val (points, transformMs) = r.timed(r.span("ingest", "transform", forced = true)(
      IngestPipeline.transform(events, cfg, Some(md)).count()))
    r.perLayer("sources.lines_read", lines.toDouble, "count")
    r.perLayer("sources.lines_dropped", (lines - nEvents).toDouble, "count")
    r.perLayer("sources.decode_ms", decodeMs, "ms")
    r.perLayer("ingest.selected_ratio", nSel.toDouble / nEvents, "ratio", nEvents)
    r.perLayer("ingest.admitted_ratio", nAdm.toDouble / nSel, "ratio", nSel)
    r.perLayer("ingest.points_per_event", points.toDouble / nAdm, "ratio", nAdm)
    r.perLayer("ingest.transform_ms", transformMs, "ms")
    r.perLayer("meta.enrich_ms", enrichMs, "ms")
    r.perLayer("meta.hit_ratio", hits.toDouble / nAdm, "ratio", nAdm)
    r.checkEq("dashboard.lines_read", h.all.size + 3L * Days, lines)
    r.checkEq("dashboard.selected", h.selected, nSel)
    r.checkEq("dashboard.admitted", h.admitted, nAdm)
    r.checkEq("dashboard.meta_hits", h.metaHits, hits)
    r.checkEq("dashboard.points", h.points.size.toLong, points)
  }

  /**
   * Sends requests. Untraced it is `Service.execute`. Traced it makes the
   * calls `Service.execute` makes, in its order and on the same
   * DataFrame, each inside a span: decode, `Api.dispatch`, then for data
   * commands `Api.shapeResponse` (which runs the query: its time-ordered
   * page, limit and series sort are part of the plan) and the FIMP
   * envelope. Only after the answer does a probe, counted as tracing
   * overhead, parse the statement, take the planner's tier choice, plan the
   * dispatched DataFrame and read the planned store slice, so the probe
   * cannot warm the request it describes.
   */
  final class Client(r: Run, svc: Service) {
    private val seriesShaped = Set("cmd.tsdb.get_data_points", "cmd.tsdb.get_energy_data_points", "cmd.tsdb.query")
    private val tiers = mutable.LinkedHashMap(Seq("gen_raw", "gen_day", "gen_week", "gen_month", "gen_year", "gen_default").map(_ -> 0): _*)
    private var dataQueries = 0
    private val files = mutable.ArrayBuffer.empty[Double]
    private val scannedPerRow = mutable.ArrayBuffer.empty[Double]
    private val bytes = mutable.ArrayBuffer.empty[Double]
    private var queries = 0

    def execute(id: Long, json: String): String =
      if (!r.trace) svc.execute(json)
      else r.tracer.inRequest(id) {
        queries += 1
        val resp = try traced(json) catch { case e: Exception => s"""{"val":{"error":${CommandCodec.q(String.valueOf(e.getMessage))}}}""" }
        bytes += resp.length
        resp
      }

    private def traced(json: String): String = {
      val cmd = r.span("api", "decode")(CommandCodec.decode(json))
      val ctime = Instant.now().toString
      val df = r.span("api", "dispatch")(Api.dispatch(svc.ctx, cmd.msgType, cmd.payload))
      if (!seriesShaped(cmd.msgType)) {
        val rows = r.span("query", "exec")(df.toJSON.collect())
        return r.span("api", "shape")(Api.shapeFimpReport(rows.mkString("[", ",", "]"), cmd.uid, "", ctime,
          msgType = cmd.msgType.replaceFirst("^cmd\\.", "evt.") + "_report"))
      }
      val body = r.span("query", "exec")(Api.shapeResponse(df, cmd.measurement, cmd.groupByTag))
      val resp = r.span("api", "shape")(Api.shapeFimpReport(body, cmd.uid, "", ctime,
        msgType = if (cmd.msgType == "cmd.tsdb.query") "evt.tsdb.query_report" else "evt.tsdb.data_points_report"))
      r.span("trace", "probe", forced = true)(probe(cmd, df, body))
      resp
    }

    /** Tier choice, planning and the planned store slice of an answered data command. */
    private def probe(cmd: CommandCodec.Command, df: DataFrame, body: String): Unit = {
      val planned = cmd.payload match {
        case s: String => plannedWindow(r.span("query", "parse")(InfluxQL.parse(s)))
        case g: Api.GetDataPointsRequest if cmd.msgType == "cmd.tsdb.get_energy_data_points" =>
          window(g.toRequest.copy(measurement = "electricity_meter_energy_sampled")).map(w => w.copy(_1 = "gen_year"))
        case g: Api.GetDataPointsRequest => window(g.toRequest)
        case _ => None
      }
      r.span("query", "plan")(df.queryExecution.executedPlan)
      planned.foreach { case (tier, m, fromSec, toSec) =>
        dataQueries += 1
        tiers(tier) += 1
        val (lo, hi) = Planner.dateWindow(fromSec, toSec, "UTC")
        val t = svc.store.tierByName(tier).get
        val slice = r.span("store", "read_slice")(svc.store.readSlice(t, Some(m), Some(lo), Some(hi)))
        files += slice.inputFiles.length
        val sliceRows = r.span("store", "slice_count")(slice.count())
        scannedPerRow += sliceRows.toDouble / math.max(1, Common.valueRows(Common.parse(body)))
      }
    }

    /** (tier, measurement, fromSec, toSec) the planner picks for a request. */
    private def window(req: DataPointsRequest): Option[(String, String, Long, Long)] = {
      val now = Instant.now()
      val fn = if ((req.groupByTag.nonEmpty || req.groupByTime.nonEmpty) && req.dataFunction.isEmpty) "mean" else req.dataFunction
      val from = if (req.fromTime.nonEmpty && req.toTime.nonEmpty) Some(Instant.parse(req.fromTime)) else None
      val tier = TierPolicy.resolveQueryTier(req.measurement, Tier.ProfileOptimized, from, req.relativeTime,
        req.groupByTime, fn, now).name
      val (f, t) = from match {
        case Some(x) => (x.getEpochSecond, Instant.parse(req.toTime).getEpochSecond)
        case None => (now.getEpochSecond - TierPolicy.relativeToMinutes(req.relativeTime) * 60, now.getEpochSecond)
      }
      Some((tier, req.measurement, f, t))
    }

    private def plannedWindow(st: InfluxQL.Statement): Option[(String, String, Long, Long)] = st match {
      case InfluxQL.Select(req, rp) => window(req).map(w => rp.fold(w)(t => w.copy(_1 = t)))
      case InfluxQL.MultiSelect(_, req, rp) => window(req).map(w => rp.fold(w)(t => w.copy(_1 = t)))
      case s: InfluxQL.Subquery => plannedWindow(s.inner)
      case _ => None
    }

    def report(): Unit = {
      val n = math.max(1, queries)
      def mean(layer: String, name: String): (Double, Long) = {
        val s = r.tracer.of(layer, name).map(_.ms)
        (Stats.mean(s), s.size.toLong)
      }
      Seq(("api", "decode"), ("api", "dispatch"), ("api", "shape"), ("query", "parse"), ("query", "plan"),
        ("query", "exec"), ("store", "read_slice")).foreach { case (l, s) =>
        val (v, k) = mean(l, s)
        r.perLayer(s"$l.${s}_ms", v, "ms", k)
      }
      r.perLayer("api.response_bytes", Stats.mean(bytes.toSeq), "B", bytes.size)
      r.perLayer("store.files_per_query", Stats.mean(files.toSeq), "count", files.size)
      r.perLayer("query.rows_scanned_per_row", Stats.mean(scannedPerRow.toSeq), "ratio", scannedPerRow.size)
      r.jobs.settle()
      // every job of the request path (dispatch and execution); the probe's planning starts none
      r.perLayer("query.jobs_per_query", (r.jobs.acc("api").jobs.get + r.jobs.acc("query").jobs.get).toDouble / n, "count", n)
      tiers.foreach { case (t, c) =>
        r.perLayer(s"query.tier.$t", c.toDouble / math.max(1, dataQueries), "share", dataQueries)
      }
    }
  }
}

/** The dashboard query mix, as FIMP command envelopes. */
object Queries {
  private def env(tpe: String, v: String) = s"""{"type":"$tpe","uid":"dash","val":$v}"""

  def gdp(m: String, rel: String, fn: String, gbt: String = "", tag: String = "", fill: String = "",
      filters: String = "", tpe: String = "cmd.tsdb.get_data_points"): String = {
    val parts = Seq("measurement_name" -> m, "relative_time" -> rel, "data_function" -> fn,
      "group_by_time" -> gbt, "group_by_tag" -> tag, "fill_type" -> fill).filter(_._2.nonEmpty)
      .map { case (k, v) => s""""$k":"$v"""" } ++ (if (filters.nonEmpty) Seq(s""""filters":$filters""") else Nil)
    env(tpe, parts.mkString("{", ",", "}"))
  }

  def absolute(m: String, fn: String, from: Long, to: Long): String =
    env("cmd.tsdb.get_data_points",
      s"""{"measurement_name":"$m","data_function":"$fn","from_time":"${Common.iso(from)}","to_time":"${Common.iso(to)}"}""")

  val EnergyCommand = "cmd.tsdb.get_energy_data_points"
  val EnergyDays = 7

  def influx(q: String): String = env("cmd.tsdb.query", "\"" + q.replace("\"", "\\\"") + "\"")

  /** One cycle of the mix: twelve requests over windows of 1h to 30d (each
   *  resolves to a different tier), group-by-time and group-by-tag, fill,
   *  tag and device filters, energy, InfluxQL (plain, subquery,
   *  multi-select) and catalog calls; eight of them are sent twice in a
   *  row. The same for every seed. */
  def cycle(h: Gen.History): Seq[String] =
    (0 until 12).flatMap { i =>
      val q = request(i, h)
      if (i % 3 == 2) Seq(q) else Seq(q, q)
    }

  private def request(i: Int, h: Gen.History): String = {
    def dev(kind: Gen.Kind): String = {
      val ds = h.devs.filter(d => d.kind == kind && d.inMeta)
      // the hottest device of the kind, as a dashboard's main sensor
      if (ds.isEmpty) "" else s"""{"devices":["${ds.maxBy(_.weight).devId}"]}"""
    }
    i match {
      case 0 => gdp("sensor_temp.evt.sensor.report", "1h", "max", "5m", fill = "previous", filters = dev(Gen.Temp))
      case 1 => gdp("electricity_meter_power", "2d", "mean", "1m", filters = """{"tags":{"dir":"import"}}""")
      case 2 => gdp("electricity_meter_power", "8d", "mean", "30m", tag = "dev_id")
      case 3 => gdp("sensor_temp.evt.sensor.report", "30d", "mean", "6h", tag = "location_id", fill = "null")
      case 4 => gdp("electricity_meter_energy", "30d", "mean", "1d", tag = "dir")
      case 5 => gdp("battery.evt.lvl.report", "30d", "mean", "1d", tag = "dev_id")
      case 6 => gdp("", s"${EnergyDays}d", "", "1d", tag = "dev_id", filters = """{"tags":{"dir":"import"}}""",
        tpe = EnergyCommand)
      case 7 => influx("""SELECT mean("value") AS "mean_value" FROM "gen_raw"."electricity_meter_power" WHERE time > now()-6h GROUP BY time(10m) FILL(null)""")
      case 8 => influx("""SELECT max("v") FROM (SELECT mean("value") AS "v" FROM "sensor_temp.evt.sensor.report" WHERE time > now()-1d GROUP BY time(30m))""")
      case 9 => influx("""SELECT mean("value"), max("value") FROM "electricity_meter_power" WHERE time > now()-12h GROUP BY time(1h)""")
      case 10 => env("cmd.tsdb.get_measurements", "null")
      case _ => influx("SHOW MEASUREMENTS")
    }
  }
}
