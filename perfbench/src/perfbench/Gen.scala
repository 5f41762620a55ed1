package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/**
 * Seeded load generator. It is the only source of the engine's inputs: it
 * writes FIMP log files (tai64n lines), the device metadata file and the
 * text/vector corpus, and it keeps its own account of what the engine
 * should make of them (points per tier, rollup rows, reference query
 * answers, planted duplicates and terms). The same seed gives the same
 * files; event times are offsets from an anchor the caller passes in.
 */
object Gen {

  /** Where a transformed point is routed (TierPolicy.resolveWriteTier). */
  sealed trait Dest
  case object Raw extends Dest
  case object Default extends Dest
  case object Year extends Dest

  /** One point the engine's Transform should emit for an event. */
  final case class Pt(measurement: String, dir: String, dest: Dest, timeSec: Long, value: Double)

  /** A FIMP event kind: how it is written and what it fans out to. */
  final case class Kind(name: String, serv: String, msgType: String, valT: String,
      topicPrefix: String, selected: Boolean = true, admitted: Boolean = true)

  val Temp = Kind("temp", "sensor_temp", "evt.sensor.report", "float", "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:sensor_temp")
  val PowerW = Kind("power_w", "meter_elec", "evt.meter.report", "float", "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec")
  val PowerKW = Kind("power_kw", "meter_elec", "evt.meter.report", "float", "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec")
  val Energy = Kind("energy_kwh", "meter_elec", "evt.meter.report", "float", "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec")
  val MeterExt = Kind("meter_ext", "meter_elec", "evt.meter_ext.report", "float_map", "pt:j1/mt:evt/rt:dev/rn:han/ad:1/sv:meter_elec")
  val Session = Kind("session", "chargepoint", "evt.current_session.report", "float", "pt:j1/mt:evt/rt:dev/rn:easee/ad:1/sv:chargepoint")
  val Setpoint = Kind("setpoint", "thermostat", "cmd.setpoint.set", "str_map", "pt:j1/mt:cmd/rt:dev/rn:zw/ad:1/sv:thermostat")
  val Price = Kind("price", "price_info_elec", "evt.price_forecast.report", "object", "pt:j1/mt:evt/rt:app/rn:tibber/ad:1/sv:price_info_elec")
  val Presence = Kind("presence", "sensor_presence", "evt.presence.report", "bool", "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:sensor_presence")
  val Battery = Kind("battery", "battery", "evt.lvl.report", "int", "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:battery")
  val Scene = Kind("scene", "scene_ctrl", "evt.scene.report", "string", "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:scene_ctrl")
  val SelfTraffic = Kind("self", "ecollector", "evt.app.report", "string", "pt:j1/mt:evt/rt:ad/rn:ecollector/ad:1/sv:ecollector", admitted = false)
  val Outside = Kind("outside", "vinculum", "evt.pd7.notify", "object", "pt:j1/mt:rsp/rt:app/rn:vinculum/ad:1/sv:vinculum", selected = false)
  val Excluded = Kind("excluded", "out_lvl_switch", "evt.lvl.report", "int", "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:out_lvl_switch", admitted = false)
  /** Live-only: one event per frame whose value is the frame number. */
  val Probe = Kind("probe", "sensor_probe", "evt.sensor.report", "float", "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:sensor_probe")

  /** Device mix of the history: every Transform branch of FIXTURES.md §1. */
  val historyMix: Seq[(Kind, Int)] = Seq(Temp -> 6, PowerW -> 3, PowerKW -> 2, Energy -> 3,
    MeterExt -> 2, Session -> 1, Setpoint -> 2, Price -> 1, Presence -> 3, Battery -> 2,
    Scene -> 1, SelfTraffic -> 1, Outside -> 1, Excluded -> 1)

  val liveMix: Seq[(Kind, Int)] = Seq(Temp -> 4, PowerW -> 2, Energy -> 2, MeterExt -> 1)

  final case class Device(idx: Int, kind: Kind, topic: String, weight: Double,
      devId: Int, locId: Int, devType: String, inMeta: Boolean) {
    /** Metadata address: the topic without its `pt:j1/mt:evt|cmd` prefix. */
    def address: String = topic.replaceFirst("^pt:j1/mt:(evt|cmd)", "")
  }

  final case class Event(timeSec: Long, device: Device, json: String, points: Seq[Pt])

  /** Input properties the engine's behaviour depends on, recorded with each result. */
  final case class Props(events: Long, devices: Int, days: Int, zipfS: Double,
      lateShare: Double, outsideShare: Double, repeatShare: Double, garbageLines: Long) {
    def json: String =
      s"""{"events":$events,"devices":$devices,"days":$days,"zipf_s":$zipfS,""" +
        f""""late_share":$lateShare%.4f,"outside_share":$outsideShare%.4f,""" +
        f""""repeat_share":$repeatShare%.4f,"garbage_lines":$garbageLines}"""
  }

  val Tai64Offset = 4611686018427387904L
  def tai64n(sec: Long): String = f"@${sec + Tai64Offset}%016x00000000"

  val DeviceSeed = 1L

  /**
   * The devices of a mix. They are the same for every seed: Zipf weight by
   * a fixed shuffle of ranks (so hot devices are not all one kind),
   * location and metadata membership from the same fixed stream. The seed
   * varies event times, values and order, not how the points spread over
   * measurements, tiers, tags and series, so every seed loads the store alike.
   */
  def devices(mix: Seq[(Kind, Int)], scale: Int, zipfS: Double): IndexedSeq[Device] = {
    val kinds = mix.flatMap { case (k, n) => Seq.fill(n * scale)(k) }.toIndexedSeq
    val fixed = new SplittableRandom(DeviceSeed)
    val ranks = shuffle(fixed, (1 to kinds.size).toIndexedSeq)
    kinds.zipWithIndex.map { case (k, i) =>
      val n = i + 1
      Device(i, k, s"${k.topicPrefix}/ad:${n}_0", 1.0 / math.pow(ranks(i), zipfS),
        devId = 100 + n, locId = 1 + fixed.nextInt(6),
        devType = if (k == Energy && i % 2 == 0) "meter.main_elec" else s"${k.serv}.generic",
        inMeta = fixed.nextInt(100) < 85)
    }
  }

  def shuffle[T](rnd: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  private def pick(rnd: SplittableRandom, devs: IndexedSeq[Device], cum: Array[Double]): Device = {
    val x = rnd.nextDouble() * cum.last
    var lo = 0
    var hi = cum.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) < x) lo = mid + 1 else hi = mid
    }
    devs(lo)
  }

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  /** Builds one event of `d` at `sec` and the points Transform turns it into. */
  def event(rnd: SplittableRandom, d: Device, sec: Long, probeValue: Double = 0): Event = {
    def env(valT: String, v: String, props: String = "null", src: String = "app") =
      s"""{"serv":"${d.kind.serv}","type":"${d.kind.msgType}","val_t":"$valT","val":$v,"props":$props,"src":"$src"}"""
    val k = d.kind
    k match {
      case Temp =>
        val v = r2(15 + 10 * rnd.nextDouble())
        Event(sec, d, env("float", v.toString, """{"unit":"C"}"""),
          Seq(Pt("sensor_temp.evt.sensor.report", null, Raw, sec, v)))
      case Probe =>
        Event(sec, d, env("float", probeValue.toString, """{"unit":"C"}"""),
          Seq(Pt("sensor_probe.evt.sensor.report", null, Raw, sec, probeValue)))
      case PowerW =>
        val v = r2(5000 * rnd.nextDouble())
        Event(sec, d, env("float", v.toString, """{"unit":"W"}"""),
          Seq(Pt("electricity_meter_power", "import", Raw, sec, v)))
      case PowerKW =>
        val kw = math.round(5000 * rnd.nextDouble()) / 1000.0
        Event(sec, d, env("float", kw.toString, """{"unit":"kW"}"""),
          Seq(Pt("electricity_meter_power", "import", Raw, sec, kw * 1000)))
      case Energy =>
        // cumulative counter: a function of time, so it is monotonic whatever the write order
        val v = r2(1000 + d.idx * 10 + (sec - 1700000000L) / 3600.0)
        Event(sec, d, env("float", v.toString, """{"unit":"kWh"}"""),
          Seq(Pt("electricity_meter_energy", "import", Raw, sec, v),
            Pt("electricity_meter_energy_sampled", "import", Year, sec, v)))
      case MeterExt =>
        val ei = r2(500 + (sec - 1700000000L) / 7200.0)
        val ee = r2(20 + (sec - 1700000000L) / 72000.0)
        val pi = r2(3000 * rnd.nextDouble())
        val pe = r2(200 * rnd.nextDouble())
        val v = s"""{"e_import":$ei,"e_export":$ee,"p_import":$pi,"p_export":$pe,"last_e_import":${ei - 1},"last_e_export":${ee - 1}}"""
        Event(sec, d, env("float_map", v),
          Seq(Pt("electricity_meter_energy", "import", Raw, sec, ei),
            Pt("electricity_meter_energy_sampled", "import", Year, sec, ei),
            Pt("electricity_meter_energy", "export", Raw, sec, ee),
            Pt("electricity_meter_energy_sampled", "export", Year, sec, ee),
            Pt("electricity_meter_power", "import", Raw, sec, pi),
            Pt("electricity_meter_power", "export", Raw, sec, pe)))
      case Session =>
        val v = r2(50 * rnd.nextDouble())
        Event(sec, d, env("float", v.toString, """{"unit":"kWh"}""", src = "easee"),
          Seq(Pt("chargepoint.evt.current_session.report", "import", Default, sec, v),
            Pt("electricity_meter_energy_sampled", "import", Year, sec, v)))
      case Setpoint =>
        val v = math.round(36 + 12 * rnd.nextDouble()) / 2.0
        Event(sec, d, env("str_map", s"""{"temp":"$v","unit":"C","type":"heat"}"""),
          Seq(Pt("thermostat.cmd.setpoint.set", null, Default, sec, v)))
      case Price =>
        val hour = sec / 3600 * 3600
        val entries = (1 to 3).map { h =>
          val total = r2(0.3 + rnd.nextDouble())
          (hour + h * 3600L, total)
        }
        val arr = entries.map { case (t, total) =>
          s"""{"level":"NORMAL","total":$total,"energy":${r2(total * 0.7)},"tax":${r2(total * 0.3)},"currency":"NOK","startsAt":"${java.time.Instant.ofEpochSecond(t)}"}"""
        }.mkString("[", ",", "]")
        Event(sec, d, env("object", arr),
          entries.map { case (t, total) => Pt("electricity_price_info", "export", Default, t, total) })
      case Presence =>
        val v = rnd.nextBoolean()
        Event(sec, d, env("bool", v.toString), Seq(Pt("sensor_presence.evt.presence.report", null, Default, sec, Double.NaN)))
      case Battery =>
        val v = 1 + rnd.nextInt(100)
        Event(sec, d, env("int", v.toString), Seq(Pt("battery.evt.lvl.report", null, Default, sec, v.toDouble)))
      case Scene =>
        Event(sec, d, env("string", s""""scene_${rnd.nextInt(8)}""""),
          Seq(Pt("scene_ctrl.evt.scene.report", null, Default, sec, Double.NaN)))
      case SelfTraffic =>
        Event(sec, d, env("string", "\"heartbeat\""), Nil)
      case Outside =>
        Event(sec, d, env("object", """{"changes":null}"""), Nil)
      case Excluded =>
        Event(sec, d, env("int", rnd.nextInt(100).toString), Nil)
    }
  }

  def line(e: Event): String = s"${tai64n(e.timeSec)} ${e.device.topic} ${e.json}"

  /**
   * A replayable history: `events` events over `days` days ending at
   * `anchorSec`, one log file per day. Times are odd seconds, so absolute
   * query bounds on even seconds never tie with an event. A `lateShare` of
   * each day's lines is written out of time order (late arrivals), and a
   * few lines are garbage that the replay must drop.
   */
  final class History(val seed: Long, val anchorSec: Long, val days: Int, val events: Int,
      val scale: Int, val zipfS: Double = 1.1, val lateShare: Double = 0.05) {
    private val rnd = new SplittableRandom(seed)
    val devs: IndexedSeq[Device] = devices(historyMix, scale, zipfS)
    private val cum = devs.map(_.weight).scanLeft(0.0)(_ + _).tail.toArray
    val all: IndexedSeq[Event] = {
      val span = days * 86400L
      (0 until events).map { _ =>
        val off = rnd.nextLong(span - 2) | 1L
        val d = pick(rnd, devs, cum)
        event(rnd, d, anchorSec - span + off)
      }.sortBy(_.timeSec)
    }
    /** Day index → events of that day, in file order (with late lines moved back). */
    val byDay: IndexedSeq[IndexedSeq[Event]] = {
      val start = anchorSec - days * 86400L
      val grouped = all.groupBy(e => ((e.timeSec - start) / 86400L).toInt)
      (0 until days).map { i =>
        val evs = grouped.getOrElse(i, IndexedSeq.empty).toArray
        // a late line is emitted up to 200 lines after its time order
        var j = 0
        while (j < evs.length) {
          if (rnd.nextDouble() < lateShare) {
            val to = math.min(evs.length - 1, j + 1 + rnd.nextInt(200))
            val e = evs(j)
            System.arraycopy(evs, j + 1, evs, j, to - j)
            evs(to) = e
          }
          j += 1
        }
        evs.toIndexedSeq
      }
    }

    /** Writes day `i` as one log file: a header, a corrupt line, the
     *  events, and a truncated last line (the three lines replay drops). */
    def writeDay(dir: Path, i: Int): Path = {
      Files.createDirectories(dir)
      val sb = new StringBuilder
      sb.append("# ecollector message log\n")
      sb.append("corrupt line without topic\n")
      byDay(i).foreach(e => sb.append(line(e)).append('\n'))
      sb.append("@4000000000000000 truncated\n")
      val p = dir.resolve(f"day-$i%02d.log")
      Files.write(p, sb.toString.getBytes(UTF_8))
      p
    }

    def writeMetadata(path: Path): Path = {
      val recs = devs.filter(_.inMeta).map { d =>
        s"""{"Address":"${d.address}","DeviceID":${d.devId},"LocationID":${d.locId},"DeviceType":"${d.devType}"}"""
      }
      Files.createDirectories(path.getParent)
      Files.write(path, recs.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
      path
    }

    def selected: Long = all.count(_.device.kind.selected).toLong
    def admitted: Long = all.count(e => e.device.kind.selected && e.device.kind.admitted).toLong
    def points: Seq[Pt] = all.flatMap(_.points)
    def metaHits: Long = all.count(e => e.device.kind.selected && e.device.kind.admitted && e.device.inMeta).toLong

    def props(repeatShare: Double): Props = Props(all.size.toLong, devs.size, days, zipfS, lateShare,
      all.count(e => !e.device.kind.selected || !e.device.kind.admitted).toDouble / all.size,
      repeatShare, days * 3L)
  }

  /** Points per tier for a set of events, before any rollup. */
  def tierCounts(pts: Seq[Pt]): Map[String, Long] = Map(
    "gen_raw" -> pts.count(_.dest == Raw).toLong,
    "gen_default" -> pts.count(_.dest == Default).toLong,
    "gen_year" -> pts.count(_.dest == Year).toLong)

  /**
   * Rollup rows the cascade should hold: one row per (series, bucket) for
   * each tier's resolution, over the raw points. A series is the event's
   * device plus the point's measurement and direction (every tag the
   * downsampler groups on is fixed per device).
   */
  def rollupCounts(events: Seq[Event]): Map[String, Long] = {
    val res = Seq("gen_day" -> 60L, "gen_week" -> 600L, "gen_month" -> 3600L, "gen_year" -> 86400L)
    res.map { case (t, sec) =>
      val keys = mutable.HashSet.empty[(Int, String, String, Long)]
      events.foreach(e => e.points.foreach { p =>
        if (p.dest == Raw) keys += ((e.device.idx, p.measurement, p.dir, Math.floorDiv(p.timeSec, sec)))
      })
      t -> keys.size.toLong
    }.toMap
  }

  // ---- corpus -----------------------------------------------------------

  final case class Doc(id: Long, text: String, vec: Array[Float])

  /**
   * Text + vector corpus. Words are Zipf-drawn from a synthetic vocabulary;
   * vectors are noisy copies of `clusters` centres. `dups` base documents
   * get a near-duplicate (one word changed) in the probe set, beside
   * `fresh` unrelated documents; `planted` documents each carry a term
   * found nowhere else, so BM25 must rank them first for it.
   */
  final class Corpus(seed: Long, val docs: Int, val dims: Int, val clusters: Int,
      val dups: Int, val fresh: Int, val planted: Int) {
    private val rnd = new SplittableRandom(seed)
    private val vocab = (0 until 3000).map(i => f"w$i%04d")
    private val wcum = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.05)).scanLeft(0.0)(_ + _).tail.toArray
    private def word(): String = {
      val x = rnd.nextDouble() * wcum.last
      var lo = 0
      var hi = wcum.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (wcum(m) < x) lo = m + 1 else hi = m }
      vocab(lo)
    }
    private def text(n: Int): Array[String] = Array.fill(n)(word())
    private val centres = Array.fill(clusters, dims)((rnd.nextDouble() * 2 - 1).toFloat)
    private def vec(): Array[Float] = {
      val c = centres(rnd.nextInt(clusters))
      c.map(x => (x + rnd.nextGaussian() * 0.35).toFloat)
    }
    val plantedTerm: Map[Long, String] = (0 until planted).map(i => (i.toLong * 7 + 3) -> f"zq$i%03dx").toMap
    val base: IndexedSeq[Doc] = (0 until docs).map { i =>
      val id = i.toLong
      val ws = text(40 + rnd.nextInt(40))
      val t = plantedTerm.get(id).fold(ws.mkString(" "))(p => (ws ++ Array(p, p, p)).mkString(" "))
      Doc(id, t, vec())
    }
    /** Near-duplicates: id → the base id it copies. */
    val dupOf: Map[Long, Long] = (0 until dups).map(i => (1000000L + i) -> (i.toLong * 13 % docs)).toMap
    val probe: IndexedSeq[Doc] = dupOf.toSeq.sortBy(_._1).map { case (id, src) =>
      val ws = base(src.toInt).text.split(' ')
      ws(rnd.nextInt(ws.length)) = word()
      Doc(id, ws.mkString(" "), vec())
    }.toIndexedSeq ++ (0 until fresh).map(i => Doc(2000000L + i, text(40 + rnd.nextInt(40)).mkString(" "), vec()))

    val queryVecIds: IndexedSeq[Long] = (0 until 64).map(_ => rnd.nextInt(docs).toLong)

    def write(path: Path, ds: Seq[Doc]): Path = {
      Files.createDirectories(path.getParent)
      val sb = new StringBuilder
      ds.foreach { d =>
        sb.append(s"""{"doc_id":${d.id},"vec_id":${d.id},"text":"${d.text}","embedding":[""")
        sb.append(d.vec.mkString(",")).append("]}\n")
      }
      Files.write(path, sb.toString.getBytes(UTF_8))
      path
    }

    /** Exact cosine top-k over the base corpus, excluding the query itself. */
    def bruteTopK(q: Long, k: Int): Seq[Long] = {
      val qv = base(q.toInt).vec
      def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
      val nq = norm(qv)
      base.iterator.filter(_.id != q).map { d =>
        var dot = 0.0
        var i = 0
        while (i < dims) { dot += qv(i).toDouble * d.vec(i); i += 1 }
        (d.id, dot / (nq * norm(d.vec)))
      }.toSeq.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    }
  }
}
