package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.model.{Filter, ProcessConfig, Selector}
import org.json4s._
import org.json4s.jackson.JsonMethods

object Common {

  /** The replay process: two selectors (events, device commands) and an
   *  entry filter that excludes one service, so every filter path is taken. */
  val replayConfig: ProcessConfig = ProcessConfig(id = 1, name = "replay",
    filters = Seq(Filter(id = 1, service = "out_lvl_switch", negation = true)),
    selectors = Seq(Selector(1, "pt:j1/mt:evt/#"), Selector(2, "pt:j1/mt:cmd/rt:dev/#")))

  def iso(sec: Long): String = Instant.ofEpochSecond(sec).toString
  def date(sec: Long): String = Instant.ofEpochSecond(sec).toString.take(10)

  /** Anchor for generated event times: the current minute. */
  def anchorNow(): Long = System.currentTimeMillis() / 1000 / 60 * 60

  /**
   * Blocks until every live `graft.Service` maintenance thread sits in its
   * idle gap. A started service runs one maintenance cycle at once; the
   * benchmark waits for it so that no cycle it did not schedule overlaps
   * the measurement.
   */
  def awaitMaintenanceIdle(timeoutMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def busy: Boolean = Thread.getAllStackTraces.asScala.exists { case (t, st) =>
      t.getName == "graft-maintenance" && t.isAlive && {
        val frames = st.map(_.getMethodName)
        !(frames.headOption.contains("sleep") && frames.exists(_.contains("maintenanceLoop")) &&
          !frames.exists(_.contains("maintenanceCycle")))
      }
    }
    Thread.sleep(100)
    while (busy) {
      require(System.currentTimeMillis() < deadline, "service maintenance did not go idle")
      Thread.sleep(25)
    }
  }

  def parse(json: String): JValue = JsonMethods.parse(json)

  /** A FIMP report carries an error when its `val` has an `error` field. */
  def isError(report: String): Boolean =
    try (parse(report) \ "val" \ "error") match {
      case JNothing | JNull => false
      case _ => true
    } catch { case _: Exception => true }

  /** First value cell of the first series of a data-points report. */
  def firstValue(report: String): Option[Double] =
    (parse(report) \ "val" \ "Results") match {
      case JArray(res :: _) => (res \ "Series") match {
        case JArray(s :: _) => (s \ "values") match {
          case JArray(JArray(row) :: _) if row.size > 1 => row(1) match {
            case JDouble(d) => Some(d)
            case JInt(i) => Some(i.toDouble)
            case JLong(l) => Some(l.toDouble)
            case JDecimal(d) => Some(d.toDouble)
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** Value rows over every series of a Results document (`{"Results":[{"Series":[…]}]}`). */
  def valueRows(results: JValue): Int =
    (results \ "Results").children.flatMap(res => (res \ "Series").children).map(s => (s \ "values").children.size).sum

  /** Files and bytes under a directory (data files only, not checksums or markers). */
  def footprint(dir: Path): (Long, Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L, 0L)
    val files = Files.walk(dir).iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toList
    val sizes = files.map(Files.size)
    (files.size.toLong, sizes.sum, sizes.count(_ < 1024L * 1024L).toLong)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toList.reverse
      all.foreach(f => Files.deleteIfExists(f))
    }

  def percentileOrZero(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Stats.quantile(xs, q)
}
