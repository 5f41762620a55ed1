package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.json4s._

/**
 * The per-layer metrics a traced run reports. Their names and units are
 * `per_layer` of BENCHMARK.json, read from the working directory (the root
 * of the checkout); a metric's layer is the first part of its name, and
 * every layer is described in perfbench/layers.json. A workload reports
 * the metrics of the layers it calls; the rest read 0, so that every
 * traced run prints the same set (the layers a workload does not touch are
 * the ones predicted not to move on it).
 */
object Layers {
  private def load(path: String): JValue =
    Common.parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8))

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"expected a string, got $other")
  }

  def layerOf(metric: String): String = metric.takeWhile(_ != '.')

  /** (name, unit) of every per-layer metric, in BENCHMARK.json order. */
  lazy val all: Seq[(String, String)] = {
    val named = (load("BENCHMARK.json") \ "per_layer").children.map(m => str(m \ "name") -> str(m \ "unit"))
    val layers = (load("perfbench/layers.json") \ "layers") match {
      case JObject(fields) => fields.map(_._1).toSet
      case _ => Set.empty[String]
    }
    val used = named.map(m => layerOf(m._1)).toSet
    require(used == layers, s"layers of BENCHMARK.json per_layer (${used.toSeq.sorted.mkString(", ")}) " +
      s"differ from perfbench/layers.json (${layers.toSeq.sorted.mkString(", ")})")
    named
  }

  /**
   * Spark counts per layer call (`spark.<layer>.<count>`), tracing
   * overhead, and 0 for metrics of layers the workload did not call.
   */
  def finish(r: Run, wallS: Double): Unit = {
    r.jobs.settle()
    val unit = all.toMap
    val spark = all.map(_._1).filter(layerOf(_) == "spark").map(_.split('.'))
    spark.map(_(1)).distinct.foreach { l =>
      val calls = r.tracer.layerCalls(l)
      val n = calls.size
      val a = r.jobs.acc(l)
      val gap = calls.map(s => s.ms - r.jobs.jobMsWithin(l, s.startMs.toLong, math.ceil(s.endMs).toLong)).sum
      val totals = Map("jobs" -> a.jobs.get.toDouble, "tasks" -> a.tasks.get.toDouble,
        "driver_gap_ms" -> math.max(0.0, gap), "shuffle_bytes" -> a.shuffle.get.toDouble,
        "spill_bytes" -> a.spill.get.toDouble, "scan_bytes" -> a.scan.get.toDouble)
      spark.filter(_(1) == l).foreach { p =>
        val name = p.mkString(".")
        val total = totals.getOrElse(p(2), throw new IllegalArgumentException(s"no Spark count for $name"))
        r.perLayer(name, if (n == 0) 0.0 else total / n, unit(name), n)
      }
    }
    val over = r.tracer.overheadMs
    r.perLayer("trace.overhead_ms", over, "ms", r.tracer.all.count(_.forced))
    r.perLayer("trace.overhead_pct", 100 * over / (wallS * 1000), "%", 1)
    val reported = r.layer.clone()
    r.layer.clear()
    require(reported.keySet.subsetOf(unit.keySet),
      s"per-layer metrics outside BENCHMARK.json: ${(reported.keySet -- unit.keySet).mkString(", ")}")
    val wrongUnit = reported.values.filter(m => unit(m.name) != m.unit).map(m => s"${m.name} (${m.unit})")
    require(wrongUnit.isEmpty, s"per-layer metrics with a unit other than BENCHMARK.json's: ${wrongUnit.mkString(", ")}")
    all.foreach { case (name, u) =>
      r.layer(name) = reported.getOrElse(name, Metric(name, 0.0, u, 0))
    }
  }
}
