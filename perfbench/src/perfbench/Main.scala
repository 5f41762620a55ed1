package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A metric as printed: value, unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Long)

/**
 * An output check. `expected` and `actual` are compared by `kind`:
 * "eq" for exact equality, "floor" for actual >= expected, "near" for
 * |actual - expected| <= tol. The self-test re-evaluates every check
 * against a deliberately wrong expectation and requires it to fail.
 */
final case class Check(name: String, kind: String, expected: Any, actual: Any, tol: Double = 0) {
  def passes: Boolean = Check.holds(kind, expected, actual, tol)
  def wrongExpectation: Any = (kind, expected) match {
    case ("floor", x: Double) => math.max(x, Check.num(actual)) + 0.01
    case ("near", x: Double) => x + 10 * tol + 1
    case (_, x: Long) => x + 1
    case (_, x: Int) => x + 1
    case (_, x: Double) => x + 1
    case (_, m: Map[_, _]) if m.nonEmpty =>
      val (k, v) = m.head
      m.asInstanceOf[Map[Any, Any]].updated(k, v match {
        case l: Long => l + 1
        case other => s"$other!"
      })
    case (_, x: Boolean) => !x
    case (_, x) => s"$x!"
  }
  def json: String =
    s"""{"name":"$name","kind":"$kind","expected":"${Check.esc(expected)}","actual":"${Check.esc(actual)}","pass":$passes}"""
}

object Check {
  def num(x: Any): Double = x match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case _ => Double.NaN
  }
  def holds(kind: String, expected: Any, actual: Any, tol: Double): Boolean = kind match {
    case "floor" => num(actual) >= num(expected)
    case "near" => math.abs(num(actual) - num(expected)) <= tol
    case _ => expected == actual
  }
  def esc(x: Any): String = String.valueOf(x).replace("\\", "\\\\").replace("\"", "'")
}

/** Everything one benchmark run shares: session, options, tracer, results. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val trace: Boolean, val tiny: Boolean, val work: Path) {
  val tracer = new Tracer(trace, spark.sparkContext)
  val jobs = new JobCounts
  val progress = new Progress
  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(progress)

  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val checks = mutable.ArrayBuffer.empty[Check]
  val info = mutable.LinkedHashMap.empty[String, String]
  private var attemptedOps = 0L
  private var failedOps = 0L
  private val startNs = System.nanoTime()
  private val phases = mutable.ArrayBuffer.empty[String]

  /** Notes the end of a phase, in seconds since the run began (printed as `phases_s`). */
  def phase(name: String): Unit = phases += f"$name=${(System.nanoTime() - startNs) / 1e9}%.1f"
  def phasesS: String = phases.mkString(" ")

  def endToEnd(name: String, value: Double, unit: String, n: Long = 1): Unit =
    e2e(name) = Metric(name, value, unit, n)
  def perLayer(name: String, value: Double, unit: String, n: Long = 1): Unit =
    layer(name) = Metric(name, value, unit, n)

  /** Counts one operation; `ok = false` counts it as failed. */
  def op(ok: Boolean): Unit = synchronized { attemptedOps += 1; if (!ok) failedOps += 1 }

  def checkEq(name: String, expected: Any, actual: Any): Unit = checks += Check(name, "eq", expected, actual)
  def checkFloor(name: String, floor: Double, actual: Double): Unit = checks += Check(name, "floor", floor, actual)
  def checkNear(name: String, expected: Double, actual: Double, tol: Double): Unit =
    checks += Check(name, "near", expected, actual, tol)

  def attempted: Long = attemptedOps + checks.size
  def failed: Long = failedOps + checks.count(!_.passes)

  def span[T](layerName: String, name: String, forced: Boolean = false)(body: => T): T =
    tracer.span(layerName, name, forced)(body)

  /** Milliseconds taken by `body`, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** A benchmark workload: sets up, measures, checks. */
trait Workload {
  def run(r: Run): Unit
}

/**
 * Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
 * --trace <0|1> --work <dir> [--tiny] [--selftest]`. Prints a human report
 * (every metric with unit and sample count, the checks, the input
 * properties and the environment), then as its last line the JSON result.
 */
object Main {
  val workloads: Map[String, Workload] = Map(
    "dashboard_read" -> Dashboard,
    "live_service" -> LiveService,
    "corpus_index" -> CorpusIndex)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val name = opts.getOrElse("workload", "")
    val wl = workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name'; one of ${workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val work = Paths.get(opts.getOrElse("work", "perfbench-work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.getOrCreate(master = s"local[$nproc]", shufflePartitions = nproc)
    spark.sparkContext.setLogLevel("ERROR")
    val r = new Run(spark, name, opts.getOrElse("seed", "1").toLong, opts.getOrElse("seconds", "10").toInt,
      opts.getOrElse("trace", "0") == "1", flags("tiny"), work)
    val env = environment(spark, nproc)
    val t0 = System.nanoTime()
    val error =
      try { wl.run(r); None }
      catch { case e: Throwable => e.printStackTrace(); Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wallS = (System.nanoTime() - t0) / 1e9
    r.info("heap_checkpoints_mb") = Heap.checkpointsMb.map(m => f"$m%.1f").mkString(",")
    r.info("phases_s") = r.phasesS
    error.foreach(_ => r.op(ok = false))
    if (r.trace) Layers.finish(r, wallS)
    val correct = error.isEmpty && r.failed == 0 && r.checks.forall(_.passes)
    val selftestOk = !flags("selftest") || selfTest(r)

    val report = Seq(
      s"workload ${r.workload} seed ${r.seed} seconds ${r.seconds} trace ${if (r.trace) 1 else 0}",
      s"environment $env") ++
      r.info.map { case (k, v) => s"$k $v" } ++
      (r.e2e.values ++ r.layer.values).map(m => f"metric ${m.name} ${m.value}%.6f ${m.unit} n=${m.n}") ++
      r.checks.map(c => s"check ${c.name} ${if (c.passes) "pass" else "FAIL"} expected=${c.expected} actual=${c.actual}") ++
      error.map(e => s"error $e")
    report.foreach(println)
    val shown = if (r.trace) r.layer.values else r.e2e.values
    val metrics = shown.map(m => s""""${m.name}":{"value":${jnum(m.value)},"unit":"${m.unit}"}""").mkString(",")
    val result = s"""{"correct":$correct,"attempted":${math.max(1L, r.attempted)},"failed":${r.failed},"metrics":{$metrics}}"""
    writeRecord(r, env, result, wallS)
    spark.stop()
    println(result)
    if (!correct || !selftestOk) sys.exit(1)
  }

  private def jnum(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  /** Every check must fail when handed a wrong expectation. */
  private def selfTest(r: Run): Boolean = {
    val bad = r.checks.filter(c => Check.holds(c.kind, c.wrongExpectation, c.actual, c.tol))
    bad.foreach(c => println(s"selftest check ${c.name} still passes with expectation ${c.wrongExpectation}"))
    println(s"selftest ${r.checks.size} checks, ${bad.size} accept a wrong expectation")
    r.checks.nonEmpty && bad.isEmpty
  }

  /** nproc, master, driver heap, SPARK_GRAFT_* settings and the source revision. */
  private def environment(spark: SparkSession, nproc: Int): String = {
    val graftEnv = sys.env.filter(_._1.startsWith("SPARK_GRAFT_")).toSeq.sorted
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    s"""{"nproc":$nproc,"master":"${spark.sparkContext.master}","driver_heap_mb":$heapMb,""" +
      s""""spark":"${spark.version}","java":"${System.getProperty("java.version")}",""" +
      s""""graft_env":$graftEnv,"revision":"${sys.env.getOrElse("PERFBENCH_REVISION", "unknown")}"}"""
  }

  /** Full record (result, environment, inputs, checks, spans) for later comparison. */
  private def writeRecord(r: Run, env: String, result: String, wallS: Double): Unit = {
    val out = r.work.getParent.getParent.resolve("results")
    Files.createDirectories(out)
    val stem = s"${r.workload}-seed${r.seed}-trace${if (r.trace) 1 else 0}"
    val info = r.info.map { case (k, v) => s""""$k":${if (v.startsWith("{")) v else s""""$v""""}""" }.mkString(",")
    val all = (r.e2e.values ++ r.layer.values).map(m =>
      s""""${m.name}":{"value":${jnum(m.value)},"unit":"${m.unit}","n":${m.n}}""").mkString(",")
    val rec = s"""{"workload":"${r.workload}","seed":${r.seed},"seconds":${r.seconds},"trace":${r.trace},""" +
      f""""wall_s":$wallS%.3f,"environment":$env,"info":{$info},"metrics":{$all},""" +
      s""""checks":[${r.checks.map(_.json).mkString(",")}],"result":$result}"""
    Files.write(out.resolve(s"$stem.json"), (rec + "\n").getBytes(UTF_8))
    if (r.trace)
      Files.write(out.resolve(s"$stem.spans.jsonl"), r.tracer.all.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
