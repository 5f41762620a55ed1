package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.{Dedup, Retrieval, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/**
 * corpus_index — batch, then closed loop with one client. On a seeded
 * corpus with planted near-duplicates, clustered embeddings and planted
 * rare terms it builds the MinHash, IVF and BM25 indexes, dedups a probe
 * set against the MinHash index, then alternates IVF and BM25 searches.
 * The same phase ([[measure]]) runs in the traced dashboard_read run, so
 * the functions layer is traced by a workload of BENCHMARK.json.
 */
object CorpusIndex extends Workload {
  val Setups = 3
  val NLists = 8
  val NProbes = 3
  val K = 10
  val DupRecallFloor = 0.9
  val IvfRecallFloor = 0.8

  val schema: StructType = StructType(Seq(StructField("doc_id", LongType), StructField("vec_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))

  final case class Input(dir: Path, corpus: Gen.Corpus, base: DataFrame, probe: DataFrame)

  def prepare(r: Run, i: Int): Input = {
    val c = if (r.tiny) new Gen.Corpus(r.seed, docs = 400, dims = 16, clusters = 6, dups = 20, fresh = 20, planted = 5)
      else new Gen.Corpus(r.seed, docs = 2000, dims = 32, clusters = 12, dups = 100, fresh = 100, planted = 20)
    val dir = r.dir(s"corpus-$i")
    val basePath = c.write(dir.resolve("corpus/base.jsonl"), c.base)
    val probePath = c.write(dir.resolve("corpus/probe.jsonl"), c.probe)
    val base = r.spark.read.schema(schema).json(basePath.toString)
    val probe = r.spark.read.schema(schema).json(probePath.toString)
    require(base.count() == c.docs, "corpus file does not hold the generated documents")
    Input(dir, c, base, probe)
  }

  def run(r: Run): Unit = {
    val setups = (0 until Setups).map { i =>
      val (in, ms) = r.timed(prepare(r, i))
      if (i < Setups - 1) Common.deleteTree(in.dir)
      (in, ms)
    }
    Heap.checkpoint()
    val m = measure(r, setups.last._1, r.seconds)
    Heap.checkpoint()
    r.endToEnd("setup_s", Stats.median(setups.map(_._2 / 1000)), "s", Setups)
    r.endToEnd("p50_ms", Stats.median(m.lat), "ms", m.lat.size)
    r.endToEnd("p90_ms", Stats.quantile(m.lat, 0.9), "ms", m.lat.size)
    r.endToEnd("ops_per_s", m.lat.size / m.searchS, "1/s", m.lat.size)
    r.endToEnd("ready_ms", m.buildMs, "ms", 3)
    r.endToEnd("peak_heap_mb", Heap.peakMb, "MB", 2)
  }

  /** Search latencies (ms), the seconds they took, and the three index builds' time (ms). */
  final case class Measured(lat: Seq[Double], searchS: Double, buildMs: Double)

  /**
   * Builds the three indexes, dedups the probe set, then searches in whole
   * groups for about `seconds`; checks every output and reports the
   * functions layer's per-layer metrics.
   */
  def measure(r: Run, in: Input, seconds: Double): Measured = {
    val c = in.corpus
    r.info("corpus_inputs") = s"""{"docs":${c.docs},"dims":${c.dims},"clusters":${c.clusters},"dups":${c.dups},""" +
      s""""fresh":${c.fresh},"planted_terms":${c.planted},"n_lists":$NLists,"n_probes":$NProbes}"""

    val mh = in.dir.resolve("idx/minhash").toString
    val ivf = in.dir.resolve("idx/ivf").toString
    val bm = in.dir.resolve("idx/bm25").toString
    val (_, minhashMs) = r.timed(r.span("functions", "minhash_build")(Dedup.buildMinhashIndex(in.base, mh)))
    val (_, ivfMs) = r.timed(r.span("functions", "ivf_build")(Similarity.buildIvfIndex(in.base, ivf, nLists = NLists)))
    val (_, bm25Ms) = r.timed(r.span("functions", "bm25_build")(Retrieval.buildBm25Index(in.base, bm)))
    val (clean, dedupMs) = r.timed(r.span("functions", "dedup")(
      Dedup.dedupAgainstIndex(r.spark, in.probe, mh).select("doc_id").collect().map(_.getLong(0)).toSet))
    val removed = c.probe.map(_.id).toSet -- clean
    val dupRecall = removed.count(c.dupOf.contains).toDouble / c.dups
    r.checkFloor("corpus.dup_recall", DupRecallFloor, dupRecall)
    r.checkEq("corpus.fresh_removed", 0, removed.count(id => !c.dupOf.contains(id)))

    val qSchema = StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val plantedIds = c.plantedTerm.keys.toIndexedSeq.sorted
    val ivfLat = mutable.ArrayBuffer.empty[Double]
    val bmLat = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.ArrayBuffer.empty[Double]
    var plantedHits = 0
    var plantedAsked = 0
    /** Search `n`: IVF, BM25 (planted term), IVF, BM25 (common terms), repeating. */
    def search(n: Int, timed: Boolean): Unit =
      if (n % 2 == 0) {
        val q = c.queryVecIds((n / 2) % c.queryVecIds.size)
        val qdf = r.spark.createDataFrame(Seq(Row(q, c.base(q.toInt).vec.toSeq)).asJava, qSchema)
        val (ids, ms) = r.timed(r.span("functions", "ivf_query")(
          Similarity.queryIvfIndex(r.spark, ivf, qdf, k = K, nProbes = NProbes).select("vec_id").collect().map(_.getLong(0))))
        if (timed) ivfLat += ms
        recalls += ids.toSet.intersect(c.bruteTopK(q, K).toSet).size.toDouble / K
        r.op(ids.nonEmpty)
      } else {
        val i = n / 2
        val target = plantedIds(i % plantedIds.size)
        val planted = i % 2 == 0
        val terms = if (planted) Seq(c.plantedTerm(target), "w0001") else Seq("w0002", f"w${10 + i % 90}%04d")
        val (top, ms) = r.timed(r.span("functions", "bm25_query")(
          Retrieval.queryBm25Index(r.spark, bm, terms, k = K).collect().map(_.getLong(0))))
        if (timed) bmLat += ms
        if (planted) { plantedAsked += 1; if (top.headOption.contains(target)) plantedHits += 1 }
        r.op(top.nonEmpty)
      }
    // one untimed group first, so the timed ones run on compiled query paths
    (0 until 4).foreach(search(_, timed = false))
    val t0 = System.nanoTime()
    val until = t0 + (seconds * 1e9).toLong
    // whole groups of four, so every run measures the same mix
    var n = 4
    while (System.nanoTime() < until || n % 4 != 0) {
      search(n, timed = true)
      n += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val ivfRecall = Stats.mean(recalls.toSeq)
    r.checkFloor("corpus.ivf_recall_at_10", IvfRecallFloor, ivfRecall)
    r.checkFloor("corpus.bm25_planted_top1", 1.0, plantedHits.toDouble / math.max(1, plantedAsked))
    r.checkFloor("corpus.bm25_planted_asked", 1.0, plantedAsked.toDouble)

    r.perLayer("functions.minhash_build_ms", minhashMs, "ms")
    r.perLayer("functions.dedup_ms", dedupMs, "ms")
    r.perLayer("functions.dup_recall", dupRecall, "ratio", c.dups)
    r.perLayer("functions.ivf_build_ms", ivfMs, "ms")
    r.perLayer("functions.ivf_query_ms", Stats.median(ivfLat.toSeq), "ms", ivfLat.size)
    r.perLayer("functions.ivf_recall_at_10", ivfRecall, "ratio", recalls.size)
    r.perLayer("functions.bm25_build_ms", bm25Ms, "ms")
    r.perLayer("functions.bm25_query_ms", Stats.median(bmLat.toSeq), "ms", bmLat.size)
    Measured((ivfLat ++ bmLat).toSeq, elapsedS, minhashMs + ivfMs + bm25Ms)
  }
}
