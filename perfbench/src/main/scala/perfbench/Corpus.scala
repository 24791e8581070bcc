package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Query mix of corpus_serve, with the ROADMAP direction each anchor
  * stands for (the table in perfbench/README.md).
  */
object Mixes {

  /** Warm serves over standing artifacts. */
  val Serve: Seq[String] = Seq(
    "sim_pq_adc_indexed", "sim_sq_int8_indexed", "sim_bq_hamming_indexed", // direction 3
    "sim_graph_search", // direction 4: hop-per-job beam walk
    "tx_bm25_indexed", // text
    "dd_ppjoin") // carried: prefix-filter verify join

  /** Queries of [[Serve]] that build and then read a standing artifact. */
  val Standing: Seq[String] = Seq("sim_pq_adc_indexed", "sim_sq_int8_indexed",
    "sim_bq_hamming_indexed", "sim_graph_search", "tx_bm25_indexed")
}

object Corpus {

  def shuffled[T](xs: Seq[T], rng: java.util.Random): Seq[T] =
    scala.util.Random.javaRandomToRandom(rng).shuffle(xs)

  /** (size, mtime) of every file under the warehouse. */
  def listing(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap finally s.close()
    }

  def changed(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Int =
    (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))

  def copyCorpus(from: String, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(Paths.get(from)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, to.resolve(p.getFileName)))
  }

  /** Serves `name` once: construct, then execute into `sink`; `between`
    * runs untimed in between.
    */
  def serve(spark: SparkSession, op: Op, dir: String, sink: DataFrame => Unit,
      between: () => Unit = () => ()): Unit = {
    spark.catalog.clearCache()
    Ops.timed(spark, op, between)(SparkEntry.queries(op.name)(spark, dir)) { df => sink(df); -1L }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dumpTo(dir: String)(name: String)(df: DataFrame): Unit = Main.dump(df, s"$dir/$name")

  /** Oracle SQL of every query `run.py` must check, and where its dump is. */
  def oracleChecks(names: Seq[String], dumpDir: String): Seq[Map[String, Any]] =
    names.map(n => Map("name" -> n, "path" -> s"$dumpDir/$n",
      "sql" -> SparkEntry.oracleSql.getOrElse(n, null)))

  /** A construction that wrote output ran a build. */
  def built(rec: Recorder, o: Op): Boolean =
    rec.byGroup.get(Ops.group(o, "construct")).exists(_.outBytes > 0)

  /** Build-side metrics of a traced cold pass. */
  def buildMetrics(rec: Recorder, ops: Seq[Op]): Seq[(String, Double, String)] = Seq(
    ("standing.build_ms", ops.filter(built(rec, _)).map(_.constructMs).sum, "ms"),
    ("standing.bytes_written",
      ops.flatMap(o => rec.byGroup.get(Ops.group(o, "construct")).map(_.outBytes)).sum.toDouble,
      "bytes"))

  /** Share of artifact-touching serves whose construction ran no build. */
  def hitRatio(rec: Recorder, ops: Seq[Op]): Double = {
    val std = ops.filter(o => Mixes.Standing.contains(o.name))
    if (std.isEmpty) 0.0 else std.count(o => !built(rec, o)).toDouble / std.size
  }

  def entryMetrics(rec: Recorder, ops: Seq[Op]): Seq[(String, Double, String)] = {
    val n = math.max(1, ops.size).toDouble
    Seq(("entry.construct_ms", ops.map(_.constructMs).sum / n, "ms"),
      ("entry.construct_jobs",
        ops.flatMap(o => rec.byGroup.get(Ops.group(o, "construct")).map(_.jobs)).sum / n, "count"),
      ("standing.hit_ratio", hitRatio(rec, ops), "ratio"))
  }

}

/** corpus_serve: one client on `local[4]` over the sf0.01 corpus.
  *
  *   - Set-up starts a fresh session and copies the corpus to a private
  *     path beside an empty warehouse.
  *   - The cold pass makes the first call of every query of the mix, in
  *     mix order, into the `noop` sink: it builds every standing artifact
  *     (the build side).
  *   - An untimed warm pass writes each result for the oracle check.
  *   - The timed phase serves whole seeded passes of the mix, in-memory
  *     caches cleared before each query, at least [[MinPasses]] of them
  *     and until `--seconds` elapse.
  */
object CorpusServe {

  /** Timed passes per untraced run at the least: a pass is six serves, so
    * one pass leaves the latency figures to a handful of samples.
    */
  val MinPasses = 2

  def run(cold: SparkSession, a: Main.Args): RunResult = {
    val rng = new java.util.Random(a.seed)
    val names = Mixes.Serve
    val warehouse = Paths.get(a.work, "warehouse")
    val problems = mutable.ArrayBuffer.empty[String]
    val layer = mutable.ArrayBuffer.empty[(String, Double, String)]
    var attempted = 0L
    var failed = 0L
    var seq = 0

    // set-up: a fresh session and a private copy of the corpus
    var round = 0
    val (spark, corpus, setupS) = Main.setUp(cold, a.work) { _ =>
      round += 1
      val to = Paths.get(a.work, s"corpus$round")
      Corpus.copyCorpus(a.input, to)
      to.toString
    }
    Main.phase("setup")

    /** Serves `order` once. `between(op)` is called before the serve and
      * its result runs untimed between construction and execution.
      */
    def pass(tag: String, order: Seq[String], sink: String => DataFrame => Unit,
        between: Op => () => Unit = _ => () => ()): Seq[Op] =
      order.map { n =>
        seq += 1
        val op = Op(f"$tag$seq%04d", n)
        Corpus.serve(spark, op, corpus, sink(n), between(op))
        attempted += 1
        if (!op.ok) failed += 1
        op
      }

    // cold pass: the first call of every query builds its standing
    // artifact; a standing query whose construction wrote nothing into the
    // warehouse reused an artifact, so the run is not cold
    val wroteInConstruct = mutable.HashSet.empty[String]
    var coldCpuS = 0.0
    def coldPass(): (Seq[Op], Double) = {
      val c0 = Main.cpuS()
      val ops = pass("c", names, _ => Corpus.noop, op => {
        val before = Corpus.listing(warehouse)
        () => if (Corpus.changed(before, Corpus.listing(warehouse)) > 0) wroteInConstruct += op.id
      })
      coldCpuS = Main.cpuS() - c0
      (ops, ops.filter(_.ok).map(o => o.constructMs + o.executeMs).sum / 1e3)
    }
    val (coldOps, buildS) =
      if (a.trace) Trace.recording(spark) { rec =>
        val out = coldPass()
        rec.drain()
        layer ++= Corpus.buildMetrics(rec, out._1)
        out
      } else coldPass()
    val buildMb = Main.dirBytes(warehouse) / 1e6
    coldOps.filter(o => o.ok && Mixes.Standing.contains(o.name) && !wroteInConstruct(o.id))
      .foreach(o => problems += s"not cold: ${o.name} wrote nothing while it was constructed")
    Main.phase("cold")

    // untimed warm pass, which also writes each result for the oracle check
    val dumpDir = s"${a.work}/check"
    pass("w", names, n => Corpus.dumpTo(dumpDir)(n))
    Main.phase("warm")

    // closed loop: whole passes, each in seeded order
    def servePass(tag: String): Seq[Op] = pass(tag, Corpus.shuffled(names, rng), _ => Corpus.noop)
    val before = Corpus.listing(warehouse)
    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    val view = mutable.ArrayBuffer.empty[(String, Double, String)]
    if (a.trace) {
      val t = Trace.interleaved(spark, "corpus_serve", a.seconds)(() => servePass("t"))
      layer ++= t.metrics ++ Corpus.entryMetrics(t.rec, t.traced)
      Spans.write(a.work, t.spans)
    } else {
      val l0 = Main.cpuS()
      val t0 = System.nanoTime()
      val ops = mutable.ArrayBuffer.empty[Op]
      while (ops.size < MinPasses * names.size || (System.nanoTime() - t0) / 1e9 < a.seconds)
        ops ++= servePass("s")
      val servedS = (System.nanoTime() - t0) / 1e9
      val serveCpuS = Main.cpuS() - l0
      val lat = Ops.latencies(ops.toSeq)
      val heap = Main.liveHeapMb()
      val qps = lat.size / servedS
      metrics ++= Seq(("setup_s", setupS, "s"), ("peak_heap_mb", heap, "MB"),
        ("batch_s", buildS, "s"), ("batch_cpu_s", coldCpuS, "s"),
        ("op_cpu_ms", 1000 * serveCpuS / math.max(1, ops.size), "ms"),
        ("stored_mb", buildMb, "MB"),
        ("ops_per_s", qps, "1/s"), ("op_geomean_ms", lat.geomean, "ms"))
      view ++= Seq(("setup_s", setupS, "s"), ("peak_heap_mb", heap, "MB"),
        ("build_s", buildS, "s"), ("build_stored_mb", buildMb, "MB"),
        ("serve_qps", qps, "1/s"), ("served_queries", lat.size.toDouble, "count"))
    }
    Main.phase("timed")
    val rewrites = Corpus.changed(before, Corpus.listing(warehouse))
    layer += (("standing.rewrites_in_serve", rewrites.toDouble, "count"))
    view += (("rewrites_in_serve", rewrites.toDouble, "count"))
    RunResult(attempted, failed, if (a.trace) layer.toSeq else metrics.toSeq, view.toSeq,
      problems.toSeq, Map("oracle" -> Corpus.oracleChecks(names, dumpDir)))
  }
}
