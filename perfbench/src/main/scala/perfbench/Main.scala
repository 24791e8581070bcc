package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark. `perfbench/run.py` prepares the inputs and
  * launches it as
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --input <dir>
  * }}}
  *
  * It runs one workload on a private `local[4]` session whose warehouse,
  * local dirs and data roots all live under `--work`, writes
  * `<work>/result.json` (metrics, attempted/failed, JVM-side checks) and the
  * result dumps `run.py` compares against DuckDB.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, input: String)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("input"))
  }

  /** Same session settings as the repository's Bench, on 4 local cores,
    * with every on-disk location redirected under `work`.
    */
  def newSession(work: String): SparkSession = {
    val local = new File(work, "spark-local"); local.mkdirs()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", local.getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** CPU seconds this process has used so far, on every thread: work done,
    * unlike wall time, does not grow when other tenants take the host's
    * cores.
    */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Live heap in MB: the least heap in use over a few full collections
    * (Spark's context cleaner frees unreferenced broadcasts and shuffles
    * between them).
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      (rt.totalMemory() - rt.freeMemory()) / 1e6
    }.min
  }

  def dirBytes(root: Path, skip: Path => Boolean = _ => false): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && !skip(p))
        .map(Files.size).sum
      finally s.close()
    }

  /** Collects `df` and writes its rows, in order, as one parquet file
    * under `out`, for the DuckDB check; returns the row count.
    */
  def dump(df: DataFrame, out: String): Long = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(out)
    rows.length.toLong
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  /** Set-up rounds per run; `setup_s` is their median. */
  val SetupRounds = 5

  /** The workload's set-up, done [[SetupRounds]] times: each round stops
    * the current session, starts a fresh one and runs `prepare` on it.
    * Returns the last round's session and `prepare` result, and the median
    * round time in seconds.
    */
  def setUp[T](spark: SparkSession, work: String)(prepare: SparkSession => T)
      : (SparkSession, T, Double) = {
    var s = spark
    val rounds = (1 to SetupRounds).map { _ =>
      s.stop()
      val t0 = System.nanoTime()
      s = newSession(work)
      val out = prepare(s)
      ((System.nanoTime() - t0) / 1e9, out)
    }
    (s, rounds.last._2, rounds.map(_._1).sorted.apply(SetupRounds / 2))
  }

  /** Wall time, CPU time, JIT compile time and GC time of the JVM so far,
    * at the end of each phase, to stderr.
    */
  def phase(name: String): Unit = {
    import java.lang.management.ManagementFactory
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    System.err.println(f"[perfbench] phase $name at ${
      ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs cpu=${cpuS()}%.1fs jit=${
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3}%.1fs gc=${gcMs / 1e3}%.1fs")
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = newSession(a.work)
    phase("session")
    val result = try {
      a.workload match {
        case "quant_panel" => QuantPanel.run(spark, a)
        case "corpus_serve" => CorpusServe.run(spark, a)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally SparkSession.getDefaultSession.foreach(_.stop())
    Files.writeString(Paths.get(a.work, "result.json"), Json.render(result.toJson))
    phase("done")
  }
}

/** What one workload run reports back to `run.py`. `metrics` are the
  * end-to-end metrics (untraced runs) or the per-layer metrics (traced
  * runs); `view` carries the same run under the workload's own metric
  * names; `problems` lists every JVM-side correctness failure.
  */
final case class RunResult(attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], view: Seq[(String, Double, String)],
    problems: Seq[String], checks: Map[String, Any]) {
  def toJson: Map[String, Any] = Map(
    "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
    "view" -> view.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
    "problems" -> problems, "checks" -> checks)
}

/** Latency samples of one run. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = xs += x
  def size: Int = xs.size
  def sum: Double = xs.sum
  /** Geometric mean; 0 when empty. Every sample weighs the same, so one
    * slow call moves it less than it moves a mean or a rank statistic.
    */
  def geomean: Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)
  /** Nearest-rank percentile; 0 when empty. */
  def pct(p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
