package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Ingest, LocalParquetDataHandler, Schemas}
import graft.sources.{SnapshotEquitySource, StubMacroSource}

/** quant_panel: the reference's own job. `Ingest.run` over the seeded
  * snapshot into a fresh root (partitioned panels), then a seeded
  * closed-loop mix of `DataHandler` calls over that root, one client.
  */
object QuantPanel {

  /** Ingest window; `perfbench/snapshot.py` generates exactly this range. */
  val Start = "2021-01-01"
  val End = "2021-12-31"

  val Methods = Seq("getPrices", "getReturns", "getUniverse", "getFundamentals",
    "getAnalystConsensus", "getAnalystRatingsHistory", "getMacro",
    "getStyleFactorReturns", "getBenchmarkReturns")
  /** One deck of call shapes: (method, ticker-list size, window, with a
    * `fields` projection). Every deck holds the same shapes, so runs do the
    * same mix of work; the seed draws the deck order, the tickers and the
    * dates. The mix leans towards prices and returns.
    */
  val Deck: Seq[(String, Option[Int], String, Boolean)] = Seq(
    ("getPrices", Some(1), "month", false), ("getPrices", Some(1), "full", true),
    ("getPrices", Some(10), "quarter", false), ("getPrices", Some(10), "full", true),
    ("getPrices", Some(100), "month", true), ("getPrices", None, "month", false),
    ("getReturns", Some(1), "quarter", false), ("getReturns", Some(10), "month", false),
    ("getReturns", Some(10), "full", false), ("getReturns", Some(100), "quarter", false),
    ("getReturns", None, "month", false),
    ("getUniverse", None, "day", false), ("getFundamentals", Some(10), "full", false),
    ("getAnalystConsensus", Some(1), "full", true), ("getAnalystConsensus", Some(100), "quarter", false),
    ("getAnalystRatingsHistory", Some(10), "month", true),
    ("getAnalystRatingsHistory", None, "quarter", false),
    ("getMacro", None, "quarter", false), ("getStyleFactorReturns", None, "month", false),
    ("getBenchmarkReturns", None, "full", false))

  private val PriceFields = Seq("open", "high", "low", "close", "adj_close", "volume")
  private val ConsensusFields = Seq("mean_rating", "median_rating", "num_analysts", "buy_percent")
  private val RatingFields = Seq("rating", "action_code", "rating_text")

  /** One handler call: method plus its arguments. */
  final case class Call(method: String, tickers: Option[Seq[String]],
      start: Option[String], end: Option[String], fields: Option[Seq[String]],
      date: Option[String]) {
    def apply(h: LocalParquetDataHandler): DataFrame = method match {
      case "getPrices" => h.getPrices(tickers, start, end, fields)
      case "getReturns" => h.getReturns(tickers, start, end)
      case "getUniverse" => h.getUniverse(date)
      case "getFundamentals" => h.getFundamentals(tickers, start, end)
      case "getAnalystConsensus" => h.getAnalystConsensus(tickers, start, end, fields)
      case "getAnalystRatingsHistory" => h.getAnalystRatingsHistory(tickers, start, end, fields)
      case "getMacro" => h.getMacro(start, end)
      case "getStyleFactorReturns" => h.getStyleFactorReturns(start, end)
      case "getBenchmarkReturns" => h.getBenchmarkReturns("^GSPC", start, end)
    }
    def toJson: Map[String, Any] = Map("method" -> method, "tickers" -> tickers,
      "start" -> start, "end" -> end, "fields" -> fields, "date" -> date,
      "benchmark" -> "^GSPC")
  }

  /** Seeded call generator over the ingested universe. */
  final class Mix(seed: Long, tickers: IndexedSeq[String], days: IndexedSeq[String]) {
    private val rng = new java.util.Random(seed)
    def tickerList(n: Option[Int]): Option[Seq[String]] = n.map { k =>
      val idx = mutable.LinkedHashSet.empty[Int]
      while (idx.size < k) idx += rng.nextInt(tickers.size)
      idx.toSeq.map(tickers)
    }
    def window(kind: String): (Option[String], Option[String]) = kind match {
      case "full" => (None, None)
      case "quarter" =>
        val q = rng.nextInt(4)
        (Some(f"2021-${3 * q + 1}%02d-01"),
          Some(java.time.YearMonth.of(2021, 3 * q + 3).atEndOfMonth().toString))
      case "month" =>
        val y = 2021
        val m = 1 + rng.nextInt(12)
        val last = java.time.YearMonth.of(y, m).atEndOfMonth()
        (Some(f"$y-$m%02d-01"), Some(last.toString))
    }
    def fieldsFor(method: String): Option[Seq[String]] = {
      val pool = method match {
        case "getPrices" => PriceFields
        case "getAnalystConsensus" => ConsensusFields
        case _ => RatingFields
      }
      Some(scala.util.Random.javaRandomToRandom(rng).shuffle(pool).take(2))
    }
    def call(method: String, n: Option[Int], w: String, fields: Boolean = false): Call = {
      val (s, e) = if (w == "day") (None, None) else window(w)
      Call(method, tickerList(n), s, e, if (fields) fieldsFor(method) else None,
        if (w == "day") Some(days(rng.nextInt(days.size))) else None)
    }
    /** The next deck, in seeded order. */
    def deck(): Seq[Call] = scala.util.Random.javaRandomToRandom(rng).shuffle(Deck)
      .map { case (m, n, w, f) => call(m, n, w, f) }
  }

  private val Datasets = Seq(
    "data_processed" -> Seq("prices_daily", "returns_daily", "sp500_membership",
      "fundamentals_quarterly", "analyst_consensus", "analyst_ratings_history",
      "macro_timeseries", "risk_free", "style_factor_returns", "benchmarks",
      "returns_monthly", "dividends_monthly"),
    "data_meta" -> Seq("assets_master", "universe_sp500", "trading_calendar"))

  /** Ingest output against `graft.Schemas`: every dataset present; every
    * column the schema declares and the dataset writes has the declared
    * type; the schema's key columns are written. Columns on one side only
    * are reported as drift, not as failures.
    */
  def checkSchemas(spark: SparkSession, root: String): (Seq[String], Map[String, Any]) = {
    val problems = mutable.ArrayBuffer.empty[String]
    val drift = mutable.LinkedHashMap.empty[String, Any]
    for ((sub, names) <- Datasets; name <- names) {
      val path = s"$root/$sub/$name.parquet"
      if (!Files.exists(Paths.get(path))) problems += s"ingest: $name not written"
      else {
        val got = spark.read.parquet(path).drop("_p_year", "_p_month").schema
        Schemas.all.get(name).foreach { want =>
          val g = got.fields.map(f => f.name -> f.dataType).toMap
          want.fields.foreach { f =>
            g.get(f.name).foreach { t =>
              if (t != f.dataType) problems += s"ingest: $name.${f.name} is $t, Schemas says ${f.dataType}"
            }
          }
          val keys = want.fieldNames.filter(Set("date", "report_date", "asset_id"))
          keys.filterNot(g.contains).foreach(k => problems += s"ingest: $name lacks key column $k")
          val missing = want.fieldNames.filterNot(g.contains)
          val extra = got.fieldNames.filterNot(want.fieldNames.contains)
          if (missing.nonEmpty || extra.nonEmpty)
            drift(name) = Map("declared_not_written" -> missing.toSeq, "written_not_declared" -> extra.toSeq)
        }
      }
    }
    (problems.toSeq, drift.toMap)
  }

  private def slug(s: String) = s.toLowerCase.replaceAll("[^a-z0-9]+", "_").stripSuffix("_")

  def stepNames: Seq[String] = Seq("Connect to source", "Build SP500 universe",
    "Build assets master", "Build trading calendar and membership",
    "Build IBES-CRSP mapping (CUSIP)", "Download daily prices/returns",
    "Download fundamentals", "Download analyst consensus",
    "Download analyst rating history", "Download style factors and risk-free",
    "Download macro series", "Download benchmark", "Download monthly prices/returns",
    "Download dividends", "Skip raw snapshots", "Write processed datasets",
    "Write metadata and manifests").map(slug)

  def run(cold: SparkSession, a: Main.Args): RunResult = {
    val root = s"${a.work}/store"
    Main.deleteTree(Paths.get(root))
    val problems = mutable.ArrayBuffer.empty[String]
    val layer = mutable.ArrayBuffer.empty[(String, Double, String)]

    // ingest: one per run, into a fresh root
    var ingestCpuS = 0.0
    def ingest(): (Double, Ingest.Result) = {
      val sc = cold.sparkContext
      sc.setJobGroup("perfbench|ingest|construct", "ingest", interruptOnCancel = false)
      val c0 = Main.cpuS()
      val t0 = System.nanoTime()
      val r = try Ingest.run(cold, new SnapshotEquitySource(cold, a.input),
        new StubMacroSource(cold), root, Start, End, partitionPanels = true)
      finally sc.clearJobGroup()
      ingestCpuS = Main.cpuS() - c0
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val (ingestS, ingestResult) =
      if (a.trace) Trace.recording(cold) { rec =>
        val out = ingest()
        rec.drain()
        val written = rec.byGroup.get("perfbench|ingest|construct").map(_.outRecords).getOrElse(0L)
        layer += (("ingest.rows_written", written.toDouble, "count"))
        out
      } else ingest()
    Main.phase("ingest")
    val rootPath = Paths.get(root)
    def isLog(p: Path) = rootPath.relativize(p).startsWith("logs")
    val storedMb = Main.dirBytes(rootPath, isLog) / 1e6
    if (a.trace) {
      val steps = ingestResult.steps.map { case (n, s) => slug(n) -> s }.toMap
      stepNames.foreach(n => layer += ((s"ingest.${n}_s", steps.getOrElse(n, 0.0), "s")))
      val files = { val s = Files.walk(rootPath)
        try s.iterator().asScala.count(p => p.getFileName.toString.startsWith("part-")) finally s.close() }
      layer += (("ingest.files_written", files.toDouble, "count"))
    }

    // set-up: a fresh session and a handler over the ingested root
    val (spark, h, setupS) = Main.setUp(cold, a.work)(new LocalParquetDataHandler(_, root))
    Main.phase("setup")
    val (schemaProblems, drift) = checkSchemas(spark, root)
    problems ++= schemaProblems
    val tickers = spark.read.parquet(s"$root/data_meta/assets_master.parquet")
      .select("ticker").collect().map(_.getString(0)).sorted.toIndexedSeq
    val days = spark.read.parquet(s"$root/data_meta/trading_calendar.parquet")
      .select(org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("date"), "yyyy-MM-dd"))
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    val mix = new Mix(a.seed, tickers, days)

    var opSeq = 0
    /** The next deck of the mix; `execute` runs the frame of each call. */
    def deck(tag: String)(execute: (Call, Int) => DataFrame => Long): Seq[Op] =
      mix.deck().zipWithIndex.map { case (c, i) =>
        opSeq += 1
        val op = Op(f"$tag$opSeq%05d", c.method)
        Ops.timed(spark, op)(c(h))(execute(c, i))
        op
      }
    val collect: (Call, Int) => DataFrame => Long = (_, _) => _.collect().length.toLong

    // warm-up: one untimed deck, so JIT and codegen warm-up is not timed.
    // Each call's rows are written out for the DuckDB check, so the check
    // covers every call shape of the deck.
    val checkDir = s"${a.work}/check/handler"
    val handlerChecks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val warm = deck("w") { (c, i) => df =>
      val out = s"$checkDir/$i"
      val n = Main.dump(df, out)
      handlerChecks += c.toJson + ("path" -> out)
      n
    }
    warm.filterNot(_.ok).foreach(o => problems += s"handler check call ${o.name} failed")
    Main.phase("warm-up")

    // closed loop: whole decks until `seconds` elapse
    def loop(seconds: Double): (Seq[Op], Double) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) ops ++= deck("h")(collect)
      (ops.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    var attempted = 1L + warm.size
    var failed = warm.count(!_.ok).toLong
    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    val view = mutable.ArrayBuffer.empty[(String, Double, String)]

    if (a.trace) {
      val t = Trace.interleaved(spark, "quant_panel", a.seconds)(() => deck("h")(collect))
      val all = t.plain ++ t.traced
      attempted += all.size
      failed += all.count(!_.ok)
      val ok = t.traced.filter(_.ok)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      layer ++= t.metrics
      layer += (("handler.construct_ms", mean(ok.map(_.constructMs)), "ms"))
      layer += (("handler.execute_ms", mean(ok.map(_.executeMs)), "ms"))
      Methods.foreach { m =>
        layer += ((s"handler.$m.p50_ms", Ops.latencies(ok.filter(_.name == m)).pct(50), "ms"))
      }
      Spans.write(a.work, t.spans)
    } else {
      val l0 = Main.cpuS()
      val (ops, loopS) = loop(a.seconds)
      val loopCpuS = Main.cpuS() - l0
      val lats = Ops.latencies(ops)
      attempted += ops.size
      failed += ops.count(!_.ok)
      val heap = Main.liveHeapMb()
      metrics ++= Seq(
        ("setup_s", setupS, "s"),
        ("peak_heap_mb", heap, "MB"),
        ("batch_s", ingestS, "s"),
        ("batch_cpu_s", ingestCpuS, "s"),
        ("op_cpu_ms", 1000 * loopCpuS / math.max(1, ops.size), "ms"),
        ("stored_mb", storedMb, "MB"),
        ("ops_per_s", lats.size / loopS, "1/s"),
        ("op_geomean_ms", lats.geomean, "ms"))
      view ++= Seq(("setup_s", setupS, "s"), ("peak_heap_mb", heap, "MB"),
        ("ingest_s", ingestS, "s"), ("ingest_stored_mb", storedMb, "MB"),
        ("handler_p50_ms", lats.pct(50), "ms"), ("handler_p90_ms", lats.pct(90), "ms"),
        ("handler_p95_ms", lats.pct(95), "ms"), ("handler_calls", lats.size.toDouble, "count"))
    }
    Main.phase("timed")
    if (!ingestResult.steps.nonEmpty) problems += "ingest reported no steps"
    RunResult(attempted, failed, if (a.trace) layer.toSeq else metrics.toSeq, view.toSeq,
      problems.toSeq, Map("handler" -> handlerChecks.toSeq, "store" -> root,
        "schema_drift" -> drift))
  }
}
