package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.conform.{Conform, Pipeline, Schemas}
import graft.io.{ArrivalRead, CsvProbe, IdempotentWriter, JdbcSink,
  Orchestrate, RunAudit}

/** Closed-loop benchmark driver: one client thread, `local[cores]`,
  * `spark.sql.shuffle.partitions = cores`. It calls the engine's public
  * entry points from outside and writes everything it measured to
  * `<out>/driver.json`; `run.py` turns that into metrics and checks the
  * outputs it leaves behind.
  *
  * Usage: Driver <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  *   <orderSeed> <t0EpochMs> <cores>
  *
  * An iteration is one daily load or one pass over the workload's
  * queries; the untimed warm-up iterations end set-up. At least three
  * timed iterations run, then more until `seconds` pass. In a
  * traced run, timed iterations alternate untraced / traced, so the
  * tracing overhead is measured in the same process.
  */
object Driver {

  final case class OpRec(iter: Int, traced: Boolean, name: String,
      startMs: Long, endMs: Long, ms: Double, ok: Boolean, error: String,
      info: Map[String, Any])

  final case class IterRec(iter: Int, traced: Boolean, seconds: Double)

  val WarmupIterations = 2
  /** Odd, so run_s is one iteration's time; three whole iterations keep
    * the count, and so the median, from depending on where `seconds`
    * cuts an iteration. */
  val MinTimedIterations = 3

  /** `bi_dashboard`: the short star-schema BI queries. */
  val BiQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_events_daily", "q03_distinct_customers",
    "q04_rollup_returns", "q05_cube_orders", "q06_join_dims",
    "q07_join_facts", "q08_semi_join", "q09_anti_join", "q10_left_join",
    "q11_window_topn", "q12_window_lag", "q13_window_running",
    "q19_tumbling_window", "q20_filter_pushdown", "q157_dau_wau",
    "q159_pareto_revenue")

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, traceArg, seedArg, t0Arg,
      coresArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext)
    if (trace) spark.sparkContext.addSparkListener(tracer.counters)

    val w: Workload = workload match {
      case "daily_load" => new DailyLoad(spark, Paths.get(dataDir), out, tracer)
      case "bi_dashboard" =>
        new QueryPass(spark, dataDir, out, BiQueries, seedArg.toLong, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val iters = mutable.ArrayBuffer.empty[IterRec]
    def iteration(i: Int, traced: Boolean): Unit = {
      tracer.enabled = traced
      val n0 = System.nanoTime()
      val recs = tracer.span("iteration") { w.iteration(i, traced) }
      val dt = (System.nanoTime() - n0) / 1e9
      tracer.enabled = false
      ops ++= recs
      iters += IterRec(i, traced, dt)
    }

    // Untimed warm-up: memo, codegen, and JIT, which keeps shortening
    // the first few iterations.
    (1 - WarmupIterations to 0).foreach(iteration(_, traced = false))
    val setupEndMs = System.currentTimeMillis()
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores,
      "setup_s" -> (setupEndMs - t0Arg.toLong) / 1000.0)
    result("memo_artifacts") = spark.sparkContext.getPersistentRDDs.size
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 1
    def tracedDone = !trace || iters.exists(r => r.iter > 0 && r.traced)
    while (i <= MinTimedIterations || System.nanoTime() < deadline ||
        !tracedDone) {
      iteration(i, traced = trace && i % 2 == 0)
      i += 1
    }
    val timed = ops.filter(_.iter > 0).toSeq
    result("iterations") = iters.filter(_.iter > 0).map(r => Map(
      "iter" -> r.iter, "traced" -> r.traced, "seconds" -> r.seconds))
    result("ops") = timed.map(o => Map[String, Any](
      "iter" -> o.iter, "traced" -> o.traced, "name" -> o.name,
      "ms" -> o.ms, "ok" -> o.ok, "error" -> o.error) ++ o.info)
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val layer = mutable.LinkedHashMap[String, Any]()
      layer ++= tracer.sparkLayer(iters.filter(_.traced).toSeq,
        timed.filter(_.traced), cores)
      layer ++= w.layerMetrics(tracer)
      result("layer") = layer
      tracer.writeSpans(out.resolve("spans.json"))
    }
    result("checks") = w.finalChecks()
    result("vm_hwm_kb") = vmHwmKb()
    Files.writeString(out.resolve("driver.json"), Json.render(result))
    spark.stop()
    sys.exit(0) // engine thread pools must not hold the JVM open
  }

  private def vmHwmKb(): Long = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    (0 until lines.size).map(lines.get).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  /** Time one op; its exception is recorded, not rethrown. */
  def timeOp(iter: Int, tracer: Tracer, name: String)(
      body: => Map[String, Any]): OpRec = {
    val s = System.currentTimeMillis(); val n0 = System.nanoTime()
    val (ok, err, info) =
      try { val i = tracer.span("op:" + name)(body); (true, "", i) }
      catch {
        case NonFatal(e) =>
          (false, String.valueOf(e.getMessage), Map.empty[String, Any])
      }
    OpRec(iter, tracer.enabled, name, s, System.currentTimeMillis(),
      (System.nanoTime() - n0) / 1e6, ok, err, info)
  }
}

trait Workload {
  def iteration(i: Int, traced: Boolean): Seq[Driver.OpRec]
  /** Workload-specific layer metrics, per traced iteration. */
  def layerMetrics(tracer: Tracer): Map[String, Any]
  /** What run.py's correctness gate reads, gathered outside timing. */
  def finalChecks(): Map[String, Any]
}

/** `daily_load`: the q162 composition over the day's drop. Every phase
  * is audited under continue-on-failure; the same fechas are
  * overwritten every iteration (the daily re-run), then one conducta
  * day is loaded into embedded Derby and read back. */
final class DailyLoad(spark: SparkSession, data: Path, out: Path,
    tracer: Tracer) extends Workload {
  import Driver.timeOp
  graft.queries.Tables.prep(spark) // the session semantics q162 runs under
  private val drop = data.resolve("drop")
  private val manifest = new String(Files.readAllBytes(data.resolve("manifest.json")))
  private def manifestField(key: String): String =
    ("\"" + key + "\": \"([^\"]+)\"").r.findFirstMatchIn(manifest)
      .map(_.group(1)).getOrElse(sys.error(s"manifest lacks $key"))
  private val day0 = manifestField("jdbc_day")
  private val failedArrival = manifestField("failed_arrival")
  private var tracedJdbcRows = 0L
  private val target = out.resolve("tables")
  private val auditDir = out.resolve("audit").toString
  private val derbyUrl = "jdbc:derby:" + out.resolve("derby") + ";create=true"
  private val jdbcTable = "tbl_neotel_conducta"
  private val allowed = Set(jdbcTable)
  private val arrivals: Seq[(String, (String, String))] = {
    val s = Files.list(drop)
    try {
      val names = mutable.ArrayBuffer.empty[String]
      s.forEach(p => names += p.getFileName.toString)
      names.sorted.toSeq.flatMap(n =>
        CsvProbe.routeByName(n).map(r => n -> ((r, drop.resolve(n).toString))))
    } finally s.close()
  }

  JdbcSink.ensureTable(derbyUrl, jdbcTable, Schemas.Conducta.fields.map { f =>
    val t = f.dataType match {
      case org.apache.spark.sql.types.IntegerType => "INT"
      case org.apache.spark.sql.types.DoubleType  => "DOUBLE"
      case org.apache.spark.sql.types.DateType    => "DATE"
      case _                                      => "VARCHAR(200)"
    }
    s"${f.name} $t"
  }.mkString(", "))

  def iteration(i: Int, traced: Boolean): Seq[Driver.OpRec] = {
    val audit = new RunAudit(s"daily-$i")
    var conducta: Option[DataFrame] = None
    val recs = mutable.ArrayBuffer.empty[Driver.OpRec]
    Orchestrate.continueOnFailure(arrivals) { case (name, (route, path)) =>
      val rec = timeOp(i, tracer, name) {
        if (traced) tracer.span("io.probe")(CsvProbe.probe(path))
        val (raw, nRaw) = audit.phase[(DataFrame, Long)](name, "extract") {
          tracer.span("io.read") {
            val df = ArrivalRead.read(spark, path)
            val n = df.count()
            ((df, n), n)
          }
        }
        val (schema, renames) =
          if (route == "conducta") (Schemas.Conducta, Schemas.ConductaRenames)
          else (Schemas.Estados, Map.empty[String, String])
        val drift = audit.phase[Long](name, "drift") {
          val d = Conform.driftRows(schema, renames)(raw.schema).size.toLong
          (d, d)
        }
        val (t, nT) = audit.phase[(DataFrame, Long)](name, "transform", Some(nRaw)) {
          val df = tracer.span("conform.build") {
            if (route == "conducta") Pipeline.conducta(raw) else Pipeline.estados(raw)
          }
          val n = tracer.span("conform.exec")(df.count())
          ((df, n), n)
        }
        val dest = target.resolve(route).toString
        val landed = audit.phase[Long](name, "load", Some(nT)) {
          tracer.span("io.write")(IdempotentWriter.overwritePartitions(t, dest))
          val n = tracer.span("io.readback")(spark.read.parquet(dest).count())
          (n, n)
        }
        val parts = audit.phase[Long](name, "partitions") {
          val n = tracer.span("io.readback") {
            spark.read.parquet(dest).select(col("fecha")).distinct().count()
          }
          (n, n)
        }
        if (route == "conducta") conducta = Some(t)
        Map("drift" -> drift, "rows_conformed" -> nT, "rows_landed" -> landed,
          "partitions" -> parts)
      }
      recs += rec
      if (!rec.ok) throw new RuntimeException(rec.error) // continue-on-failure records it
    }
    recs += timeOp(i, tracer, "derby:" + day0) {
      val day = conducta.getOrElse(sys.error("conducta did not load"))
        .filter(col("fecha") === lit(java.sql.Date.valueOf(day0)))
      val rows = audit.phase[Long]("conducta", "jdbc_load") {
        val n = tracer.span("io.jdbc_load") {
          JdbcSink.loadIdempotent(day, derbyUrl, jdbcTable, day0, allowed)
        }
        if (traced) tracedJdbcRows += n
        (n, n)
      }
      val back = tracer.span("io.readback")(derbyDay().count())
      Map("rows_loaded" -> rows, "rows_read_back" -> back)
    }
    tracer.span("io.audit")(audit.write(spark, auditDir))
    recs.toSeq
  }

  private def derbyDay(): DataFrame =
    spark.read.format("jdbc").option("url", derbyUrl)
      .option("dbtable", jdbcTable).load()
      .filter(col("fecha") === lit(java.sql.Date.valueOf(day0)))

  def layerMetrics(tracer: Tracer): Map[String, Any] = {
    val n = tracer.tracedIterations
    def per(span: String) = tracer.seconds(span) / n
    val write = tracer.spark("io.write")
    val jdbcS = tracer.seconds("io.jdbc_load")
    Map(
      "io.probe_s" -> per("io.probe"),
      "io.read_s" -> per("io.read"),
      "io.write_s" -> per("io.write"),
      "io.write_jobs" -> write.jobs.size.toDouble / n,
      "io.files_written" -> filesWritten().toDouble,
      "io.bytes_written_per_input_byte" ->
        write.outputBytes.toDouble / n / math.max(1L, reportBytes),
      "io.jdbc_load_s" -> per("io.jdbc_load"),
      "io.jdbc_rows_per_s" -> (if (jdbcS > 0) tracedJdbcRows / jdbcS else 0.0),
      "io.readback_s" -> per("io.readback"),
      "io.audit_s" -> per("io.audit"),
      "conform.build_s" -> per("conform.build"),
      "conform.exec_s" -> per("conform.exec")) ++ functionCosts()
  }

  /** Bytes of the arrivals that are reports (the mangled one is not). */
  private def reportBytes: Long = arrivals.collect {
    case (n, (_, p)) if n != failedArrival => Files.size(Paths.get(p))
  }.sum

  private def filesWritten(): Long = {
    val s = Files.walk(target)
    try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  /** Wall ns per value of the native coercions over the estados drop's
    * raw duration columns, cached in memory, minus a `length` baseline
    * over the same values; median of five. */
  private def functionCosts(): Map[String, Any] = {
    graft.functions.GraftFunctions.register(spark)
    val path = arrivals.collectFirst { case (_, ("estados_operativos", p)) => p }.get
    val raw = ArrivalRead.read(spark, path)
    val cols = raw.columns.filter(_.startsWith("T ")).toSeq
    val cached = raw.select(cols.map(c => col(s"`$c`")): _*).cache()
    val rows = cached.count()
    val values = rows * cols.size
    def timeOf(fn: String): Double = {
      val aggs = cols.map(c => sum(expr(s"$fn(`$c`)")))
      val ts = (1 to 5).map { _ =>
        val n0 = System.nanoTime(); cached.select(aggs: _*).collect()
        (System.nanoTime() - n0).toDouble
      }.sorted
      ts(2)
    }
    val base = timeOf("length")
    val res = Seq("time_to_minutes", "lenient_long", "lenient_double").map { fn =>
      s"functions.${fn}_ns_per_value" -> (timeOf(fn) - base) / values
    }.toMap
    cached.unpersist(blocking = true)
    res
  }

  def finalChecks(): Map[String, Any] = {
    def sums(df: DataFrame, secs: Seq[String], tenths: Seq[String],
        ints: Seq[String]): Map[String, Any] = {
      val aggs = secs.map(c => sum(round(col(c) * 60).cast("long")).as(c)) ++
        tenths.map(c => sum(round(col(c) * 10).cast("long")).as(c)) ++
        ints.map(c => sum(col(c).cast("long")).as(c))
      val r = df.agg(count(lit(1)).as("__rows"), aggs: _*).collect()(0)
      val perDay = df.groupBy(col("fecha").cast("string")).count().collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      Map("rows" -> r.getLong(0), "survivors" -> perDay,
        "sums" -> (secs ++ tenths ++ ints).zipWithIndex
          .map { case (c, k) => c -> r.getLong(k + 1) }.toMap)
    }
    val pct = Schemas.Conducta.fieldNames.filter(_.startsWith("pct_"))
      .filterNot(_.contains("hold")).toSeq
    val conductaInts = Schemas.ConductaIntCols.filterNot(_.contains("hold"))
    Map(
      "estados" -> sums(spark.read.parquet(target.resolve("estados_operativos").toString),
        Schemas.EstadosTimeCols, Nil, Schemas.EstadosIntCols),
      "conducta" -> sums(spark.read.parquet(target.resolve("conducta").toString),
        Schemas.ConductaTimeCols, pct, conductaInts),
      "jdbc" -> sums(derbyDay(), Schemas.ConductaTimeCols, pct, conductaInts))
  }
}

/** `bi_dashboard`: one seeded-order pass over the workload's registered
  * queries, each materialized with a noop write (the same sink
  * `graft.Bench` times). */
final class QueryPass(spark: SparkSession, dir: String, out: Path,
    names: Seq[String], seed: Long, tracer: Tracer) extends Workload {
  import Driver.timeOp

  private val results = out.resolve("results")

  /** The last warm-up pass (iteration 0), already a repeat call of every
    * query, writes the results the correctness gate compares, so the
    * gate costs no extra pass. */
  def iteration(i: Int, traced: Boolean): Seq[Driver.OpRec] =
    new scala.util.Random(seed * 1000003L + i).shuffle(names).map { q =>
      timeOp(i, tracer, q) {
        val df = tracer.span("queries.build")(SparkEntry.queries(q)(spark, dir))
        if (traced) tracer.span("queries.plan")(df.queryExecution.executedPlan)
        tracer.span("queries.exec") {
          if (i == 0) df.coalesce(1).write.mode("overwrite")
            .parquet(results.resolve(q).toString)
          else df.write.format("noop").mode("overwrite").save()
        }
        Map.empty[String, Any]
      }
    }

  def layerMetrics(tracer: Tracer): Map[String, Any] = {
    val n = tracer.tracedIterations
    Map(
      "queries.build_s" -> tracer.seconds("queries.build") / n,
      "queries.build_jobs" -> tracer.spark("queries.build").jobs.size.toDouble / n,
      "queries.plan_s" -> tracer.seconds("queries.plan") / n,
      "queries.exec_s" -> tracer.seconds("queries.exec") / n)
  }

  def finalChecks(): Map[String, Any] =
    Map("results_dir" -> results.toString,
      "oracle_sql" -> names.map(q => q -> SparkEntry.oracleSql.get(q).orNull).toMap)
}
