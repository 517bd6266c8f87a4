package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry
import graft.sources.Sinks
import graft.taxi.{TaxiDashboard, TaxiPipeline, TaxiWarehouse}

/** One benchmark run in one JVM: set-up, warm-up passes, measured passes,
  * then the result checks' inputs, written as one JSON file.
  *
  *   PerfBench --workload W --tables DIR --input FILE --out DIR --seed N
  *             --seconds S --trace 0|1 --warmup PASSES
  *
  * A pass drives the engine only through its public functions, one call
  * at a time from this thread. Each call is a span; with --trace 1 a
  * Tracer attributes jobs, tasks, bytes and planning time to the spans.
  */
object PerfBench {

  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      t0Ms: Long, t1Ms: Long, seconds: Double, failed: Boolean)

  val dashboardGates: Seq[String] = Seq("q1_pricing_summary", "a5_trips_per_day",
    "a10_median_kpi", "a11_daily_avg_revenue", "a12_ratio_kpis", "a13_sum_by_location",
    "a15_cube_revenue", "a16_fact_dashboard", "w4_fact_trips", "win_trips_per_day")
  val taxiMeasures: Seq[(String, DataFrame => DataFrame)] = Seq(
    "kpiCards" -> TaxiDashboard.kpiCards _,
    "dailyAvgRevenue" -> TaxiDashboard.dailyAvgRevenue _,
    "passengerDonut" -> TaxiDashboard.passengerDonut _)
  val llmGates: Seq[String] = Seq("x110_band_recall_audit", "x134_ngram_novelty")

  def gateSpan(g: String): String =
    if (llmGates.contains(g)) s"llm.$g" else if (g == "w4_fact_trips") s"warehouse.$g" else s"queries.$g"

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = arg("workload")
    if (workload == "oracle_sql") {
      // the oracle SQL of every benchmarked gate, for make_digests.py
      val gates = dashboardGates ++ llmGates
      Files.writeString(Paths.get(arg("out")), Json(gates.map(g => g -> SparkEntry.oracleSql(g)).toMap))
      return
    }
    val tables = arg("tables")
    val out = arg("out")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    val spans = mutable.ArrayBuffer.empty[Span]
    val tracer = new Tracer(spark)
    var nextId = 0
    var pass = 0
    var passSpan = -1
    val errors = mutable.ArrayBuffer.empty[String]

    /** One public call, timed as a span. A thrown error fails the span and
      * is recorded; the pass goes on. */
    def op(name: String)(body: => Unit): Unit = {
      val id = nextId; nextId += 1
      tracer.begin(id)
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val failed = try { body; false } catch {
        case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          true
      }
      val s = (System.nanoTime() - n0) / 1e9
      tracer.end(id)
      spans += Span(id, name, passSpan, pass, w0, System.currentTimeMillis(), s, failed)
    }

    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def rmrf(p: String): Unit = {
      val path = Paths.get(p)
      if (Files.exists(path))
        Files.walk(path).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    }

    // ---- the workloads: set-up steps, one pass, and the check inputs ----
    val input = arg.getOrElse("input", "")
    var valid: DataFrame = null
    var report: TaxiPipeline.QualityReport = null
    val anomalySave = mutable.ArrayBuffer.empty[Double]

    def taxiPass(k: Int): Unit = {
      val dir = s"$out/taxi/p$k"
      var extracted: DataFrame = null
      var v: DataFrame = null
      var a: DataFrame = null
      op("taxi.extract") {
        extracted = Sinks.requireNonEmpty(TaxiPipeline.extract(spark.read.parquet(input)), "extract")
        Sinks.writeParquet(extracted, s"$dir/extract/extracted_data.parquet")
      }
      val transformStart = System.nanoTime()
      op("taxi.transform") {
        val (validTrips, anomalies) = TaxiPipeline.transform(extracted)
        v = validTrips.cache()
        a = anomalies.cache()
        Sinks.writeParquet(v, s"$dir/transform/transformed_data.parquet")
      }
      op("taxi.anomaly_save") {
        if (!a.isEmpty) Sinks.writeTimestamped(a, s"$dir/transform")
      }
      anomalySave += (System.nanoTime() - transformStart) / 1e9
      op("taxi.report") { report = TaxiPipeline.qualityReport(v, a) }
      op("taxi.dim_time") {
        Sinks.writeParquet(TaxiWarehouse.dimTime(v), s"$dir/warehouse/dim_time")
      }
      op("taxi.dim_location") {
        Sinks.writeParquet(TaxiWarehouse.dimLocation(v), s"$dir/warehouse/dim_location")
      }
      op("taxi.dim_payment") {
        Sinks.writeParquet(TaxiWarehouse.dimPayment(v), s"$dir/warehouse/dim_payment")
      }
      op("taxi.fact_trips") {
        Sinks.writeParquet(TaxiWarehouse.factTrips(v), s"$dir/warehouse/fact_trips")
      }
    }

    /** One closed-loop round over the workload's operations, in an order
      * drawn from the seed and the pass number. The rows of the latest
      * round are kept for the checks. */
    val lastRows = mutable.Map.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]
    def gateRound(k: Int, gates: Seq[String], measures: Seq[(String, DataFrame => DataFrame)]): Unit = {
      val calls: Seq[(String, String, () => DataFrame)] =
        gates.map(g => (gateSpan(g), g, () => SparkEntry.queries(g)(spark, tables))) ++
        measures.map { case (n, f) => (s"taxi.dashboard.$n", n, () => f(valid)) }
      new Random(seed * 1000003L + k).shuffle(calls).foreach { case (span, key, df) =>
        op(span) {
          val d = df()
          lastRows(key) = (d.schema, d.collect())
        }
      }
    }

    var warehouseBuildS = 0.0
    val runPass: Int => Unit = workload match {
      case "taxi_etl" => taxiPass
      case "dashboard_queries" =>
        // the dashboard's warehouse: the transformed valid-trips table
        val validPath = s"$out/warehouse/valid_trips"
        val s0 = System.nanoTime()
        val (v, _) = TaxiPipeline.transform(TaxiPipeline.extract(spark.read.parquet(input)))
        Sinks.writeParquet(v, validPath)
        warehouseBuildS = (System.nanoTime() - s0) / 1e9
        valid = spark.read.parquet(validPath)
        k => gateRound(k, dashboardGates ++ llmGates, taxiMeasures)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def onePass(): Double = {
      val id = nextId; nextId += 1
      passSpan = id
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      runPass(pass)
      val s = (System.nanoTime() - n0) / 1e9
      spans += Span(id, "pass", -1, pass, w0, System.currentTimeMillis(), s, failed = false)
      passSpan = -1
      pass += 1
      // outside the timed pass: drop what the pass left behind
      sweep()
      if (workload == "taxi_etl") rmrf(s"$out/taxi/p${pass - 2}")
      s
    }

    val w0 = System.nanoTime()
    for (_ <- 1 to arg("warmup").toInt) onePass()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val firstMeasured = pass

    /** Passes until `budget` seconds have gone, and at least `min`. */
    def measure(budget: Double, min: Int): Unit = {
      val start = System.nanoTime()
      var done = 0
      while (done < min || (System.nanoTime() - start) / 1e9 < budget) {
        onePass()
        done += 1
      }
    }

    val gcBefore = mutable.Map.empty[Int, Long]
    val gcAfter = mutable.Map.empty[Int, Long]
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum
    }

    // traced runs interleave untraced (U) and traced (T) passes as U T T U,
    // so both sides of the tracing overhead sit on the same stretch of the
    // JIT's slope, which a plain alternation would not cancel
    val tracedRun = mutable.ArrayBuffer.empty[Int]
    if (!traced) measure(seconds, 2)
    else {
      val start = System.nanoTime()
      var i = 0
      while (i % 4 != 0 || i == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
        if (i % 4 == 1 || i % 4 == 2) {
          tracer.install()
          gcBefore(pass) = gcMs()
          tracedRun += pass
          onePass()
          tracer.drain()
          gcAfter(pass - 1) = gcMs()
          tracer.uninstall()
        } else onePass()
        i += 1
      }
    }
    val tracedPasses = tracedRun.toSeq

    // ---- outside the timed passes: inputs of the correctness checks ----
    val check = mutable.LinkedHashMap.empty[String, Any]
    workload match {
      case "taxi_etl" =>
        val dir = s"$out/taxi/p${pass - 1}"
        def rows(p: String): Long = spark.read.parquet(s"$dir/$p").count()
        val anomalyDir = Files.list(Paths.get(s"$dir/transform")).toArray.map(_.toString)
          .find(_.contains("anomalies_"))
        check("valid_rows") = rows("transform/transformed_data.parquet")
        check("anomalies_by_reason") = anomalyDir.map { p =>
          spark.read.parquet(p).groupBy("rejection_reason").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        }.getOrElse(Map.empty)
        for (d <- Seq("dim_time", "dim_location", "dim_payment", "fact_trips"))
          check(d) = rows(s"warehouse/$d")
        if (report != null) {
          check("report_details") = report.anomalyDetails
          check("report") = Map("total_processed" -> report.totalProcessed,
            "anomaly_count" -> report.anomalyCount, "avg_trip_duration" -> report.avgTripDuration,
            "avg_speed" -> report.avgSpeed, "total_fare_amount" -> report.totalFareAmount)
        }
      case _ =>
        for (g <- dashboardGates ++ llmGates; (schema, rows) <- lastRows.get(g))
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/results/$g")
        check("oracle_sql") = dashboardGates.map(g => g -> SparkEntry.oracleSql(g)).toMap
        check("valid_path") = s"$out/warehouse/valid_trips"
        check("taxi_measures") = taxiMeasures.flatMap { case (n, _) =>
          lastRows.get(n).map { case (_, rows) =>
            n -> rows.toSeq.map(_.toSeq.map {
              case d: java.math.BigDecimal => d.doubleValue
              case x => x
            })
          }
        }.toMap
    }

    // ---- per-layer numbers from the traced passes ----
    val layers = mutable.LinkedHashMap.empty[String, Any]
    var countersIdentical = true
    if (traced) {
      tracer.drain()
      def med(xs: Seq[Double]): Double = {
        val s = xs.sorted
        if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      val opSpans = spans.filter(s => s.name != "pass" && tracedPasses.contains(s.pass)).toSeq
      val byName = opSpans.groupBy(_.name)
      val last = tracedPasses.last
      for ((name, ss) <- byName.toSeq.sortBy(_._1)) {
        val lastStats = tracer(ss.find(_.pass == last).get.id)
        val perPass = ss.map(s => tracer(s.id))
        // records, not bytes: compressed sizes vary by a few bytes with the
        // order in which reduce tasks fetch map outputs
        def same(f: SpanStats => Long): Boolean = perPass.map(f).distinct.size == 1
        if (!same(_.jobs) || !same(_.shuffleRecords) || !same(_.writtenRecords)) {
          countersIdentical = false
          errors += s"counters differ across traced passes: $name " +
            perPass.map(p => s"${p.jobs}/${p.shuffleRecords}/${p.writtenRecords}").mkString(" ")
        }
        layers(s"$name.s") = med(ss.map(_.seconds))
        layers(s"$name.p50_ms") = med(ss.map(_.seconds * 1000))
        layers(s"$name.jobs") = lastStats.jobs
        layers(s"$name.shuffle_bytes") = lastStats.shuffleBytes
        layers(s"$name.written_bytes") = lastStats.writtenBytes
        layers(s"$name.pinned_bytes") = lastStats.pinnedPeak
      }
      def perPass[A](f: Seq[(Span, SpanStats)] => A): Seq[A] =
        tracedPasses.map(p => f(opSpans.filter(_.pass == p).map(s => s -> tracer(s.id))))
      layers("spark.driver_s") = med(perPass(_.map { case (s, st) => st.idleMs(s.t0Ms, s.t1Ms) }.sum / 1000.0))
      layers("spark.task_s") = med(perPass(_.map(_._2.taskMs).sum / 1000.0))
      layers("spark.cpu_s") = med(perPass(_.map(_._2.cpuNs).sum / 1e9))
      layers("spark.gc_s") = med(tracedPasses.map(p => (gcAfter(p) - gcBefore(p)) / 1000.0))
      layers("spark.plan_ms") = med(perPass(_.map(_._2.planMs).sum.toDouble))
      val lastPass = perPass(identity).last.map(_._2)
      layers("spark.spill_bytes") = lastPass.map(_.spillBytes).sum
      layers("spark.rows_read") = lastPass.map(_.rowsRead).sum
      layers("spark.failed_tasks") = lastPass.map(_.failedTasks).sum
    }

    val passS = spans.filter(_.name == "pass").map(s => s.pass -> s.seconds).toMap
    val result = Map(
      "workload" -> workload,
      "session_start_s" -> sessionStartS,
      "warehouse_build_s" -> warehouseBuildS,
      "warmup_s" -> warmupS,
      "passes" -> (firstMeasured until pass).map { p =>
        Map("pass" -> p, "traced" -> tracedPasses.contains(p), "s" -> passS(p),
          "ops" -> spans.filter(s => s.pass == p && s.name != "pass")
            .map(s => Seq(s.name, s.seconds * 1000, s.failed)).toSeq)
      },
      "anomaly_save_s" -> anomalySave.drop(firstMeasured).toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "check" -> check.toMap,
      "layers" -> layers.toMap,
      "counters_identical" -> countersIdentical,
      "errors" -> errors.toSeq,
      "cpus" -> cpus)
    Files.writeString(Paths.get(s"$out/jvm.json"), Json(result))
    writeSpans(s"$out/spans.json", spans.toSeq, s"$workload-$seed")
    spark.stop()
  }

  /** Spans with their parent and self time (duration minus children). */
  def writeSpans(path: String, spans: Seq[Span], runId: String): Unit = {
    val childS = spans.filter(_.parent >= 0).groupBy(_.parent).view.mapValues(_.map(_.seconds).sum)
    Files.writeString(Paths.get(path), Json(spans.map { s =>
      Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ms" -> s.t0Ms, "end_ms" -> s.t1Ms, "s" -> s.seconds,
        "self_s" -> (s.seconds - childS.getOrElse(s.id, 0.0)), "failed" -> s.failed)
    }))
  }

  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
