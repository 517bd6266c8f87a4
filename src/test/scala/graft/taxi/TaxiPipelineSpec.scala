package graft.taxi

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame

/** Reference-semantics tests on a synthesized taxi fixture (FIXTURES.md §A)
  * with KNOWN per-rule violation counts — mirrors the golden ratios the
  * reference logs (`transform.log:2-9`).
  */
class TaxiPipelineSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** (vendor, pickup, dropoff, passengers, distance, PU, DO, ratecode,
    * payment, fare, total) rows — see comments for which rule each trips. */
  private lazy val fixture: DataFrame = {
    val rows = Seq[(Int, String, String, Int, Double, Int, Int, Int, Int, Double, Double)](
      // 3 clean trips (10 km/h-ish speeds, everything in range)
      (1, "2024-03-01 08:00:00", "2024-03-01 08:30:00", 2, 5.0, 10, 20, 1, 1, 20.0, 24.0),
      (2, "2024-03-01 13:00:00", "2024-03-01 13:12:00", 1, 2.0, 11, 21, 2, 2, 10.0, 11.0),
      (1, "2024-03-02 19:00:00", "2024-03-02 20:00:00", 3, 15.0, 12, 22, 1, 4, 40.0, 48.0),
      // Durée invalide: dropoff == pickup (duration 0)
      (1, "2024-03-03 10:00:00", "2024-03-03 10:00:00", 1, 3.0, 13, 23, 1, 1, 12.0, 14.0),
      // Durée invalide even though distance ALSO out of range (priority!)
      (1, "2024-03-03 11:00:00", "2024-03-03 10:59:00", 1, 500.0, 13, 23, 1, 1, 12.0, 14.0),
      // Distance hors limites (0.05 < 0.1)
      (2, "2024-03-04 09:00:00", "2024-03-04 09:10:00", 1, 0.05, 14, 24, 1, 2, 8.0, 9.0),
      // Montant de course invalide (fare <= 0), distance fine
      (1, "2024-03-05 09:00:00", "2024-03-05 09:20:00", 1, 4.0, 15, 25, 1, 1, 0.0, 0.0),
      // Passagers invalides (0 passengers)
      (1, "2024-03-06 09:00:00", "2024-03-06 09:20:00", 0, 4.0, 16, 26, 1, 1, 15.0, 17.0),
      // Vitesse irréaliste: 60 km in 10 min = 360 km/h
      (1, "2024-03-07 09:00:00", "2024-03-07 09:10:00", 1, 60.0, 17, 27, 1, 1, 90.0, 95.0),
      // duplicate (pickup, dropoff) of row 1 — dedup victim
      (2, "2024-03-01 08:00:00", "2024-03-01 08:30:00", 4, 5.5, 18, 28, 1, 2, 21.0, 25.0),
      // payment_type 5 → label null → silently dropped from the fact table
      (1, "2024-03-08 09:00:00", "2024-03-08 09:30:00", 1, 5.0, 19, 29, 99, 5, 20.0, 24.0)
    )
    import spark.implicits._
    rows.toDF("VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
      "trip_distance", "PULocationID", "DOLocationID", "RatecodeID", "payment_type",
      "fare_amount", "total_amount")
  }

  private lazy val extracted = TaxiPipeline.extract(fixture)
  private lazy val tagged = TaxiPipeline.tagAnomalies(TaxiPipeline.calculateMetrics(extracted))

  test("extract keeps the 11-column contract and narrows int columns") {
    assert(extracted.columns.toSeq == TaxiPipeline.selectedColumns)
    assert(extracted.schema("VendorID").dataType.typeName == "short")
    assert(extracted.schema("tpep_pickup_datetime").dataType.typeName == "timestamp")
  }

  test("per-reason anomaly counts match the planted fixture") {
    val counts = TaxiPipeline.anomalies(tagged)
      .groupBy("rejection_reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map(
      "Durée invalide" -> 2L,
      "Distance hors limites" -> 1L,
      "Montant de course invalide" -> 1L,
      "Passagers invalides" -> 1L,
      "Vitesse irréaliste" -> 1L))
  }

  test("first-match-wins: duration rule shadows distance rule") {
    val reason = tagged
      .filter(org.apache.spark.sql.functions.col("trip_distance") === 500.0)
      .select("rejection_reason").head().getString(0)
    assert(reason == "Durée invalide") // NOT "Distance hors limites"
  }

  test("split is a partition: valid ∪ anomalies == input, disjoint") {
    val v = TaxiPipeline.validTrips(tagged).count()
    val a = TaxiPipeline.anomalies(tagged).count()
    assert(v + a == 11)
    assert(v == 5) // 3 clean + 1 duplicate + 1 payment-5 row
    assert(!TaxiPipeline.validTrips(tagged).columns.contains("rejection_reason"))
  }

  test("time features and label encoding match the reference maps") {
    val f = TaxiPipeline.encodeFeatures(TaxiPipeline.addTimeFeatures(
      TaxiPipeline.validTrips(tagged)))
    val r1 = f.filter(f("VendorID") === 1 && f("trip_distance") === 5.0).head()
    assert(r1.getAs[Int]("pickup_hour") == 8)
    assert(r1.getAs[String]("day_of_week") == "Friday") // 2024-03-01
    assert(r1.getAs[String]("time_period") == "Matin")
    assert(r1.getAs[String]("payment_label") == "Carte de crédit")
    assert(r1.getAs[String]("ratecode_label") == "Standard")
    // unmatched keys → null (payment_type 5, RatecodeID 99)
    val r5 = f.filter(f("payment_type") === 5).head()
    assert(r5.getAs[String]("payment_label") == null)
    assert(r5.getAs[String]("ratecode_label") == null)
  }

  test("dedup on (pickup, dropoff) keeps exactly one of the duplicate pair") {
    val (valid, _) = TaxiPipeline.transform(extracted)
    assert(valid.count() == 4) // 5 valid - 1 duplicate
    assert(valid.filter(valid("tpep_pickup_datetime") === ts("2024-03-01 08:00:00")).count() == 1)
    // deterministic variant keeps the lowest VendorID
    val det = TaxiPipeline.dedupTrips(
      TaxiPipeline.validTrips(tagged), tiebreak = Seq("VendorID"))
    val kept = det.filter(det("tpep_pickup_datetime") === ts("2024-03-01 08:00:00")).head()
    assert(kept.getAs[Short]("VendorID") == 1)
  }

  test("quality report totals are consistent") {
    val (valid, anoms) = TaxiPipeline.transform(extracted)
    val r = TaxiPipeline.qualityReport(valid, anoms)
    assert(r.totalProcessed == 10) // 11 input - 1 dedup'd
    assert(r.anomalyCount == 6)
    assert(r.anomalyDetails.values.sum == 6)
    assert(math.abs(r.anomalyRatePct - 60.0) < 1e-9)
  }

  test("dashboard KPI measures match hand-computed golden values") {
    // deterministic valid set (tiebreak keeps VendorID 1 of the dup pair):
    //   dist 5.0  pax 2  total 24.0  03-01 08:00 Matin       speed 10.0
    //   dist 2.0  pax 1  total 11.0  03-01 13:00 Après-midi  speed 10.0
    //   dist 15.0 pax 3  total 48.0  03-02 19:00 Soir        speed 15.0
    //   dist 5.0  pax 1  total 24.0  03-08 09:00 Matin       speed 10.0
    val valid = TaxiPipeline.dedupTrips(
      TaxiPipeline.encodeFeatures(TaxiPipeline.addTimeFeatures(
        TaxiPipeline.validTrips(tagged))), tiebreak = Seq("VendorID"))
    val kpi = TaxiDashboard.kpiCards(valid).head()
    assert(kpi.getAs[Double]("median_trip_distance") == 5.0) // sorted 2,5,5,15
    assert(kpi.getAs[Double]("avg_commercial_speed_kmh") == 18.1) // 11.25 mph × 1.609
    assert(kpi.getAs[Long]("total_trips") == 4L)
    // per-day sums 35.0 / 48.0 / 24.0 → avg 35.67
    val rev = TaxiDashboard.dailyAvgRevenue(valid).head().getAs[Double]("daily_avg_revenue")
    assert(rev == 35.67)
    // donut: Matin 3/7, Soir 3/7, Après-midi 1/7 (share layout mirrors the
    // reference donut: descending share, deterministic tiebreak)
    val donut = TaxiDashboard.passengerDonut(valid).collect()
      .map(r => (r.getString(0), r.getAs[Long]("passengers"), r.getAs[Double]("pct")))
    assert(donut.toSeq == Seq(
      ("Matin", 3L, 42.86), ("Soir", 3L, 42.86), ("Après-midi", 1L, 14.29)))
  }

  test("null trip_distance is an anomaly, not VALID (pandas ~NaN.between == True)") {
    // The reference extract does NOT null-fill trip_distance, so NaN
    // distances reach the rules; pandas `~df.between(...)` on NaN yields
    // True → 'Distance hors limites'. A naive Spark `!between` would skip
    // the rule on NULL and mislabel the row VALID.
    import spark.implicits._
    val rows = Seq[(java.lang.Double, String, String, Int, Double, Double)](
      (null, "2024-03-01 08:00:00", "2024-03-01 08:30:00", 2, 20.0, 24.0), // null distance
      (5.0, "2024-03-01 09:00:00", "2024-03-01 09:30:00", 2, 20.0, 24.0)   // clean
    ).toDF("trip_distance", "tpep_pickup_datetime", "tpep_dropoff_datetime",
      "passenger_count", "fare_amount", "total_amount")
      .withColumn("tpep_pickup_datetime", org.apache.spark.sql.functions.to_timestamp($"tpep_pickup_datetime"))
      .withColumn("tpep_dropoff_datetime", org.apache.spark.sql.functions.to_timestamp($"tpep_dropoff_datetime"))
    val t = TaxiPipeline.tagAnomalies(TaxiPipeline.calculateMetrics(rows))
    val tags = t.orderBy("tpep_pickup_datetime")
      .select("rejection_reason").collect().map(_.getString(0)).toSeq
    assert(tags == Seq("Distance hors limites", null))
  }

  test("star schema: payment-null rows silently drop from the fact (inner join)") {
    val (valid, _) = TaxiPipeline.transform(extracted)
    val v = valid.cache()
    try {
      val fact = TaxiWarehouse.factTrips(v)
      assert(fact.count() == 3) // 4 valid - 1 payment_label null
      // FK integrity: every pk of all four dims resolves
      assert(StarReference.danglingFks(fact, v) == 0)
      assert(fact.schema("fare_amount").dataType.typeName == "decimal(8,2)")
    } finally v.unpersist()
  }

  test("star schema: dims and fact equal the window + join-chain definitions") {
    val (valid, _) = TaxiPipeline.transform(extracted)
    val v = valid.cache()
    try {
      import StarReference.rows
      assert(rows(TaxiWarehouse.dimTime(v)) == rows(StarReference.dimTime(v)))
      assert(rows(TaxiWarehouse.dimLocation(v)) == rows(StarReference.dimLocation(v)))
      assert(rows(TaxiWarehouse.dimPayment(v)) == rows(StarReference.dimPayment(v)))
      assert(rows(TaxiWarehouse.factTrips(v)) == rows(StarReference.factTrips(v)))
      assert(TaxiWarehouse.dimLocation(v).count() == 8) // 4 valid trips, 8 distinct ids
    } finally v.unpersist()
  }

  private def planNodes(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case n => n.nodeName }
  }

  test("transform dedups with a codegen'd HashAggregate, not a SortAggregate") {
    val (valid, _) = TaxiPipeline.transform(extracted)
    val nodes = planNodes(valid)
    assert(nodes.contains("HashAggregate"), nodes)
    assert(!nodes.contains("SortAggregate"), nodes)
  }

  test("factTrips plan: no window, no pin, no exchange or join over the fact scan") {
    val (valid, _) = TaxiPipeline.transform(extracted)
    val v = valid.cache()
    try {
      val fact = TaxiWarehouse.factTrips(v)
      val logical = fact.queryExecution.analyzed.collect { case n => n.nodeName }
      assert(!logical.exists(n => n == "Window" || n == "LogicalRDD"), logical)
      val physical = planNodes(fact)
      assert(!physical.exists(n => n.contains("Exchange") || n.contains("Join")), physical)
    } finally v.unpersist()
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prior = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, prior)
  }

  test("ANSI mode: transform + factTrips give the same anomaly counts and fact rows") {
    withConf("spark.sql.ansi.enabled", "true") {
      val (valid, anoms) = TaxiPipeline.transform(TaxiPipeline.extract(fixture))
      val counts = anoms.groupBy("rejection_reason").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map(
        "Durée invalide" -> 2L,
        "Distance hors limites" -> 1L,
        "Montant de course invalide" -> 1L,
        "Passagers invalides" -> 1L,
        "Vitesse irréaliste" -> 1L))
      val v = valid.cache()
      try assert(TaxiWarehouse.factTrips(v).count() == 3) finally v.unpersist()
      // an unparseable datetime still coerces to null and drops, not raises
      val bad = fixture.limit(1).withColumn("tpep_pickup_datetime",
        org.apache.spark.sql.functions.lit("not a date"))
      assert(TaxiPipeline.extract(fixture.unionByName(bad)).count() == 11)
    }
  }

  test("extract converts epoch-nanosecond Long timestamps (parquet timestamp[ns])") {
    import org.apache.spark.sql.functions.{col, to_timestamp, unix_micros}
    val dates = Seq("tpep_pickup_datetime", "tpep_dropoff_datetime")
    val nanos = dates.foldLeft(fixture)((df, c) =>
      df.withColumn(c, unix_micros(to_timestamp(col(c))) * 1000L))
    assert(nanos.schema("tpep_pickup_datetime").dataType.typeName == "long")
    val e = TaxiPipeline.extract(nanos)
    assert(e.schema("tpep_pickup_datetime").dataType.typeName == "timestamp")
    assert(StarReference.rows(e) == StarReference.rows(extracted))
  }

  test("encodeFeatures matches integral double codes by value, like pandas .map") {
    import spark.implicits._
    val codes = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 2.0), (1.5, 4.0), (99.0, 5.0), (null, null)).toDF("RatecodeID", "payment_type")
    for (ansi <- Seq("false", "true")) withConf("spark.sql.ansi.enabled", ansi) {
      val got = TaxiPipeline.encodeFeatures(codes).select("ratecode_label", "payment_label")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == Seq(("Standard", "Espèces"), (null, "Conflit"), (null, null), (null, null)),
        s"ansi=$ansi")
    }
  }
}
