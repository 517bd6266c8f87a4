package graft.taxi

import graft.warehouse.StarSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The taxi star-schema load in its direct form, kept as the specs'
  * reference for `TaxiWarehouse`: `row_number()` windows over the distinct
  * small-dim values, a distinct over the time-feature columns, and the
  * reference's 4-way inner join chain (`load.py:155-221`). */
object StarReference {

  def dimTime(valid: DataFrame): DataFrame =
    valid.select(col("tpep_pickup_datetime").as("datetime"), col("day_of_week"),
        col("time_period"))
      .distinct()
      .withColumn("hour", hour(col("datetime")).cast("smallint"))
      .withColumn("time_pk", StarSchema.timeKey(col("datetime")))
      .select("time_pk", "datetime", "hour", "day_of_week", "time_period")

  def dimLocation(valid: DataFrame): DataFrame =
    valid.select(col("PULocationID").cast("int").as("location_id"))
      .unionByName(valid.select(col("DOLocationID").cast("int").as("location_id")))
      .distinct()
      .withColumn("location_pk", row_number().over(Window.orderBy("location_id")))
      .withColumn("borough", lit("Inconnu"))
      .select("location_pk", "location_id", "borough")

  def dimPayment(valid: DataFrame): DataFrame =
    valid.select(col("payment_label").as("payment_type"))
      .filter(col("payment_type").isNotNull)
      .distinct()
      .withColumn("payment_pk", row_number().over(Window.orderBy("payment_type")))
      .select("payment_pk", "payment_type")

  def factTrips(valid: DataFrame): DataFrame = {
    val t = dimTime(valid).select("time_pk", "datetime")
    val loc = dimLocation(valid)
    val pu = loc.select(col("location_id").as("pu_id"), col("location_pk").as("pickup_loc_pk"))
    val dof = loc.select(col("location_id").as("do_id"), col("location_pk").as("dropoff_loc_pk"))
    val p = dimPayment(valid)
    valid
      .join(t, valid("tpep_pickup_datetime") === t("datetime"))
      .join(pu, valid("PULocationID").cast("int") === pu("pu_id"))
      .join(dof, valid("DOLocationID").cast("int") === dof("do_id"))
      .join(p, valid("payment_label") === p("payment_type"))
      .select(col("time_pk"), col("pickup_loc_pk"), col("dropoff_loc_pk"), col("payment_pk"),
        col("passenger_count").cast("smallint").as("passenger_count"),
        col("trip_distance").cast("decimal(8,2)").as("trip_distance"),
        col("fare_amount").cast("decimal(8,2)").as("fare_amount"),
        col("total_amount").cast("decimal(8,2)").as("total_amount"),
        col("trip_duration").cast("decimal(8,2)").as("duration_min"),
        col("avg_speed").cast("decimal(8,2)").as("avg_speed"))
  }

  /** Rows of `df` as sorted strings: an order-free multiset to compare. */
  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Fact rows whose four foreign keys do not all resolve in the dims. */
  def danglingFks(fact: DataFrame, valid: DataFrame): Long = {
    val t = TaxiWarehouse.dimTime(valid)
    val loc = TaxiWarehouse.dimLocation(valid)
    val p = TaxiWarehouse.dimPayment(valid)
    Seq(
      fact.join(t, fact("time_pk") === t("time_pk"), "left_anti"),
      fact.join(loc, fact("pickup_loc_pk") === loc("location_pk"), "left_anti"),
      fact.join(loc, fact("dropoff_loc_pk") === loc("location_pk"), "left_anti"),
      fact.join(p, fact("payment_pk") === p("payment_pk"), "left_anti")
    ).map(_.count()).sum
  }
}
