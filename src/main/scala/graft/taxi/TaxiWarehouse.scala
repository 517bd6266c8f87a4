package graft.taxi

import graft.warehouse.StarSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** The reference's star-schema load (`Scripts_ETL/load.py`) over the
  * transformed taxi frame. Surrogate keys are derived engine-side,
  * erasing the reference's insert-then-read-back round trip
  * (`load.py:121-152`), and the fact build joins nothing: `time_pk` is
  * arithmetic (`StarSchema.timeKey`), and the location and payment keys
  * are 1 + the value's rank among the sorted distinct values — the keys a
  * `row_number()` window over each small dim would give — looked up in
  * literal arrays from one small aggregate (`smallDimKeys`). So the fact
  * is one shuffle-free projection of the valid scan. `dimLocation`,
  * `dimPayment` and `factTrips` each run that aggregate as one small job
  * when called.
  */
object TaxiWarehouse {

  /** Sorted distinct location ids (pickup ∪ dropoff) and non-null payment
    * labels of `valid`. Location ids are non-null after
    * `TaxiPipeline.extract`. */
  private final case class SmallDimKeys(locationIds: Seq[Int], paymentTypes: Seq[String])

  private def smallDimKeys(valid: DataFrame): SmallDimKeys = {
    val r = valid.agg(
      array_sort(array_union(collect_set(col("PULocationID").cast("int")),
        collect_set(col("DOLocationID").cast("int")))),
      array_sort(collect_set(col("payment_label")))).head()
    SmallDimKeys(r.getSeq[Int](0), r.getSeq[String](1))
  }

  /** Surrogate key of `c`: 1 + its rank in `sorted`; NULL when `c` is NULL
    * or absent, so the fact's non-null filter keeps inner-join semantics. */
  private def rankKey[T: TypeTag](c: Column, sorted: Seq[T]): Column =
    nullif(array_position(typedlit(sorted), c), lit(0L)).cast("int")

  /** dim_time (load.py:19-26 + 114-117): distinct pickup datetimes with
    * time features. Keyed arithmetically (epoch micros) — pickup
    * timestamps are second-grain, so this dim is ~O(fact rows) and a
    * global row_number window would serialize it through one task. The
    * distinct runs over the 8-byte pickup alone; the string features
    * follow it. */
  def dimTime(valid: DataFrame): DataFrame =
    TaxiPipeline.addTimeFeatures(valid.select("tpep_pickup_datetime").distinct())
      .select(StarSchema.timeKey(col("tpep_pickup_datetime")).as("time_pk"),
        col("tpep_pickup_datetime").as("datetime"), col("pickup_hour").cast("smallint").as("hour"),
        col("day_of_week"), col("time_period"))

  /** dim_location (load.py:28-33 + 127-130): PU ∪ DO ids, borough default. */
  def dimLocation(valid: DataFrame): DataFrame = {
    import valid.sparkSession.implicits._
    smallDimKeys(valid).locationIds.zipWithIndex
      .map { case (id, i) => (i + 1, id, "Inconnu") }
      .toDF("location_pk", "location_id", "borough")
      .coalesce(1) // one file, not one per local-scan slice
  }

  /** dim_payment (load.py:35-40 + 139-146): distinct non-null labels. */
  def dimPayment(valid: DataFrame): DataFrame = {
    import valid.sparkSession.implicits._
    smallDimKeys(valid).paymentTypes.zipWithIndex
      .map { case (label, i) => (i + 1, label) }
      .toDF("payment_pk", "payment_type")
      .coalesce(1)
  }

  /** fact_trips (load.py:43-60 + 155-221): the reference's 4-way INNER join
    * chain as key lookups plus a non-null filter — rows with a null
    * payment_label silently drop, exactly like the reference's pandas
    * merge (`load.py:168-172`). Measures keep the NUMERIC(8,2) DECIMAL
    * contract at this, the sink boundary. */
  def factTrips(valid: DataFrame): DataFrame = {
    val keys = smallDimKeys(valid)
    valid
      .select(StarSchema.timeKey(col("tpep_pickup_datetime")).as("time_pk"),
        rankKey(col("PULocationID").cast("int"), keys.locationIds).as("pickup_loc_pk"),
        rankKey(col("DOLocationID").cast("int"), keys.locationIds).as("dropoff_loc_pk"),
        rankKey(col("payment_label"), keys.paymentTypes).as("payment_pk"),
        col("passenger_count").cast("smallint").as("passenger_count"),
        col("trip_distance").cast("decimal(8,2)").as("trip_distance"),
        col("fare_amount").cast("decimal(8,2)").as("fare_amount"),
        col("total_amount").cast("decimal(8,2)").as("total_amount"),
        col("trip_duration").cast("decimal(8,2)").as("duration_min"),
        col("avg_speed").cast("decimal(8,2)").as("avg_speed"))
      .filter(col("time_pk").isNotNull && col("pickup_loc_pk").isNotNull &&
        col("dropoff_loc_pk").isNotNull && col("payment_pk").isNotNull)
  }
}
