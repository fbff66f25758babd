package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational

/** The DEBS 2015 taxi CSV source (reference `tripSource`/`stringsToTrip`,
  * `examples/taxi/Taxi.hs:123-140`): 17 comma-separated fields in the
  * reference's exact order, event time = dropoff_datetime, payment_type
  * mapped CRD→Card / else Cash (`Taxi.hs:33-34,134`).
  *
  * [[parseLines]] parses each line once, as `stringsToTrip` does. The
  * parsed struct sits behind a `Generate` ([[Relational.evalOnce]]): as a
  * plain projection, `PushPredicateThroughNonJoin` copied the whole
  * `from_csv` into every conjunct of the pushed-down `Taxi.inRangeQ1/Q2`
  * filters, and a Q1-shaped scan parsed every line nine times. */
object TaxiCsv {

  /** Field order per `stringsToTrip` (`Taxi.hs:129-135`). */
  val schema: StructType = StructType(Seq(
    StructField("medallion", StringType),
    StructField("hack_license", StringType),
    StructField("pickup_datetime", TimestampType),
    StructField("dropoff_datetime", TimestampType),
    StructField("trip_time_in_secs", IntegerType),
    StructField("trip_distance", FloatType),
    StructField("pickup_long", FloatType),
    StructField("pickup_lat", FloatType),
    StructField("dropoff_long", FloatType),
    StructField("dropoff_lat", FloatType),
    StructField("payment_type", StringType),
    StructField("fare_amount", FloatType),
    StructField("surcharge", FloatType),
    StructField("mta_tax", FloatType),
    StructField("tip_amount", FloatType),
    StructField("tolls_amount", FloatType),
    StructField("total_amount", FloatType)))

  private[sources] def normalize(df: DataFrame): DataFrame =
    df.withColumn("payment_type",
        when(col("payment_type") === "CRD", "Card").otherwise("Cash"))
      .withColumn("event_time", col("dropoff_datetime")) // tripSource stamping

  /** Parse trip lines already held in a string column (the reference's
    * line-at-a-time `stringsToTrip` as a `from_csv` expression), once per
    * line however many predicates later read the fields. */
  def parseLines(df: DataFrame, line: String): DataFrame =
    normalize(Relational.evalOnce(df,
      from_csv(col(line), schema, Map("timestampFormat" -> "yyyy-M-d HH:mm:ss"))))
}
