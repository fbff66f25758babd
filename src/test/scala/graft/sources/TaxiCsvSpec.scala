package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.CsvToStructs
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.TempDirs
import graft.examples.Taxi

class TaxiCsvSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val line = "07290D3599E7A0D62097A346EFCC1FB5,E7750A37CAB07D0DFF0AF7E3573AC141," +
    "2013-01-01 00:00:00,2013-01-01 00:02:00,120,0.44,-73.956528,40.716976," +
    "-73.962440,40.715008,CSH,3.50,0.50,0.50,0.00,0.00,4.50"

  /** `lines` as a text file read back through the text source, as the
    * streaming replay reads its chunk files. */
  private def textSource(lines: Seq[String]): DataFrame = {
    val f = TempDirs.create("graft_taxi_csv_").resolve("trips.csv")
    Files.write(f, lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    spark.read.text(f.toString)
  }

  /** The formulation `parseLines` had before it moved the parse behind a
    * `Generate`: a projected struct that Catalyst may copy into predicates. */
  private def parseLinesProjected(df: DataFrame, line: String): DataFrame =
    TaxiCsv.normalize(df
      .withColumn("t", from_csv(col(line), TaxiCsv.schema,
        Map("timestampFormat" -> "yyyy-M-d HH:mm:ss")))
      .select(col("t.*")))

  test("parses the reference's 17-field trip line with CRD/Cash mapping") {
    val df = TaxiCsv.parseLines(Seq(line).toDF("value"), "value")
    val r = df.head()
    assert(r.getAs[String]("medallion").startsWith("07290D"))
    assert(r.getAs[Int]("trip_time_in_secs") == 120)
    assert(r.getAs[String]("payment_type") == "Cash")
    assert(r.getAs[Float]("total_amount") == 4.5f)
    assert(r.getAs[java.sql.Timestamp]("event_time") ==
      r.getAs[java.sql.Timestamp]("dropoff_datetime"))
    val card = TaxiCsv.parseLines(Seq(line.replace(",CSH,", ",CRD,")).toDF("value"), "value")
    assert(card.head().getAs[String]("payment_type") == "Card")
  }

  test("a range-filtered Q1 scan parses each line once") {
    val trips = TaxiCsv.parseLines(textSource(Seq(line)), "value")
    val q1 = trips.select(col("event_time").as("ts"),
        Taxi.cellLatQ1(col("pickup_lat")).as("s_clat"), Taxi.cellLonQ1(col("pickup_long")).as("s_clon"),
        Taxi.cellLatQ1(col("dropoff_lat")).as("e_clat"), Taxi.cellLonQ1(col("dropoff_long")).as("e_clon"))
      .filter(Taxi.inRangeQ1(col("s_clat"), col("s_clon")) && Taxi.inRangeQ1(col("e_clat"), col("e_clon")))
    val parses = flatMap(q1.queryExecution.executedPlan)(
      _.expressions.flatMap(_.collect { case c: CsvToStructs => c })).size
    assert(parses == 1, q1.queryExecution.executedPlan.treeString.take(2000))
    assert(q1.count() == 1)
  }

  test("parsing behind a Generate returns the projected formulation's rows and nulls") {
    val fields = line.split(",", -1)
    def withField(i: Int, v: String) = fields.updated(i, v).mkString(",")
    val lines = Seq(
      line,
      withField(5, "0.4x4"),                     // malformed float
      withField(3, "2013-13-45 25:61:00"),       // bad timestamp
      fields.take(9).mkString(","),              // short line
      line + ",EXTRA",                           // extra field
      "")                                        // empty line
    val src = textSource(lines).union(Seq(Option.empty[String]).toDF("value"))
    val expected = parseLinesProjected(src, "value").collect().toSeq
    val actual = TaxiCsv.parseLines(src, "value").collect().toSeq
    def nulls(rows: Seq[Row]) = rows.map(r => r.toSeq.indices.filter(r.isNullAt))
    assert(actual.size == lines.size + 1)
    assert(nulls(actual) == nulls(expected))
    assert(actual == expected)
    // the cases do reach the parser's failure paths
    assert(nulls(actual).count(_.nonEmpty) >= 4, nulls(actual))
  }
}
