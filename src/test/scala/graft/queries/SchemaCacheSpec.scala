package graft.queries

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.{ListenerFence, ProcessStarts, SparkSuite}

/** [[Tables.table]] infers a table's parquet schema once per file version
  * and inference-conf setting, and still builds a fresh relation per call. */
class SchemaCacheSpec extends SparkSuite {

  private def freshDir(): String = graft.core.TempDirs.create("graft_schema_cache_").toString

  test("a second read of an unchanged table starts no Spark job") {
    val dir = freshDir()
    spark.range(10).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    val jobs = ListenerFence.jobsStartedBy(spark.sparkContext) {
      val again = Tables.table(spark, dir, "t")
      assert(again.schema.fieldNames.toSeq == Seq("a"))
    }
    assert(jobs == 0, s"the second read started $jobs job(s)")
    assert(Tables.table(spark, dir, "t").count() == 10)
  }

  test("reading a table of several files starts no process") {
    val dir = freshDir()
    spark.range(100).repartition(4).toDF("a").write.parquet(s"$dir/t.parquet")
    val starts = ProcessStarts.during {
      for (_ <- 1 to 3) assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    }
    assert(starts.isEmpty,
      s"${starts.size} process start(s); first: ${starts.headOption.fold("")(_.take(16).mkString(" <- "))}")
  }

  test("a table rewritten with a different schema is read with the new schema") {
    val dir = freshDir()
    spark.range(5).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).select(col("id").cast("string").as("b"), lit(7).as("c"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.table(spark, dir, "t")
    assert(after.columns.toSeq == Seq("b", "c"))
    assert(after.collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq ==
      Seq(("0", 7), ("1", 7), ("2", 7)))
  }

  test("flipping spark.sql.parquet.binaryAsString changes the inferred column type") {
    // written with parquet's own writer: a Spark-written file carries its
    // Spark schema in the footer, which inference prefers over the conf
    val dir = freshDir()
    val schema = MessageTypeParser.parseMessageType("message t { required binary bin; }")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/t.parquet"), new Configuration()))
      .withType(schema).build()
    try Seq("x", "y").foreach(v => writer.write(new SimpleGroupFactory(schema).newGroup().append("bin", v)))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.table(spark, dir, "t").schema("bin").dataType == BinaryType)
      spark.conf.set(key, "true")
      assert(Tables.table(spark, dir, "t").schema("bin").dataType == StringType)
      spark.conf.set(key, "false")
      assert(Tables.table(spark, dir, "t").schema("bin").dataType == BinaryType)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("two events reads self-join with distinct attributes and the right row count") {
    val dir = freshDir()
    // event_id 0..4 twice each plus 5..9 once: the self-join has 5*4 + 5 rows
    spark.range(15).select((col("id") % 10).as("event_id"),
      timestamp_micros(col("id") * 1000000L).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val a = Tables.events(spark, dir)
    val b = Tables.events(spark, dir)
    val joined = a.join(b, a("event_id") === b("event_id"))
    assert(joined.count() == 25)
  }
}
