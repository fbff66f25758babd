package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional comma-separated query-name filter (dev-loop use; the driver
    // passes two args and gets the full surface)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String) = only.forall(_.contains(name))
    // SPARK_GRAFT_STATE_STORE=rocksdb runs the whole surface (all streaming
    // gates included) on the RocksDB provider — the 100 TB state path
    val spark = Session.local(Session.cpus())
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale/partial output for the failed query: leftovers
        // from a previous run would be validated as a PASS by the driver's
        // compare, silently masking the breakage
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir)) {
          val walk = Files.walk(dir)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
      }
      spark.catalog.clearCache() // drop per-query persists between queries
      // localCheckpoint blocks (PageRank's per-iteration ranks, the dedup
      // keep-lists) live in RDD storage, not the SQL cache — without this
      // sweep they accumulate across the 193-query loop as storage-memory
      // ballast (same rationale as Bench's per-run sweep)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
