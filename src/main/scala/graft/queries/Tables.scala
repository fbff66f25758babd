package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet testdata (see TESTDATA.md). */
object Tables {

  /** Read `$sfDir/$name.parquet` with a schema inferred once per file
    * version. A bare `spark.read.parquet` runs a one-task Spark job to read
    * the footers on EVERY call; a catalogue query reading four tables paid
    * four of them before it ran. Here the inferred schema is kept in a
    * process-wide cache and later reads pass it to `spark.read.schema`.
    *
    * The cache key is the qualified path, the (path, length, modification
    * time) of every leaf file under it, and the session values of the confs
    * parquet inference reads ([[InferenceConfs]]): rewriting the table or
    * flipping one of those confs infers again. The cache holds only
    * `StructType`s, one per path. Each call still builds a fresh relation,
    * with its own file listing and fresh attribute ids, so two calls can be
    * self-joined and no relation keeps a session alive. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  private final case class SchemaVersion(files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  // qualified path -> (the version the schema was inferred at, the schema)
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SchemaVersion, StructType)]()

  /** The parquet schema `spark.read.parquet(path)` would infer, from the
    * cache when the path's files and the inference confs are unchanged. A
    * path with no files is not cached: Spark's own read reports it. */
  private def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      try leafFiles(fs, p).sorted
      catch { case _: java.io.FileNotFoundException => Nil }
    if (files.isEmpty) spark.read.parquet(path).schema
    else {
      val key = fs.makeQualified(p).toString
      val version = SchemaVersion(files, InferenceConfs.map(spark.conf.getOption))
      val hit = schemaCache.get(key)
      if (hit != null && hit._1 == version) hit._2
      else {
        val schema = spark.read.parquet(path).schema
        schemaCache.put(key, (version, schema))
        schema
      }
    }
  }

  /** (path, length, modification time) of every file under `p`, walked
    * with `listStatus`. `listFiles` would yield `LocatedFileStatus`es, whose
    * constructor loads each file's permissions: without native Hadoop that
    * is one `ls -ld` child process per file per read. */
  private def leafFiles(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) leafFiles(fs, f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }

  /** `events.ts` has shipped in two physical parquet encodings across
    * driver rounds, and every downstream operator (watermarks above all —
    * `EventTimeWatermark` rejects TIMESTAMP_NTZ) expects one logical type,
    * TimestampType (LTZ). Normalize both:
    *
    *  - TIMESTAMP(NANOS): Spark 4 refuses to map it to TimestampType; read
    *    as raw long nanos (`spark.sql.legacy.parquet.nanosAsLong`) and
    *    convert with integer `div` (a double division would lose precision
    *    at 1e18 ns magnitudes). The testdata is µs-aligned so no
    *    truncation.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ; cast to TimestampType. Every session entry point
    *    (Verify/Bench/SparkSuite) pins `spark.sql.session.timeZone=UTC`,
    *    so the cast reinterprets the stored µs value identically — the
    *    same instants the NANOS encoding produced. */
  private def normalizeTs(tsType: DataType)(df: DataFrame): DataFrame = tsType match {
    case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType =>
      // the cast reinterprets wall-clock in the SESSION timezone; it yields
      // the stored instants only under UTC — fail loudly rather than let a
      // misconfigured session silently shift every timestamp
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"events.ts is TIMESTAMP_NTZ: the cast to TimestampType requires " +
        s"spark.sql.session.timeZone=UTC (got '$tz') — every graft entry point pins it")
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _                => df
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    normalizeTs(raw.schema("ts").dataType)(raw)
  }
  // one symlink dir + schema read per (sfDir), reused across calls — a
  // table accessor must not create a fresh temp dir / batch scan / conf
  // mutation per invocation (the bench calls it 3+ times per round)
  private val streamEventsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, StructType)]()

  /** The events table replayed through Structured Streaming: `readStream`
    * over the same parquet with the batch read's schema (and the same
    * `ts` normalization as [[events]]) — the finite-replay twin of a live
    * stream, used by the driver-gated streaming queries. The symlink
    * source dir and schema are cached per `sfDir`; the dir is reaped at
    * JVM exit. */
  def streamEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val (dir, schema) = streamEventsCache.computeIfAbsent(sfDir, { _ =>
      // nanosAsLong must be set before BOTH the schema read and any stream
      // start; it is never unset, so setting it once per sfDir suffices
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val path = s"$sfDir/events.parquet"
      // FileStreamSource requires a DIRECTORY to monitor; the testdata
      // table is a single parquet file, so expose it through a dir of
      // symlinks (zero copy — a live deployment points this at its real
      // landing dir)
      val d = graft.core.TempDirs.create("graft_events_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("events.parquet"), java.nio.file.Paths.get(path))
      (d.toString, parquetSchema(spark, path))
    })
    val raw = spark.readStream.schema(schema).parquet(dir)
    normalizeTs(schema("ts").dataType)(raw)
  }

  private val chunkedCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, StructType)]()

  /** The events table split into (at most) `nChunks` time-contiguous
    * parquet files with strictly increasing mtimes, replayed with
    * `maxFilesPerTrigger=1` so Structured Streaming consumes them as
    * separate micro-batches in event-time order — a rate-limited replay.
    * A single-file source collapses to ONE micro-batch, which never
    * exercises cross-batch state carry in the stateful lowerings; this
    * source does (the driver-gated `q_streaming_choptime` closes windows
    * whose events span chunk files). Chunk boundaries come from ts
    * quantiles, so chunks are time-contiguous: a later file never carries
    * an earlier event than a prior file, the contract a replayed ordered
    * stream must keep. Built once per `sfDir` (cached; dir reaped at JVM
    * exit).
    *
    * Default nChunks = 2, the MINIMUM that exercises cross-batch carry
    * (one boundary every stateful operator's state must survive; the
    * flush-sentinel variant appends a third batch). It was 4 through
    * round 15: the extra boundaries re-proved the same carry property
    * while each extra micro-batch charged every streaming gate ~200 ms
    * of fixed trigger overhead (offset WAL + commit log + source listing
    * + re-planning — measured from each trigger's `durationMs`, constant on
    * tmpfs checkpoints, so it is framework floor, not IO). At 38 gates x
    * 3 bench runs that duplication was ~25% of the streaming tier's
    * wall. ChunkReplaySpec pins the >= 2 data-micro-batch contract so
    * the default can never silently collapse to a single batch. */
  def streamEventsChunked(spark: SparkSession, sfDir: String, nChunks: Int = 2): DataFrame = {
    val (dir, schema) = chunkedEventsDir(spark, sfDir, nChunks)
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
  }

  private def chunkedEventsDir(spark: SparkSession, sfDir: String,
      nChunks: Int): (String, StructType) =
    chunkedCache.computeIfAbsent(s"$sfDir#$nChunks", { _ =>
      writeChunkedReplay(events(spark, sfDir), unix_micros(col("ts")), nChunks,
        "graft_events_chunks_")
    })

  private val flushChunkedCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, StructType)]()

  /** [[streamEventsChunked]] plus a FLUSH SENTINEL: a final single-event
    * micro-batch stamped 1 hour past max(ts) with `event_id = -1`. A
    * stateful lowering that withholds its trailing still-growable window
    * (the generic window fallback, the recognized window forms) then
    * closes every REAL event's window — only the sentinel's stays
    * pending — so a finite-replay gate's oracle needs no "drop the last
    * event" exclusion at all. That exclusion was the fragile part: with
    * ties at max(ts) (e.g. the isomorphic-copy scale datasets) "the last
    * event" is the orderKey/StableHash tiebreak winner, which no
    * engine-portable SQL can name. The sentinel makes the gate tie-proof
    * instead. Chunk files are symlinks into the base replay dir (zero
    * copy; FileStreamSource follows link mtimes), the sentinel file's
    * mtime is set after all of them. */
  def streamEventsChunkedWithFlush(spark: SparkSession, sfDir: String,
      nChunks: Int = 2): DataFrame = {
    val (dir, schema) = flushChunkedCache.computeIfAbsent(s"$sfDir#$nChunks", { _ =>
      val (baseDir, sch) = chunkedEventsDir(spark, sfDir, nChunks)
      val d = graft.core.TempDirs.create("graft_events_flush_")
      val basePath = java.nio.file.Paths.get(baseDir)
      // Files.list holds a directory handle until the Stream closes —
      // drain it inside try/finally or each cache entry leaks one
      val listing = java.nio.file.Files.list(basePath)
      val chunkFiles =
        try listing.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
        finally listing.close()
      var maxMtime = 0L
      chunkFiles.foreach { p =>
        java.nio.file.Files.createSymbolicLink(d.resolve(p.getFileName), p)
        maxMtime = math.max(maxMtime, java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }
      val ev = events(spark, sfDir)
      val maxRow = ev.agg(max(unix_micros(col("ts")))).head
      if (maxRow.isNullAt(0))
        throw new IllegalArgumentException(
          s"streamEventsChunkedWithFlush: events table at $sfDir is empty — " +
            "the flush sentinel is stamped 1h past max(ts), which does not " +
            "exist; replay an empty stream with streamEventsChunked instead")
      val maxUs = maxRow.getLong(0)
      val sentinel = ev.limit(1)
        .withColumn("event_id", lit(-1L))
        .withColumn("ts", timestamp_micros(lit(maxUs + 3600L * 1000000L)))
        .withColumn("value", lit(0.0))
        .withColumn("props", lit("""{"k": 0}"""))
      val sub = graft.core.TempDirs.create("graft_flush_build_")
      sentinel.coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val target = d.resolve("chunk-99-flush.parquet")
      java.nio.file.Files.move(findPartFile(sub), target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(maxMtime + 10000L))
      (d.toString, sch)
    })
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
  }

  private val docsChunkedCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, StructType)]()

  /** The documents table split into (at most) `nChunks` doc_id-contiguous
    * parquet files with strictly increasing mtimes, replayed with
    * `maxFilesPerTrigger=1` — the corpus arriving incrementally, as a
    * crawl or ingest feed would deliver it. The documents analog of
    * [[streamEventsChunked]] (same mtime-ordering and caching contract),
    * used by gates that must prove a summary/state merges correctly
    * across micro-batch increments rather than in one big batch. */
  def streamDocsChunked(spark: SparkSession, sfDir: String, nChunks: Int = 2): DataFrame = {
    val (dir, schema) = docsChunkedCache.computeIfAbsent(s"$sfDir#$nChunks", { _ =>
      writeChunkedReplay(table(spark, sfDir, "documents"), col("doc_id"), nChunks,
        "graft_docs_chunks_")
    })
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
  }

  /** Locate the single part file of a `coalesce(1)` parquet write.
    * `Files.list` returns a Stream holding an open directory fd — close
    * it deterministically (the unclosed form leaked one fd per chunk). */
  private def findPartFile(sub: java.nio.file.Path): java.nio.file.Path =
    scala.util.Using.resource(java.nio.file.Files.list(sub)) { st =>
      st.iterator().asScala
        .find { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }
        .getOrElse(throw new IllegalStateException(s"no part file written under $sub"))
    }

  /** Write `df` as (at most) `nChunks` parquet files, contiguous in the
    * long-valued `key` (cut at its approximate quantiles), with strictly
    * increasing mtimes under a fresh temp dir — the raw material for a
    * `maxFilesPerTrigger=1` micro-batch replay (mtime drives
    * FileStreamSource order; 10 s apart so no filesystem granularity can
    * tie two chunks). The key is cut on as a temporary column and not
    * written. Shared by [[streamEventsChunked]], [[streamDocsChunked]] and
    * gates that replay a DERIVED frame (e.g. a CDC changeset)
    * incrementally. */
  private[queries] def writeChunkedReplay(df: DataFrame, key: Column, nChunks: Int,
      prefix: String): (String, StructType) = {
    val keyed = df.withColumn("__key", key)
    val cuts = keyed.stat
      .approxQuantile("__key", (1 until nChunks).map(_.toDouble / nChunks).toArray, 0.001)
      .map(_.toLong).distinct.sorted
    val bounds = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
    val d = graft.core.TempDirs.create(prefix)
    val base = System.currentTimeMillis() - 3600000L
    bounds.zipWithIndex.foreach { case ((lo, hi), i) =>
      val sub = graft.core.TempDirs.create("graft_chunk_build_")
      keyed.filter(col("__key") >= lo && col("__key") < hi).drop("__key")
        .coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val part = findPartFile(sub)
      val target = d.resolve(f"chunk-$i%02d.parquet")
      java.nio.file.Files.move(part, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 10000L))
    }
    (d.toString, df.schema)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Repartition an under-parallel scan up to the session's default
    * parallelism — the prerequisite for CPU-bound per-row work over a
    * small-file table. A compact parquet file under
    * `spark.sql.files.maxPartitionBytes` arrives as ONE scan partition
    * (row-group bounds cap splitting even below that), so a per-document
    * map — tokenize, hash, score, redact — runs single-threaded no
    * matter how many cores the session has; the 26× scale sweep read the
    * per-doc text queries 16-46× BECAUSE of this, not their arithmetic.
    * The repartition is a narrow round-robin shuffle of the raw rows,
    * paid once and amortized by the parallel map. No-op when the scan
    * already splits — at real scale (many files / large row groups) this
    * does nothing, exactly as a 1000-executor plan wants. */
  def widen(df: DataFrame): DataFrame = graft.core.Scans.widen(df)
}
