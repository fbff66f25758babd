package graft.streaming

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}

import graft.{ProcessStarts, SparkSuite}
import graft.core.TempDirs

/** The checkpoint file-manager swap (StateStores.LocalFsCheckpointManager —
  * round 20) must be RESULT-INVISIBLE: the manager only changes how the
  * offset/commit metadata logs are renamed into place (File.renameTo vs a
  * FileContext rename that shells out per call on local filesystems), so
  * every stateful gate must produce identical rows under Spark's default
  * FileContext-based manager and the FileSystem-based one the graft entry
  * points use for their tmpfs checkpoints — and that choice follows the
  * checkpoint location's scheme. On `file:` the manager runs on
  * [[ForkFreeLocalFileSystem]], which must write what the stock local
  * FileSystem writes (modes, `.crc` files, checksum checks on read) and
  * start no process doing it. */
class CheckpointManagerSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private val confKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val FileContextManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  private def withManager[T](manager: String)(body: => T): T = {
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, manager)
    try body
    finally prev.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
  }

  private def rows(name: String): Seq[String] = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect().map(_.toString).sorted.toSeq
  }

  // one gate per checkpoint-traffic shape: a chained agg->join (offset +
  // commit logs + join/agg state commits per batch), a keyed typed state
  // machine, and the dropDuplicates key-set state
  for (gate <- Seq("q_streaming_join_w", "q_streaming_scan_bykey", "q_streaming_dedup")) {
    test(s"$gate produces identical results under both checkpoint managers") {
      val onFs = withManager(StateStores.LocalFsCheckpointManager) { rows(gate) }
      val onFc = withManager(FileContextManager) { rows(gate) }
      assert(onFs.nonEmpty, s"$gate returned no rows under the FileSystem manager")
      assert(onFs == onFc,
        s"$gate diverged between checkpoint managers: fs=${onFs.size} rows, " +
          s"filecontext=${onFc.size} rows")
    }
  }

  test("the session's checkpoint manager is chosen by the location's scheme") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(confKey, classOf[SchemeCheckpointFileManager].getName)
    // a second scheme, with a FileSystem and a FileContext binding
    conf.set("fs.graftck.impl", classOf[RawLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.graftck.impl", classOf[GraftCkFs].getName)
    def picked(p: String): CheckpointFileManager =
      CheckpointFileManager.create(new Path(p), conf) match {
        case m: SchemeCheckpointFileManager => m.delegate
        case other => fail(s"the configured manager was not used: ${other.getClass.getName}")
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-scheme").toString
    assert(picked(s"file://$dir").getClass.getName == StateStores.LocalFsCheckpointManager)
    assert(picked(dir).getClass.getName == StateStores.LocalFsCheckpointManager)
    // any other scheme gets what Spark picks with no manager configured
    val sparkDefault = new Configuration(conf)
    sparkDefault.unset(confKey)
    val other = s"graftck://$dir"
    assert(picked(other).getClass == CheckpointFileManager.create(new Path(other), sparkDefault).getClass)
    assert(picked(other).getClass.getName == FileContextManager)
  }

  /** A conf that resolves every checkpoint location through
    * [[SchemeCheckpointFileManager]]. */
  private def schemeConf(extra: (String, String)*): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(confKey, classOf[SchemeCheckpointFileManager].getName)
    extra.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  private def mode(p: JPath): Set[PosixFilePermission] =
    Files.getPosixFilePermissions(p).asScala.toSet

  /** What `file:` resolved to before the session named its FileSystem:
    * a new instance built from a copy of `conf` with `fs.file.impl` unset
    * (Hive's ProxyLocalFileSystem when hive-exec is on the classpath). */
  private def stockFs(conf: Configuration): FileSystem = {
    val c = new Configuration(conf)
    c.unset(StateStores.LocalFsKey)
    val fs = FileSystem.newInstance(URI.create("file:///"), c)
    assert(fs.isInstanceOf[LocalFileSystem] && !fs.isInstanceOf[ForkFreeLocalFileSystem])
    fs
  }

  /** The confs of the two umask cases. The cached `file:` FileSystem was
    * built from the session's conf and ignores a later one, as the Hadoop
    * FileSystem cache always does; so the non-default umask case bypasses
    * the cache for the conf under test to reach the FileSystem at all. */
  private val umasks: Seq[(Option[String], Seq[(String, String)])] = Seq(
    None -> Nil,
    Some("077") -> Seq("fs.permissions.umask-mode" -> "077", "fs.file.impl.disable.cache" -> "true"))

  test("file: checkpoint files and directories get the stock local FileSystem's modes and .crc files") {
    for ((umask, extra) <- umasks) {
      val conf = schemeConf(extra: _*)
      val dir = TempDirs.create("graft_ckpt_mode_")
      val stock = stockFs(conf)
      try {
        val manager = CheckpointFileManager.create(new Path(dir.toUri), conf)
        manager.mkdirs(new Path(s"$dir/ckpt/a/b"))
        val viaManager = manager.createAtomic(new Path(s"$dir/ckpt/a/b/f"), false)
        viaManager.write("v1\n{}".getBytes)
        viaManager.close()
        stock.mkdirs(new Path(s"$dir/stock/a/b"), FsPermission.getDirDefault)
        val viaStock = stock.create(new Path(s"$dir/stock/a/b/f"), true)
        viaStock.write("v1\n{}".getBytes)
        viaStock.close()
        for (rel <- Seq("a", "a/b", "a/b/f", "a/b/.f.crc")) {
          val (got, want) = (dir.resolve(s"ckpt/$rel"), dir.resolve(s"stock/$rel"))
          assert(Files.exists(got), s"umask=$umask: $rel was not written")
          assert(mode(got) == mode(want), s"umask=$umask: $rel")
        }
      } finally stock.close()
    }
  }

  /** Every path under `root`, relative, with the write's job UUID masked. */
  private def tree(root: JPath): Map[String, Set[PosixFilePermission]] =
    Using.resource(Files.walk(root))(_.iterator.asScala.toSeq).map { p =>
      root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") -> mode(p)
    }.toMap

  test("a parquet write on the session's file: FileSystem gets the stock one's files, modes and .crc files") {
    for ((umask, extra) <- umasks) {
      val dir = TempDirs.create("graft_parquet_mode_")
      val stockClass = Using.resource(stockFs(schemeConf()))(_.getClass.getName)
      def write(sub: String, opts: Seq[(String, String)]): Unit =
        spark.range(0, 100).repartition(2).write.options(opts.toMap).parquet(s"$dir/$sub")
      write("session", extra)
      write("stock", extra ++ Seq(StateStores.LocalFsKey -> stockClass,
        "fs.file.impl.disable.cache" -> "true"))
      val (got, want) = (tree(dir.resolve("session")), tree(dir.resolve("stock")))
      assert(got.keySet == want.keySet, s"umask=$umask")
      assert(got.keySet.exists(_.matches("\\.part-.*\\.parquet\\.crc")) && got.contains("._SUCCESS.crc"),
        s"umask=$umask: ${got.keySet}")
      for (rel <- want.keySet) assert(got(rel) == want(rel), s"umask=$umask: $rel")
    }
  }

  test("an overwriting createAtomic on file: replaces the file and leaves no temp file") {
    val dir = TempDirs.create("graft_ckpt_overwrite_")
    val manager = CheckpointFileManager.create(new Path(dir.toUri), schemeConf())
    for (v <- Seq("first", "second")) {
      val out = manager.createAtomic(new Path(s"$dir/1.delta"), true)
      out.write(v.getBytes)
      out.close()
    }
    assert(Using.resource(manager.open(new Path(s"$dir/1.delta")))(in => new String(in.readAllBytes())) == "second")
    assert(Using.resource(Files.list(dir))(_.iterator.asScala.map(_.getFileName.toString).toSet) ==
      Set("1.delta", ".1.delta.crc"))
  }

  /** Three parquet files of 100 rows each, replayed one file per
    * micro-batch. */
  private lazy val srcDir: String = {
    val d = TempDirs.create("graft_ckpt_src_").resolve("data").toString
    spark.range(0, 300).selectExpr("id", "id % 7 AS k").repartition(3).write.parquet(d)
    d
  }
  private def counts(): DataFrame =
    spark.readStream.schema("id BIGINT, k BIGINT").option("maxFilesPerTrigger", 1)
      .parquet(srcDir).groupBy("k").count()

  test("a flipped byte in an offsets-log file fails its checksum on read through the manager") {
    val dir = TempDirs.create("graft_ckpt_crc_").toAbsolutePath
    Gate.run(counts(), OutputMode.Complete, dir, statePartitions = 1) { (b, _) =>
      b.write.format("noop").mode("overwrite").save()
    }
    val log = dir.resolve("ckpt/offsets/0")
    assert(Files.exists(dir.resolve("ckpt/offsets/.0.crc")))
    Using.resource(new RandomAccessFile(log.toFile, "rw")) { f =>
      val b = f.readByte()
      f.seek(0)
      f.writeByte(b ^ 1)
    }
    val manager = CheckpointFileManager.create(new Path(s"file://$dir/ckpt/offsets"), schemeConf())
    intercept[ChecksumException] {
      Using.resource(manager.open(new Path(log.toUri)))(_.readAllBytes())
    }
  }

  test("file: checkpoint I/O starts no chmod process") {
    srcDir // written before recording, so only the checkpoint I/O is recorded
    val dir = TempDirs.create("graft_ckpt_nofork_").toAbsolutePath
    val starts = ProcessStarts.during {
      val manager = CheckpointFileManager.create(new Path(s"file://$dir/direct"), schemeConf())
      for (i <- 0 until 10) {
        manager.mkdirs(new Path(s"file://$dir/direct/d$i"))
        val out = manager.createAtomic(new Path(s"file://$dir/direct/d$i/f"), false)
        out.write(i)
        out.close()
      }
      // a stateful gate that fails after batch 1 and restarts from its checkpoint
      @volatile var injected = false
      intercept[StreamingQueryException] {
        Gate.run(counts(), OutputMode.Complete, dir, statePartitions = 2) { (b, batchId) =>
          b.write.format("noop").mode("overwrite").save()
          if (batchId == 1 && !injected) {
            injected = true
            throw new IllegalStateException("injected failure after batch 1")
          }
        }
      }
      var batches = Set.empty[Long]
      Gate.run(counts(), OutputMode.Complete, dir, statePartitions = 2) { (b, batchId) =>
        b.write.format("noop").mode("overwrite").save()
        batches += batchId
      }
      assert(injected && batches == Set(1L, 2L))
    }
    val chmods = starts.filter(_.contains("org.apache.hadoop.fs.RawLocalFileSystem.setPermission"))
    assert(chmods.isEmpty,
      s"${chmods.size} of ${starts.size} process starts under setPermission; first: " +
        chmods.headOption.fold("")(_.take(16).mkString(" <- ")))
  }
}

/** The `graftck:` scheme's FileContext binding: the local filesystem. */
class GraftCkFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf, "graftck", false)
