package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is timed SPARK_GRAFT_RUNS times
  * (default 3) and the per-query MEDIAN is reported — single cold runs at
  * sub-second granularity are dominated by JIT/codegen noise. The first run
  * of each query is the cold one (codegen compile + any persist build); the
  * median therefore reflects steady state while still charging repeatable
  * per-run work. SPARK_GRAFT_ONLY=q_a,q_b restricts to a subset (dev loop).
  *
  * Every result is forced through a "noop"-sink write (the JSON's "force"
  * field). The JSON carries per-query "loads" (1-min loadavg) and
  * "ext_cpus" (OTHER processes' busy cores just before the query's first
  * run, measured from /proc/stat minus /proc/self/stat — loadavg can't tell
  * a co-tenant from our own last burst), plus "io_probe_ms" (mean 4KiB
  * write+fsync latency in the cwd) and "cpu_probe_ms" (a fixed
  * single-thread integer-mix loop — the epoch's serial CPU speed, for
  * normalizing totals across host epochs) so environment skew is
  * machine-detectable next to the numbers it would distort.
  */
object Bench {
  /** The artifact a full run writes and reads its retry priors from:
    * `bench.json` on the whole host, `bench_c<cpus>.json` when
    * SPARK_GRAFT_CPUS is below the host's cpus — a run pinned to fewer
    * cores must not overwrite the whole-host priors, nor be judged by
    * them. */
  def benchFile(cpus: Int, hostCpus: Int): String =
    if (cpus < hostCpus) s"bench_c$cpus.json" else "bench.json"

  def main(args: Array[String]): Unit = {
    val sfDir = graft.core.Knobs.string("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.1")
    val cpus = Session.cpus()
    val runs = graft.core.Knobs.int("SPARK_GRAFT_RUNS", default = 3, min = 1)
    val only = graft.core.Knobs.string("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val ownFile = benchFile(cpus, Runtime.getRuntime.availableProcessors())
    // 1-minute load average at start: timings on a co-tenant machine can
    // double with zero code change, so the JSON self-identifies busy runs
    // (compare load_before/load_after against host_cpus)
    def loadAvg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadBefore = loadAvg()
    // EXTERNAL busy cores: /proc/stat whole-host busy jiffies minus THIS
    // process's jiffies over a short sample window. Loadavg cannot separate
    // a co-tenant from the bench's own 32-thread bursts (and decays over a
    // minute — it stays high after OUR heavy query on an otherwise idle
    // host); this measures other-process CPU directly and instantaneously.
    def extBusyCores(sampleMs: Long = 250): Double = try {
      def hostBusy(): Long = {
        val f = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        // cpu user nice system idle iowait irq softirq steal ...
        val v = f.drop(1).map(_.toLong)
        v.take(8).sum - v(3) - v(4) // busy = all - idle - iowait
      }
      def selfBusy(): Long = {
        val s = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
        // utime=field14, stime=field15 (1-based), after the parenthesized comm
        val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
        rest(11).toLong + rest(12).toLong
      }
      val (h0, s0, t0) = (hostBusy(), selfBusy(), System.nanoTime())
      Thread.sleep(sampleMs)
      val (h1, s1, t1) = (hostBusy(), selfBusy(), System.nanoTime())
      val hz = 100.0 // USER_HZ; Linux userspace ABI value
      val elapsed = (t1 - t0) / 1e9
      (((h1 - h0) - (s1 - s0)).max(0L) / hz) / elapsed
    } catch { case _: Throwable => -1.0 }
    // IO-health probe: mean latency of ~100 4KiB write+fsync cycles against
    // the working directory's filesystem. Round 9 lost hours to a host-side
    // fsync degradation diagnosed by hand; recording the probe next to the
    // timings makes environment skew machine-detectable in the artifact.
    def ioProbeMs(n: Int = 100): Double = try {
      val p = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get("."), ".graft_io_probe", ".tmp")
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.WRITE)
      val buf = java.nio.ByteBuffer.allocate(4096)
      val t0 = System.nanoTime()
      (1 to n).foreach { _ =>
        buf.rewind(); ch.write(buf, 0); ch.force(true)
      }
      val dt = (System.nanoTime() - t0) / 1e6 / n
      ch.close(); java.nio.file.Files.deleteIfExists(p)
      math.rint(dt * 1000) / 1000
    } catch { case _: Throwable => -1.0 }
    val ioProbe = ioProbeMs()
    // CPU calibration probe: a fixed single-thread 64-bit mix loop (the
    // xxhash/murmur finalizer constants) over a constant iteration count —
    // pure register arithmetic, no allocation, no IO. Cross-EPOCH bench
    // totals drift ±20-30% with zero code change (hypervisor steal /
    // frequency policy, NOTES rounds 14-15), and every round re-litigated
    // whether a total moved; the probe pins the epoch's single-thread
    // speed next to the numbers it scales, so two artifacts can be
    // compared as total × (probe_ref / probe_run). Min of 3 runs — the
    // least-interrupted sample is the machine's actual speed.
    def cpuProbeMs(iters: Int = 50000000): Double = try {
      def once(): Double = {
        var h = 0x9E3779B97F4A7C15L
        val t0 = System.nanoTime()
        var i = 0
        while (i < iters) {
          h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
          h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
          h ^= i
          i += 1
        }
        val dt = (System.nanoTime() - t0) / 1e6
        // the result must escape or the JIT deletes the loop
        if (h == 42L) System.err.print("")
        dt
      }
      once() // warmup: first run pays C2 compilation of the loop itself
      val best = (1 to 3).map(_ => once()).min
      math.rint(best * 1000) / 1000
    } catch { case _: Throwable => -1.0 }
    val cpuProbe = cpuProbeMs()
    val spark = Session.local(cpus)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // untimed warmup: JIT/codegen + parquet reader init, so the first timed
    // query isn't charged for session startup
    try selected.headOption.foreach(_._2(spark, sfDir).count())
    catch { case _: Throwable => () }
    spark.catalog.clearCache()
    // same post-run sweep as timeOnce: warmup localCheckpoint blocks would
    // otherwise ride as storage-memory ballast into the first timed sample
    // of pass 1 — the exact contamination the per-run sweep exists to remove
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    // Prior-round per-query medians: the reference point for the load-retry
    // below. Two consecutive rounds shipped ambiguous numbers because
    // co-tenant load inflated a handful of queries 2-5x with zero code
    // change; a same-process re-measurement separates "machine was busy"
    // from a real regression without a human in the loop. Primary source is
    // our own `benchFile` (the previous full run's complete line, committed
    // each round); the driver-written BENCH_r*.json is a wrapper whose
    // "tail" field truncates the queries map, so it is only a fallback —
    // parsing it found ZERO priors in round 9 and the retry silently
    // no-opped on a 3.9x load artifact.
    // Priors only apply at the SAME scale factor: an sf0.1 prior compared
    // against an sf1 run would flag every query (mass retries), and a
    // larger-sf prior would mask real regressions. The prior file's "sf"
    // field must equal this run's sfDir or the file is ignored.
    def parsePriors(txt: String): Map[String, Double] = {
      val sfOk = "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt)
        .map(_.group(1)).contains(sfDir)
      if (!sfOk) Map.empty
      else {
        // A min-of-sessions certified artifact's "queries" are per-query
        // MINIMA — with 92/193 queries spreading >1.5x session-to-session
        // (r18), a fresh session would routinely exceed 2x a minimum and
        // fire mass retries (r18 driver run: 47). Such artifacts carry a
        // session-comparable "retry_prior" (per-query session MEDIAN,
        // emitted by tools/bench_min_sessions.py); prefer it when present.
        val qsect = "\"retry_prior\"\\s*:\\s*\\{([^}]*)\\}".r
          .findFirstMatchIn(txt).map(_.group(1))
          .orElse("\"queries\"\\s*:\\s*\\{([^}]*)\\}".r
            .findFirstMatchIn(txt).map(_.group(1)))
          .getOrElse("")
        "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r.findAllMatchIn(qsect)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    def readPriors(p: java.nio.file.Path): Map[String, Double] =
      try parsePriors(java.nio.file.Files.readString(p))
      catch { case _: Throwable => Map.empty }
    val prior: Map[String, Double] = {
      val own = readPriors(java.nio.file.Paths.get(ownFile))
      if (own.nonEmpty) own
      else {
        val files = Option(new java.io.File(".").listFiles(
          (_, n) => n.matches("BENCH_r\\d+\\.json"))).getOrElse(Array.empty)
        if (files.isEmpty) Map.empty
        else readPriors(files.maxBy(
          f => "\\d+".r.findFirstIn(f.getName).get.toInt).toPath)
      }
    }
    // a query that throws must NOT be timed as a success — its
    // time-to-failure would read as a performance win; failed queries are
    // reported in an "errors" map and excluded from the total
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // HOW a result is forced decides WHAT is measured. `count()` lets
    // Catalyst prune everything that cannot change the row count: final
    // projections of computed columns are dropped (a query ending in an
    // expensive SELECT — q_zorder's 32-term Morton index, q_dsir's
    // tokenize+hash+score — times only its scan), and a left join against
    // an aggregate-keyed side is ELIMINATED outright (distinct-key
    // inference), so q_dsir under count() measured reading one column of
    // documents, not DSIR. A "noop"-sink write forces every output column
    // of every output row through the full plan without paying a real
    // sink — the standard Spark benchmarking harness shape. The JSON's
    // "force" field still names it: tools/bench_min_sessions.py and the
    // scale merges check it matches across artifacts (pre-r14 artifacts
    // read "count").
    val force = "noop"
    def forceResult(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      try forceResult(fn(spark, sfDir))
      catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, Option(e.getMessage).getOrElse(e.getClass.getName))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // drop per-query persists between runs
      // localCheckpoint blocks and broadcasts are NOT in the SQL cache: in
      // a long-lived multi-query JVM they accumulate in storage memory (on
      // a large heap GC is too rare for ContextCleaner to keep up) and
      // squeeze execution memory for later queries — measured at the 100x
      // scale step as 1.5-2x inflation of heavy entries in a 19-query
      // subset run vs the same queries isolated (q_dsir 17.2s vs 10.2s,
      // runs=3 both). Drop them eagerly, then nudge the cleaner so
      // unreachable broadcast blocks go too. Runs AFTER the timing
      // capture — it costs session wall, never measured time.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // outside measured time, so the wall cost is session-only; silently a
      // no-op under -XX:+DisableExplicitGC (acceptable — the sweep above
      // already released the references, gc just accelerates reclamation)
      System.gc()
      dt
    }
    def median(ts: Seq[Double]): Double = { val s = ts.sorted; s(s.length / 2) }
    // SESSION-FLOOR CANARY (round 18): the same bytecode on the same idle
    // host measured 19.3 s and 34.7 s on a 12-query subset in back-to-back
    // JVM sessions (r17 verdict's five-session A/B) with cpu_probe_ms and
    // io_probe_ms FLAT — whatever shifts the per-session floor (scheduler
    // state, THP/NUMA layout, hypervisor phase) is invisible to the
    // existing probes, so a single session cannot certify ±40% at the
    // streaming tier. Defense: a FIXED query pair — the cheapest batch
    // query and the cheapest streaming gate (the gate is mostly
    // micro-batch scheduling floor, the exact term that drifts) — timed
    // min-of-2 at session start and session end and recorded next to the
    // numbers they qualify. A shifted floor now shows as canary readings
    // out of band vs other artifacts at the same sf; start-vs-end
    // divergence flags a MID-session shift. Certification additionally
    // takes per-query MIN across >=3 sessions (tools/bench_min_sessions
    // .py) — under one-sided floor noise the min is the honest estimate.
    val canaryNames = Seq("q1_agg", "q_streaming_stateless")
    def canaryProbe(warm: Boolean): Seq[(String, Double)] = canaryNames.flatMap { n =>
      SparkEntry.queries.get(n).map { fn =>
        def once(): Double = {
          val t0 = System.nanoTime()
          // errors swallowed to -1: a canary failure must not void the
          // query's real measurement in the main pass (timeOnce's errors
          // map is keyed by query name and excludes entries from results).
          try forceResult(fn(spark, sfDir))
          catch { case _: Throwable => return -1.0 }
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          dt
        }
        // one DISCARDED warm pass first (r18 verdict #5): the start canary
        // otherwise times first-touch JIT/parquet-reader warmup (driver
        // artifact: start 1.23 s vs end 0.26 s on a session with no real
        // floor shift) and start-vs-end divergence stops meaning anything.
        // Warmed, start≈end on a quiet session and divergence measures the
        // MID-session shift it exists to flag.
        if (warm) once()
        // a failed run must not shadow a valid one via min(-1, x) = -1
        // (r18 ADVICE): keep only successes; both-failed stays -1.
        val ok = Seq(once(), once()).filter(_ >= 0)
        n -> (if (ok.nonEmpty) ok.min else -1.0)
      }
    }
    val canaryStart = canaryProbe(warm = true)
    val loads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val exts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // ROUND-ROBIN passes over the whole query list, not runs back-to-back
    // per query: the r10 driver run read 8 queries 2-6.5x high with idle
    // probes — a host stall the probes can't see contaminates a ~10 s
    // window, and back-to-back runs put ALL of a query's samples inside
    // it, so even the median was poisoned. Interleaved, one bad window
    // touches at most one sample of many queries and the per-query median
    // shrugs it off. Pass 1 is the cold run for every query (codegen +
    // persist build), exactly as before; the ext_cpus + load snapshot is
    // per-query on pass 1 only (a 250 ms /proc sample per (pass, query)
    // would cost minutes at 155 queries).
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    for (pass <- 1 to runs; (name, fn) <- selected) {
      if (pass == 1) { exts(name) = extBusyCores(); loads(name) = loadAvg() }
      if (!errors.contains(name))
        samples(name) = samples.getOrElse(name, Nil) :+ timeOnce(name, fn)
    }
    val results = selected.map { case (name, fn) =>
      val first = median(samples.getOrElse(name, List(Double.NaN)))
      // >2x the prior round's median and no error: re-measure once
      // (back-to-back, same process) and keep the better — a
      // loaded-machine artifact vanishes on retry, a real
      // regression reproduces (and stays flagged by the retried map
      // carrying the first measurement). The threshold was 3x through
      // r10; the readings it failed to catch were 2-2.5x.
      val best = prior.get(name) match {
        case Some(p) if first > 2 * p && !errors.contains(name) =>
          retried(name) = first
          val second = median((1 to runs).map(_ => timeOnce(name, fn)))
          if (errors.contains(name)) {
            // the retry run failed where the first succeeded — a retry
            // exists to compensate for load, and load-induced transient
            // failures are exactly when it fires; keep the clean first
            // measurement instead of voiding it
            errors.remove(name)
            first
          } else math.min(first, second)
        case _ => first
      }
      name -> best
    }
    // end-of-session canary: same fixed pair, after all passes + retries —
    // start-vs-end divergence is the machine-visible signature of a
    // mid-session floor shift (the failure mode the r17 202.7 s
    // adjudication could not prove either way)
    // no warm pass at session end: everything is long since JIT-warm, and
    // an extra unmeasured execution would only add wall
    val canaryEnd = canaryProbe(warm = false)
    val ok = results.filterNot { case (k, _) => errors.contains(k) }
    // 4-decimal values: full double toString made the 127-query line ~3x
    // longer and the driver's stdout capture truncated the tail of prior
    // rounds' maps; 0.1 ms resolution loses nothing a bench at this
    // granularity can claim
    def jnum(v: Double): String =
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else f"$v%.4f"
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    val loadsJson = loads.map { case (k, v) => s"\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val extsJson = exts.map { case (k, v) => s"\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val retriedJson = retried.map { case (k, v) => s"\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    // escape ALL control chars (<0x20), not just \n\r\t: an exception
    // message carrying a raw control byte would otherwise emit invalid JSON
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\p{Cntrl}]", " ") + "\""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v.take(200))}" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val loadAfter = loadAvg()
    val cpusAvail = Runtime.getRuntime.availableProcessors()
    // harness epoch fingerprint: the r16 harness diverges from Spark
    // defaults (codegen cache 4000 vs 100, status-store retention capped,
    // per-run persist sweep) in ways proven to change heavy-query timings
    // 1.5-2x, so artifacts are only comparable WITHIN an epoch; the field
    // makes pre-/post-fix artifacts machine-distinguishable, same as
    // force/sf/runs/probes. Bump the suffix on any timing-relevant
    // harness change. v2 (round 18): warmup runs the full persist sweep
    // (44182f4 — should have bumped then) + the canary pair runs before
    // pass 1 (extra JIT/parquet warmup for two queries).
    val harness = "thrashfree-v2"
    def canaryJson(c: Seq[(String, Double)]) =
      c.map { case (k, v) => s"\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"force":"$force","harness":"$harness","load_before":$loadBefore,"load_after":$loadAfter,"host_cpus":$cpusAvail,"io_probe_ms":$ioProbe,"cpu_probe_ms":$cpuProbe,"canary_start":${canaryJson(canaryStart)},"canary_end":${canaryJson(canaryEnd)},"loads":$loadsJson,"ext_cpus":$extsJson,"retried":$retriedJson,"errors":$errJson}"""
    println(line)
    // Compact FINAL summary line (<1 KB): log-capture pipelines keep only a
    // bounded tail of stdout, and the full line above is ~10 KB at 193
    // queries — every wrapper-side parse of this program's output since
    // round 1 saw only a mid-JSON fragment of it (BENCH_r01..r19 all record
    // parsed:null). The LAST stdout line is therefore a small complete JSON
    // object carrying the total and the session-health fields; the
    // per-query map stays on the full line above and in the bench.json
    // file artifact ("queries_file"). No "queries" key here on purpose:
    // parsePriors (and any per-query consumer) must keep reading the full
    // artifact, never mistake this summary for a 0-query run.
    val benchOut = graft.core.Knobs.string("SPARK_GRAFT_BENCH_OUT")
      .getOrElse(if (only.isDefined) "bench_dev.json" else ownFile)
    val summary = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n":${ok.size},"n_errors":${errors.size},"sf":"$sfDir","runs":$runs,"force":"$force","harness":"$harness","cpu_probe_ms":$cpuProbe,"io_probe_ms":$ioProbe,"canary_start":${canaryJson(canaryStart)},"canary_end":${canaryJson(canaryEnd)},"queries_file":"$benchOut"}"""
    println(summary)
    // also land the line on disk: log-capture pipelines truncate long stdout
    // lines (BENCH_r06 lost half its per-query numbers that way); the file
    // artifact keeps every round's numbers complete regardless. Subset runs
    // (SPARK_GRAFT_ONLY) default to bench_dev.json — a dev loop must not
    // clobber the full-run artifact that seeds the next run's retry priors.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchOut), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    spark.stop()
  }
}
