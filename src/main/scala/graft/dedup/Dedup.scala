package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Relational.roundp
import graft.text.TextAnalysis

/** Deduplication suite for training-data pipelines: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All formulated as shuffle-lean DataFrame plans:
  * exact dedup is one hash aggregate; the near-dup variants explode to
  * (doc, feature) pairs, prune high-frequency features (the skew guard —
  * a feature shared by k docs produces k² candidate pairs), and bucket-join
  * so the candidate set, not the n² pair space, is materialized.
  */
object Dedup {

  // Intermediates persisted by the candidate-pair builders below go through
  // the library-wide registry (shared with the similarity builders) so
  // callers can release them — see graft.core.CacheRegistry for the
  // caching contract.
  private def track(df: DataFrame): DataFrame = graft.core.CacheRegistry.track(df)

  /** Unpersist every intermediate DataFrame the dedup/similarity builders
    * have cached ([[graft.core.CacheRegistry.unpersistAll]]). Call after
    * the actions consuming a builder's result have run. */
  def unpersistAll(blocking: Boolean = false): Unit =
    graft.core.CacheRegistry.unpersistAll(blocking)

  /** Spread the corpus across the cluster before CPU-bound per-document work
    * (tokenize → shingle → hash runs interpreted, ~µs per shingle) — but ONLY
    * when the scan under-splits (a small file arrives as fewer partitions
    * than cores). At real scale the parquet scan is already split into
    * thousands of tasks and this is a no-op — no shuffle is added. */
  private def widen(df: DataFrame): DataFrame = graft.core.Scans.widen(df)

  /** Exact duplicate groups by content hash: one hash aggregate, map-side
    * combined; the canonical keeper is the minimum id. */
  def exactDupGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles of `text` as an array column (empty when
    * the doc has fewer than n tokens). */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Distinct word n-gram shingles hashed to 64-bit keys (`array<bigint>`).
    * Every downstream shuffle (document-frequency count, prune, candidate
    * self-join, minhash explode) then moves 8-byte longs instead of shingle
    * strings — the key lever that keeps those shuffles cheap at corpus
    * scale. Collisions only matter if two distinct shingles collide within
    * the df-pruned universe: with 64-bit keys that is ~k²/2⁶⁵ for k distinct
    * shingles — negligible far past 10⁹ shingles. Implemented as a native
    * codegen'd kernel ([[graft.functions.ShingleHash64]]) — one JVM loop
    * per document instead of an interpreted HOF per shingle. */
  def wordNgramHashes(text: Column, n: Int): Column =
    graft.functions.ShingleHash64(TextAnalysis.tokens(text), n)

  /** Candidate near-duplicate pairs by exact n-gram Jaccard, with
    * document-frequency pruning: only shingles appearing in ≤ maxDf docs are
    * used as join keys AND as the similarity universe (so the measure is
    * Jaccard over the df-pruned shingle sets — identical on the oracle side).
    * Pruning bounds the self-join fan-out: a shingle with df=k contributes
    * k(k-1)/2 pairs, so maxDf caps per-key blow-up — the skew guard that
    * keeps this plan alive at 100 TB. Output: (id_a, id_b, n_common, n_a,
    * n_b, jaccard) for pairs with jaccard ≥ minJaccard, id_a < id_b. */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
                        n: Int, maxDf: Int, minJaccard: Double): DataFrame = {
    // Shingles travel as 64-bit hashes: the shuffles below move (long, long)
    // rows, not strings. The measure stays Jaccard over the df-pruned
    // shingle sets (hashing is a bijection modulo ~2⁻⁶⁵ collisions), so a
    // string-based oracle reproduces it exactly.
    val shingled = widen(df).select(id.as("doc_id"), explode(wordNgramHashes(text, n)).as("h"))
    // Document-frequency prune as ONE pass: window count over the shingle
    // key (shingles are distinct within a doc, so count(*) per h = df).
    // This shuffles the shingled set once — no separate df-aggregate +
    // re-join of the full set — and the interpreted shingling HOF runs once.
    val pruned = track(shingled
      .withColumn("df", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("df") <= maxDf)
      .drop("df"))
    // pruned (persisted) feeds the per-doc sizes and BOTH sides of the
    // self-join — at cluster scale it is the natural checkpoint.
    val docSizes = pruned.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    // shingle self-join for candidate pairs: measured FASTER than
    // generating i<j combinations inside a collect_list group (nested
    // higher-order slice/transform evaluates interpreted with O(df²)
    // array copies per shingle — 2× slower end to end).
    val a = pruned.select(col("h"), col("doc_id").as("id_a"))
    val b = pruned.select(col("h"), col("doc_id").as("id_b"))
    val common = a.join(b, "h")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(docSizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_shingles", "n_a"), "id_a")
      .join(docSizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_shingles", "n_b"), "id_b")
      .withColumn("jaccard",
        roundp(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** MinHash signatures: numPerms independent permutations approximated by
    * seeded xxhash64 over the shingle set; signature k = min over shingles
    * of hash_k(shingle). One explode + one grouped aggregate (numPerms
    * codegen'd `min`s, map-side combined — the per-doc partial collapses to
    * numPerms longs before the shuffle). Each shingle is first collapsed to
    * a 64-bit key, so the numPerms permutation hashes each digest 12 fixed
    * bytes instead of re-hashing the shingle string numPerms times. A
    * per-row nested-higher-order formulation was measured 16× SLOWER here:
    * HOF lambdas evaluate interpreted and re-evaluate the shingling per
    * permutation. */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
                        n: Int, numPerms: Int): DataFrame = {
    val shingled = widen(df).select(id.as("doc_id"), explode(wordNgramHashes(text, n)).as("h"))
    val mins = (0 until numPerms).map(k => min(xxhash64(lit(k), col("h"))).as(s"h$k"))
    shingled.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numPerms).map(k => col(s"h$k")): _*).as("signature"))
  }

  /** [[minhashSignatures]] over the PORTABLE universal-hash family
    * ([[graft.functions.PortableHash]]): shingles stay strings, hashed by
    * the polynomial-mod-P map, permuted by Lehmer affine maps — every step
    * exact integer arithmetic a SQL oracle replays bit-for-bit. The
    * xxhash64 form remains the production default (better mixing, native
    * kernel); this variant exists so the WHOLE minhash→banding→candidates
    * pipeline can be value-checked by an independent engine, leaving only
    * the hash family choice itself outside the gate. */
  def minhashSignaturesPortable(df: DataFrame, id: Column, text: Column,
                                n: Int, numPerms: Int): DataFrame = {
    import graft.functions.PortableHash
    val shingled = widen(df)
      .select(id.as("doc_id"), explode(wordNgrams(text, n)).as("s"))
      .withColumn("h", PortableHash.polyHash(col("s")))
    val mins = (0 until numPerms).map(j =>
      min(PortableHash.perm(col("h"), j, numPerms)).as(s"h$j"))
    shingled.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerms).map(j => col(s"h$j")): _*).as("signature"))
  }

  /** LSH banding joined on the RAW band tuples (no band hash at all):
    * candidates share a band iff the band's signature slots are equal —
    * the hash-free formulation an oracle can replay exactly, and the same
    * (band_idx, slots) equi-join shuffle shape as [[minhashLshCandidates]]
    * (Spark hashes the struct key internally for partitioning; that hash
    * never reaches the results). */
  def minhashBandCandidatesExact(signatures: DataFrame, numPerms: Int,
                                 rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1 && numPerms >= rowsPerBand && numPerms % rowsPerBand == 0,
      s"banding must tile the signature exactly: numPerms=$numPerms rowsPerBand=$rowsPerBand")
    val numBands = numPerms / rowsPerBand
    val sigs = track(signatures)
    def bandSlots(b: Int): Column = struct((0 until rowsPerBand).map(r =>
      element_at(col("signature"), b * rowsPerBand + r + 1).as(s"s$r")): _*)
    val banded = sigs.select(
      col("doc_id"),
      posexplode(array((0 until numBands).map(bandSlots): _*))
        .as(Seq("band_idx", "band")))
    val l = banded.select(col("band_idx"), col("band"), col("doc_id").as("id_a"))
    val r = banded.select(col("band_idx"), col("band"), col("doc_id").as("id_b"))
    l.join(r, Seq("band_idx", "band"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** SimHash over the portable family: per token occurrence, `bits`
    * independent universal bits (the j-th affine permutation's parity);
    * each bit votes ±1, the fingerprint sets bits whose tally is positive
    * (ties → 0). Same shape as the production [[simhash]] (one aggregate
    * over exploded tokens — map-side combined votes), but every vote is
    * exact integer arithmetic an oracle replays, value-for-value. */
  def simhashPortable(df: DataFrame, id: Column, text: Column, bits: Int = 32): DataFrame = {
    import graft.functions.PortableHash
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62] (got $bits)")
    val toks = widen(df)
      .select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
      .withColumn("h", PortableHash.polyHash(col("t")))
    val votes = (0 until bits).map(b =>
      sum(when(pmod(PortableHash.perm(col("h"), b, bits), lit(2)) === 1, 1L).otherwise(-1L))
        .as(s"v$b"))
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /** SimHash near-duplicate PAIRS (Manku, Jain & Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW 2007): band each fingerprint
    * into `maxHamming + 1` bit-blocks — two fingerprints within Hamming
    * distance `maxHamming` must agree EXACTLY on at least one block
    * (pigeonhole), so a per-block equi-join surfaces every such pair with
    * recall 1.0, and an exact XOR-popcount verify drops false positives.
    *
    * Input: (doc_id, simhash) rows from [[simhash]]/[[simhashPortable]].
    * Scale shape: block-bucket equi-joins (shuffle on (block, value), no
    * n² scan). Bucket sizes are n/2^blockWidth per block — with 64-bit
    * production fingerprints the 16-bit blocks keep buckets tiny; the
    * 32-bit portable form's 8-bit blocks are coarser (more verify work),
    * the price of oracle-replayable fingerprints. */
  def simhashNearDupPairs(fps: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 1
    require(maxHamming >= 1 && bits % blocks == 0,
      s"need maxHamming >= 1 and (maxHamming + 1) | bits so blocks tile the " +
        s"fingerprint exactly (got bits=$bits, maxHamming=$maxHamming)")
    val w = bits / blocks
    val mask = (1L << w) - 1
    val withBlocks = fps.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until blocks).map(i =>
        shiftright(col("simhash"), i * w).bitwiseAND(lit(mask))): _*))
        .as(Seq("b", "bv")))
    val a = withBlocks.select(col("b"), col("bv"),
      col("doc_id").as("id_a"), col("simhash").as("ha"))
    val c = withBlocks.select(col("b"), col("bv"),
      col("doc_id").as("id_b"), col("simhash").as("hb"))
    a.join(c, Seq("b", "bv"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b") // a pair may agree on several blocks
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** LSH banding over MinHash signatures: split the signature into bands of
    * `rowsPerBand`, hash each band, and emit candidate pairs that share at
    * least one band bucket. Two docs with Jaccard s collide in a band with
    * probability s^rowsPerBand — the standard S-curve. The band join is an
    * equi-join on (band_idx, band_hash): shuffle-partitioned, no n² scan. */
  def minhashLshCandidates(signatures: DataFrame, numPerms: Int, rowsPerBand: Int): DataFrame = {
    // non-divisible banding would silently DROP the remainder permutations
    // (computed, shuffled, then never read); rowsPerBand > numPerms would
    // yield zero bands and report "no duplicates" — fail loudly instead
    require(rowsPerBand >= 1 && numPerms >= rowsPerBand && numPerms % rowsPerBand == 0,
      s"banding must tile the signature exactly: numPerms=$numPerms rowsPerBand=$rowsPerBand")
    val numBands = numPerms / rowsPerBand
    // Materialize signatures ONCE before banding: the banding expression
    // references the signature array numBands×rowsPerBand times, and
    // Catalyst's projection collapse would otherwise inline (and so
    // recompute) the whole minhash aggregate at every reference. The banded
    // explosion itself is NOT persisted — re-deriving it from the cached
    // signature rows for each side of the bucket self-join is a cheap
    // codegen'd projection, half the cached footprint.
    val sigs = track(signatures)
    val banded = minhashBands(sigs, numPerms, rowsPerBand)
    val l = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_a"))
    val r = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_b"))
    l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Signature rows → one (doc_id, band_idx, band_hash) row per band.
    * Band hash = one multi-arg xxhash64 over (band index, the band's
    * signature slots) — static codegen'd columns, no interpreted
    * transform(sequence(...)) lambda, no string concat. Factored out so
    * the streaming ingest path can index ARRIVING docs' bands against an
    * accumulated band table with the identical hash. */
  def minhashBands(signatures: DataFrame, numPerms: Int, rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1 && numPerms >= rowsPerBand && numPerms % rowsPerBand == 0,
      s"banding must tile the signature exactly: numPerms=$numPerms rowsPerBand=$rowsPerBand")
    val numBands = numPerms / rowsPerBand
    def bandHash(b: Int): Column =
      xxhash64((lit(b) +: (0 until rowsPerBand).map(r =>
        element_at(col("signature"), b * rowsPerBand + r + 1))): _*)
    signatures.select(
      col("doc_id"),
      posexplode(array((0 until numBands).map(bandHash): _*))
        .as(Seq("band_idx", "band_hash")))
  }

  /** 64-bit SimHash over the token multiset: per token a 64-bit hash votes
    * ±1 on each bit position; the fingerprint sets bit b iff the sum of
    * votes is positive. No explode, no shuffle — a pure map over the
    * corpus scan at any scale, computed by the native codegen'd
    * [[graft.functions.SimHash64]] kernel (one pass accumulating all 64
    * vote counters; the composed-HOF form below walks the array 64 times
    * INTERPRETED and is kept as the agreement-spec reference). */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
      graft.functions.SimHash64(TextAnalysis.tokens(text)).as("simhash"))

  /** Composed-builtin SimHash (interpreted; spec reference for the kernel). */
  def simhashHof(df: DataFrame, id: Column, text: Column): DataFrame = {
    val hashes = transform(TextAnalysis.tokens(text), t => xxhash64(t))
    // dynamic bit tests via a powers-of-two literal (shiftleft/shiftright
    // only take static shifts): bit b of h ⟺ (h & 2^b) ≠ 0
    val pow2 = array((0 until 64).map(i => lit(1L << i)): _*)
    val fp = aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, b) => {
        val mask = element_at(pow2, b.cast("int") + 1)
        val votes = aggregate(col("__hs"), lit(0),
          (vacc, h) => vacc + when(h.bitwiseAND(mask) =!= 0, 1).otherwise(-1))
        acc.bitwiseOR(when(votes > 0, mask).otherwise(lit(0L)))
      })
    df.select(id.as("doc_id"), hashes.as("__hs"))
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** Connected components over a candidate-pair edge list — the stage that
    * turns near-duplicate PAIRS into duplicate GROUPS (one keeper per
    * group = the component's minimum id).
    *
    * Size-gated hybrid, which is how production dedup pipelines actually
    * run this stage: the candidate-pair set is orders of magnitude smaller
    * than the corpus (it IS the point of LSH/df-pruning), so when it fits
    * comfortably on the driver (≤ `driverMaxPairs` long pairs — the
    * default 2M is ~32 MB), union-find finishes in milliseconds where an
    * iterative distributed loop pays seconds of per-round scheduling for
    * the same answer. Larger pair sets (or non-long ids) take the
    * distributed path: iterative min-label propagation — each round one
    * shuffled join + min-aggregate, a `localCheckpoint` to keep the
    * iterative lineage flat, and a ride-along change flag for
    * convergence; rounds = graph diameter. (Per-round pointer doubling
    * was explored and measured counterproductive here: the label lookup
    * doubles the round's join tree, and deeper fused doubling stalls the
    * driver in Catalyst size-estimate BigInteger arithmetic.)
    *
    * Both paths produce identical output — (id, comp) for every vertex
    * appearing in `pairs`, comp = min id of its component — and the spec
    * asserts their agreement. Singletons (docs with no candidate pair)
    * aren't rows here; a left join from the corpus defaults them to their
    * own id. */
  def connectedComponents(pairs: DataFrame, a: String, b: String,
                          maxIter: Int = 25, driverMaxPairs: Long = 2000000L): DataFrame = {
    // materialize the pair list ONCE before mirroring it: a union's
    // branches evaluate independently, so without this the (possibly
    // expensive) upstream candidate-pair pipeline would run twice
    val p = pairs.select(col(a).as("src"), col(b).as("dst")).localCheckpoint(true)
    val isLongIds = p.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (isLongIds && p.count() <= driverMaxPairs) driverCc(p)
    else distributedCc(p, maxIter)
  }

  /** Union-find (union by min root + path compression) over a collected
    * pair list; roots are component minima by construction. */
  private def driverCc(p: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    val keys = new java.util.HashSet[Long]()
    val it = p.toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      val (x, y) = (row.getLong(0), row.getLong(1))
      keys.add(x); keys.add(y) // vertex set collected in the same pass
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) { if (rx < ry) parent.put(ry, rx) else parent.put(rx, ry) }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](keys.size)
    keys.forEach { k => out += ((k, find(k))) }
    val spark = p.sparkSession
    import spark.implicits._
    out.toSeq.toDF("id", "comp")
  }

  /** Iterative distributed min-label propagation; see the public doc. */
  private def distributedCc(p: DataFrame, maxIter: Int): DataFrame = {
    // no distinct on edges: duplicate edges are harmless under the min
    // aggregate, and the input pair set is already unique per (a, b)
    val edges = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var comp = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(comp.select(col("id").as("dst"), col("comp").as("dcomp")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dcomp")).as("ncomp"))
      // convergence rides along as a flag column, so checking it is a scan
      // of the (already materialized) checkpoint — no extra join per round
      val next = comp.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          (coalesce(col("ncomp"), col("comp")) < col("comp")).as("__changed"))
        .localCheckpoint(true)
      converged = next.filter(col("__changed")).isEmpty
      comp = next.drop("__changed")
      i += 1
    }
    // an unconverged labeling silently splits real components (dedup would
    // then RETAIN duplicates) — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds; " +
        "the pair graph has a longer chain than expected — raise maxIter")
    comp
  }

  /** The three products of corpus near-dup cleaning, all derived from ONE
    * materialized candidate-pair stage (see [[cleanCorpusPipeline]]). */
  final case class CorpusDedupProducts(pairs: DataFrame, groups: DataFrame, cleaned: DataFrame)

  /** Corpus-cleaning pipeline sharing one shingle/candidate computation:
    * `pairs` (near-dup candidate pairs), `groups` (duplicate groups from
    * connected components), and `cleaned` (surviving doc ids after exact +
    * near-dup removal, one keeper per group) — a real corpus→clean run
    * wants all three, and composing the standalone builders would re-run
    * the shingle pipeline per product. Here the pair list is eagerly
    * `localCheckpoint`ed once; `groups` and `cleaned` both read the
    * checkpoint, never the shingle job. Semantics are identical to the
    * composed form (spec-asserted against the q_clean_corpus formulation).
    * Output `cleaned`: the surviving ids as column `doc_id`. */
  def cleanCorpusPipeline(df: DataFrame, id: Column, text: Column,
                          n: Int, maxDf: Int, minJaccard: Double): CorpusDedupProducts = {
    val pairs = ngramJaccardPairs(df, id, text, n, maxDf, minJaccard)
      .localCheckpoint(true)
    val groups = connectedComponents(pairs, "id_a", "id_b")
    val keeper = min(id).over(
      org.apache.spark.sql.expressions.Window.partitionBy(md5(text)))
    val exactNonKeepers = df.select(id.as("doc_id"), keeper.as("k"))
      .filter(col("doc_id") =!= col("k")).select("doc_id")
    val nearNonKeepers = groups
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    val cleaned = df.select(id.as("doc_id"))
      .join(exactNonKeepers.union(nearNonKeepers).distinct(), Seq("doc_id"), "left_anti")
    CorpusDedupProducts(pairs, groups, cleaned)
  }

  /** Benchmark decontamination — the test-set-leakage guard a training
    * corpus runs before release (standard practice in the public GPT-3 /
    * PaLM dataset reports; no reference counterpart): drop every training
    * document that shares at least ONE word n-gram with any benchmark/eval
    * document. N-grams travel as 64-bit hashes ([[wordNgramHashes]] — the
    * shuffle moves (long, long) rows, and hash equality is n-gram equality
    * modulo ~2⁻⁶⁵ collisions, so a string-based oracle reproduces the
    * result exactly).
    *
    * Scale shape: eval suites are tiny next to a training corpus, so the
    * distinct benchmark n-gram set is broadcast (explicitly hinted) — the
    * whole pipeline is ONE training-corpus scan + a broadcast semi-join +
    * an anti-join on the (small) contaminated-id set. No corpus-sized
    * shuffle anywhere. Returns `train` rows minus contaminated documents,
    * schema unchanged. */
  def decontaminate(train: DataFrame, id: Column, text: Column,
                    bench: DataFrame, benchText: Column, n: Int): DataFrame = {
    val trainGrams = widen(train)
      .select(id.as("__decon_id"), explode(wordNgramHashes(text, n)).as("h"))
    val benchGrams = broadcast(
      bench.select(explode(wordNgramHashes(benchText, n)).as("h")).distinct())
    val contaminated = trainGrams
      .join(benchGrams, Seq("h"), "left_semi")
      .select(col("__decon_id")).distinct()
    train.join(contaminated, id === col("__decon_id"), "left_anti")
  }

  /** Two-stage Bloom-prefiltered decontamination — byte-for-byte the same
    * result as [[decontaminate]], built for contamination sets too large
    * to broadcast as an exact hash set. Stage 1 probes every training
    * n-gram hash against a BROADCAST Bloom filter of the benchmark's
    * n-gram hashes (built in one pass over the small side;
    * `Statistics.bloomFilter` — at fpp=1% the filter is ~9.6 bits/entry
    * vs 64 for the exact hash set, an ~7x smaller broadcast, and fpp
    * trades size for stage-2 work smoothly). Stage 2 exact-verifies ONLY
    * the surviving candidate grams with the semi-join — false positives
    * cost just that verification, false negatives cannot exist, so the
    * Bloom stage is pure scan-reduction with no approximation in the
    * result. Stage 2 is left unhinted: the candidate side is a small
    * fraction of the corpus, so AQE picks broadcast at small scale and a
    * shuffled semi-join when the benchmark side outgrows the driver.
    *
    * The probe is a Scala UDF over the broadcast filter deliberately:
    * Spark's `bloom_filter_agg`/`might_contain` expressions are
    * Catalyst-internal (injected only by the runtime-filter optimizer
    * rule, not registered for user plans), so a UDF is the supported
    * surface — and it's a single primitive-long probe, no serialization
    * beyond the long itself. */
  def decontaminateBloom(train: DataFrame, id: Column, text: Column,
                         bench: DataFrame, benchText: Column, n: Int,
                         fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1) (got $fpp)")
    // persisted: this distinct set (one explode + shuffle) feeds THREE
    // consumers — the sizing count, the bloomFilter aggregate, and the
    // stage-2 verify join — and the benchmark side is the one this
    // function assumes is re-scannable cheaply; without the cache it
    // would be recomputed for each (CacheRegistry contract)
    val benchGrams = track(
      bench.select(explode(wordNgramHashes(benchText, n)).as("h")).distinct())
    // expected-item count for sizing: one count over the (small) bench side
    val expected = math.max(benchGrams.count(), 1L)
    val bf = benchGrams.stat.bloomFilter("h", expected, fpp)
    val bcBf = train.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bcBf.value.mightContainLong(h))
    val candidates = widen(train)
      .select(id.as("__decon_id"), explode(wordNgramHashes(text, n)).as("h"))
      .filter(mightContain(col("h")))
    val contaminated = candidates
      .join(benchGrams, Seq("h"), "left_semi")
      .select(col("__decon_id")).distinct()
    train.join(contaminated, id === col("__decon_id"), "left_anti")
  }

  /** Contamination REPORT — the graded companion to [[decontaminate]]'s
    * binary drop: for every training document, what fraction of its
    * DISTINCT word n-grams also appear in the benchmark set. Release
    * pipelines threshold this (e.g. drop > 50% overlap, flag > 10%)
    * instead of dropping on a single shared gram; the binary guard is
    * exactly the `contaminated_frac > 0` slice of this output.
    *
    * Output per training doc: `n_grams` (distinct grams, 0 for docs
    * shorter than n tokens), `n_contaminated` (of those, how many occur
    * in any benchmark doc), `contaminated_frac` (6dp, 0.0 when the doc
    * has no grams).
    *
    * Scale shape: grams travel as 64-bit hashes; per-doc distinct is one
    * shuffle on (doc, gram); the benchmark set joins on the gram hash
    * unhinted (AQE broadcasts an eval-suite-sized side, shuffles a bigger
    * one); the per-doc rollup is the only other exchange. */
  def contaminationStats(train: DataFrame, id: Column, text: Column,
                         bench: DataFrame, benchText: Column, n: Int): DataFrame = {
    val benchGrams = bench.select(explode(wordNgramHashes(benchText, n)).as("h"))
      .distinct().withColumn("__hit", lit(1L))
    val grams = widen(train)
      .select(id.as("doc_id"), explode(wordNgramHashes(text, n)).as("h"))
      .distinct()
    val perDoc = grams.join(benchGrams, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_contaminated"))
    val nGrams = coalesce(col("n_grams"), lit(0L))
    val nHit = coalesce(col("n_contaminated"), lit(0L))
    train.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), nGrams.as("n_grams"), nHit.as("n_contaminated"),
        when(nGrams === 0, lit(0.0))
          .otherwise(roundp(nHit.cast("double") / nGrams, 6)).as("contaminated_frac"))
  }

  /** Repeated-span statistics — the EXACT-SUBSTRING dedup signal (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022, which removes verbatim spans repeated across a corpus; the
    * reference engine has no analog — this is pure training-data
    * tooling): for each document, how much of it is made of token
    * n-gram SPANS that also occur verbatim in at least one OTHER
    * document. Unlike [[ngramJaccardPairs]] (set similarity between pair
    * candidates) this is a per-document corpus-wide measure — a doc can
    * be 80% boilerplate without having any single near-duplicate.
    *
    * Output per doc: `n_grams` (positional n-gram count, len−n+1),
    * `n_dup` (positions whose span occurs in ≥ 2 distinct docs),
    * `dup_frac` = n_dup / n_grams (0.0 for docs shorter than n tokens).
    *
    * Scale shape: spans travel as 64-bit hashes (decontaminate's move —
    * a string-gram oracle reproduces the result modulo ~2⁻⁶⁵ collisions);
    * per-(doc, span) occurrence counts combine map-side before the one
    * shuffle on the span key; document frequency is a window count over
    * that already-aggregated set (no second scan); the per-doc rollup is
    * the only other exchange. Nothing is broadcast, nothing is collected,
    * no all-pairs join exists anywhere — cost is linear in corpus token
    * count regardless of how duplicated it is. */
  def repeatedSpanStats(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    require(n >= 1, s"span length must be >= 1 token (got $n)")
    val toks = TextAnalysis.tokens(text)
    // positional (NON-distinct) grams: a doc repeating a span k times has
    // k duplicated positions, not 1
    val gramArr = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    val grams = widen(df).select(id.as("doc_id"), explode(gramArr).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val perDoc = grams.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("occ"))
    val withDf = perDoc.withColumn("docs",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    val dup = withDf.filter(col("docs") >= 2)
      .groupBy(col("doc_id")).agg(sum(col("occ")).as("n_dup"))
    val base = df.select(id.as("doc_id"),
      greatest(size(toks) - (n - 1), lit(0)).as("n_grams"))
    val nDup = coalesce(col("n_dup"), lit(0L))
    base.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), nDup.as("n_dup"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(roundp(nDup.cast("double") / col("n_grams"), 6)).as("dup_frac"))
  }

  /** Sparse TF-IDF cosine near-duplicate pairs — the token-posting-list
    * all-pairs similarity (the lexical complement of the dense embedding
    * paths in [[graft.similarity.Similarity]]): weight each (doc, token)
    * by tf·ln(N/df) over RARE tokens only (df ≤ maxDf — the standard
    * prune: a token shared by k docs fans out to k² pair partials, so the
    * cap bounds per-token work at maxDf² AND drops the stopword mass that
    * contributes no discriminative signal), L2-normalize per doc, and join
    * postings token-by-token: sim(a,b) = Σ_shared ŵ_a·ŵ_b.
    *
    * Scale shape: tf/df are map-side-combined aggregates; the pair partial
    * sums combine map-side before the (id_a, id_b) exchange; nothing is
    * ever broadcast except the vocabulary-sized df table. The similarity
    * threshold is applied to the ROUNDED sim (portable floor-rounding), so
    * an oracle computing the same double arithmetic keeps the same rows. */
  def sparseTfidfPairs(df: DataFrame, id: Column, text: Column,
                       maxDfDivisor: Int, minSim: Double, roundTo: Int = 4): DataFrame = {
    require(maxDfDivisor >= 1, s"maxDfDivisor must be >= 1 (got $maxDfDivisor)")
    val d = widen(df)
    // N is ONE eager count (parquet metadata scan) folded in as a literal —
    // no 1-row crossJoin node, no whitelist entry (same move as the IVF
    // seed-centroid collect). The df cap SCALES with the corpus
    // (max(N/divisor, 20), integer division — a fixed cap silently prunes
    // everything once the corpus outgrows it), while still bounding the
    // per-token pair fanout at cap².
    val nDocs = d.count()
    val maxDf = math.max(nDocs / maxDfDivisor, 20L)
    val tf = d.select(id.as("__sp_id"), explode(TextAnalysis.tokens(text)).as("term"))
      .groupBy(col("__sp_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val w = tf.join(broadcast(dfreq), "term")
      .withColumn("w", col("tf") * log(lit(nDocs.toDouble) / col("df")))
      .select(col("__sp_id"), col("term"), col("w"))
    val norm = w.groupBy(col("__sp_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val wn = w.join(norm, "__sp_id")
      .select(col("__sp_id"), col("term"), (col("w") / col("nrm")).as("wn"))
    val a = wn.select(col("term"), col("__sp_id").as("id_a"), col("wn").as("wa"))
    val b = wn.select(col("term"), col("__sp_id").as("id_b"), col("wn").as("wb"))
    a.join(b, Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(roundp(sum(col("wa") * col("wb")), roundTo).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Pairwise n-gram Jaccard overlap BETWEEN corpus slices — the
    * inter-source duplication report a curation pipeline runs before
    * weighting sources (two crawls of the same sites look independent by
    * row count and are near-identical by content). One row per unordered
    * source pair sharing ≥1 shingle: (src_a < src_b, n_common, n_a, n_b,
    * jaccard over the sources' DISTINCT shingle sets, 4dp).
    *
    * Scale shape: shingles travel as 64-bit hashes ([[wordNgramHashes]]);
    * the per-source distinct gram set is one map-side-combined aggregate;
    * the gram self-join fans out ≤ |sources|² rows per gram (sources
    * number in the hundreds, not the billions — this is the slice-level
    * twin of [[ngramJaccardPairs]], which needs df-pruning precisely
    * because its key space is per-document); per-source sizes are a
    * |sources|-row broadcast. The gram set is persisted across its three
    * consumers (both join sides + sizes) — release with [[unpersistAll]].
    */
  def sourceOverlap(df: DataFrame, group: Column, text: Column, n: Int): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1 (got $n)")
    val grams = track(widen(df)
      .select(group.as("source"), explode(wordNgramHashes(text, n)).as("h"))
      .distinct())
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    grams.select(col("source").as("src_a"), col("h"))
      .join(grams.select(col("source").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_grams").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_grams").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"), col("n_b"),
        roundp(col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")), 4)
          .as("jaccard"))
  }

  /** Robust winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every `gram`-token shingle, then
    * in each sliding window of `window` consecutive shingle hashes select
    * the minimum (RIGHTMOST position on ties — the "robust" rule, which
    * makes the selected set a function of local content only). Guarantees:
    * any shared run of ≥ window+gram−1 tokens between two documents yields
    * at least one shared selected fingerprint, while only ~2/(window+1) of
    * positions are kept — the standard density/guarantee trade plagiarism
    * and near-dup detectors use to shrink the fingerprint index ~w-fold
    * before any join.
    *
    * Returns struct(n_fp, digest): the count of selected positions and an
    * order-independent digest (sum of selected hashes mod 1e9+7). Pure
    * column expressions over the [[graft.functions.PortableHash]] family —
    * O(tokens·window) per document fused into the scan, no shuffle, no
    * UDF, and bit-for-bit replayable by a SQL oracle (unlike the xxhash64
    * production kernels). A full index variant would explode the selected
    * (hash, doc) pairs and bucket-join on hash — same downstream shape as
    * [[minhashLshCandidates]]. */
  /** The shingle-hash array winnowing selects over: polyhash of every
    * `gram`-token shingle. MATERIALIZE this with `.withColumn` before
    * passing it to [[winnowFromHashes]] — expression evaluation has no
    * common-subexpression elimination across higher-order-function
    * lambdas, so an inline (non-attribute) hash array would be recomputed
    * for every window element: O(m²) per document instead of O(m). */
  def gramPolyHashes(text: Column, gram: Int): Column =
    graft.functions.PortableGramHash64(TextAnalysis.tokens(text), gram)

  /** The composed-builtin formulation [[gramPolyHashes]] had through
    * r14 — kept as the independently-derived twin its kernel agreement
    * spec checks against (the ShingleHash64 pattern). Interpreted per
    * gram: a slice allocation + a concat_ws build + the polyHash call
    * through the expression walker. */
  def gramPolyHashesHof(text: Column, gram: Int): Column = {
    require(gram >= 1, s"shingle size must be >= 1 token (got $gram)")
    val toks = TextAnalysis.tokens(text)
    val gramArr = when(size(toks) < gram, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - gram),
        i => concat_ws(" ", slice(toks, i + 1, lit(gram)))))
    transform(gramArr, g => graft.functions.PortableHash.polyHash(g))
  }

  /** Robust winnowing selection (Schleimer, Wilkerson & Aiken, SIGMOD'03
    * — the MOSS fingerprinting algorithm) over an ALREADY-MATERIALIZED
    * hash array (see [[gramPolyHashes]]): in each sliding window of
    * `window` consecutive hashes select the minimum, RIGHTMOST position
    * on ties — the "robust" rule that makes the selected set a function
    * of local content only. Guarantees: any shared token run of length ≥
    * window+gram−1 between two documents yields a shared selected
    * fingerprint, while only ~2/(window+1) of positions are kept — the
    * density/guarantee trade that shrinks a near-dup fingerprint index
    * ~window-fold before any join. Returns struct(n_fp, digest): the
    * count of selected
    * positions and an order-independent digest (sum of selected hashes
    * mod 1e9+7). O(m·window²) column arithmetic per document, fused into
    * the scan — no shuffle, no UDF. */
  def winnowFromHashes(gh: Column, window: Int): Column = {
    val M = 1000000007L
    val m = size(gh)
    val sel = winnowSelectedPositions(gh, window)
    val digest = pmod(aggregate(sel, lit(0L),
      (acc, p) => pmod(acc + element_at(gh, p), lit(M))), lit(M))
    when(m <= 0, struct(lit(0).as("n_fp"), lit(0L).as("digest")))
      .otherwise(struct(size(sel).as("n_fp"), digest.as("digest")))
  }

  /** The distinct 1-based positions robust winnowing selects from a
    * MATERIALIZED hash array — the index-building primitive (explode
    * (doc, gh[p]) pairs and bucket-join on the hash for the full MOSS
    * match path). Empty input yields a null/any result guarded by callers
    * ([[winnowFromHashes]] gates on size ≤ 0). */
  def winnowSelectedPositions(gh: Column, window: Int): Column =
    graft.functions.WinnowPositions(gh, window)

  /** The composed-builtin formulation [[winnowSelectedPositions]] had
    * through r14 — kept as the independently-derived twin the
    * WinnowPositions kernel agreement spec checks against. O(m·window²)
    * interpreted per document (array_min over a slice plus a
    * rightmost-tie filter scan per window start). */
  def winnowSelectedPositionsHof(gh: Column, window: Int): Column = {
    require(window >= 1, s"winnow window must be >= 1 (got $window)")
    val m = size(gh)
    // window starts 1..max(m-window+1, 1); a short doc (m < window) is one
    // truncated window — its minimum is still selected
    val starts = sequence(lit(1), greatest(m - (window - 1), lit(1)))
    array_distinct(transform(starts, j => {
      val wEnd = least(j + (window - 1), m)
      val minv = array_min(slice(gh, j, wEnd - j + 1))
      // rightmost minimal position in the window (robust winnowing)
      array_max(filter(sequence(j, wEnd), i => element_at(gh, i) === minv))
    }))
  }

  /** The MOSS match path: candidate near-dup pairs from the winnowed
    * fingerprint index. Each document contributes only its SELECTED
    * fingerprints (~2/(window+1) of its shingles — the ~window-fold index
    * shrink that is winnowing's whole point vs the all-shingles join in
    * [[ngramJaccardPairs]]); pairs sharing ≥ `minShared` fingerprints
    * surface, with the winnowing guarantee that any shared token run of
    * ≥ window+gram−1 tokens is caught.
    *
    * Scale shape: one scan computes the per-doc selection (no shuffle —
    * gh is a materialized projection, see [[gramPolyHashes]]); the
    * (doc, fp) index is distinct-aggregated map-side; hot boilerplate
    * fingerprints are df-pruned (df > maxDf — a fingerprint shared by k
    * docs fans out to k² pair partials, same guard as every candidate
    * builder here); the pair counts combine map-side before the one
    * (id_a, id_b) exchange. No all-pairs join exists at any scale. */
  def winnowCandidatePairs(df: DataFrame, id: Column, text: Column,
                           gram: Int = 3, window: Int = 4,
                           maxDf: Int = 10, minShared: Int = 2): DataFrame = {
    require(maxDf >= 1 && minShared >= 1,
      s"need maxDf >= 1 and minShared >= 1 (got maxDf=$maxDf, minShared=$minShared)")
    val fps = widen(df)
      .withColumn("gh", gramPolyHashes(text, gram))
      .withColumn("ps", winnowSelectedPositions(col("gh"), window))
      .select(id.as("doc_id"),
        explode(when(size(col("gh")) <= 0, array().cast("array<bigint>"))
          .otherwise(transform(col("ps"), p => element_at(col("gh"), p)))).as("fp"))
      .distinct()
    val rare = fps.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("df") <= maxDf)
      .select(col("doc_id"), col("fp"))
    rare.select(col("doc_id").as("id_a"), col("fp"))
      .join(rare.select(col("doc_id").as("id_b"), col("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
