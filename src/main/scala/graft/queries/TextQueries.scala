package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.dedup.Dedup
import graft.operators.Relational.roundp
import graft.streaming.{Gate, GateTuning}
import graft.text.{Bm25, TextAnalysis}

/** Training-data text pipeline over `documents` (doc_id, text, lang, source,
  * n_chars): tokenization/expand, quality scoring, language heuristic,
  * exact + n-gram-Jaccard dedup, fingerprinting. Every oracle mirrors the
  * Spark expression arithmetic exactly (same rounding, same pruning rules).
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  /** Insert-key offset shared (as a literal) with the merge oracle SQL. */
  private val insertOffset = 10000000L

  /** The deterministic CDC changeset q_merge_upsert and q_streaming_merge
    * share: mod-7 updates (the mod-91 overlap excluded so the MERGE
    * one-change-per-key cardinality holds), mod-13 deletes, offset-id
    * inserts — at most ONE change per key, so chunked sequential
    * application commutes to the single batch merge. */
  /** Lazy per-row guard for the merge-base precondition: the insert-key
    * offset is a shared constant with the DuckDB oracle (doc_id +
    * 10000000), so it CANNOT be derived from max(doc_id) at runtime
    * without desyncing the oracle SQL. If base ids ever reach the offset,
    * an insert key would collide with a real id and silently break the
    * one-change-per-key MERGE cardinality both merge gates' commutation
    * proof rests on. The guard is a codegen'd conditional ON the base
    * scan the merge performs anyway (every base row flows through it
    * exactly once), so construction stays lazy — no extra driver action,
    * no extra table scan, and an EMPTY base trivially passes instead of
    * NPE-ing an eager max() aggregate. */
  private[queries] def guardMergeBase(base: DataFrame): DataFrame =
    base.withColumn("doc_id",
      when(col("doc_id") < lit(insertOffset), col("doc_id"))
        .otherwise(raise_error(format_string(
          "mergeChangeset: base doc_id %s >= insert offset " + insertOffset +
            " — insert keys would collide with base ids; raise the offset " +
            "(and the oracle SQL constant) before running at this scale",
          col("doc_id")))))

  private[queries] def mergeChangeset(base: DataFrame): DataFrame = {
    val updates = base
      .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
      .withColumn("text", concat(col("text"), lit(" [v2]")))
      .withColumn("op", lit("U"))
    val deletes = base.filter(col("doc_id") % 13 === 0)
      .withColumn("op", lit("D"))
    val inserts = base.filter(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + insertOffset)
      .withColumn("op", lit("U"))
    updates.unionByName(deletes).unionByName(inserts)
  }

  /** The composed-dedup keep-list (q_clean_corpus; shared by q_export):
    * drop exact-duplicate non-keepers (min doc id per content hash
    * survives) AND near-dup non-keepers (component keeper survives).
    * One window pass for exact groups, the candidate-pair + components
    * pipeline for near-dups, one anti-join to subtract both. */
  /** Near-dup NON-keepers (docs whose component keeper is some other
    * doc) — the half of the keep-list that is inherently batch: component
    * membership is retroactively transitive, so it recomputes from a
    * corpus snapshot (shared by cleanCorpusKeepList and the streaming
    * export's static lookup). */
  private def nearDupNonKeepers(d: DataFrame): DataFrame =
    Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
          n = 3, maxDf = 10, minJaccard = 0.05), "id_a", "id_b")
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))

  private def cleanCorpusKeepList(d: DataFrame): DataFrame = {
    val keeper = min(col("doc_id")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text"))))
    val exactNonKeepers = d.select(col("doc_id"), keeper.as("k"))
      .filter(col("doc_id") =!= col("k")).select("doc_id")
    d.select("doc_id")
      .join(exactNonKeepers.union(nearDupNonKeepers(d)).distinct(), Seq("doc_id"), "left_anti")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // streamExpand (FunctionalProcessing.hs:206-210) as Catalyst Generate:
    // one row per long token (the hashtag-extraction pattern,
    // examples/expand/generate.hs:22-35).
    // widened scan: a compact documents file arrives as ONE partition, so
    // the tokenize+explode would run single-threaded (the r14/r15 widen
    // lesson — this query read 9.7x at 26x BECAUSE of the scan shape, not
    // its arithmetic)
    "q_expand_words" -> ((s, dir) =>
      Tables.widen(docs(s, dir))
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 8)),

    "q_token_stats" -> ((s, dir) =>
      Tables.widen(docs(s, dir)).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.avgTokenLength(TextAnalysis.tokens(col("text"))).as("avg_token_len"))),

    // BPE-ish pre-tokenizer counts (GPT-2 regex family, engine-portable
    // subset): the "LLM token count" column a training pipeline budgets
    // by, plus fertility (pre-tokens per whitespace word). Pure regexp
    // expressions fused into the scan.
    "q_bpe_tokens" -> ((s, dir) =>
      Tables.widen(docs(s, dir)).select(
        col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe"),
        TextAnalysis.bpeishFertility(col("text")).as("fertility"))),

    // TRAINED BPE with the training loop itself under the oracle (the
    // q_kmeans move applied to tokenization): 8 merges learned from the
    // corpus's ASCII-letter word-frequency table (count DESC, pair ASC
    // tiebreak; greedy left-to-right application), then per-doc post-merge
    // token counts. The DuckDB oracle replays all 8 training iterations as
    // generated CTE chains (pair-count → argmax → list_reduce merge) and
    // the application via the same per-distinct-word replay. 8 keeps the
    // oracle statement tractable; graft.text.Bpe trains arbitrary merge
    // counts (spec covers 64, local/distributed equality, determinism).
    // The corpus is touched exactly twice (freq table; per-doc word
    // explode + broadcast join) — the vocab-sized loop never scans docs.
    "q_bpe_trained" -> ((s, dir) => {
      val words = Tables.widen(docs(s, dir))
        .select(explode(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val merges = graft.text.Bpe.train(s, words, nMerges = 8)
      val lens = graft.text.Bpe.wordTokenCounts(s, words.select("word"), merges)
      Tables.widen(docs(s, dir))
        .select(col("doc_id"), explode(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).as("word"))
        .join(broadcast(lens), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_bpe"))
    }),

    "q_quality" -> ((s, dir) =>
      Tables.widen(docs(s, dir)).select(
        col("doc_id"),
        TextAnalysis.stopwordRatio(TextAnalysis.tokens(col("text"))).as("stop_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    "q_lang_heuristic" -> ((s, dir) =>
      Tables.widen(docs(s, dir)).select(
        col("doc_id"), col("lang"),
        TextAnalysis.langHeuristic(col("text")).as("pred_lang"))),

    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDupGroups(docs(s, dir), col("doc_id"), col("text"))),

    "q_fingerprint" -> ((s, dir) =>
      Tables.widen(docs(s, dir)).select(
        col("doc_id"),
        TextAnalysis.tokenSetFingerprint(col("text")).as("fp"))),

    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), col("doc_id"), col("text"),
        n = 3, maxDf = 10, minJaccard = 0.05)),

    // Near-dup GROUPS from candidate pairs: the dedup pipeline's final
    // stage (pairs → connected components → one keeper per group).
    // Oracle = transitive closure by recursive CTE over the identical
    // pair set.
    "q_dedup_groups" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, dir), col("doc_id"), col("text"),
        n = 3, maxDf = 10, minJaccard = 0.05)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }),

    // Leakage-safe GROUP-AWARE split (sklearn's GroupShuffleSplit concern
    // at corpus scale): a near-dup family straddling train/test leaks
    // evaluation data into training, so the fold is assigned per
    // connected COMPONENT (q_dedup_groups' machinery; singletons group as
    // themselves) via the Lehmer hash of the group key — every member of
    // a family provably lands in the same fold. 80/10/10 by hash mod 10.
    "q_split_groupaware" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
        n = 3, maxDf = 10, minJaccard = 0.05)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val g = d.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("group_key"))
      val fold = ((col("group_key") + 1) * 48271) % 2147483647L % 10
      g.withColumn("split",
        when(fold < 8, "train").when(fold === 8, "val").otherwise("test"))
    }),

    // Quality-percentile curation: keep the top 80% of documents by
    // quality score WITHIN each language (ntile over a deterministic
    // (score desc, doc_id) order — per-lang keyed window, one exchange).
    "q_quality_filter" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(col("text"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("quality").desc, col("doc_id"))
      // widened scan: the quality scoring runs BEFORE the per-lang
      // exchange, on the scan partitions — a compact file is ONE
      // partition, so the scoring serialized (the unwidened members of
      // the per-doc family read 12.9x at 26x; the widened q_quality —
      // the SAME arithmetic minus the window — read 4.3x)
      Tables.widen(docs(s, dir))
        .select(col("doc_id"), col("lang"), q.as("quality"))
        .withColumn("tile", ntile(5).over(w))
        .filter(col("tile") <= 4)
    }),

    // Language-balanced capping: at most 80 documents per language by
    // deterministic rank — the stratified-cap sampling step of a corpus
    // rebalance. Per-lang keyed window; survivors carry their rank.
    "q_lang_balance" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 80)
    }),

    // The composed dedup user story, end to end: drop exact-duplicate
    // non-keepers (min doc id per content hash survives) AND near-dup
    // non-keepers (component keeper survives), emit the clean corpus.
    // One window pass for exact groups, the candidate-pair + components
    // pipeline for near-dups, one anti-join to subtract both.
    "q_clean_corpus" -> ((s, dir) => cleanCorpusKeepList(docs(s, dir))),

    // THE EXPORT JOB — the training-data flagship composite, chaining
    // four individually-oracled stages end to end the way a real corpus
    // export runs: (1) the q_clean_corpus keep-list (exact + near-dup
    // dedup), (2) a C4-style minimum-length rule (≥ 10 whitespace
    // tokens; Raffel et al. 2020 drop short pages the same way),
    // (3) q_pack's contiguous greedy packing into 2000-token sequences
    // per source (two-level chunked exclusive-prefix-sum — task work
    // bounded under source skew, never a global sort; see
    // ScalableWindows), and (4) q_shuffle_shards' Lehmer
    // shuffle of the packed SEQUENCES into 8 training shards with a
    // within-shard position (keyed window per shard). Output is the
    // export manifest: one row per packed sequence with its shard
    // placement — what a writer job would consume to emit final
    // training files. Every stage's arithmetic is the already-proven
    // portable form, so the whole composite sits under one oracle.
    "q_export" -> ((s, dir) => {
      val d = docs(s, dir)
      val P = 2147483647L
      val kept = d.join(cleanCorpusKeepList(d), Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .filter(col("n_tokens") >= 10)
      // two-level chunked prefix sum (see q_pack): bounded task work under
      // source skew, bit-identical bins
      val binned = graft.operators.ScalableWindows
        .exclusivePrefixSum(kept, Seq("source"), "doc_id", col("n_tokens"), "__pre")
        .withColumn("bin", floor(col("__pre") / 2000).cast("long"))
        .drop("__pre")
      val seqs = binned.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      // sequence shuffle key: polyHash(source) mixes the source into the
      // Lehmer stream so same-bin sequences of different sources spread;
      // overflow audit: poly < 2³¹, ·31 + bin < 2³⁶, ·48271 < 2⁵³
      val skey = pmod((pmod(graft.functions.PortableHash.polyHash(col("source")) * 31L
        + col("bin"), lit(P))) * 48271L, lit(P))
      // within-shard position: chunked row_number (8 shards = 8 tasks
      // under a plain window — a serialization point at scale, same
      // rationale as q_shuffle_shards)
      val sharded = seqs.withColumn("skey", skey)
        .withColumn("shard", (col("skey") % 8).cast("int"))
      graft.operators.ScalableWindows
        .keyedRowNumber(sharded, Seq("shard"), Seq("skey", "source", "bin"),
          "pos", chunkWidth = 524288L)
        .select(col("shard"), col("pos"), col("source"), col("bin"),
          col("n_docs"), col("seq_tokens"), col("first_doc"), col("last_doc"))
    }),

    // STREAMING EXPORT MANIFEST — the online face of q_export, composed
    // over the doc_id-contiguous chunk replay (the crawl-feed shape):
    //  (1) streaming EXACT dedup: each batch's content hashes check
    //      against the accumulated md5 index of everything ingested
    //      before it (plus within-batch smaller ids). The replay is
    //      doc_id-ordered, so keep-at-arrival EQUALS the batch
    //      min-id-keeper rule and every decision is final at arrival.
    //  (2) near-dup non-keepers come from a STATIC keep-list lookup
    //      (the batch connected-components job's output, stream-static
    //      anti-join). The split is forced, not convenience: component
    //      membership is retroactively transitive — a future doc can
    //      MERGE two existing components and retro-drop a doc whose
    //      tokens already entered the running pack — so an
    //      order-faithful streaming CC keep-list does not exist at any
    //      finite watermark. The streaming near-dup DETECTOR is
    //      q_streaming_minhash; its pairs feed the nightly CC refresh
    //      that republishes this lookup (the lambda reconciliation).
    //  (3) quality filter (n_tokens >= 10) then the keyed prefix-sum
    //      PACKER: a per-source token carry (one tiny row per source,
    //      persisted per batch) turns the batch exclusive-prefix-sum
    //      into an arrival-batch assignment — bins are final the moment
    //      a doc lands, state is O(sources).
    //  (4) manifest finalization over CLOSED sequences only: each
    //      source's max bin is the watermark-open tail (still
    //      growable) and is excluded; shard/pos assignment (the same
    //      Lehmer skey) ranks the closed set.
    // Oracle: the batch q_export pipeline minus each source's open
    // tail, pos re-ranked over the closed rows — identical keep set,
    // identical bins, hash-exact everywhere else. All per-batch writes
    // are batchId-keyed and overwritten, so retried micro-batches
    // re-apply idempotently (the q_streaming_minhash discipline).
    "q_streaming_export" -> ((s, dir) => {
      val gateDir = graft.core.TempDirs.create("graft_sexp_").toAbsolutePath
      val (idxDir, binDir, carryDir) = (s"$gateDir/idx", s"$gateDir/bin", s"$gateDir/carry")
      val nearNon = nearDupNonKeepers(docs(s, dir)).localCheckpoint()
      val md5Schema = "doc_id BIGINT, h STRING"
      val binSchema = "doc_id BIGINT, source STRING, n_tokens BIGINT, bin BIGINT"
      val carrySchema = "source STRING, carry BIGINT"
      Gate.run(Tables.streamDocsChunked(s, dir), OutputMode.Append, gateDir,
          GateTuning.statePartitions) { (b, batchId) =>
        if (!b.isEmpty) {
          val withH = b.select(col("doc_id"), col("source"), col("text"))
            .withColumn("h", md5(col("text")))
          def existing(d: String) = (0L until batchId)
            .map(i => s"$d/b$i").filter(p => new java.io.File(p).exists())
          val histDirs = existing(idxDir)
          // index ALL arriving docs (a low-quality keeper still
          // shadows later duplicates — dedup before quality, exactly
          // the batch order), then keep only batch keepers: smallest
          // id of their hash within the batch AND hash never seen
          def emptyOf(ddl: String) = s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(ddl))
          val seenH =
            if (histDirs.isEmpty) emptyOf(md5Schema).select("h")
            else s.read.schema(md5Schema).parquet(histDirs: _*).select("h").distinct()
          val keeper = withH.withColumn("minid", min(col("doc_id")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
            .filter(col("doc_id") === col("minid"))
            .join(seenH, Seq("h"), "left_anti")
          val kept = keeper.join(nearNon, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("source"),
              TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tokens"))
            .filter(col("n_tokens") >= 10)
            .localCheckpoint()
          // latest persisted carry (a batch may be empty: take the
          // newest existing, not batchId-1)
          val carry = existing(carryDir).lastOption
            .map(p => s.read.schema(carrySchema).parquet(p))
            .getOrElse(emptyOf(carrySchema))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("source")).orderBy(col("doc_id"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
          // budget 500 (not q_export's 2000): at sf0.01 every source
          // totals < 2000 tokens, so a 2000 budget would leave every
          // bin open and the closed-manifest contract untested
          kept.join(carry, Seq("source"), "left")
            .withColumn("bin", floor(
              (coalesce(sum(col("n_tokens")).over(w), lit(0L))
                + coalesce(col("carry"), lit(0L))) / 500).cast("long"))
            .select("doc_id", "source", "n_tokens", "bin")
            .write.mode("overwrite").parquet(s"$binDir/b$batchId")
          carry.join(kept.groupBy(col("source")).agg(sum(col("n_tokens")).as("add")),
              Seq("source"), "full_outer")
            .select(col("source"),
              (coalesce(col("carry"), lit(0L)) + coalesce(col("add"), lit(0L))).as("carry"))
            .write.mode("overwrite").parquet(s"$carryDir/b$batchId")
          withH.select(col("doc_id"), col("h"))
            .write.mode("overwrite").parquet(s"$idxDir/b$batchId")
        }
      }
      val P = 2147483647L
      val seqs = s.read.schema(binSchema).parquet(s"$binDir/b*")
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      val closed = seqs.withColumn("mb", max(col("bin")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
        .filter(col("bin") < col("mb")).drop("mb")
      val skey = pmod((pmod(graft.functions.PortableHash.polyHash(col("source")) * 31L
        + col("bin"), lit(P))) * 48271L, lit(P))
      val shardW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("skey"), col("source"), col("bin"))
      closed.withColumn("skey", skey)
        .withColumn("shard", (col("skey") % 8).cast("int"))
        .withColumn("pos", row_number().over(shardW))
        .select(col("shard"), col("pos"), col("source"), col("bin"),
          col("n_docs"), col("seq_tokens"), col("first_doc"), col("last_doc"))
    }),

    // Deterministic train/val/test split by content-addressed hash
    // (md5 of the id — reproducible across engines/runs, no RNG):
    // first hex char 0-b → train (75%), c-d → val, e-f → test.
    "q_split" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        when(substring(md5(col("doc_id").cast("string")), 1, 1) < "c", "train")
          .when(substring(md5(col("doc_id").cast("string")), 1, 1) < "e", "val")
          .otherwise("test").as("split"))),

    // Leakage-safe CONTENT-keyed split: the fold is a pure function of
    // md5(text), so byte-identical duplicates can never straddle
    // train/test (the q_split id-hash split would scatter a duplicated
    // document across folds — the classic eval-contamination bug).
    // 80/10/10 by the first 6 hex digits as an integer mod 100; stateless
    // per-row arithmetic fused into the scan, no shuffle, no group join —
    // the dedup is implicit in the key.
    "q_split_grouped" -> ((s, dir) => {
      val pct = (conv(substring(md5(col("text")), 1, 6), 16, 10)
        .cast("long") % 100).cast("int")
      docs(s, dir).select(col("doc_id"), pct.as("pct"))
        .select(col("doc_id"), col("pct"),
          when(col("pct") < 80, "train").when(col("pct") < 90, "val")
            .otherwise("test").as("split"))
    }),

    // Sequence packing for training: concatenate documents in a stable
    // order and cut at a token budget (contiguous greedy packing — the
    // streaming form used when assembling fixed-length training
    // sequences). bin = exclusive-prefix-sum div budget: a doc goes in
    // the bin its first token lands in. The running sum is the TWO-LEVEL
    // chunked form (ScalableWindows.exclusivePrefixSum): a plain
    // per-source window serializes each source onto one task, which with
    // crawl-shaped source skew is the straggler at 100 TB (r18 verdict);
    // chunked, task work is bounded by chunk width whatever the skew,
    // and long addition being associative the bins are bit-identical.
    "q_pack" -> ((s, dir) => {
      val budget = 2000
      val toks = TextAnalysis.tokenCount(col("text"))
      val base = docs(s, dir)
        .select(col("doc_id"), col("source"), toks.as("n_tokens"))
      graft.operators.ScalableWindows
        .exclusivePrefixSum(base, Seq("source"), "doc_id", col("n_tokens"), "__pre")
        .withColumn("bin", floor(col("__pre") / budget).cast("long"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("bin"))
    }),

    // Internal repetition score: fraction of a document's word 3-grams
    // that are repeats of an earlier 3-gram in the same document — the
    // standard boilerplate/spam signal. Pure per-row expression, fused
    // into the scan; the distinct count comes from the codegen'd
    // ShingleHash64 kernel (one JVM loop) rather than the interpreted
    // string-shingle HOF — identical counts modulo ~2⁻⁶⁴ hash collisions,
    // which the string-based oracle confirms don't occur.
    "q_repetition" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val total = greatest(size(toks) - 2, lit(0))
      val distinctN = size(Dedup.wordNgramHashes(col("text"), 3))
      Tables.widen(docs(s, dir)).select(col("doc_id"),
        total.as("n_ngrams"),
        when(total === 0, lit(0.0))
          .otherwise(roundp(lit(1.0) - distinctN.cast("double") / total, 4))
          .as("repetition"))
    }),

    // REAL image decode in the driver contract: wrap each (ASCII) document
    // into a valid binary PGM (32-wide, space-padded raster), then run the
    // actual netpbm decoder through the partition-batched multimodal
    // plumbing. The oracle recomputes the decoded dimensions and byte
    // count from the text length alone — an independent check that the
    // decoder parsed the header and raster it was given.
    "q_image_decode" -> ((s, dir) => {
      // sanitize to printable ASCII first, so characters == bytes and the
      // oracle's length arithmetic is exact even on a non-ASCII corpus
      // (rpad pads by CHARS; a multi-byte char would desync the raster)
      val ascii = regexp_replace(col("text"), "[^\\x20-\\x7e]", "?")
      val h = greatest(ceil(length(ascii).cast("double") / 32).cast("int"), lit(1))
      val blob = encode(concat(lit("P5\n32 "), h.cast("string"), lit("\n255\n"),
        rpad(ascii, h * 32, lit(" "))), "UTF-8")
      graft.multimodal.Multimodal.extractMeta(s,
          docs(s, dir).select(col("doc_id"), blob.as("blob")),
          graft.multimodal.Multimodal.NetpbmDecoder)
        .toDF().select(col("doc_id"), col("n_bytes"), col("width"), col("height"))
    }),

    // TF-IDF top-3 terms per document. Scale shape: term frequencies are
    // ONE map-side-combined aggregate over the exploded tokens; document
    // frequencies derive from the tf rows (count per term — vocabulary-
    // sized, broadcast back); the doc count is a 1-row broadcast. The only
    // per-corpus shuffles move (doc_id, term, count) rows.
    "q_tfidf" -> ((s, dir) => {
      val d = docs(s, dir)
      // widen the tokenize leg only (nDocs is a count — no per-row work):
      // the per-doc regex tokenization ran on ONE scan partition of the
      // compact parquet, serializing the scan stage — the family shape
      // from NOTES rounds 14/17; 26x ratio read 9.6 before this
      val tf = Tables.widen(d)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf_raw").desc, col("term"))
      tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf_raw", col("tf") * log(col("n_docs").cast("double") / col("df")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("rank"),
          roundp(col("tfidf_raw"), 4).as("tfidf"))
    }),

    // Corpus unigram-LM quality score — the perplexity-style filter every
    // pretraining pipeline runs (docs of improbable tokens score low):
    // P(t) = cnt(t)/N over the whole corpus, score(doc) = mean ln P(t).
    // Scale shape: the vocabulary is a map-side-combined aggregate; ln N
    // comes from a 1-row broadcast crossJoined onto the VOCABULARY side
    // only (the q_tfidf pattern, whitelisted) — a global window here would
    // collapse the whole vocabulary to one partition, a real bottleneck at
    // web-scale token counts; docs then join the broadcast vocab.
    "q_unigram_quality" -> ((s, dir) => {
      val terms = Tables.widen(docs(s, dir))
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      val vocab = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum(col("cnt")).as("n_tokens_total"))
      val withLogp = vocab.crossJoin(broadcast(total))
        .select(col("term"),
          (log(col("cnt").cast("double")) - log(col("n_tokens_total").cast("double"))).as("logp"))
      // no broadcast hint on the vocab: at web scale the vocabulary can
      // exceed broadcast limits — let Catalyst/AQE pick broadcast when it
      // fits and a shuffle join when it doesn't
      terms.join(withLogp, "term")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), roundp(avg(col("logp")), 4).as("avg_logp"))
    }),

    // Corpus bigram-LM quality — the conditional-probability upgrade of
    // q_unigram_quality (catches scrambled-word docs a unigram model
    // scores identically): P(w2|w1) = (c(w1w2)+0.5)/(c(w1·)+0.5·V),
    // add-k smoothed, score(doc) = mean ln P over its bigrams (docs with
    // <2 tokens have no bigrams and are absent, like their SQL twin).
    // Scale shape: bigrams come from ONE per-doc array transform (no
    // self-join on position); counts are map-side-combined aggregates
    // keyed by (w1,w2)/w1; V folds in as a literal from one eager
    // distinct-count (the q_sparse_pairs move — no 1-row crossJoin
    // node); the model table joins back without a broadcast hint so
    // AQE picks broadcast only when the vocabulary fits.
    "q_bigram_quality" -> ((s, dir) => {
      // the bigram relation feeds FOUR consumers (vocab count, c2, c1,
      // the final probe side); materializing it once via localCheckpoint
      // was TRIED and REVERTED — at 26× the widened recompute reads
      // 19.1 s where checkpoint+3 reads reads 24.6 s (35M string pairs
      // cost more to serialize than to re-derive: the Dsir
      // persist-vs-recompute counter-result again). The widen is what
      // matters: tokenize+explode is the per-doc hot pass.
      val bi = Tables.widen(docs(s, dir))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // c1 and headV DERIVE from c2 — c1(w1) = Σ_w2 c2(w1,w2) and headV =
      // |distinct w1| = c2's group count by w1 — so the corpus is
      // tokenized TWICE (c2 build + the final probe), not four times; c2
      // is vocabulary-sized, so the derived aggregates are cheap. The
      // localCheckpoint(c2) variant was measured and rejected (see the
      // bigram-relation note above); this restructure removes the same
      // recompute without materializing anything corpus-sized.
      val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .localCheckpoint()
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val headV = c1.count()
      val model = c2.join(c1, "w1")
        .select(col("w1"), col("w2"),
          (log(col("c2") + 0.5) - log(col("c1") + lit(0.5 * headV.toDouble))).as("logp"))
      bi.join(model, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), roundp(avg(col("logp")), 4).as("avg_logp"))
    }),

    // Hashed-feature linear quality classifier (TextAnalysis.
    // hashedLinearScore): the fastText-style learned-filter shape with a
    // deterministic stand-in weight table — integer feature sum, sigmoid
    // only at the end, fully DuckDB-replayable.
    "q_quality_classifier" -> ((s, dir) =>
      Tables.widen(docs(s, dir)).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.hashedLinearScore(col("text")).as("quality_prob"))),

    // DSIR data selection (text.Dsir — Xie et al. NeurIPS 2023): per-doc
    // log importance weight under Laplace-smoothed unigram+bigram
    // hashed-feature models, target = lang='en', raw = whole corpus. ONE
    // map-side-combined aggregate carries both distributions (conditional
    // sums per bucket), the 256-row log-ratio table broadcasts into the
    // per-doc join — nothing scales past the bucket count but the linear
    // per-doc work. Portable feature hashing, so the oracle replays every
    // bucket id; ln/weighted-sum floats round at 1e-4.
    "q_dsir" -> ((s, dir) =>
      graft.text.Dsir.scores(docs(s, dir), targetLang = "en", buckets = 256)),

    // The 100 TB twin of q_dsir: the corpus tokenize+hash+explode is
    // persisted ONCE (Dsir.scoresPersisted) and feeds both the model fit
    // and the per-doc counts, where q_dsir recomputes it per branch.
    // Same output, same oracle — the pair exists so the scale sweep can
    // measure the recompute-vs-materialize crossover the Dsir scaladoc
    // claims (at sf0.1 recompute wins; the explode must dominate first).
    "q_dsir_persist" -> ((s, dir) =>
      graft.text.Dsir.scoresPersisted(docs(s, dir), targetLang = "en", buckets = 256)),

    // Fuzzy record linkage — blocked edit-distance join (the
    // entity-resolution blocking pattern, Christen, "Data Matching",
    // 2012): candidate pairs must share a 24-char lowercased prefix block
    // AND sit within a 40-char length band (both cheap equi/band
    // predicates), then the thresholded Levenshtein kernel verifies on
    // the first 200 chars. The threshold variant of levenshtein runs the
    // banded DP — O(threshold·len), not O(len²) — and the only join is an
    // equi-join on the block key, so per-block work is bounded by block
    // size, never corpus size. Approximate by design (a near-dup pair
    // differing inside its first 24 chars lands in different blocks); the
    // oracle replays blocking and distances exactly, so recall is part of
    // the spec.
    "q_fuzzy_join" -> ((s, dir) => {
      val b = docs(s, dir).select(col("doc_id"),
        lower(substring(col("text"), 1, 24)).as("k"),
        substring(col("text"), 1, 200).as("t200"),
        length(col("text")).as("len"))
      val l = b.select(col("doc_id").as("id_a"), col("k"),
        col("t200").as("t_a"), col("len").as("len_a"))
      val r = b.select(col("doc_id").as("id_b"), col("k"),
        col("t200").as("t_b"), col("len").as("len_b"))
      l.join(r, Seq("k"))
        .filter(col("id_a") < col("id_b") &&
          abs(col("len_a") - col("len_b")) <= 40)
        .withColumn("dist", levenshtein(col("t_a"), col("t_b"), 20))
        .filter(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist"))
    }),

    // CDC merge / corpus refresh (Relational.mergeUpsert): a derived
    // changeset — updates (doc_id % 7 = 0, versioned text), deletes
    // (doc_id % 13 = 0; the % 91 overlap excluded so the MERGE
    // one-change-per-key cardinality holds), inserts (offset ids) —
    // applied through ONE co-keyed full outer join. The refresh step a
    // corpus runs between crawls; result is the full merged table.
    "q_merge_upsert" -> ((s, dir) =>
      graft.operators.Relational.mergeUpsert(guardMergeBase(docs(s, dir)),
        TextQueries.mergeChangeset(docs(s, dir)), "doc_id")),

    // Distributed batch-perceptron TRAINING under the oracle (text.
    // Perceptron — the fourth training loop after trained BPE, Lloyd
    // k-means, and the PCA power iteration): 5 full-batch epochs of the
    // all-integer Rosenblatt update — one filtered, map-side-combined
    // aggregate per epoch, d longs of driver state — then the per-doc
    // final margins/predictions for the lang='en' target. Integer
    // arithmetic end to end, so the oracle unrolls every epoch as CTEs
    // and must agree weight-for-weight and margin-for-margin.
    "q_perceptron" -> ((s, dir) => {
      // materialize the features ONCE: train() scans them per epoch and
      // the margin projection scans them again — 6 passes total, each
      // re-running the regex extraction if left lazy. The table is 7
      // integers per document (doc_id, y, x0..x4), orders of magnitude
      // smaller than the text it derives from — the persist-vs-recompute
      // question answers itself here (unlike Dsir's exploded features).
      val f = graft.text.Perceptron.features(docs(s, dir)).localCheckpoint()
      val w = graft.text.Perceptron.train(f, epochs = 5)
      f.select(col("doc_id"), col("y"),
          graft.text.Perceptron.margin(w).as("margin"))
        .withColumn("pred", when(col("margin") > 0, 1L).otherwise(-1L))
        .withColumn("correct", col("pred") === col("y"))
    }),

    // BM25 ranked retrieval (graft.text.Bm25): top-25 docs for a 3-term
    // query spanning the df spectrum (rare family token + two mid-df
    // terms). Scan-fused tf columns, one corpus-stats row broadcast back,
    // TakeOrdered top-k — see Bm25.scaladoc for the 100 TB shape.
    "q_bm25_topk" -> ((s, dir) =>
      Bm25.topK(docs(s, dir), col("doc_id"), col("text"),
        queryTerms = Seq("dup", "vector", "merge"), k = 25)),

    // Inter-source duplication matrix (Dedup.sourceOverlap): 3-gram
    // Jaccard between every source pair — the "how much do my crawls
    // overlap" report that decides source weights before training.
    "q_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(docs(s, dir), col("source"), col("text"), n = 3)),

    // Sparse TF-IDF cosine near-dup pairs over rare-token postings — the
    // lexical all-pairs similarity (posting-list join, df-pruned), the
    // classic complement to the dense-embedding near-dup paths. Gated on
    // the doc_id < 1000 slice: this corpus's near-dup FAMILIES grow with
    // sf (family tokens' df ≈ family size), so the unsliced pair count —
    // and the cap²-bounded fanout the operator deliberately allows — grows
    // quadratically with family size; the slice keeps the driver gate
    // family-complete and cheap at every sf while the library call scales
    // by its N/divisor cap.
    "q_sparse_pairs" -> ((s, dir) =>
      Dedup.sparseTfidfPairs(docs(s, dir).filter(col("doc_id") < 1000),
        col("doc_id"), col("text"), maxDfDivisor = 10, minSim = 0.3)),

    // The order-sensitive fingerprint oracle-gated through the portable
    // family: rolling Rabin-Karp fold over the first 64 tokens in closed
    // form (q_rolling_fp's xxhash64 fold stays the unbounded production
    // path). Token order matters: permuted docs get different fps, which
    // the oracle re-derives exactly.
    "q_rolling_portable" -> ((s, dir) =>
      Tables.widen(docs(s, dir)).select(col("doc_id"),
        TextAnalysis.rollingPrefixFingerprint(col("text"), maxTokens = 64).as("fp"))),

    // Robust winnowing (MOSS, Schleimer et al. SIGMOD'03): per-document
    // selected-fingerprint count and order-independent digest over
    // 3-token shingles in windows of 4 — the density-guaranteed
    // fingerprint selection that shrinks a near-dup index ~w-fold before
    // any join (Dedup.winnowFingerprints). Portable-hash family, so the
    // oracle replays selection position for position.
    // the hash array MUST be a materialized column before the selection
    // pass — HOF lambdas have no cross-reference CSE, so an inline array
    // would recompute every gram hash per window element (O(m²) per doc)
    "q_winnowing" -> ((s, dir) =>
      Tables.widen(docs(s, dir))
        .withColumn("gh", Dedup.gramPolyHashes(col("text"), gram = 3))
        .withColumn("w", Dedup.winnowFromHashes(col("gh"), window = 4))
        .select(col("doc_id"), col("w.n_fp").as("n_fp"), col("w.digest").as("digest"))),

    // the MOSS match path over the winnowed index: near-dup candidate
    // pairs sharing >= 2 selected fingerprints, df-pruned — the
    // ~window-fold-smaller-index complement of q_ngram_jaccard's
    // all-shingles join (Dedup.winnowCandidatePairs)
    "q_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowCandidatePairs(docs(s, dir), col("doc_id"), col("text"),
        gram = 3, window = 4, maxDf = 10, minShared = 2)),

    // Per-group top-k through the map-side-combinable aggregator
    // (functions.TopKByScoreAgg): partial state is <= k pairs per group
    // per task, so the shuffle moves k-sized combiners, not every row —
    // the scale path for per-group ranking (the window formulation in
    // topKPerGroup shuffles the full input). Oracle = the row_number
    // form: both must pick the identical top-3 by (quality DESC, doc_id).
    "q_topk_agg" -> ((s, dir) => {
      import s.implicits._
      // widened: qualityScore is a genuine per-document pass, and the
      // compact documents parquet arrives as ONE scan partition at sf<=26x
      // — unwidened, the scan serialized and the 26x ratio read 12.6 (see
      // NOTES round 17: the identical fix collapsed q_quality_filter /
      // q_simhash / q_expand_words 2.2-2.7x)
      val scored = Tables.widen(docs(s, dir)).select(col("lang"),
          TextAnalysis.qualityScore(col("text")).as("q"), col("doc_id"))
        .as[(String, Double, Long)]
      scored.groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(new graft.functions.TopKByScoreAgg(3).column)
        .toDF("lang", "topk")
        .select(col("lang"), posexplode(col("topk")).as(Seq("i", "p")))
        .select(col("lang"), (col("i") + 1).cast("int").as("rank"),
          col("p._2").as("doc_id"), roundp(col("p._1"), 4).as("quality"))
    }),

    // Benchmark decontamination (test-set-leakage guard): doc_id % 23 == 0
    // plays the held-out eval suite; every remaining document sharing ANY
    // word 4-gram with it is dropped. The contamination join runs on
    // 64-bit n-gram hashes with the benchmark side broadcast — one corpus
    // scan, no corpus-sized shuffle (Dedup.decontaminate).
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 23 === 0)
      val train = d.filter(col("doc_id") % 23 =!= 0)
      Dedup.decontaminate(train, col("doc_id"), col("text"), bench, col("text"), n = 4)
        .select("doc_id", "lang")
    }),

    // The same contamination guard through the two-stage Bloom prefilter
    // (Dedup.decontaminateBloom): a broadcast Bloom filter of benchmark
    // n-gram hashes prunes training grams before the exact verify join —
    // the configuration for contamination sets too large to broadcast as
    // exact hash sets. Result is byte-for-byte q_decontaminate's (false
    // positives are re-verified, false negatives impossible) — same oracle.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 23 === 0)
      val train = d.filter(col("doc_id") % 23 =!= 0)
      Dedup.decontaminateBloom(train, col("doc_id"), col("text"), bench, col("text"), n = 4)
        .select("doc_id", "lang")
    }),

    // Exact-substring dedup signal (Lee et al. ACL'22): per document, how
    // many of its positional word 5-gram spans occur verbatim in ≥ 2
    // distinct docs, and the duplicated fraction. Spans travel as 64-bit
    // hashes (the decontaminate move); the oracle replays with string
    // grams.
    "q_span_dedup" -> ((s, dir) =>
      Dedup.repeatedSpanStats(docs(s, dir), col("doc_id"), col("text"), n = 5)),

    // Contamination REPORT: per-doc fraction of distinct word 4-grams
    // shared with the benchmark slice — the graded form release pipelines
    // threshold; q_decontaminate is its `contaminated_frac > 0` drop
    // (cross-checked in DedupSpec). Same train/bench split as
    // q_decontaminate.
    "q_contamination_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 23 === 0)
      val train = d.filter(col("doc_id") % 23 =!= 0)
      Dedup.contaminationStats(train, col("doc_id"), col("text"), bench, col("text"), n = 4)
    }),

    // Dataset mixing with epoch weights — the step that assembles a
    // training mixture from per-source rates (rate 2.0 = two epochs,
    // 0.5 = keep half): n_copies = floor(rate) + one more iff the doc's
    // Lehmer-uniform u < frac(rate), materialized by exploding a copy
    // index. Deterministic (u is pure integer arithmetic on doc_id, no
    // RNG state), so the SAME docs survive on every run and engine — the
    // property dataset cards need for reproducibility. Rates are exact
    // binary fractions to keep the u < frac compare engine-portable. The
    // rate table is 20 rows — AQE broadcasts it; everything else is one
    // map pass over the corpus.
    "q_mixture_sample" -> ((s, dir) => {
      import s.implicits._
      val rates = Seq("src0" -> 2.0, "src1" -> 1.5, "src2" -> 0.5)
        .toDF("source", "rate")
      val m = 2147483647L
      val u = ((col("doc_id") % m) * 48271L % m).cast("double") / m
      val rate = coalesce(col("rate"), lit(0.25))
      val nCopies = (floor(rate) +
        when(u < rate - floor(rate), 1L).otherwise(0L)).cast("long")
      docs(s, dir).join(rates, Seq("source"), "left")
        .select(col("doc_id"), col("source"), nCopies.as("n_copies"))
        .filter(col("n_copies") >= 1)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1L), col("n_copies"))).as("copy"))
    }),

    // Token-budgeted mixture: the quota form of dataset assembly — each
    // source contributes docs in the deterministic Lehmer shuffle order
    // until its token budget is spent. A doc is kept iff its FIRST token
    // lands inside the budget (exclusive prefix sum < budget — the same
    // cut convention as q_pack's bin), so the kept set is identical on
    // every run and engine with no RNG state. The prefix sum is a KEYED
    // window (one hash exchange on source); no global sort exists at any
    // scale, and the token count fuses into the scan.
    "q_mixture_tokens" -> ((s, dir) => {
      val budget = 600L
      val m = 2147483647L
      val skey = (col("doc_id") % m) * 48271L % m
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"), skey.as("skey"))
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens").cast("long")).over(w), lit(0L)))
        .filter(col("cum_before") < budget)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_before"))
    }),

    // Temperature-weighted mixture quotas — the multilingual/multi-source
    // sampling rule (XLM-R, mBERT: source weight ∝ n^α with α=1/2 damping
    // the big sources so small ones aren't drowned): quota_i =
    // T·⌊√n_i⌋ div Σ⌊√n⌋ docs from each source, taken in the
    // deterministic Lehmer shuffle order. All arithmetic is INTEGER
    // (isqrt = floor of the IEEE-correctly-rounded sqrt; integer div), so
    // the kept set is engine-exact with no FP boundary to flip. The
    // per-source counts are a |sources|-row collect (the Ivf-centroid
    // class — a handful of rows, never corpus-sized); the per-doc rank is
    // a KEYED window on source, one hash exchange at any scale.
    "q_mixture_temperature" -> ((s, dir) => {
      import s.implicits._
      val T = 400L
      val cRows = docs(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_source"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val wgts = cRows.map { case (src, n) => (src, n, math.sqrt(n.toDouble).toLong) }
      val tw = wgts.map(_._3).sum
      val qdf = wgts.toSeq.map { case (src, n, wg) => (src, n, T * wg / tw) }
        .toDF("source", "n_source", "quota")
      val skey = (col("doc_id") % 2147483647L) * 48271L % 2147483647L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("source"), skey.as("skey"))
        .withColumn("rk", row_number().over(w))
        .join(broadcast(qdf), "source")
        .filter(col("rk") <= col("quota"))
        .select(col("doc_id"), col("source"), col("n_source"), col("quota"), col("rk"))
    }),

    // Deterministic sharded training-order shuffle: a Lehmer permutation
    // of doc_id (×48271 mod 2³¹−1 — reproducible pseudorandom order, no
    // RNG state to ship) keys both the shard assignment and the
    // within-shard position. This is the export step that writes training
    // files: shard = one output file, pos = record order inside it. The
    // position is the two-level chunked row_number (ScalableWindows): a
    // plain per-shard window is one task per shard — 16 tasks total
    // regardless of cluster size — so at 100 TB each shard serializes;
    // chunked on skey ranges (2³¹/4096-wide slices), positions come from
    // per-chunk row_number + exclusive-scanned chunk counts, bounded
    // parallel task work, identical positions.
    "q_shuffle_shards" -> ((s, dir) => {
      // reduce doc_id mod 2^31-1 BEFORE the multiply: the product then
      // stays under 2^47, so the key never overflows a long (Spark 4 ANSI
      // would throw; the oracle engine would too) at any id scale
      val skey = (col("doc_id") % 2147483647L) * 48271L % 2147483647L
      val base = docs(s, dir)
        .select(col("doc_id"), skey.as("skey"))
        .withColumn("shard", (col("skey") % 16).cast("int"))
      graft.operators.ScalableWindows
        .keyedRowNumber(base, Seq("shard"), Seq("skey", "doc_id"), "pos",
          chunkWidth = 524288L)
        .select(col("doc_id"), col("skey"), col("shard"), col("pos"))
    }),

    // Training-window chunking: 64-token windows, stride 48 (16-token
    // overlap). Chunk slicing is pure column arithmetic fused into the
    // scan; the chunk content hash travels instead of the chunk text.
    "q_chunk" -> ((s, dir) =>
      Tables.widen(docs(s, dir))
        .select(col("doc_id"),
          explode(TextAnalysis.tokenChunks(col("text"), window = 64, stride = 48)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          size(col("c.toks")).as("n_tokens"),
          md5(array_join(col("c.toks"), " ")).as("chunk_md5"))),

    // CHUNK-level dedup — boilerplate detection at training-window
    // granularity (document dedup misses a duplicated passage inside
    // otherwise-distinct docs; this is the q_span_dedup signal at the
    // granularity the packer actually emits): non-overlapping 64-token
    // chunks, content-hashed, groups with >1 occurrence reported with the
    // canonical keeper. One explode + one map-side-combined hash
    // aggregate — exactly the exact-dedup plan, applied post-chunking.
    "q_chunk_dedup" -> ((s, dir) =>
      // widen BEFORE the CPU-bound tokenize+explode+md5: a compact 100×
      // documents file is one scan partition, serializing the per-doc work
      Tables.widen(docs(s, dir))
        .select(col("doc_id"),
          explode(TextAnalysis.tokenChunks(col("text"), window = 64, stride = 64)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          md5(array_join(col("c.toks"), " ")).as("chunk_md5"))
        .groupBy(col("chunk_md5"))
        .agg(count(lit(1)).as("n_copies"),
          min(struct(col("doc_id"), col("chunk_idx"))).as("keep"))
        .filter(col("n_copies") >= 2)
        .select(col("chunk_md5"), col("n_copies"),
          col("keep.doc_id").as("keeper_doc"), col("keep.chunk_idx").as("keeper_chunk"))),

    // PII redaction: the corpus carries no PII (word-salad synthetic), so
    // a deterministic fake email + phone is appended per document, then
    // redacted back out — proving the redaction semantics against the
    // oracle's independent regex engine. The counts + redaction run
    // through the fused PiiScan kernel (one codegen'd struct per row,
    // three linear passes) whose scanners are fuzz-pinned to the
    // java.util.regex semantics of the composed TextAnalysis.redactPii /
    // regexp_count formulation (PiiScanSpec) — the oracle SQL is
    // untouched.
    "q_redact_pii" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" call 555-867-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val scan = graft.functions.PiiScan(injected)
      Tables.widen(docs(s, dir)).select(
        col("doc_id"),
        scan.getField("n_emails").as("n_emails"),
        scan.getField("n_phones").as("n_phones"),
        md5(scan.getField("redacted")).as("redacted_md5"),
        length(scan.getField("redacted")).as("redacted_len"))
    })
  )

  // DuckDB-side token expression shared by the oracles below.
  private val Toks = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

  /** Generated CTE chain replaying `n` BPE training iterations (the
    * q_kmeans unrolled-training move): `w0` = ASCII-letter word freq +
    * char list; each iteration k = pair counts over adjacent positions
    * (`p_k`), the winning pair by (count DESC, left, right) (`b_k`), and
    * the greedy left-to-right merge via an accumulating `list_reduce`
    * (`w_k`). `[1:len(x)-1]` is DuckDB's "drop last" (its negative-stop
    * slice does NOT drop); the lambda captures the cross-joined 1-row
    * winner's columns. */
  private def bpeTrainCtes(n: Int): String = {
    val sb = new StringBuilder
    sb ++= """w0 AS (
             |  SELECT word, count(*) AS freq,
             |         list_transform(range(1, length(word) + 1), i -> word[i:i]) AS syms
             |  FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS word FROM documents)
             |  GROUP BY word)""".stripMargin
    for (k <- 1 to n) {
      sb ++= s""",
               |p$k AS (
               |  SELECT pr[1] AS l, pr[2] AS r, sum(freq) AS c FROM (
               |    SELECT freq, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS pr
               |    FROM w${k - 1})
               |  GROUP BY 1, 2),
               |b$k AS (SELECT l, r FROM p$k ORDER BY c DESC, l, r LIMIT 1),
               |w$k AS (
               |  SELECT word, freq,
               |    list_reduce(list_transform(syms, s -> [s]),
               |      (acc, x) -> CASE WHEN acc[-1] = b$k.l AND x[1] = b$k.r
               |                       THEN acc[1:len(acc)-1] || [acc[-1] || x[1]]
               |                       ELSE acc || x END) AS syms
               |  FROM w${k - 1}, b$k)""".stripMargin
    }
    sb.toString
  }

  /** The near-dup connected-components chain (3-gram shingles, df-pruned
    * candidates, Jaccard gate, transitive closure by recursive CTE) shared
    * by the q_dedup_groups oracle and the group-aware-split oracle. Ends
    * with the `reach` CTE; append a final SELECT (or more CTEs). */
  private lazy val dedupGroupsCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $Toks AS t FROM documents),
       |shingled AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |           unnest(CASE WHEN len(t) < 3 THEN []
       |                  ELSE list_transform(range(1, len(t) - 1),
       |                       i -> array_to_string(t[i:i+2], ' ')) END) AS shingle
       |    FROM toks)),
       |rare AS (
       |  SELECT shingle FROM shingled GROUP BY shingle HAVING count(*) <= 10),
       |pruned AS (
       |  SELECT s.doc_id, s.shingle FROM shingled s JOIN rare USING (shingle)),
       |sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY doc_id),
       |cand AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
       |    FROM pruned a JOIN pruned b USING (shingle)
       |    WHERE a.doc_id < b.doc_id GROUP BY 1, 2) p
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE floor(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) * 10000 + 0.5) / 10000 >= 0.05),
       |edges AS (
       |  SELECT id_a AS s, id_b AS d FROM cand
       |  UNION SELECT id_b, id_a FROM cand),
       |reach AS (
       |  SELECT s AS id, d AS r FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)""".stripMargin

  /** The q_clean_corpus oracle body (also embedded as a CTE subquery by
    * the q_export composite oracle). */
  private val cleanCorpusOracle: String =
    s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $Toks AS t FROM documents),
         |shingled AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |           unnest(CASE WHEN len(t) < 3 THEN []
         |                  ELSE list_transform(range(1, len(t) - 1),
         |                       i -> array_to_string(t[i:i+2], ' ')) END) AS shingle
         |    FROM toks)),
         |rare AS (
         |  SELECT shingle FROM shingled GROUP BY shingle HAVING count(*) <= 10),
         |pruned AS (
         |  SELECT s.doc_id, s.shingle FROM shingled s JOIN rare USING (shingle)),
         |sizes AS (
         |  SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY doc_id),
         |cand AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |    FROM pruned a JOIN pruned b USING (shingle)
         |    WHERE a.doc_id < b.doc_id GROUP BY 1, 2) p
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE floor(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) * 10000 + 0.5) / 10000 >= 0.05),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM cand
         |  UNION SELECT id_b, id_a FROM cand),
         |reach AS (
         |  SELECT s AS id, d AS r FROM edges
         |  UNION
         |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
         |near_nk AS (
         |  SELECT id AS doc_id FROM (
         |    SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id)
         |  WHERE id <> comp),
         |exact_nk AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS k
         |    FROM documents)
         |  WHERE doc_id <> k)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM near_nk)
         |  AND doc_id NOT IN (SELECT doc_id FROM exact_nk)""".stripMargin

  /** The DSIR oracle SQL, shared verbatim by `q_dsir` and
    * `q_dsir_persist` (same computation; the twin differs only in the
    * physical plan — persisted vs recomputed feature explode). Every
    * feature's portable bucket replayed (unigrams + bigrams), both
    * smoothed distributions and the ln ratios recomputed, weighted sums
    * rounded at 1e-4 — the engines' ln kernels agree ~11 orders of
    * magnitude below that. */
  private val dsirOracleSql: String = {
    import graft.functions.PortableHash
    val pow31 = PortableHash.powers.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, $Toks AS toks FROM documents),
       |f0 AS (
       |  SELECT doc_id, lang,
       |         unnest(list_concat(toks,
       |           list_transform(range(1, len(toks)),
       |             i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]))) AS f
       |  FROM t),
       |f AS (
       |  SELECT doc_id, lang,
       |         (CASE WHEN length(f) = 0 THEN 0
       |               ELSE CAST(list_sum(list_transform(
       |                      range(1, least(length(f), 48) + 1),
       |                      c -> CAST(ord(substr(f, CAST(c AS INT), 1)) AS BIGINT)
       |                           * ([$pow31])[CAST(c AS INT)]))
       |                    % 2147483647 AS BIGINT) END) % 256 AS bucket
       |  FROM f0),
       |s AS (
       |  SELECT bucket, count(*) AS cr,
       |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
       |  FROM f GROUP BY 1),
       |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM s),
       |lam AS (
       |  SELECT bucket,
       |         ln((ct + 1.0) / (nt + 256.0)) - ln((cr + 1.0) / (nr + 256.0)) AS lam
       |  FROM s, tot),
       |dfeat AS (SELECT doc_id, bucket, count(*) AS n FROM f GROUP BY 1, 2),
       |sc AS (
       |  SELECT d.doc_id, sum(d.n) AS n_feats, sum(d.n * l.lam) AS raw
       |  FROM dfeat d JOIN lam l USING (bucket) GROUP BY 1)
       |SELECT doc.doc_id,
       |       CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
       |       coalesce(floor(sc.raw * 10000 + 0.5) / 10000, 0.0) AS score
       |FROM documents doc LEFT JOIN sc ON doc.doc_id = sc.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_bpe_trained" ->
      s"""WITH ${bpeTrainCtes(8)},
         |lens AS (SELECT word, len(syms) AS n_tok FROM w8),
         |docw AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z]+')) AS word
         |  FROM documents)
         |SELECT doc_id, count(*) AS n_words, CAST(sum(n_tok) AS BIGINT) AS n_bpe
         |FROM docw JOIN lens USING (word)
         |GROUP BY doc_id""".stripMargin,

    "q_expand_words" ->
      s"""SELECT doc_id, word FROM (
         |  SELECT doc_id, unnest($Toks) AS word FROM documents)
         |WHERE length(word) >= 8""".stripMargin,

    "q_token_stats" ->
      s"""SELECT doc_id,
         |       CAST(len($Toks) AS INT) AS n_tokens,
         |       CASE WHEN len($Toks) = 0 THEN 0.0
         |            ELSE floor(CAST(list_sum(list_transform($Toks, t -> length(t))) AS DOUBLE)
         |                       / len($Toks) * 10000 + 0.5) / 10000 END AS avg_token_len
         |FROM documents""".stripMargin,

    // same regex, single-quote doubled for the SQL literal; RE2 and Java
    // regex agree on it by construction (leftmost-first, no lookahead,
    // explicit whitespace class — Java \s includes U+000B, RE2's doesn't)
    "q_bpe_tokens" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |         len(regexp_extract_all(text,
         |           '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\t\\n\\f\\r \\p{L}\\p{N}]+|[\\t\\n\\f\\r ]+')) AS n_bpe,
         |         len($Toks) AS n_words
         |  FROM documents)
         |SELECT doc_id, CAST(n_bpe AS INT) AS n_bpe,
         |       CASE WHEN n_words = 0 THEN 0.0
         |            ELSE floor(CAST(n_bpe AS DOUBLE) / n_words * 10000 + 0.5) / 10000
         |       END AS fertility
         |FROM b""".stripMargin,

    "q_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $Toks AS toks,
         |         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, toks, digits, length(text) AS tlen,
         |         CASE WHEN len(toks) = 0 THEN 0.0
         |              ELSE floor(CAST(len(list_filter(toks,
         |                     t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
         |                   / len(toks) * 10000 + 0.5) / 10000 END AS stop_ratio
         |  FROM t)
         |SELECT doc_id, stop_ratio,
         |       floor((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.5
         |             + least(stop_ratio * 5.0, 1.0) * 0.3
         |             + (1.0 - least(CAST(digits AS DOUBLE) / greatest(tlen, 1), 1.0)) * 0.2)
         |             * 10000 + 0.5) / 10000 AS quality
         |FROM r""".stripMargin,

    "q_lang_heuristic" ->
      s"""WITH t AS (SELECT doc_id, lang, $Toks AS toks FROM documents),
         |sc AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks) END AS en,
         |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, t -> t IN ('der','und','die','das','ein'))) AS DOUBLE) / len(toks) END AS de,
         |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, t -> t IN ('le','la','et','les','des'))) AS DOUBLE) / len(toks) END AS fr,
         |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, t -> t IN ('el','los','y','que','una'))) AS DOUBLE) / len(toks) END AS es
         |  FROM t)
         |SELECT doc_id, lang,
         |       CASE WHEN greatest(de, fr, es) > en AND de >= fr AND de >= es THEN 'de'
         |            WHEN greatest(fr, es) > en AND fr >= es THEN 'fr'
         |            WHEN es > en THEN 'es'
         |            WHEN en > 0 THEN 'en'
         |            ELSE 'unk' END AS pred_lang
         |FROM sc""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id,
         |       md5(array_to_string(list_sort(list_distinct($Toks)), ' ')) AS fp
         |FROM documents""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $Toks AS t FROM documents),
         |shingled AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |           unnest(CASE WHEN len(t) < 3 THEN []
         |                  ELSE list_transform(range(1, len(t) - 1),
         |                       i -> array_to_string(t[i:i+2], ' ')) END) AS shingle
         |    FROM toks)),
         |rare AS (
         |  SELECT shingle FROM shingled GROUP BY shingle HAVING count(*) <= 10),
         |pruned AS (
         |  SELECT s.doc_id, s.shingle FROM shingled s JOIN rare USING (shingle)),
         |sizes AS (
         |  SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |  FROM pruned a JOIN pruned b USING (shingle)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
         |       floor(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) * 10000 + 0.5) / 10000 AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE floor(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) * 10000 + 0.5) / 10000 >= 0.05""".stripMargin,

    "q_dedup_groups" ->
      s"""WITH RECURSIVE $dedupGroupsCtes
         |SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id""".stripMargin,

    // the dedup-groups CTEs + every document joined to its component
    // (singletons group as themselves), fold = the Lehmer hash of the
    // GROUP key — near-dup families land in one fold by construction
    "q_split_groupaware" ->
      s"""WITH RECURSIVE $dedupGroupsCtes,
         |comp AS (SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id),
         |g AS (
         |  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, group_key,
         |       CASE WHEN ((group_key + 1) * 48271) % 2147483647 % 10 < 8 THEN 'train'
         |            WHEN ((group_key + 1) * 48271) % 2147483647 % 10 = 8 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM g""".stripMargin,

    // same quality arithmetic as q_quality, then per-lang ntile
    "q_quality_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text, $Toks AS toks,
         |         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, toks, digits, length(text) AS tlen,
         |         CASE WHEN len(toks) = 0 THEN 0.0
         |              ELSE floor(CAST(len(list_filter(toks,
         |                     t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
         |                   / len(toks) * 10000 + 0.5) / 10000 END AS stop_ratio
         |  FROM t),
         |scored AS (
         |  SELECT doc_id, lang,
         |         floor((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.5
         |               + least(stop_ratio * 5.0, 1.0) * 0.3
         |               + (1.0 - least(CAST(digits AS DOUBLE) / greatest(tlen, 1), 1.0)) * 0.2)
         |               * 10000 + 0.5) / 10000 AS quality
         |  FROM r),
         |tiled AS (
         |  SELECT doc_id, lang, quality,
         |         CAST(ntile(5) OVER (PARTITION BY lang
         |                             ORDER BY quality DESC, doc_id) AS INT) AS tile
         |  FROM scored)
         |SELECT doc_id, lang, quality, tile FROM tiled WHERE tile <= 4""".stripMargin,

    "q_lang_balance" ->
      """SELECT doc_id, lang, rank FROM (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS INT) AS rank
        |  FROM documents)
        |WHERE rank <= 80""".stripMargin,

    "q_clean_corpus" -> cleanCorpusOracle,

    // the four stages chained: the clean-corpus oracle as a nested-WITH
    // CTE, the ≥10-token rule, the q_pack exclusive-prefix-sum binning,
    // the q_shuffle_shards Lehmer arithmetic over (polyHash(source)·31 +
    // bin) — all the already-proven portable forms
    "q_export" -> {
      import graft.functions.PortableHash
      val pow31 = PortableHash.powers.mkString(", ")
      s"""WITH clean AS ($cleanCorpusOracle),
         |kept AS (
         |  SELECT d.doc_id, d.source, CAST(len($Toks) AS BIGINT) AS n_tokens
         |  FROM documents d JOIN clean USING (doc_id)
         |  WHERE len($Toks) >= 10),
         |binned AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |                ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |                AND 1 PRECEDING), 0) / 2000) AS BIGINT) AS bin
         |  FROM kept),
         |seqs AS (
         |  SELECT source, bin, count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
         |         min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |  FROM binned GROUP BY 1, 2),
         |keyed AS (
         |  SELECT *,
         |         ((CASE WHEN length(source) = 0 THEN 0
         |                 ELSE CAST(list_sum(list_transform(
         |                        range(1, least(length(source), 48) + 1),
         |                        c -> CAST(ord(substr(source, CAST(c AS INT), 1)) AS BIGINT)
         |                             * ([$pow31])[CAST(c AS INT)]))
         |                      % 2147483647 AS BIGINT) END * 31 + bin)
         |           % 2147483647) * 48271 % 2147483647 AS skey
         |  FROM seqs)
         |SELECT CAST(skey % 8 AS INT) AS shard,
         |       CAST(row_number() OVER (PARTITION BY skey % 8
         |              ORDER BY skey, source, bin) AS INT) AS pos,
         |       source, bin, n_docs, seq_tokens, first_doc, last_doc
         |FROM keyed""".stripMargin
    },


    // the batch q_export pipeline with two deltas, both in the manifest
    // tail: each source's max bin (the watermark-open sequence) is
    // excluded, and pos ranks the CLOSED rows — keep set and bins are
    // identical (the streaming exact-dedup decision at doc_id-ordered
    // arrival IS the min-id-keeper rule; near-dups come from the same
    // CC job both sides)
    "q_streaming_export" -> {
      import graft.functions.PortableHash
      val pow31 = PortableHash.powers.mkString(", ")
      s"""WITH clean AS ($cleanCorpusOracle),
         |kept AS (
         |  SELECT d.doc_id, d.source, CAST(len($Toks) AS BIGINT) AS n_tokens
         |  FROM documents d JOIN clean USING (doc_id)
         |  WHERE len($Toks) >= 10),
         |binned AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |                ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |                AND 1 PRECEDING), 0) / 500) AS BIGINT) AS bin
         |  FROM kept),
         |seqs AS (
         |  SELECT source, bin, count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
         |         min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |  FROM binned GROUP BY 1, 2),
         |closed AS (
         |  SELECT source, bin, n_docs, seq_tokens, first_doc, last_doc FROM (
         |    SELECT *, max(bin) OVER (PARTITION BY source) AS mb FROM seqs)
         |  WHERE bin < mb),
         |keyed AS (
         |  SELECT *,
         |         ((CASE WHEN length(source) = 0 THEN 0
         |                 ELSE CAST(list_sum(list_transform(
         |                        range(1, least(length(source), 48) + 1),
         |                        c -> CAST(ord(substr(source, CAST(c AS INT), 1)) AS BIGINT)
         |                             * ([$pow31])[CAST(c AS INT)]))
         |                      % 2147483647 AS BIGINT) END * 31 + bin)
         |           % 2147483647) * 48271 % 2147483647 AS skey
         |  FROM closed)
         |SELECT CAST(skey % 8 AS INT) AS shard,
         |       CAST(row_number() OVER (PARTITION BY skey % 8
         |              ORDER BY skey, source, bin) AS INT) AS pos,
         |       source, bin, n_docs, seq_tokens, first_doc, last_doc
         |FROM keyed""".stripMargin
    },

    "q_split" ->
      """SELECT doc_id,
        |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    // identical content-hash arithmetic: '0x'-prefixed hex cast = Spark's
    // conv(_, 16, 10)
    "q_split_grouped" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         CAST(CAST('0x' || substr(md5(text), 1, 6) AS BIGINT) % 100 AS INT) AS pct
        |  FROM documents)
        |SELECT doc_id, pct,
        |       CASE WHEN pct < 80 THEN 'train'
        |            WHEN pct < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM p""".stripMargin,

    "q_pack" ->
      s"""SELECT doc_id, source, CAST(len($Toks) AS INT) AS n_tokens,
         |       CAST(COALESCE(sum(CAST(len($Toks) AS INT)) OVER (
         |              PARTITION BY source ORDER BY doc_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |            // 2000 AS BIGINT) AS bin
         |FROM documents""".stripMargin,

    "q_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, $Toks AS toks FROM documents),
         |r AS (
         |  SELECT doc_id, greatest(len(toks) - 2, 0) AS n_ngrams,
         |         CASE WHEN len(toks) < 3 THEN 0
         |              ELSE len(list_distinct(list_transform(range(1, len(toks) - 1),
         |                   i -> array_to_string(toks[i:i+2], ' ')))) END AS n_distinct
         |  FROM t)
         |SELECT doc_id, CAST(n_ngrams AS INT) AS n_ngrams,
         |       CASE WHEN n_ngrams = 0 THEN 0.0
         |            ELSE floor((1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams) * 10000 + 0.5) / 10000
         |       END AS repetition
         |FROM r""".stripMargin,

    // header is 'P5\n32 ' (6) + digits(h) + '\n255\n' (5); raster is 32*h;
    // length() over the ASCII-sanitized text = exact byte count
    "q_image_decode" ->
      """SELECT doc_id,
        |       11 + length(CAST(h AS VARCHAR)) + 32 * h AS n_bytes,
        |       32 AS width, h AS height
        |FROM (SELECT doc_id,
        |             greatest(CAST(ceil(length(regexp_replace(text, '[^\x20-\x7e]', '?', 'g')) / 32.0) AS INT), 1) AS h
        |      FROM documents)""".stripMargin,

    "q_tfidf" ->
      s"""WITH terms AS (
         |  SELECT doc_id, unnest($Toks) AS term FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |         tf.tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf_raw
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
         |ranked AS (
         |  SELECT doc_id, term, tfidf_raw,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY tfidf_raw DESC, term) AS rank
         |  FROM scored)
         |SELECT doc_id, term, rank,
         |       floor(tfidf_raw * 10000 + 0.5) / 10000 AS tfidf
         |FROM ranked WHERE rank <= 3""".stripMargin,

    // unigram log-probs re-derived from the same corpus counts; docs with
    // zero tokens appear on neither side (no terms rows)
    "q_unigram_quality" ->
      s"""WITH terms AS (
         |  SELECT doc_id, unnest($Toks) AS term FROM documents),
         |vocab AS (
         |  SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS n FROM vocab),
         |scored AS (
         |  SELECT t.doc_id,
         |         ln(CAST(v.cnt AS DOUBLE)) - ln(CAST(tot.n AS DOUBLE)) AS logp
         |  FROM terms t JOIN vocab v USING (term) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |       floor(avg(logp) * 10000 + 0.5) / 10000 AS avg_logp
         |FROM scored GROUP BY doc_id""".stripMargin,

    // bigram model re-derived with the same smoothing arithmetic
    // (ln(c2+0.5) − ln(c1+0.5·V), V = distinct bigram heads); DuckDB
    // slices are 1-based inclusive so range(1, len) yields the same
    // (w1,w2) pairs as Spark's 0-based sequence(0, size-2)
    "q_bigram_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, $Toks AS toks FROM documents),
         |p AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(toks)),
         |                i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
         |  FROM t WHERE len(toks) >= 2),
         |bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM p),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
         |v AS (SELECT count(DISTINCT w1) AS hv FROM bi),
         |model AS (
         |  SELECT c2.w1, c2.w2,
         |         ln(c2 + 0.5) - ln(c1 + 0.5 * hv) AS logp
         |  FROM c2 JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       floor(avg(logp) * 10000 + 0.5) / 10000 AS avg_logp
         |FROM bi JOIN model USING (w1, w2)
         |GROUP BY doc_id""".stripMargin,

    // per-token polyHash → bucket → weight replayed in exact integer
    // arithmetic (the q_rolling_portable machinery); the only floats are
    // the final mean-normalized sigmoid, mirrored operation for operation
    "q_quality_classifier" -> {
      import graft.functions.PortableHash
      val pow31 = PortableHash.powers.mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, $Toks AS toks FROM documents),
         |s AS (
         |  SELECT doc_id, len(toks) AS n,
         |         coalesce(list_sum(list_transform(toks, tk ->
         |           ((CASE WHEN length(tk) = 0 THEN 0
         |                  ELSE CAST(list_sum(list_transform(
         |                         range(1, least(length(tk), 48) + 1),
         |                         c -> CAST(ord(substr(tk, CAST(c AS INT), 1)) AS BIGINT)
         |                              * ([$pow31])[CAST(c AS INT)]))
         |                       % 2147483647 AS BIGINT) END
         |             % 1024) * 2654435761) % 1001 - 500)), 0) AS raw
         |  FROM t)
         |SELECT doc_id, CAST(n AS INT) AS n_tokens,
         |       CASE WHEN n = 0 THEN 0.5
         |            ELSE floor(1.0 / (1.0 + exp(-(CAST(raw AS DOUBLE) / n / 500.0)))
         |                 * 10000 + 0.5) / 10000 END AS quality_prob
         |FROM s""".stripMargin
    },

    // every feature's portable bucket replayed (unigrams + bigrams), both
    // smoothed distributions and the ln ratios recomputed, weighted sums
    // rounded at 1e-4 — the engines' ln kernels agree ~11 orders of
    // magnitude below that
    "q_dsir" -> dsirOracleSql,

    // same computation, different physical plan (persisted explode) —
    // the oracle is q_dsir's verbatim
    "q_dsir_persist" -> dsirOracleSql,

    // blocking keys, length band, and 200-char Levenshtein replayed
    // exactly (DuckDB's levenshtein is the same unit-cost edit distance
    // Spark computes; the Spark side adds the banded-DP threshold)
    "q_fuzzy_join" ->
      """WITH b AS (
        |  SELECT doc_id, lower(substr(text, 1, 24)) AS k,
        |         substr(text, 1, 200) AS t200, length(text) AS len
        |  FROM documents)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |       CAST(levenshtein(a.t200, c.t200) AS INT) AS dist
        |FROM b a JOIN b c ON a.k = c.k AND a.doc_id < c.doc_id
        |WHERE abs(a.len - c.len) <= 40
        |  AND levenshtein(a.t200, c.t200) <= 20""".stripMargin,

    // the same changeset + full-outer-join application: updates replace,
    // deletes drop, inserts survive the join with no base row
    "q_merge_upsert" ->
      """WITH ch AS (
        |  SELECT doc_id, text || ' [v2]' AS text, lang, source, n_chars, 'U' AS op
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars, 'D' AS op
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, lang, source, n_chars, 'U' AS op
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT coalesce(c.doc_id, b.doc_id) AS doc_id,
        |       CASE WHEN c.op = 'U' THEN c.text    ELSE b.text    END AS text,
        |       CASE WHEN c.op = 'U' THEN c.lang    ELSE b.lang    END AS lang,
        |       CASE WHEN c.op = 'U' THEN c.source  ELSE b.source  END AS source,
        |       CASE WHEN c.op = 'U' THEN c.n_chars ELSE b.n_chars END AS n_chars
        |FROM documents b FULL OUTER JOIN ch c ON b.doc_id = c.doc_id
        |WHERE c.op IS NULL OR c.op <> 'D'""".stripMargin,

    // every epoch unrolled: u_e = the misclassified-sum update under the
    // previous weights (y·(w·x) <= 0, ties = errors), w_e = w_{e-1} + u_e;
    // all-BIGINT so there is no accumulation order to diverge
    "q_perceptron" -> {
      val d = 5
      def marginSql = (0 until d).map(i => s"w.a$i * x$i").mkString(" + ")
      val fCte =
        """f AS (
          |  SELECT doc_id,
          |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
          |              ELSE CAST(-1 AS BIGINT) END AS y,
          |         CAST(1 AS BIGINT) AS x0,
          |         CAST(length(text) AS BIGINT) AS x1,
          |         CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS x2,
          |         CAST(len(list_filter(regexp_extract_all(text, '[a-z]+'),
          |                              tk -> tk IN ('the', 'a'))) AS BIGINT) AS x3,
          |         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS x4
          |  FROM documents)""".stripMargin
      val w0 = s"w0 AS (SELECT ${(0 until d).map(i => s"CAST(0 AS BIGINT) AS a$i").mkString(", ")})"
      val epochCtes = (1 to 5).map { e =>
        // CAST: DuckDB's sum(BIGINT) widens to HUGEINT, which would
        // propagate through every later weight and the emitted margin
        val upd = (0 until d).map(i =>
          s"CAST(coalesce(sum(CASE WHEN y * ($marginSql) <= 0 THEN y * x$i ELSE 0 END), 0) AS BIGINT) AS d$i")
          .mkString(",\n         ")
        s"""u$e AS (
           |  SELECT $upd
           |  FROM f, w${e - 1} w),
           |w$e AS (SELECT ${(0 until d).map(i => s"w.a$i + u.d$i AS a$i").mkString(", ")}
           |        FROM w${e - 1} w, u$e u)""".stripMargin
      }.mkString(",\n")
      s"""WITH $fCte,
         |$w0,
         |$epochCtes
         |SELECT doc_id, y, margin, pred, pred = y AS correct FROM (
         |  SELECT doc_id, y, $marginSql AS margin,
         |         CASE WHEN $marginSql > 0 THEN CAST(1 AS BIGINT)
         |              ELSE CAST(-1 AS BIGINT) END AS pred
         |  FROM f, w5 w)""".stripMargin
    },

    // BM25 re-derived term by term with the IDENTICAL operation order
    // (idf·(tf·(k1+1)) / (tf + k1·((1−b) + b·dl/avgdl)), terms summed
    // left-to-right) so the double arithmetic agrees bit-for-bit before
    // the shared 4dp floor-rounding; ranking on the rounded score makes
    // the k-boundary selection engine-portable
    "q_bm25_topk" ->
      s"""WITH d AS (
         |  SELECT doc_id, $Toks AS toks FROM documents),
         |tf AS (
         |  SELECT doc_id, len(toks) AS dl,
         |         len(list_filter(toks, x -> x = 'dup'))    AS tf_0,
         |         len(list_filter(toks, x -> x = 'vector')) AS tf_1,
         |         len(list_filter(toks, x -> x = 'merge'))  AS tf_2
         |  FROM d),
         |s AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         |         CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
         |         CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
         |         CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
         |  FROM tf)
         |SELECT doc_id,
         |       floor((
         |           ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5))
         |             * (tf_0 * 2.2) / (tf_0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |         + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5))
         |             * (tf_1 * 2.2) / (tf_1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |         + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5))
         |             * (tf_2 * 2.2) / (tf_2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |       ) * 10000 + 0.5) / 10000 AS score
         |FROM tf, s
         |WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0
         |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    // string 3-grams re-derived with the q_repetition construction
    // (toks[i:i+2], range is [a,b)); hashing is collision-free in practice
    // (see wordNgramHashes), so string-set Jaccard equals hash-set Jaccard
    "q_source_overlap" ->
      s"""WITH t AS (
         |  SELECT source, $Toks AS toks FROM documents),
         |g AS (
         |  SELECT DISTINCT source,
         |         unnest(list_transform(range(1, len(toks) - 1),
         |                i -> array_to_string(toks[i:i+2], ' '))) AS gram
         |  FROM t WHERE len(toks) >= 3),
         |s AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
         |i AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
         |  FROM g a JOIN g b USING (gram)
         |  WHERE a.source < b.source GROUP BY 1, 2)
         |SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |       floor(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
         |             * 10000 + 0.5) / 10000 AS jaccard
         |FROM i JOIN s sa ON sa.source = i.src_a
         |       JOIN s sb ON sb.source = i.src_b""".stripMargin,

    // the sparse posting-list cosine replayed end to end: tf, df-pruned
    // idf weights, per-doc L2 norms, pair partials — threshold applied to
    // the ROUNDED sim on both sides
    "q_sparse_pairs" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
         |terms AS (
         |  SELECT doc_id, unnest($Toks) AS term FROM d),
         |nd AS (SELECT count(*) AS n_docs FROM d),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY 1
         |  HAVING count(*) <= greatest((SELECT n_docs FROM nd) // 10, 20)),
         |w AS (
         |  SELECT tf.doc_id, tf.term,
         |         tf.tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
         |nrm AS (
         |  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
         |wn AS (
         |  SELECT w.doc_id, w.term, w.w / nrm.nrm AS wn
         |  FROM w JOIN nrm USING (doc_id)),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         floor(sum(a.wn * b.wn) * 10000 + 0.5) / 10000 AS sim
         |  FROM wn a JOIN wn b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.3""".stripMargin,

    // closed-form Rabin-Karp over the token prefix, every per-token poly
    // hash and 257-power replayed in exact integer arithmetic
    "q_rolling_portable" -> {
      import graft.functions.PortableHash
      val pow31 = PortableHash.powers.mkString(", ")
      val M = 1000000007L
      val pow257 = Iterator.iterate(1L)(p => p * 257 % M).take(64).toSeq.mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         (list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))[1:64] AS t
         |  FROM documents),
         |d AS (SELECT doc_id, t, len(t) AS k FROM toks)
         |SELECT doc_id,
         |       CAST(coalesce(list_sum(list_transform(range(1, k + 1), i ->
         |              (CASE WHEN length(t[CAST(i AS INT)]) = 0 THEN 0
         |                    ELSE CAST(list_sum(list_transform(
         |                           range(1, least(length(t[CAST(i AS INT)]), 48) + 1),
         |                           c -> CAST(ord(substr(t[CAST(i AS INT)], CAST(c AS INT), 1)) AS BIGINT)
         |                                * ([$pow31])[CAST(c AS INT)]))
         |                         % 2147483647 AS BIGINT) END
         |               * ([$pow257])[CAST(k - i + 1 AS INT)]) % $M)), 0)
         |            % $M AS BIGINT) AS fp
         |FROM d""".stripMargin
    },

    // the same winnowing replayed list-for-list: 3-gram polyhashes, each
    // window-of-4's rightmost minimal position, distinct positions summed
    "q_winnowing" -> {
      import graft.functions.PortableHash
      val pow31 = PortableHash.powers.mkString(", ")
      s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         CASE WHEN len(t) < 3 THEN []
         |              ELSE list_transform(range(1, len(t) - 1),
         |                   i -> array_to_string(t[i:i+2], ' ')) END AS grams
         |  FROM toks),
         |h AS (
         |  SELECT doc_id, len(grams) AS m,
         |         list_transform(grams, s ->
         |           CASE WHEN length(s) = 0 THEN 0
         |                ELSE CAST(list_sum(list_transform(
         |                       range(1, least(length(s), 48) + 1),
         |                       c -> CAST(ord(substr(s, CAST(c AS INT), 1)) AS BIGINT)
         |                            * ([$pow31])[CAST(c AS INT)]))
         |                     % 2147483647 AS BIGINT) END) AS gh
         |  FROM g),
         |sel AS (
         |  SELECT doc_id, m, gh,
         |         CASE WHEN m <= 0 THEN []
         |              ELSE list_distinct(list_transform(range(1, greatest(m - 3, 1) + 1),
         |                j -> list_max(list_filter(range(j, least(j + 3, m) + 1),
         |                       i -> gh[CAST(i AS INT)]
         |                            = list_min(gh[CAST(j AS INT):CAST(least(j + 3, m) AS INT)])))))
         |              END AS ps
         |  FROM h)
         |SELECT doc_id,
         |       CAST(CASE WHEN m <= 0 THEN 0 ELSE len(ps) END AS INT) AS n_fp,
         |       CAST(CASE WHEN m <= 0 THEN 0
         |                 ELSE list_sum(list_transform(ps, p -> gh[CAST(p AS INT)]))
         |                      % 1000000007 END AS BIGINT) AS digest
         |FROM sel""".stripMargin
    },

    // the winnowed index replayed, then the same df-prune and pair count
    "q_winnow_pairs" -> {
      import graft.functions.PortableHash
      val pow31 = PortableHash.powers.mkString(", ")
      s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         CASE WHEN len(t) < 3 THEN []
         |              ELSE list_transform(range(1, len(t) - 1),
         |                   i -> array_to_string(t[i:i+2], ' ')) END AS grams
         |  FROM toks),
         |h AS (
         |  SELECT doc_id, len(grams) AS m,
         |         list_transform(grams, s ->
         |           CASE WHEN length(s) = 0 THEN 0
         |                ELSE CAST(list_sum(list_transform(
         |                       range(1, least(length(s), 48) + 1),
         |                       c -> CAST(ord(substr(s, CAST(c AS INT), 1)) AS BIGINT)
         |                            * ([$pow31])[CAST(c AS INT)]))
         |                     % 2147483647 AS BIGINT) END) AS gh
         |  FROM g),
         |sel AS (
         |  SELECT doc_id, m, gh,
         |         CASE WHEN m <= 0 THEN []
         |              ELSE list_distinct(list_transform(range(1, greatest(m - 3, 1) + 1),
         |                j -> list_max(list_filter(range(j, least(j + 3, m) + 1),
         |                       i -> gh[CAST(i AS INT)]
         |                            = list_min(gh[CAST(j AS INT):CAST(least(j + 3, m) AS INT)])))))
         |              END AS ps
         |  FROM h),
         |f AS (
         |  SELECT DISTINCT doc_id, gh[CAST(p AS INT)] AS fp
         |  FROM (SELECT doc_id, gh, unnest(ps) AS p FROM sel)),
         |d AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM f),
         |r AS (SELECT doc_id, fp FROM d WHERE df <= 10)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |FROM r a JOIN r b USING (fp) WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
    },

    // the row_number formulation of the same top-3: identical quality
    // arithmetic to q_quality, ranked per lang with the standard tiebreak
    "q_topk_agg" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text, $Toks AS toks,
         |         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, toks, digits, length(text) AS tlen,
         |         CASE WHEN len(toks) = 0 THEN 0.0
         |              ELSE floor(CAST(len(list_filter(toks,
         |                     t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
         |                   / len(toks) * 10000 + 0.5) / 10000 END AS stop_ratio
         |  FROM t),
         |q AS (
         |  SELECT doc_id, lang,
         |         floor((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.5
         |               + least(stop_ratio * 5.0, 1.0) * 0.3
         |               + (1.0 - least(CAST(digits AS DOUBLE) / greatest(tlen, 1), 1.0)) * 0.2)
         |               * 10000 + 0.5) / 10000 AS quality
         |  FROM r),
         |ranked AS (
         |  SELECT lang, doc_id, quality,
         |         CAST(row_number() OVER (PARTITION BY lang
         |                                 ORDER BY quality DESC, doc_id) AS INT) AS rank
         |  FROM q)
         |SELECT lang, rank, doc_id, quality FROM ranked WHERE rank <= 3""".stripMargin,

    // string 4-grams stand in for the Spark side's 64-bit hashed 4-grams —
    // identical contamination sets modulo ~2^-65 hash collisions
    "q_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) < 4 THEN []
         |                 ELSE list_transform(range(1, len(t) - 2),
         |                      i -> array_to_string(t[i:i+3], ' ')) END) AS g
         |  FROM toks),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 23 = 0),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM grams JOIN bench USING (g)
         |  WHERE doc_id % 23 <> 0)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id % 23 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,

    // the Bloom prefilter is exact after stage-2 verification, so the
    // oracle is q_decontaminate's verbatim
    "q_decontaminate_bloom" ->
      s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) < 4 THEN []
         |                 ELSE list_transform(range(1, len(t) - 2),
         |                      i -> array_to_string(t[i:i+3], ' ')) END) AS g
         |  FROM toks),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 23 = 0),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM grams JOIN bench USING (g)
         |  WHERE doc_id % 23 <> 0)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id % 23 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,

    // positional 5-gram spans as strings (the Spark side's 64-bit hashes,
    // modulo ~2^-65 collisions); df = distinct docs per span via a window
    // count over the per-(doc, span) aggregate
    "q_span_dedup" ->
      s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) < 5 THEN []
         |                 ELSE list_transform(range(1, len(t) - 3),
         |                      i -> array_to_string(t[i:i+4], ' ')) END) AS g
         |  FROM toks),
         |perdoc AS (SELECT doc_id, g, count(*) AS occ FROM grams GROUP BY doc_id, g),
         |wdf AS (SELECT doc_id, occ, count(*) OVER (PARTITION BY g) AS docs FROM perdoc),
         |dup AS (SELECT doc_id, sum(occ) AS n_dup FROM wdf WHERE docs >= 2 GROUP BY doc_id),
         |base AS (SELECT doc_id, greatest(len(t) - 4, 0) AS n_grams FROM toks)
         |SELECT b.doc_id, CAST(b.n_grams AS INT) AS n_grams,
         |       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
         |       CASE WHEN b.n_grams = 0 THEN 0.0
         |            ELSE floor(coalesce(d.n_dup, 0) / b.n_grams * 1000000 + 0.5) / 1000000
         |       END AS dup_frac
         |FROM base b LEFT JOIN dup d USING (doc_id)""".stripMargin,

    // distinct 4-grams per train doc, hit = gram present in the benchmark
    // slice's distinct gram set; docs shorter than 4 tokens keep 0/0/0.0
    "q_contamination_stats" ->
      s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(t) < 4 THEN []
         |                   ELSE list_transform(range(1, len(t) - 2),
         |                        i -> array_to_string(t[i:i+3], ' ')) END) AS g
         |    FROM toks)),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 23 = 0),
         |stats AS (
         |  SELECT t.doc_id, count(*) AS n_grams,
         |         sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM grams t LEFT JOIN bench b USING (g)
         |  WHERE t.doc_id % 23 <> 0
         |  GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(coalesce(s.n_hit, 0) AS BIGINT) AS n_contaminated,
         |       CASE WHEN coalesce(s.n_grams, 0) = 0 THEN 0.0
         |            ELSE floor(CAST(s.n_hit AS DOUBLE) / s.n_grams * 1000000 + 0.5)
         |                 / 1000000
         |       END AS contaminated_frac
         |FROM documents d LEFT JOIN stats s USING (doc_id)
         |WHERE d.doc_id % 23 <> 0""".stripMargin,

    // same Lehmer uniform, rates via VALUES, copies via range unnest
    "q_mixture_sample" ->
      """WITH rates AS (
        |  SELECT * FROM (VALUES ('src0', 2.0), ('src1', 1.5), ('src2', 0.5))
        |    r(source, rate)),
        |d AS (
        |  SELECT doc_id, d.source,
        |         CAST(((doc_id % 2147483647) * 48271) % 2147483647 AS DOUBLE)
        |           / 2147483647 AS u,
        |         coalesce(r.rate, 0.25) AS rate
        |  FROM documents d LEFT JOIN rates r USING (source)),
        |c AS (
        |  SELECT doc_id, source,
        |         CAST(floor(rate) + (CASE WHEN u < rate - floor(rate)
        |                                  THEN 1 ELSE 0 END) AS BIGINT) AS n
        |  FROM d)
        |SELECT doc_id, source, unnest(range(1, n + 1)) AS copy
        |FROM c WHERE n >= 1""".stripMargin,

    // same Lehmer order; exclusive prefix sum per source, cut at 600
    "q_mixture_tokens" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len($Toks) AS INT) AS n_tokens,
         |         ((doc_id % 2147483647) * 48271) % 2147483647 AS skey
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(COALESCE(sum(n_tokens) OVER (
         |                PARTITION BY source ORDER BY skey, doc_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |              AS BIGINT) AS cum_before
         |  FROM t)
         |SELECT doc_id, source, n_tokens, cum_before
         |FROM c WHERE cum_before < 600""".stripMargin,

    // integer-exact replay: isqrt weights, integer-div quotas, the same
    // Lehmer rank per source
    "q_mixture_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
        |w AS (SELECT source, n_source,
        |             CAST(floor(sqrt(n_source)) AS BIGINT) AS wgt FROM c),
        |t AS (SELECT sum(wgt) AS tw FROM w),
        |q AS (SELECT source, n_source,
        |             CAST((400 * wgt) // tw AS BIGINT) AS quota FROM w, t),
        |r AS (SELECT doc_id, source,
        |             ((doc_id % 2147483647) * 48271) % 2147483647 AS skey
        |      FROM documents),
        |rk AS (SELECT doc_id, source, skey,
        |              row_number() OVER (PARTITION BY source
        |                                 ORDER BY skey, doc_id) AS rk
        |       FROM r)
        |SELECT rk.doc_id, rk.source, q.n_source, q.quota, CAST(rk.rk AS INT) AS rk
        |FROM rk JOIN q USING (source) WHERE rk.rk <= q.quota""".stripMargin,

    // Lehmer key (doc_id * 48271 mod 2^31-1), shard = key mod 16,
    // pos = rank within shard by (key, doc_id)
    "q_shuffle_shards" ->
      """WITH k AS (
        |  SELECT doc_id, ((doc_id % 2147483647) * 48271) % 2147483647 AS skey
        |  FROM documents)
        |SELECT doc_id, skey, CAST(skey % 16 AS INT) AS shard,
        |       CAST(row_number() OVER (PARTITION BY skey % 16
        |                               ORDER BY skey, doc_id) AS INT) AS pos
        |FROM k""".stripMargin,

    // chunk k covers tokens [k*48+1, k*48+64] (1-based inclusive slice);
    // a doc with n tokens yields ceil(n/48) chunks, trailing chunk short
    "q_chunk" ->
      s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
         |d AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
         |c AS (SELECT doc_id, t, n,
         |             unnest(range(0, CAST(ceil(n / 48.0) AS INT))) AS k
         |      FROM d)
         |SELECT doc_id, CAST(k AS INT) AS chunk_idx,
         |       CAST(least(64, n - k * 48) AS INT) AS n_tokens,
         |       md5(array_to_string(
         |         t[CAST(k * 48 + 1 AS INT):CAST(least(k * 48 + 64, n) AS INT)],
         |         ' ')) AS chunk_md5
         |FROM c""".stripMargin,

    // same non-overlapping chunking, grouped by content hash; the keeper
    // (Spark's lexicographic min(struct)) is the rank-1 row by
    // (doc_id, chunk_idx)
    "q_chunk_dedup" ->
      s"""WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
         |d AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
         |c AS (SELECT doc_id, t, n,
         |             unnest(range(0, CAST(ceil(n / 64.0) AS INT))) AS k
         |      FROM d),
         |h AS (SELECT doc_id, CAST(k AS INT) AS chunk_idx,
         |             md5(array_to_string(
         |               t[CAST(k * 64 + 1 AS INT):CAST(least(k * 64 + 64, n) AS INT)],
         |               ' ')) AS chunk_md5
         |      FROM c),
         |r AS (SELECT chunk_md5, doc_id, chunk_idx,
         |             count(*) OVER (PARTITION BY chunk_md5) AS n_copies,
         |             row_number() OVER (PARTITION BY chunk_md5
         |                                ORDER BY doc_id, chunk_idx) AS rn
         |      FROM h)
         |SELECT chunk_md5, CAST(n_copies AS BIGINT) AS n_copies,
         |       doc_id AS keeper_doc, chunk_idx AS keeper_chunk
         |FROM r WHERE rn = 1 AND n_copies >= 2""".stripMargin,

    // the same injected fake PII, counted and redacted through DuckDB's
    // independent (RE2) regex engine — the patterns are chosen to mean the
    // same thing under Java regex and RE2
    "q_redact_pii" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR)
        |              || '@example.com or +1-555-'
        |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              || ' call 555-867-'
        |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS it
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, it,
        |         regexp_replace(
        |           regexp_replace(it,
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |           '(^|[^0-9])(\+?\d{1,3}([- ]\d{2,4}){2,3})', '\1[PHONE]', 'g') AS r
        |  FROM inj)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(it,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(it,
        |         '(^|[^0-9])(\+?\d{1,3}([- ]\d{2,4}){2,3})')) AS INT) AS n_phones,
        |       md5(r) AS redacted_md5,
        |       CAST(length(r) AS INT) AS redacted_len
        |FROM red""".stripMargin
  )
}
