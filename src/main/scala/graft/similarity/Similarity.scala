package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.operators.Relational.roundp

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). The dot products are pure `Column` expressions
  * (`zip_with` + `aggregate`, computed in double) so they stay inside
  * whole-stage codegen; no UDFs.
  *
  * Scale path: brute force is one broadcast of the (small) query set against
  * a partitioned scan of the corpus — linear, embarrassingly parallel, the
  * right baseline. The LSH variant cuts the scanned fraction by bucketing
  * both sides on random-hyperplane sign bits and joining per bucket.
  */
object Similarity {

  /** Default row gate for [[cosineNearDupPairsBlocked]]: 100k rows ≈ 5
    * billion cosine evaluations, the edge of "verification baseline" —
    * past it the exact O(n²) join is a cluster bill and the linear-scale
    * formulations ([[semanticDedup]], [[cosineNearDupPairsLsh]]) are the
    * tool. The 26× scale sweep (52k rows) runs under the gate by design;
    * a 100× corpus (200k) trips it. */
  val ExactPairMaxRows: Long = 100000L

  /** Σ aᵢbᵢ in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Composed higher-order-function formulation (reference for tests;
    * lambdas evaluate interpreted). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine similarity — the native codegen'd kernel
    * ([[graft.functions.CosineSimilarity]]): one fused loop over both
    * float arrays, bit-identical to [[cosineHof]] (same fold order). */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSimilarity(a, b)

  /** Symmetric per-vector int8 quantization of an embedding column — the
    * standard 4× compression for billion-scale ANN corpora (store/scan the
    * int8 codes, re-read full precision only to rescore a shortlist):
    * `q_scale` = max|xᵢ|/127 (floored at 1e-12 so zero vectors stay
    * finite), `q`ᵢ = ⌊xᵢ/scale + 0.5⌋ ∈ [−127, 127]. Pure column
    * expressions fused into the scan, one pass per row; round-half-up via
    * `floor(+0.5)` (not `round`) so a SQL oracle reproduces every int
    * exactly — both engines evaluate the identical double arithmetic.
    * Per-coordinate dequantization error is ≤ scale/2 (spec-asserted on
    * the real embeddings). */
  def quantizeInt8(df: DataFrame, emb: Column): DataFrame = {
    val absmax = aggregate(transform(emb, x => abs(x.cast("double"))),
      lit(0.0), (acc, v) => greatest(acc, v))
    df.withColumn("q_scale", greatest(absmax / 127.0, lit(1e-12)))
      // the q_scale > 0 guard is always true (the scale floors at 1e-12);
      // it exists to reference q_scale a SECOND time outside the lambda,
      // which stops CollapseProject from inlining the O(d) scale aggregate
      // under `transform` when a caller prunes the q_scale column away —
      // inlined, the scale is re-evaluated for every element (d× per row;
      // the HOF-no-CSE trap, see Dedup.gramPolyHashes)
      .withColumn("q",
        when(col("q_scale") > 0,
          transform(emb, x => floor(x.cast("double") / col("q_scale") + 0.5).cast("int"))))
  }

  /** Achlioptas sparse random-projection matrix (JMLR/JCSS 2003,
    * "Database-friendly random projections"): entries ∈ {−1, 0, +1} with
    * probabilities {1/6, 2/3, 1/6}, which satisfies the Johnson-
    * Lindenstrauss lemma while keeping the projection a sparse INTEGER
    * matvec — the practical dimensionality-reduction path at corpus scale
    * (no training pass, no eigensolve, embarrassingly row-parallel; the
    * PCA alternative's covariance input is [[graft.functions.
    * OuterProductAgg]]). Entries derive from the frozen Lehmer sequence
    * ((flat index × 48271) mod P mod 6 → sign), so the matrix is a pure
    * deterministic function of (kOut, dIn) that any engine re-derives. */
  def achlioptasMatrix(kOut: Int, dIn: Int): Seq[Seq[Int]] = {
    val P = graft.functions.PortableHash.P
    Seq.tabulate(kOut, dIn) { (j, i) =>
      ((j.toLong * dIn + i) * 48271L % P % 6L) match {
        case 0L => -1
        case 5L => 1
        case _ => 0
      }
    }
  }

  /** Project an int-code vector column through [[achlioptasMatrix]]:
    * y_j = Σᵢ qᵢ·m(j,i), all-integer (order-independent, oracle-exact).
    * The matrix rides along as a literal array-of-arrays (kOut·dIn ints —
    * bytes, constant-folded into the plan). Formulated as one `zip_with`
    * per OUTPUT dim (not an `element_at(q, i)` per input dim): `q` is
    * then evaluated kOut times per row instead of kOut·dIn — immune to
    * CollapseProject inlining a singly-referenced quantization expression
    * under the lambda (the HOF-no-CSE trap; the element_at form went
    * quadratic and hung the sf0.1 verify). */
  def projectSparse(q: Column, kOut: Int, dIn: Int): Column = {
    val m = achlioptasMatrix(kOut, dIn)
    val rows = array(m.map(r => array(r.map(lit): _*)): _*)
    val y = transform(rows, row =>
      aggregate(zip_with(q, row, (a, b) => a.cast("bigint") * b),
        lit(0L), (acc, v) => acc + v))
    // size(q) >= 0 is always true for non-null q; the second reference to
    // q OUTSIDE the lambda stops CollapseProject from inlining a non-cheap
    // q definition (e.g. the whole quantizeInt8 expression) under the
    // kOut-element transform, where it would re-evaluate per OUTPUT dim —
    // measured 28.7 s → 0.4 s on q_embedding_project at sf0.1.
    // size(null) is null, so the bare `when` would return NULL for a null
    // q where the unguarded form returns a kOut-length array of nulls
    // (posexplode_outer downstream: 1 row vs kOut rows). The `otherwise`
    // restores the original null shape exactly.
    when(size(q) >= 0, y)
      .otherwise(array((0 until kOut).map(_ => lit(null).cast("bigint")): _*))
  }

  /** Exact top-k cosine neighbors for each query vector: broadcast the query
    * set, scan the corpus once, rank per query with a deterministic
    * tiebreak. */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val pairs = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", roundp(cosine(col("q_emb"), col("n_emb")), 6))
    Relational.topKPerGroup(
        pairs, k, Seq(col("q_id")), Seq(col("cos").desc, col("n_id")))
      .select("q_id", "n_id", "cos", "rank")
  }

  /** Quantized-scan kNN — the int8 compressed-corpus path: shortlist by the
    * approximate cosine over the [[quantizeInt8]] codes (an integer dot
    * product — the scan that at corpus scale reads 4× fewer bytes and runs
    * in SIMD-friendly int arithmetic), then re-rank only the shortlist with
    * the exact float cosine. The standard two-stage ANN design (scan
    * compressed codes, rescore a shortlist at full precision). Unlike
    * IVF/LSH this approximate path is fully deterministic integer + single
    * IEEE-op arithmetic, so it carries a complete SQL oracle: the
    * quantization, the integer dots, the shortlist cut, and the re-rank are
    * all reproduced bit-for-bit by DuckDB.
    *
    * Zero vectors quantize to all-zero codes (qnorm² = 0); their
    * approximate cosine is pinned to −2 (below any real cosine) rather than
    * NaN, keeping the shortlist ordering portable across engines. */
  def quantizedKnn(corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    // integer self-dot / cross-dot via the codegen'd IntArrayDot kernel:
    // the composed aggregate(zip_with(...)) fold evaluates interpreted per
    // PAIR in the shortlist cross join (2M pairs × 64 dims at the 100×
    // scale step read 87 s); integer addition is exact+associative, so the
    // kernel is value-identical to the fold and the SQL oracle
    def qnorm2(c: Column): Column = graft.functions.IntArrayDot(c, c)
    val qc = quantizeInt8(corpus, col("embedding"))
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("q").as("n_q"), qnorm2(col("q")).as("n_q2"))
    val qq = quantizeInt8(queries, col("embedding"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("q").as("q_q"), qnorm2(col("q")).as("q_q2"))
    val qdot = graft.functions.IntArrayDot(col("q_q"), col("n_q"))
    val qcos = when(col("q_q2") === 0 || col("n_q2") === 0, lit(-2.0))
      .otherwise(qdot.cast("double") /
        (sqrt(col("q_q2").cast("double")) * sqrt(col("n_q2").cast("double"))))
    val pairs = qq.crossJoin(qc)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("qcos", qcos)
    val short = Relational.topKPerGroup(
        pairs, shortlist, Seq(col("q_id")), Seq(col("qcos").desc, col("n_id")))
      .drop("rank")
    // the same guard on the exact re-rank: cosine against a zero vector is
    // 0/0 = NaN, and Spark sorts NaN ABOVE every real double under desc —
    // unguarded, a zero vector would steal rank 1 (q2 = 0 ⇔ the float
    // vector is exactly zero, since the scale floor keeps any non-zero
    // coordinate a non-zero code)
    val reranked = short.withColumn("cos",
      when(col("q_q2") === 0 || col("n_q2") === 0, lit(-2.0))
        .otherwise(roundp(cosine(col("q_emb"), col("n_emb")), 6)))
    Relational.topKPerGroup(
        reranked, k, Seq(col("q_id")), Seq(col("cos").desc, col("n_id")))
      .select("q_id", "n_id", "cos", "rank")
  }

  /** Deterministic pseudo-random hyperplanes: `numPlanes` rows of ±1 weights
    * per dimension — delegates to the single shared splitmix mix in
    * [[graft.functions.SrpBuckets.planeSign]], so the HOF formulation and
    * the native kernel can never drift apart through divergent copies of
    * the mixing constants. No RNG state; reproducible across the cluster
    * and across engines. */
  private def planeSign(plane: Int, dim: Int): Int =
    graft.functions.SrpBuckets.planeSign(plane, dim).toInt

  /** Random-hyperplane (SRP) LSH bucket id over planes `planeOffset` ..
    * `planeOffset + numPlanes - 1`: one sign bit per plane, packed into a
    * long. Vectors with small angle collide with high probability. Each
    * plane's projection is a `zip_with` against a literal ±1 weight array
    * (one array op per plane) rather than `dims` scalar terms — keeps the
    * codegen'd expression tree small at any dimensionality. */
  private def srpBucketFrom(emb: Column, dims: Int, numPlanes: Int, planeOffset: Int): Column =
    (0 until numPlanes).map { p =>
      val weights = array((0 until dims).map(d => lit(planeSign(planeOffset + p, d).toDouble)): _*)
      val proj = aggregate(
        zip_with(emb, weights, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** One SRP bucket id per hash table (independent plane sets) — the
    * OR-construction: a candidate pair needs to collide in ANY table.
    * Collision probability for angle θ is 1 − (1 − (1−θ/π)^b)^L with
    * b = planesPerTable, L = tables — the same S-curve lever as MinHash
    * banding. More planes per table → smaller buckets (less scanned);
    * more tables → higher recall.
    *
    * Computed by the native kernel [[graft.functions.SrpBuckets]] (one JVM
    * loop per row); [[srpTableBucketsHof]] is the composed-builtin
    * reference the spec checks it against bucket-for-bucket. */
  def srpTableBuckets(emb: Column, dims: Int, planesPerTable: Int, tables: Int): Column =
    graft.functions.SrpBuckets(emb, dims, planesPerTable, tables)

  /** Composed higher-order-function formulation of [[srpTableBuckets]]
    * (interpreted lambdas; reference for tests). */
  def srpTableBucketsHof(emb: Column, dims: Int, planesPerTable: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      srpBucketFrom(emb, dims, planesPerTable, planeOffset = t * planesPerTable)): _*)

  /** Embedding-cosine near-duplicate pairs, EXACT: every (a < b) pair with
    * cosine ≥ threshold. An O(n²) scan — the verification baseline (oracle-
    * checkable); at corpus scale use [[cosineNearDupPairsLsh]], which cuts
    * the pair space through the same multi-table SRP buckets as the ANN
    * path and re-checks candidates with the exact cosine. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double): DataFrame =
    corpus.select(col("vec_id").as("id_a"), col("embedding").as("a_emb"))
      .crossJoin(corpus.select(col("vec_id").as("id_b"), col("embedding").as("b_emb")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", roundp(cosine(col("a_emb"), col("b_emb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")

  /** Embedding-cosine near-duplicate pairs, EXACT, distributed — the
    * triangle-blocked self-join (the 1-Bucket-Theta construction, Okcan &
    * Riedewald, "Processing Theta-Joins using MapReduce", SIGMOD 2011):
    * vectors hash into `blocks` groups; the left side replicates each
    * vector to every block pair (g, j≥g) it participates in as the lower
    * block, the right side to every (i≤g, g) as the upper block, and the
    * all-pairs comparison becomes a plain EQUI-join on the block-pair key.
    * Every unordered vector pair is examined EXACTLY once (same-block
    * pairs appear in both role orders and are halved by the id filter), so
    * the result is identical to [[cosineNearDupPairs]] by construction —
    * recall 1.0 is mathematical, not an empirically-tuned property of the
    * corpus.
    *
    * Why this is the driver/scale formulation rather than
    * [[cosineNearDupPairsLsh]]: the O(n²) cosine work is inherent to an
    * EXACT threshold join over dense vectors, and what kills a naive plan
    * at scale is not the arithmetic but the operator shape — Spark plans a
    * cross join as BroadcastNestedLoopJoin (one side must fit in memory)
    * or a single cartesian stage. Here the plan is an ordinary shuffled
    * equi-join over m(m+1)/2 block-pair keys: per-task memory is bounded
    * by two blocks (2·n/m rows), work is balanced across tasks, and no
    * side is ever broadcast or collected. Shuffle volume is (m+1)·n rows.
    * Pick `blocks` ≈ √(2·parallelism) to keep every core busy, larger if
    * a block pair outgrows task memory. The LSH variant stays the right
    * tool when approximate recall is acceptable — on corpora whose
    * near-dups sit well above the threshold it prunes by orders of
    * magnitude — but measured on near-orthogonal embeddings with pairs AT
    * the threshold, every recall-1.0 SRP parameterization scans ≥3× the
    * full pair space (see NOTES.md round 5), i.e. "approximate with
    * recall tuned to 1.0" is strictly worse than this exact formulation
    * there. */
  def cosineNearDupPairsBlocked(corpus: DataFrame, threshold: Double,
                                blocks: Int = 16,
                                maxRows: Long = ExactPairMaxRows): DataFrame = {
    require(blocks >= 1, "blocks must be >= 1")
    // SIZE GATE (the connectedComponents hybrid-gate pattern,
    // Dedup.connectedComponents): the plan shape is clean, but the WORK is
    // inherently n(n-1)/2 cosine evaluations — measured exactly linear in
    // pair count (26x data = 26.2x wall, SCALE26_r14). Past the gate that
    // is a cluster bill, not a query; refuse loudly and name the
    // linear-scale formulations instead of silently burning the budget.
    //
    // The count() is EAGER — constructing this DataFrame (including
    // explain-only / plan-inspection paths) launches one Spark job, and
    // the corpus pipeline is evaluated TWICE (count here, again in the
    // join). For a parquet-backed corpus the count is footer-metadata
    // cheap and the double evaluation is two cheap scans; for an
    // expensive uncached upstream, persist the corpus first — which a
    // caller inside the gate wants anyway, since the join reads it from
    // both sides. A non-deterministic upstream can also make the counted
    // n differ from the rows the join sees: the gate is an admission
    // check on the expected corpus size, not a row-exact invariant, and
    // a caller with such an upstream must materialize it first for the
    // RESULT to be well-defined, gate or no gate.
    val n = corpus.count()
    if (n > maxRows) throw new IllegalArgumentException(
      f"cosineNearDupPairsBlocked: corpus has $n%d rows > maxRows=$maxRows%d. " +
        f"The exact threshold join evaluates n(n-1)/2 ≈ ${n * (n - 1) / 2}%,d " +
        "cosines — O(n²) work that no plan shape can remove. At corpus scale " +
        "use Similarity.semanticDedup (IVF cell-confined, linear at fixed " +
        "cell size) or Similarity.cosineNearDupPairsLsh (SRP-banded " +
        "candidates + exact re-check, linear at fixed density); both were " +
        "measured 3-8x-linear at 26x data where this baseline is exactly " +
        "26x. Pass maxRows explicitly to opt in for verification or " +
        "benchmark use at a known size.")
    val m = lit(blocks)
    val g = pmod(xxhash64(col("vec_id")), m).cast("int")
    val l = corpus.select(col("vec_id").as("l_id"), col("embedding").as("l_emb"), g.as("__i"))
      .withColumn("__j", explode(sequence(col("__i"), m - 1)))
    val r = corpus.select(col("vec_id").as("r_id"), col("embedding").as("r_emb"), g.as("__j"))
      .withColumn("__i", explode(sequence(lit(0), col("__j"))))
    l.join(r, Seq("__i", "__j"))
      // same-block pairs (i == j) arrive in both role orders — keep one;
      // cross-block pairs arrive exactly once in an arbitrary role order
      .filter(col("__i") =!= col("__j") || col("l_id") < col("r_id"))
      .withColumn("cos", roundp(cosine(col("l_emb"), col("r_emb")), 6))
      .filter(col("cos") >= threshold)
      .select(least(col("l_id"), col("r_id")).as("id_a"),
        greatest(col("l_id"), col("r_id")).as("id_b"), col("cos"))
  }

  /** Embedding-cosine near-dup, approximate: SRP bucket collision in any
    * table generates candidates (≈ tables/2^planes of the pair space),
    * exact cosine verifies. Recall < 1 per the OR-construction S-curve.
    *
    * This is the LINEAR-scale path of the embedding near-dup family: the
    * only joins are equi-joins on (table, bucket), so candidate volume —
    * and with it shuffle and cosine work — scales with Σ bucket², i.e.
    * linearly in corpus size at fixed density, where the exact
    * [[cosineNearDupPairsBlocked]] is inherently O(n²) cosine work.
    * Trade-off measured in NOTES round 5: on near-orthogonal corpora with
    * pairs AT the threshold, recall-1.0 SRP parameterizations scan more
    * than the pair space — LSH is the right tool when approximate recall
    * is acceptable (real near-dup corpora, where dup pairs sit far above
    * the threshold), the blocked exact join when it is not. */
  def cosineNearDupPairsLsh(corpus: DataFrame, threshold: Double,
                            dims: Int, planesPerTable: Int, tables: Int): DataFrame =
    cosineNearDupPairsLshImpl(corpus, threshold,
      srpTableBuckets(col("embedding"), dims, planesPerTable, tables))

  /** Constant-target-cell SRP plane count — the `Ivf.autoNlist` move for
    * bucketed LSH: 4 planes (16 buckets per table) up to 8192 vectors,
    * one more plane per doubling beyond, so expected bucket occupancy
    * stays ~512 and candidate-pair volume stays LINEAR in corpus size.
    * At a FIXED plane count candidates grow as n²/2^planes — measured
    * 160× wall-clock at 26× rows on q_embedding_lsh before this
    * (the q_semantic_dedup r10 scale bug, same disease, same cure).
    * Integer comparisons only, so a SQL oracle replays the count
    * exactly from count(*). More planes tighten precision; recall for
    * pairs AT the threshold declines per the S-curve while high-cosine
    * true near-dups keep colliding — the right trade at scale. */
  def autoPlanesPerTable(n: Long): Int = 4 + (13 to 24).count(k => n > (1L << k))

  /** [[cosineNearDupPairsLsh]] over the PORTABLE plane family
    * ([[planeSignPortable]]) — every bucket bit, candidate pair, and
    * verified cosine SQL-replayable, so the whole approximate pipeline
    * sits under a value-exact oracle. Splitmix planes stay the
    * production default (better mixing). */
  def cosineNearDupPairsLshPortable(corpus: DataFrame, threshold: Double,
                                    dims: Int, planesPerTable: Int, tables: Int): DataFrame =
    cosineNearDupPairsLshImpl(corpus, threshold,
      srpTableBucketsPortable(col("embedding"), dims, planesPerTable, tables))

  private def cosineNearDupPairsLshImpl(corpus: DataFrame, threshold: Double,
                                        buckets: Column): DataFrame = {
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      posexplode(buckets).as(Seq("t", "bucket")))
    val l = bucketed.select(col("t"), col("bucket"), col("vec_id").as("id_a"), col("embedding").as("a_emb"))
    val r = bucketed.select(col("t"), col("bucket"), col("vec_id").as("id_b"), col("embedding").as("b_emb"))
    // cosine + threshold BEFORE the pair dedup: a pair colliding in k
    // tables costs k cosines (k ≤ tables, typically ~1), but the dedup
    // exchange then carries only the surviving (id_a, id_b, cos) triples —
    // deduping first would shuffle every candidate WITH both embedding
    // arrays attached (measured 6.6 s → 2.3 s at sf0.1, a ~1.6 GB
    // exchange gone). Identical output: cos is deterministic per pair, so
    // duplicate collision rows are exact duplicates.
    l.join(r, Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", roundp(cosine(col("a_emb"), col("b_emb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .dropDuplicates("id_a", "id_b")
  }

  /** Multi-table LSH-bucketed ANN: bucket corpus and queries on `tables`
    * independent SRP signatures, union candidates over tables (dedup), rank
    * by exact cosine. Scans only colliding buckets — expected candidate
    * fraction ≈ tables/2^planesPerTable of the corpus for unrelated
    * vectors — instead of a full scan. Recall < 1 by construction. */
  def lshKnn(corpus: DataFrame, queries: DataFrame, dims: Int, numPlanes: Int, k: Int,
             tables: Int = 8): DataFrame =
    lshKnnImpl(corpus, queries, k,
      e => srpTableBuckets(e, dims, numPlanes, tables))

  /** [[lshKnn]] over the PORTABLE plane family ([[planeSignPortable]]) —
    * every bucket bit, candidate pair, and rank SQL-replayable. The
    * splitmix planes stay the production default (better mixing). */
  def lshKnnPortable(corpus: DataFrame, queries: DataFrame, dims: Int,
                     planesPerTable: Int, tables: Int, k: Int): DataFrame =
    lshKnnImpl(corpus, queries, k,
      e => srpTableBucketsPortable(e, dims, planesPerTable, tables))

  private def lshKnnImpl(corpus: DataFrame, queries: DataFrame, k: Int,
                         buckets: Column => Column): DataFrame = {
    // widen the corpus leg: bucket assignment is tables×planes dot
    // products PER VECTOR, and a compact embeddings parquet arrives as
    // one scan partition (graft.core.Scans.widen scaladoc) — unwidened,
    // the whole hashing pass serialized and q_knn_srp_portable's 26x
    // ratio read 9.2. The tiny queries side stays as-is.
    val cb = graft.core.Scans.widen(corpus)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      posexplode(buckets(col("embedding"))).as(Seq("t", "bucket")))
    val qb = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      posexplode(buckets(col("embedding"))).as(Seq("t", "bucket")))
    val pairs = qb.join(cb, Seq("t", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id") // a pair may collide in several tables
      .withColumn("cos", roundp(cosine(col("q_emb"), col("n_emb")), 6))
    Relational.topKPerGroup(
        pairs, k, Seq(col("q_id")), Seq(col("cos").desc, col("n_id")))
      .select("q_id", "n_id", "cos", "rank")
  }

  /** Semantic deduplication, SemDeDup-style (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): cluster the corpus by nearest centroid, find
    * near-duplicate pairs WITHIN each cluster only, and keep one
    * representative per near-dup neighborhood. The clustering is what
    * makes this a 100 TB operation — the quadratic cosine work is confined
    * to single cells (E[n/k] rows each), reached through ONE shuffle on
    * the cell key, instead of an all-pairs join over the corpus.
    *
    * Cell assignment reuses the IVF coarse quantizer ([[Ivf.cellOf]] —
    * centroid-literal arithmetic, a map-only pass). The keep rule is the
    * deterministic greedy: a vector is DROPPED iff some lower-id vector in
    * the same cell has cosine ≥ threshold with it (SemDeDup §3 keeps one
    * point per ε-ball; lowest-id is the portable, oracle-replayable choice
    * of representative). Pairs whose members land in different cells are
    * not compared — the approximation SemDeDup explicitly accepts; recall
    * vs the exact [[cosineNearDupPairsBlocked]] is measured in
    * `SemanticDedupSpec`, not assumed.
    *
    * Returns the KEPT rows: (vec_id, cell). */
  def semanticDedup(corpus: DataFrame, centroids: Array[Array[Double]],
                    threshold: Double): DataFrame = {
    // persisted: the assignment pass (a full corpus scan + k·d multiply-adds
    // per row) feeds three plan legs — both sides of the within-cell
    // self-join and the final anti-join — and would otherwise be
    // recomputed for each (graft.core.CacheRegistry contract)
    val cells = graft.core.CacheRegistry.track(
      corpus.select(col("vec_id"), col("embedding"),
        Ivf.cellOf(col("embedding"), centroids).as("cell")))
    val a = cells.select(col("cell"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = cells.select(col("cell"), col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(roundp(cosine(col("a_emb"), col("b_emb")), 6) >= threshold)
      .select(col("b_id").as("vec_id")).distinct()
    cells.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** Engine-portable SRP plane sign — the [[graft.functions.PortableHash]]
    * move applied to hyperplanes: w(plane, dim) = ±1 from ONE closed-form
    * 32-bit xorshift-multiply avalanche (Wang-style integer hash: two
    * rounds of `h ^= h>>16; h *= 73244475; h %= 2³²`, then a final
    * xorshift) of the flat plane·dims+dim index — exact integer
    * arithmetic a SQL engine reproduces, and the oracles inject the
    * resulting ±1 weight tables as frozen literal constants (the
    * `PortableHash.powers`/`permConstants` precedent: weights are
    * data-independent, so literals ARE the replay). Weaker bit-mixing
    * than the production splitmix planes
    * ([[graft.functions.SrpBuckets]]); exists to make the WHOLE
    * bucketed-ANN pipeline oracle-checkable.
    *
    * History: through round 11 this was a single un-wrapped Lehmer
    * multiplication `((1 + plane·dims + dim)·48271 mod (2³¹−1)) mod 2` —
    * DEGENERATE: the product never exceeds 2³¹−1 for realistic indices,
    * so the parity collapsed to `parity(dim)` and every plane was the
    * SAME alternating ±1 vector. Buckets held only the two all-sign
    * values, candidate "pruning" scanned n²/2 pairs (caught by the 26×
    * scale step: q_embedding_lsh read 160× — two buckets per table). The
    * avalanche restores per-plane independence: 16/16 buckets populated
    * on the sf0.1 corpus, candidate volume ≈ tables/2^planes of the pair
    * space as the S-curve predicts. */
  def planeSignPortable(plane: Int, dim: Int, dims: Int): Double = {
    val M = 4294967296L
    var h = (1L + plane.toLong * dims + dim) % M
    h = ((h ^ (h >>> 16)) * 73244475L) % M
    h = ((h ^ (h >>> 16)) * 73244475L) % M
    h = h ^ (h >>> 16)
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** [[srpTableBuckets]] over the portable plane family. */
  def srpTableBucketsPortable(emb: Column, dims: Int, planesPerTable: Int, tables: Int): Column =
    array((0 until tables).map { t =>
      (0 until planesPerTable).map { p =>
        val plane = t * planesPerTable + p
        val weights = array((0 until dims).map(d =>
          lit(planeSignPortable(plane, d, dims))): _*)
        val proj = aggregate(
          zip_with(emb, weights, (x, w) => x.cast("double") * w),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }: _*)
}
