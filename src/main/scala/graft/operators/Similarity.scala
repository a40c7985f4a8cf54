package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the embedding column (BASELINE.json north
  * star).
  *
  * Two tiers:
  *   - brute-force top-k: exact, O(|Q|·|C|) — the correctness baseline
  *     and perfectly fine when the query set is small (it broadcasts);
  *   - random-hyperplane LSH ANN: candidates restricted to shared
  *     hash buckets, so the candidate-scoring join shuffles by bucket
  *     key instead of materializing the cross product — the 100 TB
  *     path. Hyperplanes are derived deterministically from xxhash64
  *     so results are reproducible with no driver-side randomness.
  */
object Similarity {

  /** Exact brute-force top-k cosine neighbors for a query subset.
    * The query side is tiny → broadcast; the candidate scan never
    * shuffles until the final per-query top-k (window over qid).
    */
  def bruteForceTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      queryFilter: String = "vec_id % 100 = 0"
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val e       = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val queries = e.filter(expr(queryFilter)).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w       = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    e.select(col("vec_id").as("cand"), col("embedding").as("ce"))
      .join(broadcast(queries), col("qid") =!= col("cand"))
      .withColumn("cos", expr("cosine_sim(qe, ce)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** Sign-bit LSH codes: `numPlanes` deterministic hyperplanes; code =
    * bits of sign(dot(v, plane)). Runs as the native codegen expression
    * [[graft.functions.HyperplaneCode]] — the O(planes·dim) loop stays
    * inside whole-stage codegen and planes are hash-derived on the fly
    * (nothing materialized or broadcast).
    */
  def hyperplaneCodes(df: DataFrame, numPlanes: Int, vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    df.select(col(idCol), col(vecCol), expr(s"hyperplane_code($vecCol, $numPlanes)").as("lsh_code"))

  /** Search by a caller-supplied vector (not an indexed id): the
    * query vector ships as a literal into the plan, so the scan is a
    * single narrow pass — the "embed my text, find neighbors" call.
    */
  def searchByVector(spark: SparkSession, dir: String, queryVec: Array[Float], k: Int = 5): DataFrame = {
    graft.GraftFunctions.register(spark)
    val vecSql = queryVec.map(v => s"${v}f").mkString("array(", ", ", ")")
    Tables
      .embeddings(spark, dir)
      .select(
        col("vec_id").as("cand"),
        expr(s"cosine_sim(embedding, $vecSql)").as("cos")
      )
      .orderBy(col("cos").desc, col("cand"))
      .limit(k)
  }

  /** Scale-path embedding near-dup: hyperplane-LSH bucket candidates
    * (vectors sharing any band sub-code), then exact cosine filter.
    * The all-pairs cross product of [[Dedup.embeddingNearDups]] never
    * materializes — candidates shuffle by (band, sub_code).
    */
  def embeddingNearDupLsh(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.4,
      numPlanes: Int = 16,
      bands: Int = 8,
      bucketCap: Int = 4096
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val bandBits = numPlanes / bands
    val coded    = hyperplaneCodes(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), numPlanes)
    // skew guard baked into bucketPairs: clustered embeddings collide
    // whole sub-code buckets (the quadratic hazard) — over-cap buckets
    // are dropped before any pair exists. Candidates come from one
    // groupBy over the banded codes (no self-join, no cache); the
    // vectors re-attach afterwards from the base parquet scan, which
    // Catalyst prunes to the two needed columns.
    val banded = coded.select(
      col("vec_id"),
      posexplode(
        expr(
          s"transform(sequence(0, ${bands - 1}), c -> shiftright(lsh_code, c * $bandBits) & ${(1L << bandBits) - 1})"
        )
      ).as(Seq("band", "sub_code"))
    )
    val candIds = Dedup
      .bucketPairs(banded, Seq("band", "sub_code"), col("vec_id"), bucketCap)
      .distinct()
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    Dedup.rescore(Dedup.withPayloads(candIds, e, e), "cos", cosine, threshold)
  }

  /** Exact cosine of a pair's embedding payloads ([[Dedup.withPayloads]]). */
  private def cosine: Column = expr("cosine_sim(pa, pb)")

  /** IVF-style ANN: a KMeans coarse quantizer (trained deterministically
    * with a fixed seed) assigns every vector to its nearest centroid;
    * queries probe only their `nProbe` closest cells, then exact cosine
    * rescoring + top-k. At 100 TB the assignment is one narrow pass and
    * the candidate join shuffles by cell id — the index is the
    * partitioning.
    */
  /** Deterministic k-means coarse quantizer shared by the IVF index
    * and semantic dedup: random init + few iterations is plenty for a
    * partitioning index (cells need to be balanced, not optimal) —
    * and it trains on a BOUNDED deterministic sample (hash-mod on the
    * id, ~256 rows per cell), never the full table: at 100 TB the
    * full-table .fit is the scan you cannot afford, and a coarse
    * quantizer gains nothing from it.
    *
    * @return (assignments (vec_id, embedding, cell), centroid table
    *         (cell, centroid) — tiny, broadcast-able)
    */
  private[graft] def kmeansCells(e: DataFrame, nCells: Int): (DataFrame, DataFrame) = {
    val spark        = e.sparkSession
    val sampleTarget = 256L * nCells
    val nVecs        = e.count() // parquet metadata count — no data scan
    val modulus      = math.max(1L, nVecs / sampleTarget)
    // bounded deterministic sample collected once, quantizer fit on
    // the driver ([[lloyd]] — same treatment as the PQ codebooks: a
    // spark.ml fit on sample-sized data paid multiple jobs of
    // scheduling latency per call, and the cap makes driver-side legal
    // at any corpus size); assignment stays distributed — one narrow
    // codegen'd pass against the broadcast centroid table
    val sample: Array[Array[Float]] =
      (if (modulus == 1L) e else e.filter(pmod(xxhash64(col("vec_id")), lit(modulus)) === 0))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
        .map(_.getSeq[Float](0).toArray)
    // distinct clamps effective nCells when lloyd duplicate-padded a
    // too-small sample (or iterations converged two centroids onto the
    // same point): identical centroids tie on every metric, so
    // nAssign>1 multi-assignment in [[assignCells]] would burn probe
    // slots on copies of one cell instead of genuine diversity.
    // First-occurrence order is kept, so cell ids stay stable.
    val cents = lloyd(sample, nCells, seed = 42L, iters = 5).map(_.toSeq).distinct
    val centDf = spark
      .createDataFrame(cents.zipWithIndex.map { case (c, i) => (i, c) }.toIndexedSeq)
      .toDF("cell", "centroid")
    (assignNearestCell(e, cents.toIndexedSeq), centDf)
  }

  /** Euclidean-nearest centroid (the k-means metric) as ONE narrow
    * codegen'd projection against the centroid LITERAL — the
    * centroids are already driver-side, so a crossJoin + per-vector
    * aggregate would add a full-corpus exchange for nothing.
    * array_position of the min picks the smallest cell id on ties
    * (first occurrence), the same deterministic tie-break as a
    * (d2, cell) struct-min. `cents(i)` must be cell i's centroid —
    * shared by the build path ([[kmeansCells]]) and the frozen-model
    * append path ([[appendIvfPqIndex]]) so both assign identically.
    */
  private[graft] def assignNearestCell(e: DataFrame, cents: Seq[Seq[Float]]): DataFrame = {
    val centLit = typedlit(cents)
    val d2s = transform(
      centLit,
      ct =>
        aggregate(
          zip_with(col("embedding"), ct, (a, b) => ((a - b) * (a - b)).cast("double")),
          lit(0.0d),
          (acc, x) => acc + x
        )
    )
    e.withColumn("__d2s", d2s)
      .withColumn("cell", (array_position(col("__d2s"), array_min(col("__d2s"))) - 1).cast("int"))
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the coarse
    * quantizer, then compare pairs ONLY within a cell — the cluster
    * assignment is the blocking key that keeps the all-pairs cosine
    * from ever materializing. Pairs are rescored with exact cosine, so
    * every emitted pair is a true ≥-threshold pair (zero false
    * positives by construction — `check_semantic_dedup` proves it);
    * recall is what the cell blocking trades (near-dups that straddle
    * a cell boundary), which is the same trade the paper makes and
    * what the check's measured bound pins. Boundary loss is softened
    * by MULTI-ASSIGNMENT: each vector joins its `nAssign` nearest
    * cells (the multi-probe idea applied to dedup), so a pair is lost
    * only when the two cell SETS are disjoint — at the cost of
    * nAssign× assignment rows, not nAssign× comparisons (same-cell
    * duplicate candidates collapse in the distinct).
    *
    * Scale shape: one narrow assignment pass against the broadcast
    * centroid table, one shuffle by cell id for candidate generation
    * ([[Dedup.bucketPairs]] — no self-join, skew-capped so a
    * degenerate cell stays bounded), then the embeddings re-attach
    * from the pruned base scan.
    */
  def semanticNearDups(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.4,
      nCells: Int = 16,
      nAssign: Int = 2,
      cellCap: Int = 4096
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val e           = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (_, centDf) = kmeansCells(e, nCells)
    val assigned    = assignCells(e, centDf, nAssign)
    val candIds = Dedup
      .bucketPairs(assigned.select(col("cell"), col("vec_id")), Seq("cell"), col("vec_id"), cellCap)
      .distinct()
    Dedup.rescore(Dedup.withPayloads(candIds, e, e), "cos", cosine, threshold)
  }

  /** Embedding-cluster corpus summaries: k-means cells over the
    * embedding space, each labeled with its document count and its
    * most distinctive term (cluster-level TF-IDF: the cluster is the
    * "document", so idf punishes terms every cluster shares). This is
    * the curation inspection loop at 100 TB — "what IS this blob of
    * the corpus" answered per cluster without reading any document
    * twice: one narrow assignment pass against broadcast centroids,
    * one tokenize + (cell, term) aggregation, one term-keyed join for
    * the idf, and a cells-sized top-1 aggregate (the same
    * min-of-(−tfidf, term) struct trick as [[TextAnalysis
    * .tfIdfTopTerm]] — partially aggregable, no window over the token
    * stream).
    *
    * [[clusterSummaries]] is the assignment-driven half, shared with
    * the oracle replay: the registered query dumps the (doc_id, cell)
    * assignment and DuckDB recomputes every summary from it.
    */
  def clusterTopTerms(spark: SparkSession, dir: String, nCells: Int = 16): DataFrame = {
    val e           = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (_, centDf) = kmeansCells(e, nCells)
    val asg         = assignCells(e, centDf, 1).select(col("vec_id").as("doc_id"), col("cell"))
    clusterSummaries(spark, dir, asg, nCells)
  }

  private[graft] def clusterSummaries(spark: SparkSession, dir: String, asg: DataFrame, nCells: Int): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val toks = TextJobs.tokenized(docs, "text", "term").join(asg, "doc_id")
    val tf   = toks.groupBy("cell", "term").agg(count(lit(1)).as("tf"))
    val dfc  = tf.groupBy("term").agg(countDistinct("cell").as("dfc"))
    val top = tf
      .join(dfc, "term")
      .withColumn("tfidf", round(col("tf") * log(lit(nCells.toDouble) / col("dfc")), 4))
      .groupBy("cell")
      .agg(min(struct((-col("tfidf")).as("neg"), col("term"))).as("top"))
      .select(col("cell"), col("top.term").as("top_term"), (-col("top.neg") + lit(0.0)).as("tfidf"))
    val nd = asg.groupBy("cell").agg(count(lit(1)).as("n_docs"))
    top.join(nd, "cell").select("cell", "n_docs", "top_term", "tfidf").orderBy("cell")
  }

  /** Multi-assignment against a centroid table: each vector joins its
    * `nAssign` nearest cells by cosine — the blocking-key producer
    * shared by [[semanticNearDups]] and the incremental index. One
    * narrow pass against the broadcast centroids; the per-vector rank
    * window partitions by vec_id (never global).
    */
  private[graft] def assignCells(e: DataFrame, centDf: DataFrame, nAssign: Int): DataFrame = {
    graft.GraftFunctions.register(e.sparkSession)
    val w = Window.partitionBy("vec_id").orderBy(col("cdist").desc, col("cell"))
    e.crossJoin(broadcast(centDf))
      .withColumn("cdist", expr("cosine_sim(embedding, centroid)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nAssign)
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** Build and persist the semantic-dedup index — the standing state
    * that makes embedding near-dup admission incremental, completing
    * the pattern the digest index ([[Dedup.incrementalExact]]) and the
    * MinHash band index ([[Dedup.buildLshIndex]]) establish for the
    * other two dedup families. Three tables:
    *
    *   - `{name}_cells` (cell, vec_id), bucketed by cell: the probe
    *     join's corpus side, read with NO exchange;
    *   - `{name}_vecs` (vec_id, embedding), bucketed by vec_id:
    *     rescoring fetches corpus vectors exchange-free;
    *   - `{name}_centroids` (cell, centroid): the FROZEN coarse
    *     quantizer — probes must assign with the index's centroids,
    *     not retrain (a retrained quantizer would silently shift every
    *     cell boundary and make old and new assignments incomparable;
    *     versioning the quantizer with the index is how real vector
    *     stores handle this).
    */
  def buildSemanticIndex(
      corpus: DataFrame,
      name: String,
      nCells: Int = 16,
      nAssign: Int = 2,
      buckets: Int = 32
  ): Unit = {
    val e           = corpus.select(col("vec_id"), col("embedding"))
    val (_, centDf) = kmeansCells(e, nCells)
    graft.sources.Bucketing.writeBucketedKeys(
      assignCells(e, centDf, nAssign).select(col("cell"), col("vec_id")),
      s"${name}_cells",
      buckets,
      Seq("cell")
    )
    graft.sources.Bucketing.writeBucketedKeys(e, s"${name}_vecs", buckets, Seq("vec_id"))
    graft.sources.Bucketing.dropWithLocation(corpus.sparkSession, s"${name}_centroids")
    centDf.write.mode("overwrite").saveAsTable(s"${name}_centroids")
  }

  /** Append newly-accepted vectors to a standing [[buildSemanticIndex]]
    * index: assign with the index's FROZEN centroids (never retrain —
    * the versioned-quantizer contract) and append to the bucketed
    * `_cells`/`_vecs` tables, preserving their layout so later probes
    * stay exchange-free on the index side.
    */
  def appendSemanticIndex(incoming: DataFrame, name: String, nAssign: Int = 2, buckets: Int = 32): Unit = {
    val spark  = incoming.sparkSession
    val centDf = spark.table(s"${name}_centroids")
    val e      = incoming.select(col("vec_id"), col("embedding"))
    graft.sources.Bucketing.appendBucketedKeys(
      assignCells(e, centDf, nAssign).select(col("cell"), col("vec_id")),
      s"${name}_cells",
      buckets,
      Seq("cell")
    )
    graft.sources.Bucketing.appendBucketedKeys(e, s"${name}_vecs", buckets, Seq("vec_id"))
  }

  /** Compact an append-accumulated semantic index: fold the small
    * files each [[appendSemanticIndex]] leaves in the `_cells` and
    * `_vecs` buckets into fresh ones (rows already unique — batch
    * vec_ids disjoint by contract) via the shared
    * write-aside-then-swap protocol. The `_centroids` table is frozen
    * single-write state — nothing to compact. Probe results
    * byte-identical by construction.
    */
  def compactSemanticIndex(spark: SparkSession, name: String, buckets: Int = 32): Unit = {
    graft.sources.Bucketing.compactBucketed(spark, s"${name}_cells", buckets, Seq("cell"))
    graft.sources.Bucketing.compactBucketed(spark, s"${name}_vecs", buckets, Seq("vec_id"))
  }

  /** Incremental semantic near-dup: probe an incoming batch against a
    * persisted [[buildSemanticIndex]] index without re-clustering or
    * re-scanning the corpus. Returns every ≥-threshold pair the batch
    * introduces (batch↔corpus and batch↔batch) under the index's
    * frozen quantizer, with the `newcomer` column marking the pair
    * member an admission policy must reject (always the batch doc for
    * a cross pair — corpus acceptances are immutable; the greater id
    * intra-batch).
    *
    * The probe is [[Dedup.probeStandingIndex]] keyed on `cell`, the
    * one [[Dedup.incrementalMinhashLsh]] runs on its band keys: work
    * is batch-proportional, the cell cap counts the combined
    * population, and only the batch side shuffles.
    * Equivalence with a fixed-quantizer run over corpus ∪ batch is
    * oracle-checked both directions (`check_incremental_semantic`).
    */
  def incrementalSemantic(
      spark: SparkSession,
      indexName: String,
      incoming: DataFrame,
      threshold: Double = 0.4,
      nAssign: Int = 2,
      cellCap: Int = 4096
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val batchE = incoming.select(col("vec_id"), col("embedding"))
    val batch  = assignCells(batchE, spark.table(s"${indexName}_centroids"), nAssign).localCheckpoint(eager = false)
    Dedup.probeStandingIndex(spark.table(s"${indexName}_cells"), spark.table(s"${indexName}_vecs"), batch, batchE,
      Seq("cell"), "vec_id", cellCap)("cos", cosine, threshold)
  }

  def ivfTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      nCells: Int = 16,
      nProbe: Int = 4,
      queryFilter: String = "vec_id % 100 = 0"
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val (assigned, centDf) = kmeansCells(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), nCells)
    val queries   = assigned.filter(expr(queryFilter)).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wProbe    = Window.partitionBy("qid").orderBy(col("cdist").desc, col("cell"))
    val probed = queries
      .crossJoin(broadcast(centDf))
      .withColumn("cdist", expr("cosine_sim(qe, centroid)"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nProbe)
      .select("qid", "qe", "cell")

    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    assigned
      .join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cand", col("vec_id"))
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** Product-quantization ANN: split each (L2-normalized) vector into
    * `m` sub-vectors, learn a small per-subspace codebook (KMeans on a
    * bounded hash-mod sample — never the full table), encode every
    * vector as `m` small codes (m·log2(k) bits = 12 B/vector at the
    * 16×64 default vs 256 B raw: the compression that keeps a 100 TB
    * embedding corpus RAM-resident), and score queries by asymmetric distance
    * computation: per query, a (sub_idx, code) → partial-dot table is
    * broadcast and each candidate's approximate cosine is the sum of
    * its m table lookups. ADC is a scan algorithm — O(|V|·m) tiny
    * lookups per query; compose with IVF cells to restrict candidates
    * in production.
    *
    * Training is deterministic (fixed seed, hash-mod sample), so
    * results are reproducible and the recall check is stable.
    */
  /** Deterministic driver-side Lloyd's k-means over a bounded sample
    * (the PQ codebook fit): seeded init picks k distinct sample points,
    * ties break by lowest index, empty clusters keep their previous
    * centroid. Only ever run on the capped training sample — never
    * table-sized data.
    */
  private[graft] def lloyd(points: Array[Array[Float]], k: Int, seed: Long, iters: Int): Array[Array[Float]] = {
    require(points.nonEmpty, "lloyd: empty training sample")
    val d    = points.head.length
    val rnd  = new scala.util.Random(seed)
    val init = rnd.shuffle(points.indices.toVector).take(math.min(k, points.length))
    var centroids = init.map(i => points(i).clone()).toArray
    // fewer sample points than k: duplicate-pad (downstream encoding
    // simply never picks the padded copies over the originals)
    while (centroids.length < k) centroids = centroids :+ centroids(centroids.length % init.length).clone()

    def nearest(p: Array[Float]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < centroids.length) {
        var s = 0.0; var i = 0
        while (i < d) { val diff = p(i) - centroids(c)(i); s += diff * diff; i += 1 }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    }

    var it = 0
    while (it < iters) {
      val sums   = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      points.foreach { p =>
        val c = nearest(p)
        counts(c) += 1
        var i = 0
        while (i < d) { sums(c)(i) += p(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < d) { centroids(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
        }
        c += 1
      }
      it += 1
    }
    centroids
  }

  /** Per-subspace sub-vector stream: (vec_id, sub_idx, subvec). */
  private def subVecs(df: DataFrame, m: Int, subDim: Int): DataFrame =
    df.select(
      col("vec_id"),
      posexplode(
        expr(s"transform(sequence(0, ${m - 1}), s -> slice(embedding, s * $subDim + 1, $subDim))")
      ).as(Seq("sub_idx", "subvec"))
    )

  /** Shared PQ model fit + encode (the training/encoding half of
    * [[pqTopK]], reused by [[ivfPqTopK]]): L2-normalize (so dot ==
    * cosine), learn `m` per-subspace codebooks on a bounded
    * deterministic hash-mod sample, and encode every vector as `m`
    * small codes. Returns (normalized vectors, codebook table, codes).
    *
    * `dim` is a PARAMETER with a per-row runtime guard, not a
    * `first()` probe: a 1-row driver action at plan-build time would
    * make every call fire a job before the caller runs anything (the
    * laziness contract tfIdfTopTerm and lmScore honor). assert_true is
    * codegen'd and free on the non-error path. (The codebook KMeans
    * fits are driver actions by nature — same documented shape as
    * [[kmeansCells]].)
    */
  /** L2-normalize an embedding column (so dot == cosine) with a per-row
    * codegen'd dim guard — the shared front half of every PQ path
    * (fit, probe, append), kept in one place so their normalization
    * cannot drift.
    */
  private[graft] def l2Normalize(raw: DataFrame, dim: Int, who: String): DataFrame =
    raw
      .filter(assert_true(size(col("embedding")) === dim, lit(s"$who: expected dim=$dim embeddings")).isNull)
      .withColumn("nrm", sqrt(aggregate(transform(col("embedding"), x => x * x), lit(0.0d), (a, x) => a + x)))
      .filter(col("nrm") > 0.0)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x / nrm as float))").as("embedding"))

  /** Encode normalized vectors against a (frozen) codebook table:
    * nearest codebook entry per (vector, subspace) — min of (l2, code)
    * under struct ordering, an aggregate not a window. Shared by the
    * fit path ([[pqFit]]) and the frozen-model append path
    * ([[appendIvfPqIndex]]) so both encode identically.
    */
  private[graft] def encodeWithCodebooks(e: DataFrame, cbDf: DataFrame, m: Int, subDim: Int): DataFrame =
    subVecs(e, m, subDim)
      .join(broadcast(cbDf), Seq("sub_idx"))
      .withColumn("l2", expr("aggregate(zip_with(subvec, cvec, (a, b) -> (a - b) * (a - b)), 0.0D, (acc, d) -> acc + d)"))
      .groupBy("vec_id", "sub_idx")
      .agg(min(struct(col("l2"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub_idx"), col("best.code").as("code"))

  /** The PQ geometry (m, subDim) a standing index's codebook table
    * records — derived, never trusted from a caller, so probes and
    * appends cannot silently disagree with the frozen model. One
    * aggregate over a broadcast-sized table.
    */
  // geometry is FROZEN once an index is built, so the derivation
  // aggregate runs once per index per JVM — not once per probe (a
  // streaming serving job probes every micro-batch; a per-probe
  // driver-blocking job on an immutable value is pure latency).
  // buildIvfPqIndex invalidates on rebuild.
  private val geomCache = scala.collection.concurrent.TrieMap.empty[String, (Int, Int)]

  // two sessions in one JVM may hold same-named indexes in different
  // warehouses — the cache key must carry both
  private def geomKey(spark: SparkSession, indexName: String): String =
    s"${spark.conf.get("spark.sql.warehouse.dir", "")}#$indexName"

  private[graft] def invalidateGeometry(spark: SparkSession, indexName: String): Unit =
    geomCache.remove(geomKey(spark, indexName))

  private def indexGeometry(spark: SparkSession, indexName: String): (Int, Int) =
    geomCache.getOrElseUpdate(
      geomKey(spark, indexName), {
        val row = spark
          .table(s"${indexName}_codebooks")
          .agg(max(col("sub_idx")).as("mi"), max(size(col("cvec"))).as("dmax"), min(size(col("cvec"))).as("dmin"))
          .collect()(0)
        require(row.getInt(1) == row.getInt(2), "corrupt codebooks: ragged cvec lengths")
        (row.getInt(0) + 1, row.getInt(1))
      }
    )

  private[graft] def pqFit(
      raw: DataFrame,
      m: Int,
      codebookK: Int,
      dim: Int
  ): (DataFrame, DataFrame, DataFrame) = {
    val spark = raw.sparkSession
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    // normalize so dot == cosine and ADC approximates the real metric
    val e = l2Normalize(raw, dim, "pqFit")

    // bounded deterministic training sample — ONE cluster job collects
    // it (≤ 256·codebookK vectors ≈ 4 MB at the 64-dim default), then
    // all m per-subspace Lloyd fits run on the driver. Launching m
    // separate spark.ml fits here cost ~1 s of job-scheduling latency
    // EACH on data this small (16 sequential fits dominated the whole
    // query); the cap makes driver-side training legal at any corpus
    // size — the sample never grows with the table.
    val sampleTarget = 256L * codebookK
    val nVecs        = raw.count() // parquet metadata count — no data scan
    val modulus      = math.max(1L, nVecs / sampleTarget)
    val sample: Array[Array[Float]] =
      (if (modulus == 1L) e else e.filter(pmod(xxhash64(col("vec_id")), lit(modulus)) === 0))
        .orderBy("vec_id") // stable order → deterministic fits
        .select("embedding")
        .collect()
        .map(_.getSeq[Float](0).toArray)

    val codebooks: Seq[(Int, Int, Array[Float])] = (0 until m).flatMap { s =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      lloyd(subs, codebookK, seed = 42L + s, iters = 5).zipWithIndex.map { case (c, code) => (s, code, c) }
    }
    val cbDf = spark.createDataFrame(codebooks).toDF("sub_idx", "code", "cvec")

    val codes = encodeWithCodebooks(e, cbDf, m, subDim)
    (e, cbDf, codes)
  }

  /** Per-query nProbe nearest cells against a broadcast centroid
    * table: (qid, cell). Shared by [[ivfPqTopK]] and its candidate
    * measurement twin; [[ivfTopK]] keeps qe inline so it stays
    * self-contained.
    */
  private def probeCells(queries: DataFrame, centDf: DataFrame, nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy("qid").orderBy(col("cdist").desc, col("cell"))
    queries
      .crossJoin(broadcast(centDf))
      .withColumn("cdist", expr("cosine_sim(qe, centroid)"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nProbe)
      .select("qid", "cell")
  }

  /** Query-side ADC lookup table: per (query, subspace, code) the
    * partial dot of the query sub-vector with that codebook entry.
    */
  private def adcTable(queries: DataFrame, cbDf: DataFrame, m: Int, subDim: Int): DataFrame =
    subVecs(queries, m, subDim)
      .withColumnRenamed("vec_id", "qid")
      .join(broadcast(cbDf), Seq("sub_idx"))
      .withColumn("pdot", expr("aggregate(zip_with(subvec, cvec, (a, b) -> cast(a * b as double)), 0.0D, (acc, d) -> acc + d)"))
      .select(col("qid"), col("sub_idx"), col("code"), col("pdot"))

  def pqTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      m: Int = 16,
      codebookK: Int = 64,
      queryFilter: String = "vec_id % 100 = 0",
      dim: Int = 64
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val raw             = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (e, cbDf, codes) = pqFit(raw, m, codebookK, dim)

    // ADC: per query, partial dot of each query sub-vector with every
    // codebook entry; candidate score = sum of m lookups
    val qtab = adcTable(e.filter(expr(queryFilter)), cbDf, m, dim / m)
    val w    = Window.partitionBy("qid").orderBy(col("adc").desc, col("cand"))
    codes
      .join(broadcast(qtab), Seq("sub_idx", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("cand"))
      // round BEFORE ranking (the ivfPqTopK stance): the ADC sum's
      // summation order is partition-dependent, and ranking unrounded
      // doubles makes the order hostage to those ulps — quantize
      // first so the rank is reproducible across engines and runs
      .agg(round(sum("pdot"), 4).as("adc"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"), col("adc"))
      .orderBy("qid", "rnk")
  }

  /** IVF×PQ — the production ANN composition [[pqTopK]]'s own doc
    * promises: the IVF coarse quantizer restricts which encoded
    * vectors each query's ADC scan touches (its `nProbe` nearest
    * cells), and PQ keeps what it scans 12 B/vector. Plain PQ is ADC
    * over the WHOLE corpus per query — O(|V|·m) lookups; here the
    * per-query candidate set shrinks to ≈ nProbe/nCells of the corpus
    * (`check_ivfpq_recall` asserts the measured fraction), which is
    * the difference between a full-corpus scan per query and an
    * index probe at 100 TB.
    *
    * Scale shape: centroids and the query ADC table broadcast; the
    * encoded corpus joins its cell id once (shuffle by vec_id), then
    * candidate restriction is a broadcast join on cell — the big side
    * never shuffles again; scoring is the same broadcast (qid,
    * sub_idx, code) lookup join as [[pqTopK]] over the reduced stream.
    */
  def ivfPqTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      nCells: Int = 16,
      nProbe: Int = 4,
      m: Int = 16,
      codebookK: Int = 64,
      queryFilter: String = "vec_id % 100 = 0",
      dim: Int = 64
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val raw              = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (e, cbDf, codes) = pqFit(raw, m, codebookK, dim)
    val (assigned, centDf) = kmeansCells(raw, nCells)

    val probed = probeCells(
      e.filter(expr(queryFilter)).select(col("vec_id").as("qid"), col("embedding").as("qe")),
      centDf,
      nProbe
    )

    val qtab = adcTable(e.filter(expr(queryFilter)), cbDf, m, dim / m)
    val w    = Window.partitionBy("qid").orderBy(col("adc").desc, col("cand"))
    codes
      .join(assigned.select("vec_id", "cell"), Seq("vec_id"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(qtab), Seq("qid", "sub_idx", "code"))
      .groupBy(col("qid"), col("vec_id").as("cand"))
      // round BEFORE ranking (the bm25Rank stance): ranking unrounded
      // doubles makes the order hostage to summation-order ulps, which
      // is exactly the cross-engine flake the 4-decimal quantization
      // exists to remove
      .agg(round(sum("pdot"), 4).as("adc"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"), col("adc"))
      .orderBy("qid", "rnk")
  }

  /** Build and persist a standing IVF×PQ ANN index — the build half of
    * the build-once/probe-many contract a production vector store
    * runs (the same standing-state pattern as [[buildSemanticIndex]]
    * and [[Dedup.buildLshIndex]]). Tables:
    *
    *   - `{name}_centroids` (cell, centroid): the frozen coarse
    *     quantizer — probes assign with THESE, never retrain;
    *   - `{name}_codebooks` (sub_idx, code, cvec): the frozen PQ
    *     codebooks (m·codebookK rows — broadcast-sized);
    *   - `{name}_codes` (vec_id, sub_idx, code, cell), bucketed by
    *     cell: the encoded corpus, 12 B/vector at the 16×64 default —
    *     the probe's big side, read with NO exchange.
    */
  def buildIvfPqIndex(
      corpus: DataFrame,
      name: String,
      nCells: Int = 16,
      m: Int = 16,
      codebookK: Int = 64,
      dim: Int = 64,
      buckets: Int = 32
  ): Unit = {
    val spark = corpus.sparkSession
    val raw                = corpus.select(col("vec_id"), col("embedding"))
    val (_, cbDf, codes)   = pqFit(raw, m, codebookK, dim)
    val (assigned, centDf) = kmeansCells(raw, nCells)
    graft.sources.Bucketing.writeBucketedKeys(
      codes.join(assigned.select("vec_id", "cell"), Seq("vec_id")),
      s"${name}_codes",
      buckets,
      Seq("cell")
    )
    Seq(s"${name}_centroids" -> centDf, s"${name}_codebooks" -> cbDf).foreach { case (t, df) =>
      graft.sources.Bucketing.dropWithLocation(spark, t)
      df.write.mode("overwrite").saveAsTable(t)
    }
    // a rebuild may change the frozen geometry — drop the memo AFTER
    // the new codebooks land (invalidating before the write lets a
    // concurrent probe re-cache the old geometry, which would then
    // stick past the rebuild)
    invalidateGeometry(spark, name)
  }

  /** Append newly-arrived vectors to a standing [[buildIvfPqIndex]]
    * index — the ingest half of the build-once/probe-many contract,
    * closing the same build/append/probe triangle the LSH
    * ([[Dedup.appendLshIndex]]), semantic ([[appendSemanticIndex]]),
    * and gram indexes already have. Standard IVF ingest semantics:
    * the coarse quantizer and PQ codebooks are FROZEN — incoming
    * vectors are encoded against the index's persisted codebooks and
    * assigned with its persisted centroids (never retrained; re-train
    * only via an explicit rebuild), then appended to the bucketed
    * `_codes` table preserving its layout so probes stay exchange-free
    * as the index grows. The assignment and encode paths are the SAME
    * functions the build uses ([[assignNearestCell]],
    * `encodeWithCodebooks`), so append ∘ build ≡ build-with-frozen-
    * model over the union — `check_ivfpq_append` asserts exactly that.
    *
    * The centroid collect is nCells rows (16 by default) — driver-side
    * by design, same stance as the build's own sample-fit.
    */
  def appendIvfPqIndex(
      incoming: DataFrame,
      name: String,
      buckets: Int = 32
  ): Unit = {
    val spark = incoming.sparkSession
    val cbDf = spark.table(s"${name}_codebooks")
    // geometry comes from the index itself, never the caller: a
    // mismatched m/dim here would append garbage codes into the
    // standing table with no error
    val (m, subDim) = indexGeometry(spark, name)
    val dim         = m * subDim
    val centRows = spark.table(s"${name}_centroids").orderBy("cell").collect()
    centRows.zipWithIndex.foreach { case (r, i) =>
      require(r.getAs[Int]("cell") == i, s"appendIvfPqIndex: non-contiguous cell ids in ${name}_centroids")
    }
    val cents: Seq[Seq[Float]] = centRows.toSeq.map(r => r.getSeq[Float](r.fieldIndex("centroid")))
    val raw   = incoming.select(col("vec_id"), col("embedding"))
    val codes = encodeWithCodebooks(l2Normalize(raw, dim, "appendIvfPqIndex"), cbDf, m, subDim)
    // cell assignment runs on the RAW vectors — the build assigns
    // kmeansCells(raw) before pqFit normalizes, and append must match
    val assigned = assignNearestCell(raw, cents)
    graft.sources.Bucketing.appendBucketedKeys(
      codes.join(assigned.select("vec_id", "cell"), Seq("vec_id")),
      s"${name}_codes",
      buckets,
      Seq("cell")
    )
  }

  /** Compact an append-accumulated IVF×PQ index: fold the small files
    * each [[appendIvfPqIndex]] leaves in the `_codes` buckets into
    * fresh ones (rows already unique — batch vec_ids disjoint by
    * contract) via the shared write-aside-then-swap protocol. The
    * `_centroids`/`_codebooks` tables are the frozen model —
    * single-write, nothing to compact; the geometry memo stays valid
    * because compaction never touches them. Probe results
    * byte-identical by construction.
    */
  def compactIvfPqIndex(spark: SparkSession, name: String, buckets: Int = 32): Unit =
    graft.sources.Bucketing.compactBucketed(spark, s"${name}_codes", buckets, Seq("cell"))

  /** Probe a standing [[buildIvfPqIndex]] index: queries (qid,
    * embedding) → top-k by ADC over the query's nProbe nearest cells.
    * The probe never touches raw corpus vectors — centroids and
    * codebooks broadcast, the bucketed code table joins on cell
    * exchange-free, and per-query work is the probed cells' code rows.
    * Identical math to the self-contained [[ivfPqTopK]] (spec-pinned),
    * minus the per-call refit.
    *
    * Sized for BOUNDED query batches (the online-serving shape): the
    * per-query ADC table broadcasts at m·codebookK rows per query —
    * same stance as [[bruteForceTopK]]'s broadcast query side. A
    * corpus-scale query set should go through the batch operators
    * (cell-join both sides on the bucketed code table) instead.
    *
    * `excludeSelf` drops candidates whose vec_id equals the qid —
    * ONLY correct when queries are drawn from the indexed corpus
    * (the sim_ivfpq_topk shape). External queries live in their own
    * id space, where an accidental numeric collision would silently
    * drop a real neighbor — hence default OFF.
    */
  def ivfPqProbe(
      spark: SparkSession,
      indexName: String,
      queries: DataFrame,
      k: Int = 5,
      nProbe: Int = 4,
      excludeSelf: Boolean = false
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val centDf = spark.table(s"${indexName}_centroids")
    val cbDf   = spark.table(s"${indexName}_codebooks")
    // PQ geometry from the index's own codebooks (m, subDim) — a
    // caller-supplied m/dim that disagreed with the frozen model would
    // silently score garbage
    val (m, subDim) = indexGeometry(spark, indexName)
    val dim         = m * subDim
    // normalize queries the way pqFit normalized the corpus
    val qn = l2Normalize(queries.select(col("qid").as("vec_id"), col("embedding")), dim, "ivfPqProbe")
    val probed = probeCells(
      qn.select(col("vec_id").as("qid"), col("embedding").as("qe")),
      centDf,
      nProbe
    )
    val qtab = adcTable(qn, cbDf, m, subDim)
    val w    = Window.partitionBy("qid").orderBy(col("adc").desc, col("cand"))
    val candidates = spark
      .table(s"${indexName}_codes")
      .join(broadcast(probed), Seq("cell"))
    val ranked = (if (excludeSelf) candidates.filter(col("vec_id") =!= col("qid")) else candidates)
      .join(broadcast(qtab), Seq("qid", "sub_idx", "code"))
      .groupBy(col("qid"), col("vec_id").as("cand"))
      // round before ranking — same rationale (and same arithmetic) as
      // [[ivfPqTopK]], which this probe is spec-pinned identical to
      .agg(round(sum("pdot"), 4).as("adc"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"), col("adc"))
      .orderBy("qid", "rnk")
    // Loud plan assertion (the pageRankBucketed convention): the
    // standing-index claim is that the corpus-sized CODES relation is
    // never shuffled — probed cells and the per-query ADC table join
    // onto the codes scan as broadcasts, and only CANDIDATE-grain
    // rows (the scored (qid, cand) aggregates and the windowed top-k)
    // ever cross an exchange. A plan change that turns either join
    // into a shuffled join (e.g. the broadcast hint lost under a
    // refactor) would move the whole codes table per probe — refuse
    // instead of silently degrading.
    // (The hash exchanges that remain are candidate-grain — the scored
    // (qid, cand) aggregate and the per-query window — plus
    // query-grain internals under the broadcast subtrees; the claim
    // asserted is that NO join anywhere in the probe runs shuffled.)
    val planStr = ranked.queryExecution.executedPlan.toString
    val nShuffledJoin =
      "SortMergeJoin".r.findAllIn(planStr).size + "ShuffledHashJoin".r.findAllIn(planStr).size
    val nBcastJoin = "BroadcastHashJoin".r.findAllIn(planStr).size
    require(
      nShuffledJoin == 0 && nBcastJoin >= 2,
      s"ivfPqProbe: codes-relation join degraded ($nShuffledJoin shuffled joins, $nBcastJoin " +
        s"broadcast joins; expected 0 shuffled / >=2 broadcast — the corpus-sized codes relation " +
        s"must never shuffle):\n" + planStr.take(4000)
    )
    ranked
  }

  /** The candidate stream [[ivfPqTopK]] actually scores — exposed so
    * `check_ivfpq_recall` can measure that the IVF restriction is
    * real work reduction (candidates ≪ queries × corpus), not just a
    * recall trade.
    */
  private[graft] def ivfPqCandidates(
      spark: SparkSession,
      dir: String,
      nCells: Int = 16,
      nProbe: Int = 4,
      queryFilter: String = "vec_id % 100 = 0"
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val raw                = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (assigned, centDf) = kmeansCells(raw, nCells)
    val probed = probeCells(
      raw.filter(expr(queryFilter)).select(col("vec_id").as("qid"), col("embedding").as("qe")),
      centDf,
      nProbe
    )
    assigned
      .select("vec_id", "cell")
      .join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"))
  }

  /** ANN via multi-probe banding of the sign bits: split the
    * `numPlanes`-bit code into `bands` sub-codes; vectors sharing any
    * sub-code are candidates, then exact cosine rescoring + top-k.
    */
  def annLshTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      numPlanes: Int = 16,
      bands: Int = 4,
      queryFilter: String = "vec_id % 100 = 0",
      bucketCap: Int = 4096
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val bandBits = numPlanes / bands
    val coded    = hyperplaneCodes(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), numPlanes)
    // One groupBy per (band, sub_code) collects the bucket's member ids
    // and (filtered) query ids side by side, then query×member pairs
    // explode narrowly inside the bucket — the code pipeline runs once,
    // nothing cached, no join for candidate generation. Skew guard: a
    // degenerate sub-code bucket multiplies every query in it by the
    // whole bucket, so over-cap buckets are dropped (cap ≫ n/2^bandBits
    // keeps organic buckets).
    val banded = coded.select(
      col("vec_id"),
      posexplode(
        expr(
          s"transform(sequence(0, ${bands - 1}), c -> shiftright(lsh_code, c * $bandBits) & ${(1L << bandBits) - 1})"
        )
      ).as(Seq("band", "sub_code"))
    )
    // hot buckets are dropped via count + broadcast anti-join BEFORE
    // the collect (Dedup.capBuckets) — collecting first would build the
    // degenerate bucket's full array in one aggregation buffer. The
    // guard reads the banded rows twice → checkpoint them once
    val guarded =
      if (bucketCap == Int.MaxValue) banded
      else Dedup.capBuckets(banded.localCheckpoint(eager = false), Seq("band", "sub_code"), bucketCap)
    val buckets = guarded
      .groupBy("band", "sub_code")
      .agg(
        collect_list(col("vec_id")).as("ids"),
        collect_list(when(expr(queryFilter), col("vec_id"))).as("qids")
      )
      .filter(size(col("ids")) <= bucketCap && size(col("qids")) >= 1)
    val candIds = buckets
      .select(col("ids"), explode(col("qids")).as("qid"))
      .select(col("qid"), explode(col("ids")).as("cand"))
      .filter(col("cand") =!= col("qid"))
      .distinct()
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cands = candIds
      .join(e.select(col("vec_id").as("cand"), col("embedding").as("ce")), "cand")
      .join(broadcast(e.filter(expr(queryFilter)).select(col("vec_id").as("qid"), col("embedding").as("qe"))), "qid")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    cands
      .withColumn("cos", expr("cosine_sim(qe, ce)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rnk")
  }

  // --------------------------------------------------- k-NN label noise

  /** k-NN label disagreement (the Confident-Learning-lite shortlist):
    * vectors whose k nearest neighbors' MAJORITY label differs from
    * their own — the classic mislabeled-data detector. The checked
    * slice runs against the full corpus via the broadcast brute-force
    * pass ([[bruteForceTopK]]'s shape); at index scale the neighbor
    * set comes from the standing IVF×PQ probe instead — same vote,
    * cheaper neighbors. Everything after the cosine is integer:
    * neighbor rank ties break by candidate id, majority ties toward
    * the smaller label, so the shortlist hash-replays.
    */
  def knnLabelDisagreementOn(e: DataFrame, k: Int = 5, queryFilter: String = "vec_id % 4 = 0"): DataFrame = {
    require(k >= 1)
    graft.GraftFunctions.register(e.sparkSession)
    val q = e
      .filter(expr(queryFilter))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label").as("qlabel"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val nn = e
      .select(col("vec_id").as("cand"), col("embedding").as("ce"), col("label").as("clabel"))
      .join(broadcast(q), col("qid") =!= col("cand"))
      .withColumn("cos", expr("cosine_sim(qe, ce)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    val votes = nn.groupBy("qid", "qlabel", "clabel").agg(count(lit(1)).as("v"))
    val wv    = Window.partitionBy("qid").orderBy(col("v").desc, col("clabel"))
    votes
      .withColumn("rv", row_number().over(wv))
      .filter(col("rv") === 1 && col("clabel") =!= col("qlabel"))
      .select(
        col("qid").as("vec_id"),
        col("qlabel").as("label"),
        col("clabel").as("knn_label"),
        col("v").as("votes")
      )
      .orderBy("vec_id")
  }

  /** [[knnLabelDisagreementOn]] over the embeddings table. */
  def knnLabelDisagreement(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    knnLabelDisagreementOn(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"), col("label")), k)

  // ------------------------------------------------ centroid classification

  /** Nearest-class-centroid predictions (the Rocchio classifier — the
    * label-cleaning / weak-labeling primitive: vectors whose nearest
    * class mean disagrees with their label are the mislabeled-data
    * candidates). Centroids are fit DRIVER-SIDE from a bounded
    * deterministic per-label sample in fixed vec_id order (the
    * PQ-codebook stance: distributed float summation is
    * merge-order-nondeterministic at the ulp, a driver fold in fixed
    * order is bit-stable and the cap makes it legal at any corpus
    * size); classification is one narrow codegen'd pass against the
    * centroid literal, ties broken toward the smaller label.
    */
  def centroidPredictions(e: DataFrame, samplePerLabel: Int = 256, maxFitRows: Int = 1 << 18): DataFrame = {
    require(samplePerLabel >= 1)
    val w = Window
      .partitionBy("label")
      .orderBy(pmod(xxhash64(col("vec_id")), lit(1000003L)), col("vec_id"))
    // the per-label cap bounds the collect only if label cardinality is
    // bounded — a continuous/high-cardinality label column would pull
    // samplePerLabel × |labels| rows to the driver. limit(max+1) makes
    // an over-budget fit fail loudly with O(maxFitRows) transferred,
    // never OOM (the same loud-failure stance as the k-means samplers).
    val sampled = e
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= samplePerLabel)
      .select("label", "vec_id", "embedding")
      .orderBy("label", "vec_id")
      .limit(maxFitRows + 1)
      .collect()
    require(sampled.nonEmpty, "no labeled vectors to fit centroids")
    require(
      sampled.length <= maxFitRows,
      s"centroid fit sample exceeds $maxFitRows rows — label cardinality × samplePerLabel " +
        s"is too large for a driver-side fit; lower samplePerLabel or reduce label cardinality"
    )
    val cents: Seq[(Int, Seq[Double])] = sampled
      .groupBy(_.getInt(0))
      .toSeq
      .sortBy(_._1)
      .map { case (label, rows) =>
        val vecs = rows.sortBy(_.getLong(1)).map(_.getSeq[Float](2))
        val dim  = vecs.head.length
        val acc  = new Array[Double](dim)
        vecs.foreach { v =>
          var i = 0
          while (i < dim) { acc(i) += v(i); i += 1 }
        }
        label -> acc.map(_ / vecs.length).toSeq
      }
    val labels  = cents.map(_._1)
    val centLit = typedlit(cents.map(_._2))
    val d2s = transform(
      centLit,
      ct =>
        aggregate(
          zip_with(col("embedding"), ct, (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
          lit(0.0d),
          (acc, x) => acc + x
        )
    )
    e.withColumn("__d2s", d2s)
      .withColumn(
        "pred",
        element_at(typedlit(labels), (array_position(col("__d2s"), array_min(col("__d2s")))).cast("int"))
      )
      .select(col("vec_id"), col("label"), col("pred"))
  }

  /** Per-label confusion report of [[centroidPredictions]] over the
    * embeddings table: (label, n_vecs, n_correct) — accuracy and the
    * mislabeled-candidate mass per class in integer counts.
    */
  def centroidClassify(spark: SparkSession, dir: String, samplePerLabel: Int = 256): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
    centroidPredictions(e, samplePerLabel)
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct")
      )
      .orderBy("label")
  }

  /** Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
    * Goldstein, SIGIR 1998) at λ = ½: greedily pick the candidate
    * maximizing `rel − max-sim-to-already-selected`, so near-duplicate
    * results stop crowding the top-k — the retrieval-side twin of
    * SemDeDup (don't SHOW five copies either). Runs over a per-query
    * top-`n` shortlist from the brute-force scorer: the k greedy steps
    * are bounded joins + struct-argmax over queries × n rows — the
    * corpus is touched ONCE (the shortlist pass), the greedy loop
    * never is. Ties break to the smallest candidate id via
    * `max(struct(score, −cand))` — no float negation (−0.0 orders
    * differently across engines), so every pick replays exactly: rel
    * and pairwise sims are the same bit-exact cosine doubles the
    * ranked-retrieval oracles already hash on, and score = rel − maxsim
    * is one subtraction of identical doubles.
    */
  def mmrRerank(spark: SparkSession, dir: String, n: Int = 20, k: Int = 5): DataFrame = {
    require(k >= 1 && n >= k, s"need 1 <= k <= n, got k=$k n=$n")
    graft.GraftFunctions.register(spark)
    val e       = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val queries = e.filter(expr("vec_id % 100 = 0")).select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w       = Window.partitionBy("qid").orderBy(col("rel").desc, col("cand"))
    val shortlist = e
      .select(col("vec_id").as("cand"), col("embedding").as("ce"))
      .join(broadcast(queries), col("qid") =!= col("cand"))
      .withColumn("rel", expr("cosine_sim(qe, ce)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= n)
      .select(col("qid"), col("cand"), col("rel"), col("ce"))
      .localCheckpoint(eager = false)
    val cands = shortlist.select("qid", "cand", "rel")
    val pairs = shortlist
      .as("x")
      .join(shortlist.as("y"), col("x.qid") === col("y.qid") && col("x.cand") =!= col("y.cand"))
      .select(
        col("x.qid").as("qid"),
        col("x.cand").as("pa"),
        col("y.cand").as("pb"),
        expr("cosine_sim(x.ce, y.ce)").as("sim")
      )
      .localCheckpoint(eager = false)

    def argmax(scored: DataFrame, rnk: Int): DataFrame =
      scored
        .groupBy("qid")
        .agg(max(struct(col("score"), (-col("cand")).as("nc"))).as("pick"))
        .select(col("qid"), (-col("pick.nc")).as("cand"), col("pick.score").as("score"), lit(rnk.toLong).as("rnk"))

    var selected = argmax(cands.withColumn("score", col("rel")), 1)
    for (i <- 2 to k) {
      val remaining = cands.join(selected.select("qid", "cand"), Seq("qid", "cand"), "left_anti")
      val maxSim = pairs
        .join(selected.select(col("qid"), col("cand").as("pb")), Seq("qid", "pb"))
        .groupBy(col("qid"), col("pa").as("cand"))
        .agg(max("sim").as("msim"))
      val scored = remaining
        .join(maxSim, Seq("qid", "cand"))
        .withColumn("score", col("rel") - col("msim"))
      selected = selected.unionByName(argmax(scored, i)).localCheckpoint(eager = false)
    }
    selected.select(col("qid"), col("rnk"), col("cand"), col("score")).orderBy("qid", "rnk")
  }
}
