package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftPaths, Tables}
import graft.Tables.dirKeyed

/** Oracle-adjacent hard checks for the operators whose raw output the
  * DuckDB oracle cannot replay (hash-based LSH internals, sketches,
  * the stubbed media decode). Each query computes a containment /
  * error-bound property INSIDE Spark and emits a deterministic result
  * (booleans, zero counts, or counts DuckDB can derive from the base
  * tables) — converting the weakest verification tier (rows-only)
  * into a driver-checkable hash match.
  *
  * These are correctness harnesses, not scale paths: the exact sides
  * run on the same bounded subsets the corresponding `dedup_*` oracle
  * queries use.
  */
object Checks {

  /** HyperLogLog++ estimates within the configured 2% target (5%
    * asserted) of the exact distinct counts, per group.
    */
  def hllError(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        countDistinct(col("l_partkey")).as("ep"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
        countDistinct(col("l_orderkey")).as("eo")
      )
      .select(
        col("l_returnflag"),
        (abs(col("ap") - col("ep")) / col("ep") < 0.05).as("parts_ok"),
        (abs(col("ao") - col("eo")) / col("eo") < 0.05).as("orders_ok")
      )
      .orderBy("l_returnflag")

  /** Misra–Gries guarantee check ([[graft.functions.FreqItemsAgg]]),
    * run in the sub-capacity regime where decrements actually fire
    * (capacity 2 over 3-to-5-value skewed columns, capacity 8 over the
    * 31-term token stream). The three bounds hold for ANY merge order
    * (mergeable-summaries theorem), so the result is deterministic
    * even though the surviving counter set near the threshold is not:
    *   - missed_heavy: items with true count > n/(cap+1) absent from
    *     the sketch (guaranteed-presence violation);
    *   - over_est: estimates above the true count;
    *   - under_err: undercounts beyond the n/(cap+1) error budget.
    * All must be zero; DuckDB states the zeros.
    */
  def freqItemsGuarantee(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(spark)
    def check(df: DataFrame, itemCol: org.apache.spark.sql.Column, cap: Int, label: String): DataFrame = {
      val items  = df.select(itemCol.as("item")).filter(col("item").isNotNull)
      val sketch = items
        .agg(expr(s"freq_items_agg(item, $cap)").as("fi"))
        .select(explode(col("fi")).as("e"))
        .select(col("e.item").as("item"), col("e.est").as("est"))
      val exact = items.groupBy("item").agg(count(lit(1)).as("cnt"))
      val n     = items.agg(count(lit(1)).as("n"))
      exact
        .join(sketch, Seq("item"), "left")
        .crossJoin(broadcast(n))
        .agg(
          sum(when(col("cnt") > col("n") / (cap + 1) && col("est").isNull, 1L).otherwise(0L)).as("missed_heavy"),
          sum(when(col("est") > col("cnt"), 1L).otherwise(0L)).as("over_est"),
          sum(when(col("est").isNotNull && col("cnt") - col("est") > col("n") / (cap + 1), 1L).otherwise(0L))
            .as("under_err")
        )
        .select(lit(label).as("stream"), col("missed_heavy"), col("over_est"), col("under_err"))
    }
    val docs = Tables.documents(spark, dir)
    check(Tables.lineitem(spark, dir), col("l_returnflag"), 2, "l_returnflag")
      .unionByName(check(Tables.orders(spark, dir), col("o_orderstatus"), 2, "o_orderstatus"))
      .unionByName(
        check(TextJobs.tokenized(docs.select("doc_id", "text"), "text", "tok"), col("tok"), 8, "tokens")
      )
      .orderBy("stream")
  }

  /** Approximate percentiles (accuracy 10000) within 2% relative error
    * of the exact interpolated percentiles, per group.
    */
  def approxQuantileError(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        expr("approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)").as("ap"),
        expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("ex")
      )
      .select(
        col("o_orderstatus"),
        (abs(col("ap").getItem(0) - col("ex").getItem(0)) / col("ex").getItem(0) < 0.02).as("p50_ok"),
        (abs(col("ap").getItem(1) - col("ex").getItem(1)) / col("ex").getItem(1) < 0.02).as("p90_ok"),
        (abs(col("ap").getItem(2) - col("ex").getItem(2)) / col("ex").getItem(2) < 0.02).as("p99_ok")
      )
      .orderBy("o_orderstatus")

  /** MinHash-LSH candidate set ⊇ exact n-gram-Jaccard pairs at θ=0.8
    * (the containment LSH promises at 16 bands × 4 rows: miss
    * probability (1−0.8⁴)¹⁶ ≈ 2·10⁻⁴ per pair). Expected missed = 0.
    */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs  = Tables.documents(spark, dir).filter(col("doc_id") < 300)
    val exact = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.8).select("a", "b")
    // uncapped: this check verifies the BANDING containment property;
    // the skew cap is a deliberate, separately-tested recall sacrifice
    // and must not be able to fail the zero-miss assertion
    val cands = Dedup.lshCandidates(
      Dedup.minhashSignatures(Dedup.hashedShingles(docs, 3), 64), 64, 16, bucketCap = Int.MaxValue)
    exact
      .join(cands, Seq("a", "b"), "left_anti")
      .agg(count(lit(1)).as("missed_pairs"))
  }

  /** Incremental LSH == from-scratch: because signatures and band keys
    * are pure per-document functions, probing a new batch against the
    * persisted corpus index must reproduce EXACTLY the pairs a
    * from-scratch run over corpus ∪ batch finds that touch the batch —
    * nothing missed (the index loses no candidates) and nothing extra
    * (the probe invents none). Both sides run uncapped so the skew
    * guard cannot mask a real difference.
    */
  def incrementalLshEquivalence(spark: SparkSession, dir: String): DataFrame = {
    val docs   = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") < 400)
    val batch  = docs.filter(col("doc_id") >= 400)
    val idx = dirKeyed("chk_lsh_idx", dir)
    Dedup.buildLshIndex(corpus, idx)
    // both sides are consumed twice (two anti-join counts): lazy
    // localCheckpoint = compute once, blocks GC-freed, no CacheManager
    val incr = Dedup
      .incrementalMinhashLsh(spark, idx, batch, bucketCap = Int.MaxValue)
      .select("a", "b")
      .localCheckpoint(eager = false)
    val full = Dedup
      .minhashNearDups(docs, bucketCap = Int.MaxValue)
      .filter(col("a") >= 400 || col("b") >= 400)
      .select("a", "b")
      .localCheckpoint(eager = false)
    equivalence(spark, full, incr)
  }

  /** Continuous-curation invariants over two sequential ingest batches
    * against standing indexes (uncapped so the skew guard can't mask a
    * violation): (1) no accepted doc's text digest collides with the
    * seed corpus or another accepted doc; (2) no uncapped near-dup pair
    * touches an accepted doc (pairs wholly inside the unscreened seed
    * corpus are allowed); (3) the digest index grew by exactly the
    * accepted counts; (4) semantic tier: a PLANTED paraphrase dup — a
    * batch doc with unique text (passes the exact and MinHash tiers)
    * but a corpus doc's exact embedding — is rejected, while a planted
    * doc with unique text AND a far-from-everything embedding is
    * admitted (no false drop).
    */
  def incrementalCurationInvariants(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IncrementalCuration
    val emb = Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id"), col("embedding"))
    val docs = Tables.documents(spark, dir).select("doc_id", "text").join(emb, Seq("doc_id"), "left")
    val corpus = docs.filter(col("doc_id") < 300)
    val b1     = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    // planted paraphrase: unique text, identical embedding to corpus
    // doc 42 — only the semantic tier can catch it. Planted control:
    // unique text, orthogonal one-hot embedding (the synthetic
    // embeddings are dense mixtures, so a pure basis vector sits far
    // from every cluster) — must NOT be dropped.
    val dim = 64
    val planted = spark
      .createDataFrame(Seq(
        (900001L, "planted paraphrase carries entirely novel wording about cerulean axolotl economics"),
        (900002L, "planted control with unique text about quaternion bagpipe thermodynamics far from all")
      ))
      .toDF("doc_id", "text")
      .join(
        emb.filter(col("doc_id") === 42).select(col("embedding").as("dup_emb")),
        lit(true)
      )
      .select(
        col("doc_id"),
        col("text"),
        when(col("doc_id") === 900001L, col("dup_emb"))
          .otherwise(expr(s"transform(sequence(1, $dim), i -> cast(if(i = 1, 1.0, 0.0) as float))"))
          .as("embedding")
      )
    val b2 = docs.filter(col("doc_id") >= 400).unionByName(planted)
    val idx = dirKeyed("chk_cur", dir)
    IncrementalCuration.initIndexes(corpus, idx)
    val a1 = IncrementalCuration.ingestBatch(spark, b1, idx, bucketCap = Int.MaxValue)
    val a2 = IncrementalCuration.ingestBatch(spark, b2, idx, bucketCap = Int.MaxValue)
    val accepted    = a1.unionByName(a2).localCheckpoint(eager = false)
    val finalCorpus = corpus.unionByName(accepted).localCheckpoint(eager = false)

    val dupViolations = finalCorpus
      .filter(col("text").isNotNull)
      .groupBy(md5(col("text")))
      .agg(count(lit(1)).as("n"), max(col("doc_id") >= 300).as("touches_accepted"))
      .filter(col("n") > 1 && col("touches_accepted"))
      .count()
    val nearDupViolations = Dedup
      .minhashNearDups(finalCorpus, bucketCap = Int.MaxValue)
      .filter(col("a") >= 300 || col("b") >= 300)
      .count()
    val nDigests = spark.table(s"${idx}_digests").count()
    val expected = corpus.filter(col("text").isNotNull).select(md5(col("text"))).distinct().count() +
      accepted.count()
    val acceptedIds    = accepted.select("doc_id").collect().map(_.getLong(0)).toSet
    val paraphraseGone = !acceptedIds.contains(900001L)
    val controlKept    = acceptedIds.contains(900002L)
    spark
      .range(1)
      .select(
        lit(dupViolations == 0L).as("exact_ok"),
        lit(nearDupViolations == 0L).as("near_dup_ok"),
        lit(nDigests == expected).as("index_growth_ok"),
        lit(paraphraseGone).as("semantic_dup_rejected"),
        lit(controlKept).as("semantic_control_admitted")
      )
  }

  /** Incremental substring dedup == from-scratch dedupSubstrings over
    * corpus ∪ batch restricted to batch rows, both directions — the
    * standing gram index with reader-side sum/min aggregation must
    * reproduce the global document frequencies and canonical owners
    * exactly. Exercises the APPEND contract too: the index is built
    * from two appends (seed + first half of the corpus), so multiple
    * rows per gram are on disk.
    */
  def incrementalSubstringEquivalence(spark: SparkSession, dir: String): DataFrame = {
    val docs   = Tables.documents(spark, dir).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch  = docs.filter(col("doc_id") % 10 === 0)
    val idx = dirKeyed("chk_gram", dir)
    TextAnalysis.buildGramIndex(corpus.filter(col("doc_id") < 250), idx)
    TextAnalysis.appendGramIndex(corpus.filter(col("doc_id") >= 250), idx)
    spark.catalog.refreshTable(s"${idx}_gramdf")
    val inc = TextAnalysis
      .incrementalDedupSubstrings(spark, idx, batch)
      .localCheckpoint(eager = false)
    val full = TextAnalysis
      .dedupSubstringsDf(docs)
      .filter(col("doc_id") % 10 === 0)
      .localCheckpoint(eager = false)
    equivalence(spark, full, inc)
  }

  /** SimHash pigeonhole candidates are EXACT for hamming ≤ maxDist:
    * every pair within distance 3 must appear. Missed = 0 by
    * construction (chunking is a proof, not a probability).
    */
  def simhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 300)
    val sigs = Dedup.simhash(docs).localCheckpoint(eager = false)
    val exact = sigs
      .select(col("doc_id").as("a"), col("simhash").as("sa"))
      .join(sigs.select(col("doc_id").as("b"), col("simhash").as("sb")), col("a") < col("b"))
      .filter(expr("bit_count(sa ^ sb)") <= 3)
      .select("a", "b")
    exact
      .join(
        Dedup.simhashNearDups(docs, bucketCap = Int.MaxValue).select("a", "b"),
        Seq("a", "b"),
        "left_anti"
      )
      .agg(count(lit(1)).as("missed_pairs"))
  }

  /** Hyperplane-LSH embedding near-dup recall ≥ 0.9 of the exact
    * cosine≥0.4 pair set, and zero false positives (the LSH path
    * rescores with exact cosine, so any pair it reports must be real).
    */
  def embeddingLshRecall(spark: SparkSession, dir: String): DataFrame =
    pairRecallCheck(spark, Similarity.embeddingNearDupLsh(spark, dir, 0.4), dir, 0.1)

  /** Semantic (SemDeDup-style) near-dup pairs vs the exact cosine≥0.4
    * pair set: zero false positives (the cell path rescores with exact
    * cosine — any reported pair must be in the exact set) and recall
    * ≥ 0.5 (what same-cell blocking keeps of the boundary-straddling
    * pair population; deterministic — fixed seed, hash-mod sample —
    * so the boolean is stable).
    */
  def semanticDedupCheck(spark: SparkSession, dir: String): DataFrame =
    pairRecallCheck(spark, Similarity.semanticNearDups(spark, dir, 0.4), dir, 0.5)

  /** A rescored near-dup pair set against the exact cosine≥0.4 pairs
    * ([[Dedup.embeddingNearDups]]): `recall_ok` when at most
    * `maxMissed` of the exact pairs are missing, `no_false_positives`
    * when every found pair is exact. Each side feeds several actions —
    * lazy checkpoints keep the quadratic exact pipeline (and a kmeans
    * fit) single-run.
    */
  private def pairRecallCheck(spark: SparkSession, found: DataFrame, dir: String, maxMissed: Double): DataFrame = {
    val exact = Dedup.embeddingNearDups(spark, dir, 0.4).select("a", "b").localCheckpoint(eager = false)
    val got   = found.select("a", "b").localCheckpoint(eager = false)
    val nExact            = exact.count().toDouble
    val (nMissed, nFalse) = missedExtra(exact, got)
    spark
      .range(1)
      .select(
        lit(nMissed / math.max(nExact, 1.0) <= maxMissed).as("recall_ok"),
        lit(nFalse == 0L).as("no_false_positives")
      )
  }

  /** Incremental semantic dedup == fixed-quantizer run over
    * corpus ∪ batch restricted to pairs touching the batch, both
    * directions. The reference side assigns EVERY vector with the
    * index's persisted centroids (the frozen-quantizer contract —
    * retraining on corpus ∪ batch would legitimately shift cells, so
    * equality is stated against the quantizer the index versions).
    */
  def incrementalSemanticEquivalence(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(spark)
    val e      = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
    val batch  = e.filter(col("vec_id") % 10 === 0)
    val idx = dirKeyed("chk_sem_idx", dir)
    Similarity.buildSemanticIndex(corpus, idx)
    // cellCap disabled on BOTH sides: the reference pair set below is
    // uncapped, so a cell whose combined population exceeded the
    // production cap would fail the equivalence spuriously (a capped
    // probe legitimately drops pairs the uncapped reference keeps)
    val inc = Similarity
      .incrementalSemantic(spark, idx, batch, cellCap = Int.MaxValue)
      .select("a", "b")
      .localCheckpoint(eager = false)
    val centDf   = spark.table(s"${idx}_centroids")
    val assigned = Similarity.assignCells(e, centDf, nAssign = 2)
    val ref = Dedup
      .bucketPairs(assigned.select(col("cell"), col("vec_id")), Seq("cell"), col("vec_id"), Int.MaxValue)
      .distinct()
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .filter(expr("cosine_sim(ea, eb)") >= 0.4)
      .filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      .select("a", "b")
      .localCheckpoint(eager = false)
    equivalence(spark, ref, inc)
  }

  /** Rows of `want` missing from `got`, and rows of `got` not in
    * `want`, as multisets (EXCEPT ALL): a duplicated or NULL-bearing row
    * counts like any other — the one difference count behind every
    * equivalence check.
    */
  private def missedExtra(want: DataFrame, got: DataFrame): (Long, Long) =
    (want.exceptAll(got).count(), got.exceptAll(want).count())

  /** One row (no_missed, no_extra): `got` reproduces `want` exactly. */
  private def equivalence(spark: SparkSession, want: DataFrame, got: DataFrame): DataFrame = {
    val (missed, extra) = missedExtra(want, got)
    spark.range(1).select(lit(missed == 0L).as("no_missed"), lit(extra == 0L).as("no_extra"))
  }

  /** ANN (banded hyperplane LSH) mean recall@5 vs brute force ≥ 0.15 —
    * deterministic (hash-derived planes), so the boolean is stable.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    topkRecallCheck(spark, Similarity.annLshTopK(spark, dir), Similarity.bruteForceTopK(spark, dir), 0.15)

  /** IVF (sample-fit coarse quantizer, 4-probe) mean recall@5 vs brute
    * force ≥ 0.3.
    */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame =
    topkRecallCheck(spark, Similarity.ivfTopK(spark, dir), Similarity.bruteForceTopK(spark, dir), 0.3)

  /** PQ-ADC (16 × 64 codebooks on normalized vectors) mean recall@5 vs
    * brute force ≥ 0.3 — deterministic training sample and seed, so
    * the boolean is stable.
    */
  def pqRecall(spark: SparkSession, dir: String): DataFrame =
    topkRecallCheck(spark, Similarity.pqTopK(spark, dir), Similarity.bruteForceTopK(spark, dir), 0.3)

  /** IVF×PQ composed ANN: mean recall@5 vs brute force ≥ 0.2 AND the
    * IVF restriction is real work reduction, not just a recall trade —
    * the candidate stream ADC actually scores stays ≤ 60% of
    * queries × (corpus − 1) (nominal nProbe/nCells = 1/4; probed cells
    * skew large because queries probe their own neighborhoods, so the
    * bound leaves headroom while still proving ≪ the full cross
    * product plain PQ scans).
    */
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val recall =
      topkRecallCheck(spark, Similarity.ivfPqTopK(spark, dir), Similarity.bruteForceTopK(spark, dir), 0.2)
    val nCand = Similarity.ivfPqCandidates(spark, dir).count().toDouble
    val e     = Tables.embeddings(spark, dir).select("vec_id")
    val n     = e.count().toDouble
    val nQ    = e.filter(col("vec_id") % 100 === 0).count().toDouble
    recall.select(
      col("recall_ok"),
      lit(nCand / (nQ * (n - 1.0)) <= 0.6).as("work_reduced")
    )
  }

  /** Standing IVF×PQ index: build-on-corpus + append-batch ≡ a frozen-
    * model encode of corpus ∪ batch (exact table equality — append
    * must apply the index's persisted centroids/codebooks, nothing
    * retrained, nothing lost or duplicated), AND the appended index
    * serves probes whose mean recall@5 vs brute force is within 0.2
    * of a full retrained rebuild's. The recall gap is a MODEL-quality
    * delta, not an append defect (the frozen quantizer/codebooks
    * trained on the 90% corpus, the rebuild's on 100% — at sf0.001's
    * 500 vectors that sample difference alone measures ~0.16); the
    * exact-equality half is the sharp assertion. Deterministic
    * (seeded fits, hash-mod samples), so both booleans are stable.
    */
  def ivfPqAppendEquivalence(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(spark)
    val e      = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
    val batch  = e.filter(col("vec_id") % 10 === 0)
    val appIdx = dirKeyed("chk_ivfpq_app", dir)
    val rebIdx = dirKeyed("chk_ivfpq_reb", dir)
    Similarity.buildIvfPqIndex(corpus, appIdx)
    Similarity.appendIvfPqIndex(batch, appIdx)

    // exact half: the standing codes table now equals what a frozen-
    // model encode of the WHOLE union produces (same centroids, same
    // codebooks — the reference side never touches the append path)
    val cbDf     = spark.table(s"${appIdx}_codebooks")
    val centRows = spark.table(s"${appIdx}_centroids").orderBy("cell").collect()
    val cents    = centRows.toSeq.map(r => r.getSeq[Float](r.fieldIndex("centroid")))
    val refCodes = Similarity
      .encodeWithCodebooks(Similarity.l2Normalize(e, 64, "check"), cbDf, 16, 4)
      .join(Similarity.assignNearestCell(e, cents).select("vec_id", "cell"), Seq("vec_id"))
      .select("vec_id", "sub_idx", "code", "cell")
      .localCheckpoint(eager = false)
    val appended        = spark.table(s"${appIdx}_codes").select("vec_id", "sub_idx", "code", "cell")
    val (missed, extra) = missedExtra(refCodes, appended)
    val dupes           = appended.groupBy("vec_id", "sub_idx").agg(count(lit(1)).as("n")).filter(col("n") > 1).count()

    // recall half: the appended index vs a full retrained rebuild
    val queries  = e.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("qid"), col("embedding"))
    val brute    = Similarity.bruteForceTopK(spark, dir).localCheckpoint(eager = false)
    val rAppend  = meanRecall(Similarity.ivfPqProbe(spark, appIdx, queries, excludeSelf = true), brute)
    Similarity.buildIvfPqIndex(e, rebIdx)
    val rRebuild = meanRecall(Similarity.ivfPqProbe(spark, rebIdx, queries, excludeSelf = true), brute)
    spark
      .range(1)
      .select(
        lit(missed == 0L && extra == 0L && dupes == 0L).as("codes_equivalent"),
        lit(rAppend >= rRebuild - 0.2).as("recall_within_bound")
      )
  }

  /** Mean recall@k of `ann` against the brute-force reference — the
    * single recall definition every ANN check thresholds
    * ([[topkRecallCheck]]) or compares ([[ivfPqAppendEquivalence]]).
    */
  private def meanRecall(ann: DataFrame, brute: DataFrame): Double = {
    val hit = ann
      .select(col("qid"), col("cand"))
      .join(brute.select(col("qid"), col("cand")), Seq("qid", "cand"), "left_semi")
      .groupBy("qid")
      .agg(count(lit(1)).as("hits"))
    val row = brute
      .groupBy("qid")
      .agg(count(lit(1)).as("n"))
      .join(hit, Seq("qid"), "left")
      .select((coalesce(col("hits"), lit(0L)) / col("n")).as("r"))
      .agg(avg("r").as("mean_recall"))
      .collect()(0)
    // an EMPTY brute-force reference averages over zero rows → null;
    // report NaN so EVERY downstream comparison is false — including
    // the relative one in [[ivfPqAppendEquivalence]], where a 0.0
    // fallback would make the degenerate 0.0 >= 0.0 − bound case pass
    // while having verified nothing
    if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
  }

  private def topkRecallCheck(spark: SparkSession, ann: DataFrame, brute: DataFrame, bound: Double): DataFrame =
    spark.range(1).select(lit(meanRecall(ann, brute) >= bound).as("recall_ok"))

  /** Curation pipeline invariants: unique ids, output ⊆ input with
    * identical text, keeper = min id of its exact-text group, split
    * label matches the deterministic bucket formula, and every
    * surviving doc passes the quality gates.
    */
  def curationInvariants(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val out  = CurationPipeline.curate(spark, dir).localCheckpoint(eager = false)

    val nOut    = out.count()
    val nUnique = out.select("doc_id").distinct().count()

    // output rows must be input rows (id AND text identical)
    val nSubset = out.select("doc_id", "text").join(docs.select("doc_id", "text"), Seq("doc_id", "text")).count()

    // keeper property: no output doc has a smaller-id exact duplicate
    val keeperViolations = out
      .select(col("doc_id").as("kept_id"), col("text").as("kept_text"))
      .join(docs, col("text") === col("kept_text") && col("doc_id") < col("kept_id"))
      .count()

    // split must match the pure function of doc_id
    val splitViolations = out
      .withColumn("bucket", (col("doc_id") * 2654435761L) % 100)
      .withColumn(
        "expect",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "valid").otherwise("test")
      )
      .filter(col("split") =!= col("expect"))
      .count()

    // quality gates hold on the output (recomputed independently)
    val qualityViolations = TextJobs
      .tokenized(out.select("doc_id", "text"), "text", "tok")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tok").isInCollection(TextAnalysis.stopEn), 1L).otherwise(0L)).as("n_stop")
      )
      .filter(col("n_tokens") < 5 || col("n_stop") / col("n_tokens") > 0.9)
      .count()

    spark
      .range(1)
      .select(
        lit(nOut > 0).as("non_empty"),
        lit(nOut == nUnique).as("ids_unique"),
        lit(nSubset == nOut).as("subset_of_input"),
        lit(keeperViolations == 0L).as("keeper_ok"),
        lit(splitViolations == 0L).as("split_ok"),
        lit(qualityViolations == 0L).as("quality_ok")
      )
  }

  /** Int8 scalar quantization round-trip: per-vector min/max scale,
    * quantize to 0..255, dequantize, and bound the reconstruction
    * error by half a quantization step. The storage path 100 TB of
    * embeddings actually ships (4× smaller than float32); the bound
    * proves the arithmetic, all inside codegen'd HOFs.
    */
  def quantizationError(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .select(
        col("vec_id"),
        array_min(col("embedding")).cast("double").as("mn"),
        array_max(col("embedding")).cast("double").as("mx"),
        col("embedding")
      )
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
      .withColumn(
        "max_err",
        when(
          col("scale") === 0.0,
          lit(0.0)
        ).otherwise(
          expr(
            """aggregate(
              |  transform(embedding,
              |    x -> abs(mn + round((cast(x as double) - mn) / scale) * scale
              |             - cast(x as double))),
              |  cast(0.0 as double), (acc, e) -> greatest(acc, e))""".stripMargin
          )
        )
      )
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("max_err") > col("scale") * 0.5 * 1.0000001, 1L).otherwise(0L)).as("bad_quant")
      )

  /** Skew-STRESSED salted join, oracle-checked on the real result AND
    * loudly self-asserting the property salting exists to provide:
    * ~30% of orders are remapped onto ONE hot customer key (the
    * planted power-law head a plain hash join would serialize into a
    * single straggler task), the salted path scatters that key across
    * `salts` cells, and the query RAISES in the row path if any
    * (key, salt) cell exceeds 2x its fair share of the key's rows
    * (+ a constant slack for small keys) — so a future regression in
    * the salting (constant salt, broken hash, dropped modulus) fails
    * the correctness gate instead of quietly re-concentrating the hot
    * key. The spread directory is (distinct keys x salts)-sized; the
    * salted big relation is lazily checkpointed so the guard inspects
    * the SAME salt assignment the join consumes (the salt source
    * includes monotonically_increasing_id, which is not stable across
    * recomputation). The aggregate output replays in DuckDB as the
    * plain join over the same key remap — salting must never change
    * the result, only the distribution.
    */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val salts = 8
    val big = Tables
      .orders(spark, dir)
      .withColumn(
        "custkey",
        when(col("o_orderkey") % 10 < 3, lit(1L)).otherwise(col("o_custkey").cast("long"))
      )
    val small = Tables.customer(spark, dir).withColumnRenamed("c_custkey", "custkey")
    val saltedBig = big
      .withColumn("__salt", pmod(xxhash64(col("custkey"), monotonically_increasing_id()), lit(salts)))
      .localCheckpoint(eager = false) // consumers: spread guard + join — MUST share one salt assignment
    val cells = saltedBig.groupBy(col("custkey"), col("__salt")).agg(count(lit(1)).as("__c"))
    val guard = cells
      .withColumn("__kt", sum("__c").over(Window.partitionBy("custkey")))
      .agg(
        max(
          when(
            col("__c") * salts > col("__kt") * 2 + lit(64L * salts),
            raise_error(
              concat(
                lit("skewSaltedJoin: salt cell holds "),
                col("__c"),
                lit(" of its key's "),
                col("__kt"),
                lit(s" rows — the $salts-way scatter degraded (> 2x fair share)")
              )
            ).cast("long")
          ).otherwise(lit(0L))
        ).as("salt_cells_over_bound")
      )
    saltedBig
      .join(small.withColumn("__salt", explode(expr(s"sequence(0, ${salts - 1})"))), Seq("custkey", "__salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
      .crossJoin(broadcast(guard)) // 1-row guard rides into the hashed output
      .orderBy("c_mktsegment")
  }

  /** Salted-join parity, oracle-checked on the REAL result: the salted
    * plan must produce byte-identical aggregates to the plain join
    * DuckDB runs — salting redistributes rows, never changes them.
    */
  def saltedJoinParity(spark: SparkSession, dir: String): DataFrame = {
    val big   = Tables.orders(spark, dir).withColumnRenamed("o_custkey", "custkey")
    val small = Tables.customer(spark, dir).withColumnRenamed("c_custkey", "custkey")
    DataOps
      .saltedJoin(big, small, "custkey", salts = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
      .orderBy("c_mktsegment")
  }

  /** Bucketed co-located join, oracle-checked on the REAL result: the
    * exchange-free bucketed plan must match DuckDB's plain join. (The
    * exchange-free property itself is asserted in BucketingSpec.)
    */
  def bucketedJoinParity(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Bucketing.writeBucketed(
      Tables.orders(spark, dir).withColumnRenamed("o_custkey", "custkey"),
      "chk_orders_b",
      "custkey",
      buckets = 8
    )
    graft.sources.Bucketing.writeBucketed(
      Tables.customer(spark, dir).withColumnRenamed("c_custkey", "custkey"),
      "chk_customer_b",
      "custkey",
      buckets = 8
    )
    graft.sources.Bucketing
      .cogroupedJoin(spark, "chk_orders_b", "chk_customer_b", "custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
      .orderBy("c_mktsegment")
  }

  /** Media embedder invariants, tied to the base table: one vector of
    * the declared dimension per document, and — because the embedder
    * is a token-count histogram — the TOTAL mass across all vectors
    * equals the corpus token count, which DuckDB computes exactly
    * (a real oracle tie on the vector CONTENTS, not just the count;
    * the per-bucket values themselves are hash-checked by the
    * `multimodal_embed` entry).
    */
  def multimodalEmbedInvariants(spark: SparkSession, dir: String): DataFrame =
    Multimodal
      .embedMedia(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        aggregate(col("embedding"), lit(0L), (acc, x) => acc + x.cast("long")).as("mass")
      )
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("dim") =!= 64, 1L).otherwise(0L)).as("bad_dim"),
        sum(col("mass")).as("total_tokens")
      )

  /** Frame-sampling invariants, tied to the base table: every video
    * document emits frames (stub duration ≥ 1 s ⇒ ≥ 25 frames ⇒ ≥ 1
    * sample), indices are a dense stride-10 prefix from 0, and frame
    * signatures are distinct within a doc. n_video_docs is the real
    * oracle tie (DuckDB counts doc_id % 3 = 2).
    */
  /** Unigram-LM tokenizer invariants (the hash-green twin of the
    * rows-only `unigram_train` — hard-EM Viterbi re-estimation is the
    * same no-portable-SQL class as BPE merge learning). Verified
    * INSIDE Spark over the full corpus token stream:
    *   - round trip: every occurrence's pieces concatenate back to
    *     the surface word;
    *   - vocab closure: every emitted piece is in the trained
    *     vocabulary;
    *   - compression: the corpus encodes to strictly fewer pieces
    *     than characters (the learned multi-char pieces do real work);
    *   - vocabulary bounded and char-closed (every corpus char
    *     present as a piece).
    */
  def unigramInvariants(spark: SparkSession, dir: String, vocabSize: Int = 400): DataFrame = {
    val vocab   = UnigramLm.train(spark, dir, vocabSize).localCheckpoint(eager = false)
    val encoded = UnigramLm.encodeDocs(spark, Tables.documents(spark, dir), vocab)
    val unknownPieces = encoded
      .select(explode(col("pieces")).as("p"))
      .distinct()
      .join(vocab.select(col("piece").as("p")), Seq("p"), "left_anti")
    val missingChars = TextJobs
      .tokenized(Tables.documents(spark, dir).select("text"), "text", "word")
      .select(explode(split(col("word"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .distinct()
      .join(vocab.filter(length(col("piece")) === 1).select(col("piece").as("ch")), Seq("ch"), "left_anti")
    encoded
      .agg(
        sum(when(concat_ws("", col("pieces")) =!= col("word"), 1L).otherwise(0L)).as("roundtrip_violations"),
        sum(size(col("pieces"))).cast("long").as("n_pieces"),
        sum(length(col("word"))).cast("long").as("n_chars")
      )
      .select(
        col("roundtrip_violations"),
        (col("n_pieces") < col("n_chars")).as("compressed"),
        lit(unknownPieces.isEmpty).as("vocab_closed"),
        lit(missingChars.isEmpty).as("chars_closed")
      )
  }

  /** BPE tokenizer invariants (the hash-green twin of the rows-only
    * `bpe_train` — merge learning is an iterative argmax no portable
    * SQL can replay, the PQ-codebook stance). Verified INSIDE Spark
    * over the full corpus token stream:
    *   - round trip: every token occurrence's BPE pieces concatenate
    *     back to the surface word (losslessness);
    *   - vocab closure: every multi-char piece the encoder emits is
    *     the output of a learned merge;
    *   - compression: the corpus encodes to strictly fewer pieces
    *     than characters (the merges did real work);
    *   - the learner produced within (0, numMerges] merges.
    */
  def bpeInvariants(spark: SparkSession, dir: String, numMerges: Int = 200): DataFrame = {
    val merges  = Bpe.train(spark, dir, numMerges).localCheckpoint(eager = false)
    val encoded = Bpe.encodeDocs(spark, Tables.documents(spark, dir), merges)
    val mergeVocab = merges.select(concat(col("left"), col("right")).as("tok"))
    val unknownPieces = encoded
      .select(explode(col("tokens")).as("tok"))
      .filter(length(col("tok")) > 1)
      .distinct()
      .join(mergeVocab, Seq("tok"), "left_anti")
    val nMerges = merges.count()
    encoded
      .agg(
        sum(when(concat_ws("", col("tokens")) =!= col("word"), 1L).otherwise(0L)).as("roundtrip_violations"),
        sum(size(col("tokens"))).cast("long").as("n_pieces"),
        sum(length(col("word"))).cast("long").as("n_chars")
      )
      .select(
        col("roundtrip_violations"),
        (col("n_pieces") < col("n_chars")).as("compressed"),
        lit(unknownPieces.isEmpty).as("vocab_closed"),
        lit(nMerges > 0 && nMerges <= numMerges).as("merges_ok")
      )
  }

  /** Continuous-CDC invariants: documents-derived change batches
    * applied through [[graft.streaming.ChangeFeed.applyBatch]] (the
    * foreachBatch body) into a graft-log table must (a) equal the
    * plain sequential [[Cdc.mergeUpsert]] folds, (b) leave one
    * committed version per batch, and (c) time-travel to the first
    * batch boundary exactly.
    */
  def changeFeedInvariants(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    import graft.streaming.ChangeFeed
    val path = GraftPaths.cleared(GraftPaths.keyed("check_cf", dir))
    val docs = Tables.documents(spark, dir).select("doc_id", "text", "source")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs
      .filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), concat(col("text"), lit(" u1")).as("text"), col("source"), lit(false).as("__delete"))
    val b2 = docs
      .filter(col("doc_id") % 8 === 0)
      .select(col("doc_id"), col("text"), col("source"), lit(true).as("__delete"))
      .unionByName(
        docs
          .filter(col("doc_id") % 4 === 1)
          .select(col("doc_id"), concat(col("text"), lit(" u2")).as("text"), col("source"), lit(false).as("__delete"))
      )
    SnapshotTable.create(spark, path, base)
    ChangeFeed.applyBatch(spark, path, b1, "doc_id")
    ChangeFeed.applyBatch(spark, path, b2, "doc_id")
    val expected1 = Cdc.mergeUpsert(base, b1, "doc_id")
    val expected2 = Cdc.mergeUpsert(expected1, b2, "doc_id")
    val got       = SnapshotTable.read(spark, path)
    val gotV2     = SnapshotTable.read(spark, path, Some(2))
    spark
      .range(1)
      .select(
        lit(got.exceptAll(expected2).isEmpty && expected2.exceptAll(got).isEmpty).as("content_ok"),
        lit(gotV2.exceptAll(expected1).isEmpty && expected1.exceptAll(gotV2).isEmpty).as("history_ok"),
        lit(SnapshotTable.latestVersion(spark, path)).as("n_versions")
      )
  }

  /** `Dataset.observe` metrics (the zero-cost pipeline-health hook:
    * accumulator-backed aggregates collected DURING a real action, no
    * second pass): the observed count/sum must equal a direct
    * recompute. The action driving the observation is a noop-sink
    * write of the observed frame itself.
    */
  def observedMetrics(spark: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val li  = Tables.lineitem(spark, dir)
    val observed = li.observe(
      obs,
      count(lit(1)).as("n"),
      sum(col("l_quantity").cast("long")).as("sq")
    )
    observed.write.format("noop").mode("overwrite").save()
    val direct = li
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sq"))
      .head()
    val m = obs.get
    spark
      .range(1)
      .select(
        lit(m("n") == direct.getLong(0)).as("count_ok"),
        lit(m("sq") == direct.getLong(1)).as("sum_ok")
      )
  }

  def frameSampleInvariants(spark: SparkSession, dir: String): DataFrame = {
    val frames = Multimodal.sampleFrames(spark, dir).localCheckpoint(eager = false)
    val perDoc = frames
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n"),
        max("frame_idx").as("maxf"),
        min("frame_idx").as("minf"),
        sum(when(col("frame_idx") % 10 =!= 0, 1L).otherwise(0L)).as("off_stride"),
        countDistinct("frame_sig").as("n_sigs")
      )
    perDoc
      .agg(
        count(lit(1)).as("n_video_docs"),
        sum(when(col("minf") =!= 0, 1L).otherwise(0L)).as("bad_start"),
        sum(when(col("n") =!= col("maxf") / 10 + 1, 1L).otherwise(0L)).as("gaps"),
        sum(col("off_stride")).as("off_stride"),
        sum(when(col("n_sigs") =!= col("n"), 1L).otherwise(0L)).as("sig_collisions")
      )
  }

  /** Invariants of the deflate compression-ratio signal
    * ([[TextAnalysis.compressionRatio]], rows-only at the oracle):
    * every document scores in (0, 1.5]; self-concatenating a document
    * must STRICTLY shrink its ratio (the second copy is one
    * back-reference — the repetition-detection property the signal
    * exists for); recomputation is bit-identical. All counts tie to
    * the base table so the oracle can state them.
    */
  def compressionInvariants(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = TextAnalysis.compressionRatio(docs)
    val doubled = TextAnalysis
      .compressionRatio(docs.withColumn("text", concat(col("text"), lit(" "), col("text"))))
      .select(col("doc_id"), col("ratio").as("ratio2"))
    val rerun = TextAnalysis
      .compressionRatio(docs)
      .select(col("doc_id"), col("ratio").as("ratio_rerun"))
    base
      .join(doubled, "doc_id")
      .join(rerun, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ratio") <= 0.0 || col("ratio") > 1.5, 1L).otherwise(0L)).as("bad_range"),
        sum(when(col("ratio2") >= col("ratio"), 1L).otherwise(0L)).as("doubled_not_smaller"),
        sum(when(col("ratio") =!= col("ratio_rerun"), 1L).otherwise(0L)).as("nondeterministic")
      )
  }
}
