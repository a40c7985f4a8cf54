package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for large-scale corpus curation — the
  * core training-data-pipeline surface (BASELINE.json north star).
  *
  * Scale design:
  *   - exact dedup is one hash-shuffle on a digest of the text (never
  *     on the raw text — shuffling 100 TB of payload to compare
  *     equality is the classic mistake; digests shuffle ~32 bytes/row);
  *   - MinHash-LSH turns the O(n²) near-dup problem into
  *     shuffle-by-band-bucket: only documents sharing a band bucket
  *     ever meet, so the cross product never materializes;
  *   - SimHash uses the pigeonhole principle (hamming ≤ k ⇒ at least
  *     one of k+1 chunks equal) for the same candidate-only property;
  *   - exact n-gram Jaccard is the quadratic oracle — correct but only
  *     run on bounded subsets; the LSH paths are the 100 TB paths.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup groups: digest → group size + surviving doc id.
    * Deterministic keeper = min doc_id, the standard reproducible
    * tie-break.
    */
  def exactGroups(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("dup_cnt"), min("doc_id").as("keeper"))
      .orderBy("keeper")

  /** The deduplicated corpus itself (keeper rows only). */
  def exactDedup(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keepers = df
      .groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Incremental exact dedup: dedup the incoming batch internally
    * (min-id keeper), then keep only docs whose text digest does not
    * already exist in the corpus — the production dedup mode (each
    * ingest batch checks against the standing index instead of
    * re-deduping the world). Both stages shuffle digests only; at
    * scale the existing side is the persisted digest index, not a
    * rescan. Skipping the intra-batch stage would admit same-batch
    * duplicates that no later incremental pass could ever remove.
    */
  def incrementalExact(
      existing: DataFrame,
      incoming: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    // NULL text is absence of content, not content: such rows pass
    // through untouched (grouping them under the NULL digest would
    // silently collapse distinct no-text docs into one "duplicate"
    // group — and diverge from SQL NULL semantics, where no digest
    // comparison ever matches)
    val nonNull      = incoming.filter(col(textCol).isNotNull)
    val nullText     = incoming.filter(col(textCol).isNull)
    val batchDeduped = exactDedup(nonNull, textCol, idCol)
    batchDeduped
      .join(
        existing.select(md5(col(textCol)).as("__h")).distinct(),
        md5(batchDeduped(textCol)) === col("__h"),
        "left_anti"
      )
      .unionByName(nullText)
  }

  /** Canonical text normalization for dedup: lowercase + whitespace
    * collapse + trim — the cheap pre-pass that catches trivially
    * reformatted duplicates before any fuzzy machinery runs.
    */
  def normalizedText(textCol: String): org.apache.spark.sql.Column =
    trim(regexp_replace(lower(col(textCol)), "\\s+", " "))

  /** Dedup groups under normalization (case/whitespace-insensitive). */
  def normalizedGroups(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .groupBy(md5(normalizedText("text")).as("norm_hash"))
      .agg(count(lit(1)).as("dup_cnt"), min("doc_id").as("keeper"))
      .orderBy("keeper")

  // --------------------------------------------------- shingles / jaccard

  /** Word k-gram shingles per document (with duplicates — MinHash is
    * duplicate-invariant, so no dedup shuffle is paid here; set-based
    * consumers dedupe themselves).
    */
  def shingles(df: DataFrame, k: Int, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = expr(s"letter_tokens($textCol)")
    df.select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) >= k)
      .select(
        col(idCol),
        explode(
          expr(s"transform(sequence(0, size(toks) - $k), i -> concat_ws(' ', slice(toks, i + 1, $k)))")
        ).as("sh")
      )
  }

  /** Intra-bucket pair generation — the shared core of every
    * candidate-by-bucket pipeline (inverted shingle index, MinHash
    * bands, SimHash chunks, hyperplane sub-codes).
    *
    * One `groupBy(keys)` collects each bucket's members into a sorted
    * array; pairs then come from a NARROW double-explode (each member
    * against the members after it, so `a < b` by construction). This
    * replaces the classic bucket SELF-JOIN, which at scale needs either
    * a cache of the bucketed intermediate (Spark performs no
    * cross-input subtree reuse, so an uncached self-join computes its
    * whole upstream twice — and the cache then outlives the query in
    * CacheManager) or the double computation. Here the upstream runs
    * exactly once, nothing is pinned in executor memory, and the only
    * shuffle is the groupBy itself.
    *
    * The skew guard happens BEFORE the collect: a count aggregation
    * (constant-size buffers) finds over-cap buckets and a broadcast
    * anti-join drops their rows, so a degenerate hot bucket never
    * reaches a collect_list buffer — collecting first and filtering on
    * array size after would materialize the full hot bucket in one
    * aggregation row, which is exactly the OOM the cap exists to
    * prevent. The residual size filter then only bounds what the
    * capped population can produce. Uncapped calls
    * (`cap = Int.MaxValue`) skip the guard pass — bounded
    * oracle/recall paths only.
    *
    * This is the engine's one "all pairs within a group" generator:
    * uncapped, the output is the multiset of the keyed self-join
    * `x.k === y.k && x.m < y.m` (rows with a NULL key and NULL
    * members pair with nothing). Precondition: members are
    * distinct within a group — equal members would pair with each
    * other here but not in the join. Columns a caller needs after
    * pairing ride in the member struct; a column that is constant
    * within the group (the group key itself, a centre's degree) leaves
    * the pair order unchanged.
    */
  private[graft] def bucketPairs(
      banded: DataFrame,
      keys: Seq[String],
      member: org.apache.spark.sql.Column,
      cap: Int
  ): DataFrame = {
    // the guard reads `banded` twice (count pass + anti-join probe) and
    // its upstream can be an expensive aggregate — materialize the
    // narrow banded rows once (lazy checkpoint, GC-freed) instead of
    // computing that upstream twice
    val src     = if (cap == Int.MaxValue) banded else banded.localCheckpoint(eager = false)
    val guarded = if (cap == Int.MaxValue) src else capBuckets(src, keys, cap)
    // a NULL-key group collects nothing, so it pairs nothing; a Filter
    // on the keys instead would be pushed into the upstream scan and
    // stop Spark reusing that scan's exchange for the caller's other
    // reads of it (basket_pairs: a second lineitem distinct)
    val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
    guarded
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(when(keyed, member))).as("members"))
      .filter(size(col("members")) >= 2 && size(col("members")) <= cap)
      .select(col("members"), posexplode(col("members")).as(Seq("__i", "a")))
      .select(col("a"), explode(expr("slice(members, __i + 2, size(members))")).as("b"))
  }

  /** Exact pairwise n-gram Jaccard similarity ≥ threshold, via the
    * standard inverted-shingle index (only docs sharing ≥1 shingle
    * meet). Quadratic in the worst case — the oracle/baseline path,
    * run on bounded subsets only (a shingle shared by m docs collects
    * m ids into one bucket row and emits m²/2 pairs; the LSH paths are
    * the capped 100 TB paths).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      k: Int = 3,
      threshold: Double = 0.6,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    // consumed three times (bucket pass + the two size joins) and Spark
    // performs no cross-input subtree reuse — lazy checkpoint computes
    // the tokenize+explode+distinct once, blocks GC-freed
    val sh     = shingles(df, k, textCol, idCol).distinct().localCheckpoint(eager = false)
    val sizes  = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val common = bucketPairs(sh, Seq("sh"), col(idCol), Int.MaxValue)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col(idCol).as("a"), col("n_sh").as("na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n_sh").as("nb")), "b")
      // int/int quotient: bit-exact across engines, no rounding needed
      .withColumn("jaccard", col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
      .orderBy("a", "b")
  }

  // ------------------------------------------------- prefix-filter setsim

  /** EXACT Jaccard-threshold set-similarity join over distinct word
    * tokens, via the positional prefix filter (AllPairs/PPJoin family
    * — Bayardo et al. WWW'07, Xiao et al. WWW'08). Unlike
    * [[ngramJaccardPairs]] (inverted index over ALL shingles — every
    * token shared by m docs emits m²/2 candidate pairs, so a stopword
    * detonates it), only PREFIX tokens generate candidates:
    *
    *   - impose one global total order on tokens: ascending document
    *     frequency, ties by token string (rarest first);
    *   - sort each doc's n distinct tokens by that order; any partner
    *     with Jaccard ≥ θ must share ≥ ⌈θ·n⌉ common tokens, and the
    *     globally SMALLEST common token provably lands in BOTH docs'
    *     first n − ⌈θ·n⌉ + 1 tokens (if it sat in a doc's suffix, all
    *     common tokens — being larger in a sorted tail — would too,
    *     and the suffix only holds ⌈θ·n⌉ − 1 < ⌈θ·n⌉ slots);
    *   - so candidates = pairs sharing a PREFIX token, plus the length
    *     filter θ·max(n_a,n_b) ≤ min(n_a,n_b); exact Jaccard then
    *     verifies each candidate. No approximation anywhere.
    *
    * 100 TB shape: rarest-first ordering means the candidate-emitting
    * buckets are precisely the LOW-frequency tokens — the hot-token
    * m²/2 blowup of the naive inverted index cannot happen (a token
    * frequent enough to be hot is ordered last and never enters a
    * prefix unless θ is tiny). Pruning power scales with frequency
    * SKEW: on Zipfian text (the real-corpus case) the cut is ≥10×
    * (spec-measured); on a pathologically flat vocabulary it degrades
    * toward the plain inverted index — but never below it, and stays
    * exact. Every stage is a keyed hash shuffle
    * (distinct by (doc,tok), df by tok, positions by doc, candidates
    * by prefix token, verify by (doc,tok)); nothing is quadratic in
    * the corpus. The FP slack (1e-9) on the two θ·n comparisons only
    * ever LENGTHENS a prefix / RETAINS a candidate, so float rounding
    * can cost a few extra candidates but never a true pair.
    */
  def setSimJoin(
      df: DataFrame,
      threshold: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val tokExpr = expr(s"letter_tokens($textCol)")
    setSimJoinOnSets(df.select(col(idCol).as("id"), explode(tokExpr).as("tok")), threshold)
  }

  /** [[setSimJoin]] over an arbitrary set representation — any (id,
    * tok) element relation (word tokens, k-gram shingles, feature
    * ids). Duplicated elements are deduped here, so callers can pass
    * raw exploded streams. Over [[shingles]] this computes exactly
    * [[ngramJaccardPairs]]'s answer through the prefix-filtered plan
    * (spec-pinned equal) — the quadratic oracle path and the 100 TB
    * path, same semantics.
    */
  def setSimJoinOnSets(
      elements: DataFrame,
      threshold: Double,
      idCol: String = "id",
      tokCol: String = "tok"
  ): DataFrame = {
    val (toks, cand) = setSimCandidates(elements.select(col(idCol).as("id"), col(tokCol).as("tok")), threshold)
    cand
      .join(toks.select(col("id").as("a"), col("tok")), Seq("a"))
      .join(toks.select(col("id").as("b"), col("tok")), Seq("b", "tok"))
      .groupBy("a", "b", "na", "nb")
      .agg(count(lit(1)).as("common"))
      // int/int quotient: bit-exact across engines, no rounding needed
      .withColumn("jaccard", col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
      .orderBy("a", "b")
  }

  /** Distinct (id, tok) rows + the verified-candidate pair set of
    * [[setSimJoinOnSets]] (columns a, b, na, nb) — the shared core,
    * also consumed directly by the spec so the pruning claim is
    * measurable against the naive shared-token pair population.
    */
  private[graft] def setSimCandidates(
      elements: DataFrame,
      threshold: Double
  ): (DataFrame, DataFrame) = {
    val (toks, prefix) = overlapPrefix(elements, threshold)
    // candidate pairs share a prefix token; uncapped on purpose —
    // capping would break exactness, and rarest-first ordering is the
    // structural bound on bucket size
    val cand = bucketPairs(prefix, Seq("tok"), struct(col("id"), col("n")), Int.MaxValue)
      .select(col("a.id").as("a"), col("a.n").as("na"), col("b.id").as("b"), col("b.n").as("nb"))
      .filter(least(col("na"), col("nb")) >= greatest(col("na"), col("nb")) * threshold - 1e-9)
      .select("a", "b", "na", "nb")
      .distinct()
    (toks, cand)
  }

  /** Distinct (id, tok) rows and their overlap prefix (columns id, tok,
    * n): an id with n distinct tokens that must share ⌈θ·n⌉ of them
    * keeps its first n − ⌈θ·n⌉ + 1 rarest-first tokens — the bound of
    * both [[setSimCandidates]] and [[containmentJoin]].
    */
  private def overlapPrefix(elements: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1], got $threshold")
    // consumed by the frequency pass, the rank pass and the verify join
    // — materialize the narrow (id, tok) rows once (lazy, GC-freed)
    val toks = elements
      .select(col("id"), col("tok"))
      .distinct()
      .localCheckpoint(eager = false)
    // the −1e-9 keeps an exactly-integer θ·n from rounding UP in FP (a
    // too-short prefix would drop pairs)
    val prefix = rarestFirstPrefix(toks, "tok") {
      _.withColumn("n", count(lit(1)).over(Window.partitionBy("id")))
        .filter(col("rk") <= col("n") - ceil(col("n") * threshold - 1e-9) + 1)
    }
    (toks, prefix)
  }

  /** Rarest-first token prefix, the candidate filter of every exact
    * prefix-filter join (set overlap, containment, edit distance,
    * Jaro–Winkler): one global order on tokens — ascending frequency
    * over `rows`, ties by the token, then by `tiebreak` — ranks each
    * `id`'s tokens into `rk`, and `cut` keeps the prefix. Hot tokens
    * sort last, so a bucket of prefix tokens stays small.
    */
  private[graft] def rarestFirstPrefix(rows: DataFrame, tok: String, tiebreak: Column*)(
      cut: DataFrame => DataFrame
  ): DataFrame = {
    val freq = rows.groupBy(tok).agg(count(lit(1)).as("tok_freq"))
    val byId = Window.partitionBy("id").orderBy(col("tok_freq") +: col(tok) +: tiebreak: _*)
    cut(rows.join(freq, tok).withColumn("rk", row_number().over(byId)))
  }

  // ----------------------------------------------------------- minhash-lsh

  /** Hashed k-gram shingles: tokens are hashed individually once, and
    * each shingle's 64-bit base is the hash of its k token-hashes — no
    * shingle string is ever materialized (at 100 TB the concat+UTF-8
    * allocation is the dominant cost of string shingling).
    *
    * Wired to the codegen'd array expression + explode rather than the
    * streaming [[graft.functions.ShingleHashesGen]] Generator: measured
    * head-to-head (ShingleGenSpec), whole-stage codegen over the short
    * per-doc array beats the Generator's interpreted row handoff.
    * Switch to `shingle_hash_stream($textCol, $k)` if documents grow to
    * where the per-doc shingle array itself is a memory hazard.
    */
  def hashedShingles(df: DataFrame, k: Int, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol), explode(expr(s"shingle_hashes($textCol, $k)")).as("sh_base"))
  }

  /** Per-document shingle count via the streaming
    * [[graft.functions.ShingleHashesGen]] Generator — the
    * oracle-checkable surface for the custom Generator rung: the count
    * must equal max(tokens − k + 1, 0), which the SQL oracle derives
    * independently from the text.
    */
  def shingleCounts(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    graft.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    val counts = docs
      .select(col("doc_id"), expr(s"shingle_hash_stream(text, $k)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    docs
      .select("doc_id")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shingles"), lit(0L)).as("n_shingles"))
      .orderBy("doc_id")
  }

  /** MinHash signature per doc from hashed shingles (a `sh_base` long
    * column, e.g. [[hashedShingles]]): the k independent functions are
    * derived per row inside [[graft.functions.MinhashAgg]] (splitmix64
    * per function index) — one aggregate, one shuffle of k longs per
    * doc, map-side partial minima.
    */
  def minhashSignatures(
      hashedShingleDf: DataFrame,
      numHashes: Int,
      idCol: String = "doc_id"
  ): DataFrame = {
    graft.GraftFunctions.register(hashedShingleDf.sparkSession)
    hashedShingleDf
      .groupBy(col(idCol))
      .agg(expr(s"minhash_agg(sh_base, $numHashes)").as("sig"))
  }

  /** Skew guard for LSH self-joins: drop every row belonging to a
    * bucket with more than `cap` members before the bucket join. A
    * bucket join is quadratic WITHIN each bucket, and real corpora
    * have degenerate hot buckets (empty docs, boilerplate) that turn
    * one bucket into an O(n²) stage; capping bounds every bucket's
    * contribution to cap² pairs. The cap is a deliberate recall
    * sacrifice: a hot bucket of byte-identical docs costs nothing
    * (exact dedup owns that regime), but a hot bucket of merely
    * TEMPLATED near-identical docs loses those pairs — which is why
    * the cap is a per-call parameter, [[hotBuckets]] exists as the
    * monitoring view of what a given cap drops, and the recall checks
    * run uncapped (they verify the banding property, not the guard).
    */
  private[graft] def capBuckets(banded: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    banded.join(broadcast(hotBuckets(banded, keys, cap)), keys, "left_anti")

  /** Buckets above the cap, with sizes — the "logged drop count" side
    * channel: tiny by construction (only degenerate keys), cheap to
    * count/inspect in a monitoring job without re-running the dedup.
    */
  private[graft] def hotBuckets(banded: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bucket_n")).filter(col("bucket_n") > cap)

  /** Band/bucket keys per signature: split the signature into `bands`
    * bands of `numHashes/bands` rows and hash each band. Docs sharing
    * any (band, bucket) are near-dup candidates.
    */
  private[graft] def bandedSignatures(sigDf: DataFrame, numHashes: Int, bands: Int, idCol: String): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, s"bands=$bands must divide numHashes=$numHashes")
    sigDf.select(
      col(idCol),
      col("sig"),
      posexplode(
        expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(b, slice(sig, b * $rows + 1, $rows)))")
      ).as(Seq("band", "bucket"))
    )
  }

  /** LSH candidate pairs: docs sharing any (band, bucket), buckets
    * above `bucketCap` dropped (skew guard). Single-pass: the
    * signature pipeline upstream runs once into the bucket groupBy —
    * no self-join, no cache (see [[bucketPairs]]).
    */
  def lshCandidates(
      sigDf: DataFrame,
      numHashes: Int,
      bands: Int,
      idCol: String = "doc_id",
      bucketCap: Int = 256
  ): DataFrame =
    bucketPairs(
      bandedSignatures(sigDf, numHashes, bands, idCol).select(col(idCol), col("band"), col("bucket")),
      Seq("band", "bucket"),
      col(idCol),
      bucketCap
    ).distinct()

  /** Full MinHash-LSH near-dup pipeline: bucket candidates, then
    * signature similarity estimate (fraction of equal components),
    * thresholded.
    *
    * The signature table is materialized ONCE via a lazy
    * localCheckpoint and read three times (banding + both sides of the
    * candidate rescoring join). That is the 100 TB shape: signatures
    * are the dedup INDEX (~numHashes·8 B/doc — orders of magnitude
    * smaller than the corpus; on a cluster you'd persist them to
    * storage, which is exactly what [[buildLshIndex]] does), the
    * bucket shuffle stays narrow (id + band key only — carrying the
    * signature through every band row was measurably slower), and
    * nothing is pinned in CacheManager: checkpoint blocks are freed
    * with the RDD by GC instead of sitting in executor memory until an
    * explicit unpersist.
    */
  def minhashNearDups(
      df: DataFrame,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id",
      bucketCap: Int = 256
  ): DataFrame = {
    val sigs =
      minhashSignatures(hashedShingles(df, k, textCol, idCol), numHashes, idCol).localCheckpoint(eager = false)
    val cands = lshCandidates(sigs, numHashes, bands, idCol, bucketCap)
    rescore(withPayloads(cands, sigs, sigs), "est_jaccard", estJaccard(numHashes), threshold)
  }

  /** Signature similarity estimate of a pair: the fraction of equal
    * components of the payloads `pa` and `pb` ([[withPayloads]]).
    */
  private def estJaccard(numHashes: Int): Column =
    expr(s"aggregate(zip_with(pa, pb, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v) / cast($numHashes as double)")

  // ----------------------------------------------------------- pair rescore

  /** Candidate pairs with each side's payload attached: `a`'s as `pa`
    * from `left`, `b`'s as `pb` from `right`. Both payload frames are
    * two columns, (id, payload) in that order.
    */
  private[graft] def withPayloads(pairs: DataFrame, left: DataFrame, right: DataFrame): DataFrame =
    pairs
      .join(left.toDF("a", "pa"), "a")
      .join(right.toDF("b", "pb"), "b")

  /** The exact-verify tail of a blocked pair join: score each pair from
    * its payloads, keep those scoring ≥ `threshold`, and report `a`,
    * `b` (columns, so a probe can canonicalize its pairs), the score
    * rounded to 4 places as `name`, then `rest`, ordered by (a, b).
    */
  private[graft] def rescore(pairs: DataFrame, name: String, score: Column, threshold: Double,
      a: Column = col("a"), b: Column = col("b"), rest: Seq[Column] = Nil): DataFrame =
    pairs
      .withColumn(name, score)
      .filter(col(name) >= threshold)
      .select(Seq(a, b, round(col(name), 4).as(name)) ++ rest: _*)
      .orderBy("a", "b")

  // ------------------------------------------------ incremental minhash-lsh

  /** Build and persist the MinHash-LSH index for a corpus — the
    * production near-dup mode's standing state. Two bucketed+sorted
    * parquet tables:
    *
    *   - `{name}_bands` (band, bucket, doc_id), bucketed by
    *     (band, bucket): the probe join's build side reads it with NO
    *     exchange — only the (small) incoming batch shuffles;
    *   - `{name}_sigs` (doc_id, sig), bucketed by doc_id: rescoring
    *     joins fetch corpus signatures, again exchange-free on the
    *     index side.
    *
    * Signatures are stored ONCE (in `_sigs`), not denormalized into
    * every band row — at numHashes=64 × bands=16 the denormalized form
    * is 16× the index. The signature pipeline runs once (lazy
    * localCheckpoint shared by both writes). An LSH index is ~520 B/doc
    * — at 100 TB of corpus it is tens of GB, which is what makes
    * probe-without-rescanning-the-corpus the only workable re-dedup
    * mode at that scale.
    */
  def buildLshIndex(
      corpus: DataFrame,
      name: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = 32
  ): Unit = {
    val sigs =
      minhashSignatures(hashedShingles(corpus, k, textCol, idCol), numHashes, idCol).localCheckpoint(eager = false)
    graft.sources.Bucketing.writeBucketedKeys(
      bandedSignatures(sigs, numHashes, bands, idCol).select(col("band"), col("bucket"), col(idCol)),
      s"${name}_bands",
      buckets,
      Seq("band", "bucket")
    )
    graft.sources.Bucketing.writeBucketedKeys(
      sigs.select(col(idCol), col("sig")),
      s"${name}_sigs",
      buckets,
      Seq(idCol)
    )
  }

  /** Append a batch's signatures and band keys to an existing
    * [[buildLshIndex]] index — the write half of an ingest cycle. The
    * new files land in the tables' existing bucket layout, so the
    * index keeps its exchange-free probe property as it grows.
    */
  def appendLshIndex(
      batch: DataFrame,
      name: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = 32
  ): Unit = {
    val sigs =
      minhashSignatures(hashedShingles(batch, k, textCol, idCol), numHashes, idCol).localCheckpoint(eager = false)
    graft.sources.Bucketing.appendBucketedKeys(
      bandedSignatures(sigs, numHashes, bands, idCol).select(col("band"), col("bucket"), col(idCol)),
      s"${name}_bands",
      buckets,
      Seq("band", "bucket")
    )
    graft.sources.Bucketing.appendBucketedKeys(
      sigs.select(col(idCol), col("sig")),
      s"${name}_sigs",
      buckets,
      Seq(idCol)
    )
  }

  /** Compact an append-accumulated LSH index: every
    * [[appendLshIndex]] lands new small files in both tables' buckets,
    * so a long-lived index drifts toward many-files-per-bucket reads.
    * Rows are already unique (batch doc_ids are disjoint by contract)
    * — this is pure file folding into fresh buckets via the shared
    * write-aside-then-swap protocol
    * ([[graft.sources.Bucketing.swapInCompacted]]); probe results are
    * byte-identical by construction.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession, name: String, buckets: Int = 32): Unit = {
    graft.sources.Bucketing.compactBucketed(spark, s"${name}_bands", buckets, Seq("band", "bucket"))
    graft.sources.Bucketing.compactBucketed(spark, s"${name}_sigs", buckets, Seq("doc_id"))
  }

  /** Incremental near-dup dedup: probe an incoming batch against a
    * persisted [[buildLshIndex]] index WITHOUT re-banding the corpus.
    * Returns all near-dup pairs the batch introduces — batch↔corpus
    * and batch↔batch — est-Jaccard-scored and thresholded exactly like
    * [[minhashNearDups]].
    *
    * Equivalence contract (verified by `check_incremental_lsh`):
    * because signatures and band keys are pure per-document functions,
    * this equals the from-scratch run over corpus ∪ batch restricted
    * to pairs touching the batch. The skew cap is applied to the
    * COMBINED bucket population (index count + batch count), which is
    * the population the from-scratch run would cap.
    *
    * Assumes batch ids are disjoint from corpus ids (ingest batches
    * carry fresh ids — no ORDERING assumption; the `newcomer` column
    * identifies the rejectable member of each pair even when batches
    * arrive out of id order); run [[incrementalExact]] first in a
    * pipeline so byte-identical re-uploads never reach the LSH probe.
    */
  def incrementalMinhashLsh(
      spark: SparkSession,
      indexName: String,
      incoming: DataFrame,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id",
      bucketCap: Int = 256
  ): DataFrame = {
    val batchSigs =
      minhashSignatures(hashedShingles(incoming, k, textCol, idCol), numHashes, idCol).localCheckpoint(eager = false)
    val batchBanded = bandedSignatures(batchSigs, numHashes, bands, idCol).select(col("band"), col("bucket"), col(idCol))
    probeStandingIndex(spark.table(s"${indexName}_bands"), spark.table(s"${indexName}_sigs"), batchBanded, batchSigs,
      Seq("band", "bucket"), idCol, bucketCap)("est_jaccard", estJaccard(numHashes), threshold)
  }

  /** The rows of a standing key table in the buckets a batch touches:
    * only those buckets can produce pairs with the batch (or affect the
    * cap decision for them), so probe work stays proportional to the
    * BATCH, not the corpus — one bucketed scan whose output is bounded
    * by |batch keys| × bucket size. No broadcast hint: AQE broadcasts
    * the batch keys when they are small; for a huge batch the semi-join
    * plans as SMJ whose index side reads the bucketed table WITHOUT an
    * exchange either way.
    */
  private[graft] def touchedSlice(index: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    index.join(batch.select(keys.map(col): _*).distinct(), keys, "left_semi")

  /** Probe a batch against a standing index — the shared core of
    * [[incrementalMinhashLsh]] and [[Similarity.incrementalSemantic]].
    * `index` and `batch` are key rows (`keys` + `id`), the index
    * bucketed on `keys`; the payloads are (id, payload) frames.
    *
    *   - the [[touchedSlice]] of the index is read once, into a lazy
    *     checkpoint that feeds both the skew guard and the candidate
    *     join (guarding over the whole index would re-read the corpus);
    *   - a bucket is hot if index + batch members exceed `cap` —
    *     exactly the bucket a from-scratch run over corpus ∪ batch
    *     would drop. Hot buckets are few → broadcast;
    *   - batch ↔ index pairs join on `keys`, so only the batch side
    *     shuffles; batch ↔ batch pairs come from [[bucketPairs]];
    *   - `newcomer` is the member an admission policy must reject:
    *     ALWAYS the batch doc of a batch ↔ index pair (the index side
    *     is accepted and immutable — an id rule breaks when batches
    *     arrive out of id order), the greater id of a batch ↔ batch
    *     pair (min-id keeper).
    *
    * Pairs are scored by [[rescore]] and canonicalized to a < b.
    */
  private[graft] def probeStandingIndex(index: DataFrame, indexPayload: DataFrame, batch: DataFrame,
      batchPayload: DataFrame, keys: Seq[String], id: String, cap: Int)(name: String, score: Column, threshold: Double): DataFrame = {
    val keyCols    = keys.map(col)
    val idxTouched = touchedSlice(index, batch, keys).localCheckpoint(eager = false)
    val hot = idxTouched
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n_idx"))
      .join(batch.groupBy(keyCols: _*).agg(count(lit(1)).as("n_new")), keys, "full")
      .filter(coalesce(col("n_idx"), lit(0L)) + coalesce(col("n_new"), lit(0L)) > cap)
      .select(keyCols: _*)
    val idxOk   = idxTouched.join(broadcast(hot), keys, "left_anti")
    val batchOk = batch.join(broadcast(hot), keys, "left_anti")

    val crossPairs = idxOk
      .select(keyCols :+ col(id).as("a"): _*)
      .join(batchOk.select(keyCols :+ col(id).as("b"): _*), keys)
      .select("a", "b")
      .distinct()
    val intraPairs = bucketPairs(batchOk, keys, col(id), Int.MaxValue).distinct()
    val scored = withPayloads(crossPairs, indexPayload, batchPayload)
      .withColumn("newcomer", col("b"))
      .unionByName(
        withPayloads(intraPairs, batchPayload, batchPayload).withColumn("newcomer", greatest(col("a"), col("b")))
      )
    val (a, b) = (least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
    rescore(scored, name, score, threshold, a, b, Seq(col("newcomer")))
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash per document: per-token xxhash64, each bit votes
    * ±1, signature bit = sign of the vote sum. One custom imperative
    * aggregate ([[graft.functions.SimhashAgg]]) with a 64-counter
    * buffer — partial→final merge via ObjectHashAggregate.
    */
  def simhash(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    TextJobs
      .tokenized(df.select(col(idCol), col(textCol)), textCol, "tok")
      .withColumn("th", xxhash64(col("tok")))
      .groupBy(col(idCol))
      .agg(expr("simhash_agg(th)").as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist.
    * Candidate generation by the pigeonhole principle: split the 64-bit
    * signature into maxDist+1 chunks; any pair within maxDist must
    * agree on ≥1 full chunk, so a shuffle on (chunk_idx, chunk_value)
    * finds all candidates without a cross join.
    */
  def simhashNearDups(
      df: DataFrame,
      maxDist: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      bucketCap: Int = 256
  ): DataFrame = {
    val chunks    = maxDist + 1
    val chunkBits = 64 / chunks
    // skew guard baked into bucketPairs: chunk_val 0 is hot for short
    // docs — over-cap (chunk_idx, chunk_val) buckets are dropped before
    // any pair is generated. The signature (one long) rides through the
    // bucket shuffle, so the tokenize→simhash upstream runs once with
    // no cache and no self-join.
    val chunked = simhash(df, textCol, idCol).select(
      col(idCol),
      col("simhash"),
      posexplode(
        expr(
          s"transform(sequence(0, ${chunks - 1}), c -> shiftright(simhash, c * $chunkBits) & ${(1L << chunkBits) - 1})"
        )
      ).as(Seq("chunk_idx", "chunk_val"))
    )
    bucketPairs(chunked, Seq("chunk_idx", "chunk_val"), struct(col(idCol).as("id"), col("simhash").as("sig")), bucketCap)
      .select(col("a.id").as("a"), col("b.id").as("b"), expr("bit_count(a.sig ^ b.sig)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy("a", "b")
  }

  // ------------------------------------------------- components / clusters

  /** Connected components by min-label propagation with pointer
    * halving: each round every node adopts the minimum label among
    * itself and its neighbors, then follows its label to that label's
    * own label (path halving). The shortcut step makes long chains
    * converge in O(log diameter) rounds instead of O(diameter) — the
    * difference between 10 shuffles and 1000 on a pathological
    * component — at the cost of one extra self-join per round.
    *
    * Runs to FIXPOINT and throws if maxIter is hit first: a truncated
    * run silently returns wrong labels, which is a correctness bug,
    * not a tuning knob. Lineage is truncated with localCheckpoint
    * every third round (per-round cache alone grows the plan tree
    * linearly) and superseded label sets are unpersisted.
    *
    * @param pairs undirected edges as (a, b) columns
    * @return (doc_id, component) where component = min node id of the
    *         component — the canonical deterministic representative
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 100): DataFrame = {
    val edges = pairs
      .select(col("a").as("s"), col("b").as("d"))
      .union(pairs.select(col("b").as("s"), col("a").as("d")))
      .cache()
    var labels = edges.select(col("s").as("node")).distinct().withColumn("label", col("node")).cache()
    var converged = false
    var iter      = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels, col("s") === col("node"))
        .groupBy(col("d").as("node2"))
        .agg(min("label").as("nmin"))
      // cached: the halving self-join reads it twice, and without the
      // cache each round would run the dominant edges⋈labels aggregate
      // twice (Spark has no cross-input common-subtree elimination)
      val propagated = labels
        .join(neighborMin, col("node") === col("node2"), "left")
        .select(col("node"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .cache()
      // pointer halving: label(label) ≤ label (labels are node ids and
      // every node's label is ≤ its id), so the hop only improves
      val next = propagated
        .join(
          propagated.select(col("node").as("ln"), col("label").as("llabel")),
          col("label") === col("ln"),
          "left"
        )
        .select(col("node"), coalesce(col("llabel"), col("label")).as("label"))
      val nextMat = if (iter % 3 == 2) next.localCheckpoint() else next.cache()
      val changed = nextMat
        .join(labels.withColumnRenamed("label", "old"), "node")
        .filter(col("label") =!= col("old"))
        .count()
      propagated.unpersist()
      labels.unpersist()
      labels = nextMat
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — component diameter exceeds 2^$maxIter"
      )
    edges.unpersist()
    // hand back a localCheckpoint, not the cached label set: the loop
    // is already eager (one count per round), and returning the cache
    // would pin the final labels in CacheManager for the session's
    // lifetime — checkpoint blocks are freed with the RDD by GC
    val out = labels.localCheckpoint()
    labels.unpersist()
    out.select(col("node").as("doc_id"), col("label").as("component")).orderBy("doc_id")
  }

  /** Connected components by ALTERNATING large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the variant whose round count is O(log² n) on ANY
    * graph shape, independent of component diameter. Same signature
    * and same output contract as [[connectedComponents]] (spec-pinned
    * equivalent); kept alongside it because the label-propagation
    * loop's per-round work is lighter on the shallow clusters near-dup
    * graphs usually form, while this one is the safe choice when the
    * component shape is unknown (a pathological chain can't stall it).
    *
    * State is an edge set kept in canonical (u > v) direction:
    *   - large-star: every node u connects its LARGER neighbors to the
    *     minimum of its closed neighborhood — long chains fold toward
    *     minima from every node at once;
    *   - small-star: every node u re-points its smaller neighbors (and
    *     itself) at that minimum — partial stars flatten.
    * At fixpoint the edges are exactly (node → component minimum) for
    * every non-root node. Each phase is one groupBy + one join keyed
    * by node id — no global structure, shuffles by node key; the edge
    * set never grows beyond one edge per (node, current parent).
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 100): DataFrame = {
    val nodes = pairs
      .select(col("a").as("node"))
      .union(pairs.select(col("b").as("node")))
      .distinct()
      .cache()
    var edges = pairs
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .cache()

    // large-star over the symmetric view: for each center, larger
    // neighbors re-point at min(closed neighborhood). Result stays
    // canonical: the emitted (v, m) has v > center ≥ m.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u").as("c"), col("v").as("n"))
        .union(e.select(col("v").as("c"), col("u").as("n")))
      val mins = sym.groupBy("c").agg(min("n").as("mn"))
        .select(col("c"), least(col("c"), col("mn")).as("m"))
      sym
        .join(mins, Seq("c"))
        .filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star on the canonical direction: each center's smaller
    // neighbors (and the center) re-point at their minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val mins    = e.groupBy("u").agg(min("v").as("m"))
      val rewired = e.join(mins, Seq("u")).filter(col("v") =!= col("m")).select(col("v").as("u"), col("m").as("v"))
      val own     = mins.select(col("u"), col("m").as("v"))
      rewired.union(own).distinct()
    }

    var converged = false
    var iter      = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges))
      // truncate lineage each round: the loop body is two joins deep,
      // and carrying the whole history makes planning itself the cost
      val nextMat = next.localCheckpoint()
      val changed = nextMat.except(edges).count() + edges.except(nextMat).count()
      edges.unpersist()
      edges = nextMat
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within $maxIter rounds"
      )
    val out = nodes
      .join(edges.select(col("u").as("node"), col("v").as("component")), Seq("node"), "left")
      .select(col("node").as("doc_id"), coalesce(col("component"), col("node")).as("component"))
      .orderBy("doc_id")
      .localCheckpoint()
    nodes.unpersist()
    edges.unpersist()
    out
  }

  /** Near-dup clusters over the bounded exact-Jaccard pair set (the
    * oracle replays this with a recursive CTE).
    */
  def nearDupComponents(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
      ngramJaccardPairs(Tables.documents(spark, dir).filter(col("doc_id") < 300), k = 3, threshold = 0.6)
    )

  /** LEAKAGE-SAFE dataset split: fold assignment by near-dup CLUSTER,
    * not by document — the split that keeps a train copy of an eval
    * document out of training (the classic contamination failure a
    * per-doc hash split cannot prevent; cf. the decontamination tier).
    * Every member of a component inherits the component label's fold;
    * singletons are their own cluster. Deterministic: component labels
    * are min doc_ids.
    *
    * Domain note: bounded to the same doc_id < 300 oracle subset as
    * [[nearDupComponents]]; at corpus scale the pair relation comes
    * from the LSH tier ([[minHashLshPairs]]) and this fold projection
    * is unchanged — one left join + modulo, O(rows).
    */
  def leakageSafeSplit(spark: SparkSession, dir: String, folds: Int = 5): DataFrame = {
    require(folds >= 2, s"leakageSafeSplit needs >= 2 folds, got $folds")
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 300).select("doc_id")
    docs
      .join(nearDupComponents(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
      .withColumn("fold", col("cluster") % folds)
      .orderBy("doc_id")
  }

  /** [[nearDupComponents]] computed by the large-star/small-star
    * variant — same pair set, same oracle (the two algorithms are
    * spec-pinned equivalent, and the driver hash-checks both).
    */
  def nearDupComponentsStar(spark: SparkSession, dir: String): DataFrame =
    connectedComponentsStar(
      ngramJaccardPairs(Tables.documents(spark, dir).filter(col("doc_id") < 300), k = 3, threshold = 0.6)
    )

  // ------------------------------------------------------ embedding cosine

  /** Exact embedding near-dups: all pairs with cosine ≥ threshold.
    * Uses the native codegen'd cosine expression; QUADRATIC by design —
    * this is the oracle/ground-truth path the recall checks measure
    * against, and [[Similarity.embeddingNearDupLsh]] is the scale path.
    * `maxRows` makes the footgun explicit: the guard refuses a corpus
    * whose pair count would be ruinous instead of silently launching
    * an O(n²) job (the count is parquet-metadata-cheap). Raise the cap
    * deliberately if a larger ground-truth set is genuinely wanted.
    */
  def embeddingNearDups(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.4,
      maxRows: Long = 10000L
  ): DataFrame = {
    graft.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val n = e.count() // parquet metadata count — no data scan
    require(
      n <= maxRows,
      s"embeddingNearDups is the quadratic oracle path: $n vectors > cap $maxRows " +
        s"(~${n * n / 2} pairs). Use Similarity.embeddingNearDupLsh for large corpora, " +
        "or raise maxRows deliberately."
    )
    e.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), col("a") < col("b"))
      .withColumn("cos", expr("cosine_sim(ea, eb)"))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
      .orderBy("a", "b")
  }

  // ----------------------------------------------------- containment join

  /** Exact ASYMMETRIC containment join: directed pairs (a, b) with
    * C(a→b) = |A ∩ B| / |A| ≥ θ over any (id, tok) element relation —
    * the near-dup case Jaccard misses by construction (a short
    * document quoted inside a much longer one scores near-zero
    * Jaccard but containment ≈ 1; crawl pipelines drop the contained
    * copy). Same prefix-filter machinery as [[setSimJoinOnSets]],
    * adapted to the one-sided bound: if |A∩B| ≥ θ·|A| then at most
    * |A| − ⌈θ·|A|⌉ of A's tokens are outside B, so A's rarest-first
    * prefix of length |A| − ⌈θ·|A|⌉ + 1 must contain a token OF B
    * (any token — B's size gives no symmetric bound, so the candidate
    * join probes A-prefix tokens against the FULL inverted index).
    * Rarest-first ordering keeps the probed postings small: hot
    * tokens are ordered out of A's prefix, so the candidate
    * population rides the rare-token document frequencies, never the
    * hot-token ones. Exact verify recounts |A∩B|; the int/int
    * quotient is bit-exact cross-engine. FP slack (1e-9) only ever
    * LENGTHENS a prefix — it can cost candidates, never a true pair.
    */
  def containmentJoin(
      elements: DataFrame,
      threshold: Double,
      idCol: String = "id",
      tokCol: String = "tok"
  ): DataFrame = {
    val (toks, prefix) = overlapPrefix(elements.select(col(idCol).as("id"), col(tokCol).as("tok")), threshold)
    val cand = prefix
      .select(col("id").as("a"), col("n").as("na"), col("tok"))
      .join(toks.select(col("id").as("b"), col("tok")), Seq("tok"))
      .filter(col("a") =!= col("b"))
      .select("a", "na", "b")
      .distinct()
    cand
      .join(toks.select(col("id").as("a"), col("tok")), Seq("a"))
      .join(toks.select(col("id").as("b"), col("tok")), Seq("b", "tok"))
      .groupBy("a", "b", "na")
      .agg(count(lit(1)).as("common"))
      .withColumn("containment", col("common") / col("na"))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))
      .orderBy("a", "b")
  }

  // ---------------------------------------------------- edit-distance join

  /** Exact edit-distance similarity join: all id pairs (a < b) whose
    * strings are within `maxDist` Levenshtein edits, with the exact
    * distance — the string-similarity sibling of [[setSimJoinOnSets]]
    * (record linkage, near-identical-title dedup, typo clustering).
    *
    * Candidate scheme from the Ed-Join family (Xiao, Wang, Lin,
    * VLDB 2008 — public literature): positional q-grams under a
    * rarest-first global gram order. One edit destroys at most q of a
    * string's grams, so within distance d at most d·q grams per side
    * are unmatched; pigeonhole on the globally-smallest matched gram
    * then guarantees a pair within distance d shares a gram VALUE
    * inside both strings' first d·q+1 grams of the global order. The
    * candidates are the pairs within each prefix gram's bucket
    * ([[bucketPairs]]) that pass the length filter ||a|−|b|| ≤ d;
    * survivors are verified with the codegen'd `levenshtein`, so the
    * filters only ever over-generate — they can never drop a true pair.
    *
    * The positional window refinement (|pos_a − pos_b| ≤ d) is
    * deliberately NOT applied at the candidate join: under a frequency
    * order the guaranteed shared gram is only gram-equal, not
    * position-aligned, and the window could drop a true pair.
    * Exactness beats the few extra candidates it would save.
    *
    * Strings with at most d·q grams (length < q·(d+1)) have no
    * pigeonhole guarantee — every gram can be destroyed — so they
    * pair through a dense short bucket instead: partners within the
    * length filter of a short string are themselves < q·(d+1)+d
    * chars, a bounded-length class, so the bucket join is bounded by
    * construction, never quadratic in the corpus.
    *
    * Scale: the gram stream is one explode (narrow); gram frequencies
    * are one groupBy; prefixes cut the joinable stream to
    * ~(d·q+1)/(len−q+1) of it with the HOT grams ordered out of the
    * prefixes — a constant shared prefix ("Customer#…") never
    * generates a candidate. The verify join ships only candidate ids
    * + the two strings. Nothing is quadratic in the input.
    */
  def editDistanceJoin(
      df: DataFrame,
      maxDist: Int,
      strCol: String = "s",
      idCol: String = "id",
      q: Int = 3
  ): DataFrame = {
    require(maxDist >= 0 && q >= 1, s"need maxDist >= 0 and q >= 1, got d=$maxDist q=$q")

    // read by the gram pass, the short pass, and the verify join —
    // materialize the narrow (id, s, len) rows once (lazy, GC-freed)
    val strs = df
      .select(col(idCol).cast("long").as("id"), col(strCol).cast("string").as("s"))
      .filter(col("s").isNotNull)
      .withColumn("len", length(col("s")))
      .localCheckpoint(eager = false)

    val shortLen = q * (maxDist + 1) // len < q(d+1) ⇔ grams ≤ d·q: no pigeonhole guarantee

    val grams = strs
      .filter(col("len") >= shortLen)
      .select(
        col("id"),
        col("len"),
        posexplode(expr(s"transform(sequence(1, len - ${q - 1}), i -> substring(s, i, $q))"))
          .as(Seq("pos", "gram"))
      )
    val prefix = rarestFirstPrefix(grams, "gram", col("pos"))(_.filter(col("rk") <= maxDist * q + 1))
      .select("id", "len", "gram")
      .distinct()

    val longCand = bucketPairs(prefix, Seq("gram"), struct(col("id"), col("len")), Int.MaxValue)
      .filter(abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("a"), col("b.id").as("b"))

    // dense short bucket: a short string meets EVERY string within the
    // length filter; partners emit their len−d..len+d band so the meet
    // is an equi-join on the banded length, never a cross join
    val shorts = strs.filter(col("len") < shortLen).select(col("id").as("sid"), col("len").as("slen"))
    val shortCand = shorts
      .join(
        strs.select(
          col("id").as("oid"),
          explode(expr(s"sequence(greatest(len - $maxDist, 0), len + $maxDist)")).as("lb")
        ),
        col("slen") === col("lb") && col("sid") =!= col("oid")
      )
      .select(least(col("sid"), col("oid")).as("a"), greatest(col("sid"), col("oid")).as("b"))

    longCand
      .unionByName(shortCand)
      .distinct()
      .join(strs.select(col("id").as("a"), col("s").as("sa")), Seq("a"))
      .join(strs.select(col("id").as("b"), col("s").as("sb")), Seq("b"))
      // thresholded levenshtein (banded DP, -1 beyond maxDist): same
      // surviving pairs with the same exact distances, a fraction of
      // the verify CPU — see sortedNeighborhoodPairs
      .withColumn("dist", levenshtein(col("sa"), col("sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0L)
      .select(col("a"), col("b"), col("dist"))
      .orderBy("a", "b")
  }

  /** Exact Jaro–Winkler similarity join: all pairs with
    * `jaro_winkler(sa, sb) >= theta` — the record-linkage fuzzy-name
    * join (person/company/product names), scored by the native
    * [[graft.functions.JaroWinkler]] expression (bit-identical to
    * DuckDB's `jaro_winkler_similarity`, so the result hash-replays
    * cross-engine with no rounding).
    *
    * Candidate generation is EXACT via a character-multiset prefix
    * filter derived from the JW arithmetic itself: for θ > 0.8,
    * jw ≥ θ forces jaro ≥ (θ−0.4)/0.6 (the Winkler boost adds at most
    * 0.4·(1−jaro)), hence m ≥ (5θ−4)·Lmax matched characters — and
    * Jaro matching is injective on character OCCURRENCES of both
    * sides, so the (char, occurrence-index) token multisets overlap in
    * ≥ ceil((5θ−4)·L) tokens for EACH side's length L. That is the
    * AllPairs overlap condition: under a global rarest-first token
    * order, two qualifying strings must share a token among each
    * side's (L − T + 1)-token prefix, so candidates come from ONE
    * bucket pass on prefix tokens (+ the implied length-ratio filter
    * Lmin ≥ (5θ−4)·Lmax), never a cross join. The per-string work is
    * array-local (no shuffle to build tokens); candidate quality
    * degrades gracefully on tiny-alphabet corpora where every string
    * shares its rare characters — the verify stage is a codegen'd
    * byte-loop, so even then the cost is candidate-count scalar work,
    * not a materialized cross product.
    *
    * Exactness of the pruning bound is argued at BYTE granularity for
    * single-byte (ASCII) strings — the fuzzy-name domain; multi-byte
    * text still verifies byte-exactly but candidate tokens are
    * characters, so only ASCII inputs carry the no-miss guarantee.
    * θ ≤ 0.8 is refused (the bound degenerates: 5θ−4 ≤ 0 admits
    * everything — at that point an honest operator is a different
    * blocker + JW verify, not this join).
    */
  def jaroWinklerJoin(
      df: DataFrame,
      theta: Double,
      strCol: String = "s",
      idCol: String = "id"
  ): DataFrame = {
    require(theta > 0.8 && theta <= 1.0, s"jaroWinklerJoin needs 0.8 < theta <= 1.0, got $theta")
    graft.GraftFunctions.register(df.sparkSession)

    val cmin = 5.0 * theta - 4.0 // exact-rational (5θ−4), evaluated in doubles

    val strs = df
      .select(col(idCol).cast("long").as("id"), col(strCol).cast("string").as("s"))
      .filter(col("s").isNotNull && length(col("s")) > 0)
      // the no-miss prefix bound is argued at BYTE granularity while
      // candidate tokens are CHARACTERS — on multi-byte input the two
      // diverge and pairs could be missed with no signal. Refuse
      // loudly (the codebase convention) via a branch on the row path
      // the checkpoint pass already evaluates: ASCII ⟺ octet length
      // equals character length.
      .withColumn(
        "s",
        when(
          octet_length(col("s")) =!= length(col("s")),
          raise_error(concat(
            lit("jaroWinklerJoin requires ASCII input (byte-exact prefix bound), got non-ASCII string for id="),
            col("id").cast("string")
          )).cast("string")
        ).otherwise(col("s"))
      )
      .withColumn("len", length(col("s")))
      .localCheckpoint(eager = false)

    // (char, occurrence-index) multiset tokens, array-local (O(L²)
    // per string on L≈name-length, zero shuffle): occurrence index =
    // count of this char in the prefix up to here
    val toks = strs
      .withColumn("arr", split(col("s"), ""))
      .select(
        col("id"),
        col("len"),
        explode(
          expr("transform(arr, (c, i) -> concat(c, '#', size(filter(slice(arr, 1, i + 1), x -> x = c))))")
        ).as("tok")
      )

    // prefix length L − T + 1 with T = ceil(cmin·L − ε): the ε guards
    // the ulp where 5θ−4 lands just above its exact rational — an
    // under-estimated T only LENGTHENS the prefix (more candidates,
    // still exact), an over-estimate would miss pairs
    val prefix = rarestFirstPrefix(toks, "tok")(
      _.filter(col("rk") <= col("len") - ceil(lit(cmin) * col("len") - lit(1e-9)) + 1)
    ).select("id", "len", "tok")

    bucketPairs(prefix, Seq("tok"), struct(col("id"), col("len")), Int.MaxValue)
      .filter(least(col("a.len"), col("b.len")) >= lit(cmin) * greatest(col("a.len"), col("b.len")) - lit(1e-9))
      .select(col("a.id").as("a"), col("b.id").as("b"))
      .distinct()
      .join(strs.select(col("id").as("a"), col("s").as("sa")), Seq("a"))
      .join(strs.select(col("id").as("b"), col("s").as("sb")), Seq("b"))
      .withColumn("sim", expr("jaro_winkler(sa, sb)"))
      .filter(col("sim") >= theta)
      .select(col("a"), col("b"), col("sim"))
      .orderBy("a", "b")
  }

  /** Canonical-document selection over near-dup clusters — the step a
    * curation pipeline runs AFTER clustering: each cluster keeps ONE
    * representative (here: the longest document, ties to the smallest
    * doc_id — an integer criterion, so the pick replays exactly in any
    * engine) and reports what the cluster held. One struct-min
    * aggregation per cluster, no window: `min` over
    * `(-n_chars, doc_id)` IS the argmin under (length desc, id asc),
    * so the whole operator is a single shuffle on the component id —
    * and components are near-dup clusters, vanishingly small next to
    * the corpus at any scale.
    */
  def canonicalPick(docs: DataFrame, components: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      .join(components, Seq("doc_id"))
      .groupBy("component")
      .agg(
        min(struct((-col("n_chars")).as("neg_len"), col("doc_id").as("d")))
          .getField("d")
          .as("canonical_id"),
        count(lit(1)).as("n_members"),
        sum("n_chars").as("total_chars")
      )
      .orderBy("component")

  /** [[canonicalPick]] over the n-gram-Jaccard near-dup components of
    * the documents table ([[nearDupComponents]]' cluster set).
    */
  def nearDupCanonicalPick(spark: SparkSession, dir: String): DataFrame =
    canonicalPick(
      Tables.documents(spark, dir).filter(col("doc_id") < 300),
      nearDupComponents(spark, dir)
    )

  // --------------------------------------------- sorted neighborhood (SNM)

  /** Sorted-Neighborhood Method (Hernández & Stolfo, SIGMOD 1995):
    * sort records by a blocking key, slide a window of `w` positions,
    * verify every in-window pair with a bounded edit distance — the
    * classic record-linkage blocking that trades MinHash's probabilistic
    * recall for a deterministic "sort-adjacent" candidate set.
    *
    * Distributed formulation (NO global window): the global sort rank
    * is computed two-phase, the zipWithIndex idea expressed
    * declaratively — (1) a `row_number` window PARTITIONED by a
    * value-based block (a prefix of the sort key, so block order ==
    * global order), (2) block start offsets from a prefix sum over the
    * per-block counts. That offsets relation is O(distinct blocks) —
    * metadata-sized at any corpus size (key-prefix cardinality, not
    * rows), so its single-partition window costs nothing; every
    * row-proportional step is block-partitioned. The in-window pair
    * join is a BAND join on rank turned into ONE equi-join by
    * exploding each row into its w−1 forward offsets — linear in
    * rows·w, shuffle on an integer key, never a cross or
    * broadcast-nested-loop. Verify is codegen'd `levenshtein` on a
    * bounded prefix.
    *
    * Output: verified (id_a, id_b, dist) with id_a < id_b in rank
    * order, totally ordered. Pure integer/string ops — replays exactly
    * against a global `row_number` oracle.
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      w: Int = 8,
      keyLen: Int = 24,
      blockLen: Int = 4,
      verifyLen: Int = 80,
      maxDist: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(w >= 2 && blockLen <= keyLen, "need w >= 2 and block prefix <= sort key")
    // project BEFORE the exchange (guide §2.3): the window only needs
    // the sort key, the block prefix and the verify prefix — never the
    // full normalized text the old formulation carried through every
    // shuffle and the checkpoint
    val keyed = df.select(
      col(idCol).cast("long").as("id"),
      normalizedText(textCol).as("norm")
    ).select(
      col("id"),
      substring(col("norm"), 1, keyLen).as("sk"),
      substring(col("norm"), 1, blockLen).as("blk"),
      substring(col("norm"), 1, verifyLen).as("v")
    )
    // A lead()-based in-block pairing (zero pair-join exchange) was
    // built and A/B-measured here and LOST at both scales (sf1: 25–26 s
    // vs 11–13 s for this form, all 3 alternating pairs): materializing
    // w−1 lead(struct(id, verify-prefix)) columns per row costs more
    // than the rank equi-join it saves — the verify prefix is ≤108 B,
    // so the explode-join's shuffle is light once the full text stops
    // riding it (the projection above). Kept the measured winner.
    val inBlock = keyed.withColumn(
      "rnb",
      row_number().over(Window.partitionBy("blk").orderBy("sk", "id"))
    )
    // O(#blocks) rows: the unpartitioned prefix-sum window is over the
    // block directory, never the data
    val offsets = keyed
      .groupBy("blk")
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "off",
        coalesce(
          sum("cnt").over(Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)
        )
      )
      .select("blk", "off")
    val ranked = inBlock
      .join(broadcast(offsets), "blk")
      .select(col("id"), col("v"), (col("off") + col("rnb")).as("rn"))
      .localCheckpoint(eager = false)
    // band join rn < rn' <= rn + w-1 as ONE equi-join via offset explode
    val probes = ranked.select(
      col("id").as("id_a"),
      col("v").as("va"),
      explode(sequence(col("rn") + 1, col("rn") + (w - 1))).as("rn")
    )
    probes
      // MERGE hint, deliberately (guide §3.1): the projected ranked
      // relation is small enough at bench scale that AQE broadcasts it,
      // and the BroadcastHashJoin evaluates the levenshtein residual
      // 2.4× slower than the sort-merge form (sf1 A/B: 23.2/23.2 s BHJ
      // vs 9.4/9.6 s merge vs 10.0/10.9 s for the pre-projection SMJ
      // that exceeded the threshold by accident). At scale the ranked
      // relation never broadcasts, so the hint pins the local plan to
      // the one the operating point uses.
      .join(ranked.select(col("id").as("id_b"), col("v").as("vb"), col("rn")).hint("merge"), "rn")
      // THRESHOLDED levenshtein: the 3-arg form computes the banded
      // O(maxDist·n) DP instead of the full O(n²) matrix and returns -1
      // beyond the bound — surviving rows carry the exact same distance
      // as the unbounded form (this is the verify stage's entire CPU)
      .withColumn("dist", levenshtein(col("va"), col("vb"), maxDist).cast("long"))
      .filter(col("dist") >= 0L)
      .select(least(col("id_a"), col("id_b")).as("id_a"), greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
      .orderBy("id_a", "id_b")
  }

  /** `dedup_snm_pairs` query body: SNM over the documents table —
    * normalized-prefix sort key, window 8, edit distance ≤ 8 on the
    * 80-char normalized prefix.
    */
  def snmDocumentPairs(spark: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodPairs(Tables.documents(spark, dir))

  /** Naive quadratic twin of [[editDistanceJoin]] — the oracle path,
    * bounded-subset only (the length filter is the only pruning).
    */
  private[graft] def editDistanceJoinNaive(
      df: DataFrame,
      maxDist: Int,
      strCol: String = "s",
      idCol: String = "id"
  ): DataFrame = {
    val s = df.select(col(idCol).cast("long").as("id"), col(strCol).cast("string").as("s"))
    s.select(col("id").as("a"), col("s").as("sa"))
      .join(s.select(col("id").as("b"), col("s").as("sb")), col("a") < col("b"))
      .filter(abs(length(col("sa")) - length(col("sb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("sa"), col("sb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
      .orderBy("a", "b")
  }

  /** Naive quadratic twin of [[jaroWinklerJoin]] — the test oracle. */
  private[graft] def jaroWinklerJoinNaive(
      df: DataFrame,
      theta: Double,
      strCol: String = "s",
      idCol: String = "id"
  ): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    val s = df
      .select(col(idCol).cast("long").as("id"), col(strCol).cast("string").as("s"))
      .filter(col("s").isNotNull && length(col("s")) > 0)
    s.select(col("id").as("a"), col("s").as("sa"))
      .join(s.select(col("id").as("b"), col("s").as("sb")), col("a") < col("b"))
      .withColumn("sim", expr("jaro_winkler(sa, sb)"))
      .filter(col("sim") >= theta)
      .select(col("a"), col("b"), col("sim"))
      .orderBy("a", "b")
  }
}
