package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over the `documents` table: language ID,
  * quality scoring, token counting, fingerprinting (BASELINE.json
  * north star). All are single-pass narrow transforms (no shuffle
  * except the final deterministic sort) — at 100 TB these pipeline
  * inside one scan stage.
  */
object TextAnalysis {

  val stopEn: Seq[String] = Seq("the", "and", "of", "to", "in", "is", "it", "that", "a", "for")
  val stopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu")
  val stopFr: Seq[String] = Seq("le", "les", "et", "est", "dans", "une", "pour")
  val stopEs: Seq[String] = Seq("el", "los", "y", "es", "en", "una", "por", "que")

  /** Per-doc token rows — the shared, codegen-friendly shape for the
    * scoring aggregates below. Array higher-order functions are
    * interpreted AND re-inlined by CollapseProject into every consumer
    * column; explode + hash-aggregate stays in whole-stage codegen and
    * evaluates the tokenizer exactly once per document.
    */
  private def tokenRows(spark: SparkSession, dir: String): DataFrame =
    TextJobs.tokenized(Tables.documents(spark, dir).select("doc_id", "text"), "text", "tok")

  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic keyword
    * extraction from individual documents" — public knowledge),
    * quantized to PURE INTEGERS so the oracle hash-replays:
    *
    *   - candidate phrases are maximal stopword-free token runs
    *     (gaps-and-islands over token positions — one window
    *     PARTITIONED per doc), capped at `maxLen` tokens;
    *   - word score is the integer floor (100·deg(w)) DIV freq(w),
    *     where deg(w) sums the lengths of every candidate occurrence
    *     containing w (RAKE's degree = freq + co-occurrence) and
    *     freq(w) counts occurrences — both exact counts, and the
    *     positive-operand floor-div is identical in Spark and DuckDB;
    *   - a phrase scores the SUM of its words' integer scores (no
    *     float accumulation anywhere);
    *   - output: global top-k phrases by (score desc, phrase) — a
    *     total order (phrase strings are distinct) served by
    *     TakeOrderedAndProject, never a global sort.
    *
    * Scale: one tokenize + one per-doc window + three hash aggregates
    * at candidate/word/phrase grain; the phrase directory (bounded by
    * distinct stopword-free runs) is the largest shuffled relation.
    */
  def rakeKeyphrases(spark: SparkSession, dir: String, topK: Int = 20, maxLen: Int = 4): DataFrame =
    rakeKeyphrasesDf(Tables.documents(spark, dir), topK, maxLen)

  /** [[rakeKeyphrases]] core over any (doc_id, text) relation. */
  private[graft] def rakeKeyphrasesDf(docs: DataFrame, topK: Int = 20, maxLen: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = stopEn ++ stopDe ++ stopFr ++ stopEs
    val words = docs
      .select(col("doc_id"), posexplode(expr("letter_tokens(lower(text))")))
      .toDF("doc_id", "i", "w")
    val isl = words
      .filter(!col("w").isin(stop: _*))
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id").orderBy("i")))
      .withColumn("isl", col("i") - col("rn"))
    val occ = isl
      .groupBy("doc_id", "isl")
      .agg(
        array_join(expr("transform(array_sort(collect_list(struct(i, w))), x -> x.w)"), " ").as("phrase"),
        count(lit(1)).as("len")
      )
      .filter(col("len") <= maxLen)
      .localCheckpoint(eager = false) // consumers: word stats + phrase stats
    val wordScores = occ
      .select(col("len"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy("w")
      .agg(expr("(100 * sum(len)) DIV count(1)").as("wscore"))
    occ
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"))
      .select(col("phrase"), col("n_occ"), explode(split(col("phrase"), " ")).as("w"))
      .join(wordScores, "w")
      .groupBy("phrase", "n_occ")
      .agg(sum("wscore").as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  /** Heaps'-law vocabulary growth: distinct-vocabulary size after each
    * doc_id prefix of the corpus — the curve that sizes tokenizer
    * vocabularies and predicts OOV rates as a corpus grows. Computed
    * WITHOUT re-scanning per prefix: a token first appears at
    * min(doc_id), so the whole curve is ONE tokenize + min-aggregate
    * into a first-occurrence histogram, then a cumulative over the
    * tiny bucket directory. Pure integers.
    */
  def vocabGrowth(spark: SparkSession, dir: String, bucket: Long = 500L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucket > 0, s"vocabGrowth needs bucket > 0, got $bucket")
    val firsts = tokenRows(spark, dir)
      .groupBy("tok")
      .agg(min("doc_id").as("first_doc"))
      .groupBy(expr(s"first_doc DIV ${bucket}L").as("bucket"))
      .agg(count(lit(1)).as("n_new_tokens"))
    // The bucket directory is #docs / bucket — it GROWS with the
    // corpus, so an unpartitioned prefix-sum window here is the §2.2
    // single-partition scale-killer. Two-phase block+offset instead
    // (the Evaluation.cumulativeByScore shape): in-block cumulative
    // hash-partitioned by a 1024-bucket block key (monotone in the
    // bucket order), only the /1024-reduced block directory crosses a
    // single partition. Same longs summed in the same order —
    // bit-identical vocab.
    val blocked = firsts
      .withColumn("blk", expr("bucket DIV 1024"))
      .localCheckpoint(eager = false) // consumers: in-block cum + block directory
    val inBlk = Window
      .partitionBy("blk")
      .orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val dirW = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked
      .groupBy("blk")
      .agg(sum("n_new_tokens").as("bn"))
      .withColumn("off", coalesce(sum("bn").over(dirW), lit(0L)))
      .select("blk", "off")
    blocked
      .withColumn("lc", sum("n_new_tokens").over(inBlk))
      .join(broadcast(offsets), "blk")
      .withColumn("vocab", col("off") + col("lc"))
      .select("bucket", "n_new_tokens", "vocab")
      .orderBy("bucket")
  }

  /** N-gram/stopword-vote language ID. Deterministic tie-break order:
    * en > de > es > fr (CASE chain).
    */
  def languageId(spark: SparkSession, dir: String): DataFrame = {
    def score(words: Seq[String]) =
      sum(when(col("tok").isInCollection(words), 1).otherwise(0)).cast("int")
    val scores = tokenRows(spark, dir)
      .groupBy("doc_id")
      .agg(
        score(stopEn).as("s_en"),
        score(stopDe).as("s_de"),
        score(stopFr).as("s_fr"),
        score(stopEs).as("s_es")
      )
    Tables
      .documents(spark, dir)
      .select("doc_id")
      .join(scores, Seq("doc_id"), "left")
      .na.fill(0, Seq("s_en", "s_de", "s_fr", "s_es"))
      .withColumn(
        "pred_lang",
        expr(
          """CASE
            |  WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
            |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            |  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            |  WHEN s_es >= s_fr THEN 'es'
            |  ELSE 'fr'
            |END""".stripMargin
        )
      )
      .select(col("doc_id"), col("pred_lang"), col("s_en"), col("s_de"), col("s_fr"), col("s_es"))
      .orderBy("doc_id")
  }

  /** Quality signals: token count, mean token length, stopword ratio,
    * punctuation (non-letter non-space) ratio. One codegen'd
    * hash-aggregate over token rows + a narrow per-doc projection.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val tokStats = tokenRows(spark, dir)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(length(col("tok")).cast("long")).as("sum_len"),
        sum(when(col("tok").isInCollection(stopEn), 1L).otherwise(0L)).as("n_stop")
      )
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        // int/int quotients are bit-exact across engines — leave
        // unrounded (rounding them risks decimal-boundary flips).
        ((length(col("text")) - expr("length(regexp_replace(text, '[^\\\\p{L}\\\\s]', ''))")) /
          length(col("text")).cast("double")).as("punct_ratio")
      )
      .join(tokStats, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("sum_len") / col("n_tokens").cast("double")).as("avg_token_len"),
        (col("n_stop") / col("n_tokens").cast("double")).as("stopword_ratio"),
        col("punct_ratio")
      )
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens vs a BPE-ish regex token count
    * (letter runs / digit runs / single other symbols).
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        expr(s"size(filter(split(text, '\\\\s+'), t -> t <> ''))").cast("long").as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))").cast("long").as("bpe_tokens"),
        col("n_chars")
      )
      .orderBy("doc_id")

  /** Position-weighted document fingerprint: Σ position·tokenVal mod p
    * over the token stream — an order-sensitive rolling-hash-style
    * digest computable in one narrow pass on both engines.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        expr(
          """aggregate(
             |  zip_with(letter_tokens(text), sequence(1, size(letter_tokens(text))),
             |           (t, i) -> i * ((ascii(t) * 131 + length(t)) % 1000003)),
             |  0L, (acc, v) -> (acc + v) % 1000000007L)""".stripMargin
        ).as("fingerprint")
      )
      .orderBy("doc_id")

  /** Corpus-wide top word bigrams — the n-gram frequency surface
    * (SURVEY M5). One explode + hash-aggregate; top-k via
    * TakeOrderedAndProject.
    */
  def topBigrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables
      .documents(spark, dir)
      .select(expr("letter_tokens(text)").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(
        explode(expr("transform(sequence(0, size(tk) - 2), i -> concat_ws(' ', tk[i], tk[i + 1]))")).as("bigram")
      )
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(k)

  /** Context-length chunking: split each document's token stream into
    * fixed-size chunks with overlap (stride < chunkSize) — the
    * operator that turns a curated corpus into training sequences.
    * Pure per-document narrow transform (sequence + slice inside one
    * codegen stage); chunk identity is (doc_id, chunk_idx), with
    * chunk_idx derived from the start offset so it is
    * partitioning-independent.
    */
  def chunkDocuments(spark: SparkSession, dir: String, chunkSize: Int = 50, stride: Int = 40): DataFrame = {
    require(stride <= chunkSize, "overlapping chunks need stride <= chunkSize")
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), expr("letter_tokens(text)").as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), explode(expr(s"sequence(1, size(tk), $stride)")).as("start"), col("tk"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / stride).cast("long").as("chunk_idx"),
        concat_ws(" ", expr(s"slice(tk, start, $chunkSize)")).as("chunk_text"),
        size(expr(s"slice(tk, start, $chunkSize)")).cast("long").as("n_chunk_tokens")
      )
      .orderBy("doc_id", "chunk_idx")
  }

  /** Denylist term redaction: scrub a term list from the corpus (the
    * same regexp_replace shape a PII pass uses — emails/phones/ids are
    * a pattern swap). Word-boundary anchored, single codegen pass.
    */
  def redactTerms(spark: SparkSession, dir: String, terms: Seq[String] = Seq("customer", "supplier")): DataFrame = {
    val pattern = terms.mkString("\\b(", "|", ")\\b")
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        regexp_replace(col("text"), pattern, "[REDACTED]").as("redacted"),
        (length(col("text")) - length(regexp_replace(col("text"), pattern, ""))).cast("long").as("chars_redacted")
      )
      .orderBy("doc_id")
  }

  /** Benchmark-contamination detection: training documents sharing any
    * k-gram with the held-out set (doc_id % 10 = 7 here) — the
    * decontamination pass every training corpus needs. Shuffles only
    * distinct (shingle, doc) pairs; the eval side is a semi-join
    * build, so the train×eval product never materializes.
    */
  def benchmarkContamination(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs    = Tables.documents(spark, dir)
    val trainSh = Dedup.shingles(docs.filter(col("doc_id") % 10 =!= 7), k).distinct()
    val evalSh  = Dedup.shingles(docs.filter(col("doc_id") % 10 === 7), k).select("sh").distinct()
    trainSh
      .join(evalSh, "sh")
      .groupBy("doc_id")
      .agg(countDistinct("sh").as("n_shared"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition scoring (the Gopher/C4 quality-rule
    * family): fraction of duplicated 3-grams and the hottest 3-gram's
    * share of the document. High values flag boilerplate/spam that
    * length and stopword ratios miss. Ratios are int/int quotients —
    * bit-exact cross-engine.
    */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), expr("letter_tokens(text)").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(
        col("doc_id"),
        explode(expr("transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
          .as("g")
      )
      // one pass, two-level aggregate: per-gram counts, then per-doc
      // totals/distincts/max — both levels partial→final, no join
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_grams"), count(lit(1)).as("n_distinct"), max("c").as("max_gram_count"))
      .select(
        col("doc_id"),
        col("n_grams"),
        ((col("n_grams") - col("n_distinct")) / col("n_grams")).as("dup_gram_ratio"),
        (col("max_gram_count") / col("n_grams")).as("top_gram_share")
      )
      .orderBy("doc_id")

  /** Cross-document boilerplate scoring: the fraction of a document's
    * distinct k-grams that also appear in ≥ `minDocs` documents —
    * the signal that catches site templates, navigation chrome, and
    * license banners that intra-document repetition
    * ([[repetitionScore]]) cannot see (each instance occurs once per
    * page but on every page). The companion pass to line-level dedup
    * on corpora whose documents carry no line structure.
    *
    * Scale shape: distinct (doc, gram) pairs are the only thing
    * shuffled — the gram document-frequency table derives from them by
    * one more partial→final aggregate, and the per-doc roll-up joins on
    * the gram key. The pair set is read twice (df pass + per-doc join),
    * so it materializes once via a lazy localCheckpoint instead of
    * recomputing the tokenize+explode upstream (Spark performs no
    * cross-input subtree reuse).
    */
  def boilerplateScore(spark: SparkSession, dir: String, k: Int = 3, minDocs: Int = 3): DataFrame = {
    val docs  = Tables.documents(spark, dir)
    val grams = Dedup.shingles(docs, k).distinct().localCheckpoint(eager = false)
    val hot = grams
      .groupBy("sh")
      .agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDocs)
      .select(col("sh"), lit(1L).as("__hot"))
    val per = grams
      .join(hot, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("__hot"), lit(0L))).as("n_boiler"))
    docs
      .select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        // guarded quotient: short docs have no grams, and double
        // division by zero diverges across engines (Inf vs NULL)
        when(coalesce(col("n_grams"), lit(0L)) > 0, col("n_boiler") / col("n_grams").cast("double"))
          .as("boiler_ratio")
      )
      .orderBy("doc_id")
  }

  /** Duplicated-span coverage (the measurement half of exact substring
    * dedup, Lee et al. 2021, arXiv:2107.06499): for every document,
    * how many of its tokens sit inside a k-gram that also occurs in
    * ≥ `minDocs` documents. Where [[boilerplateScore]] counts distinct
    * grams, this measures the actual token REGION duplicated spans
    * cover — overlapping gram instances are merged into intervals
    * (classic running-max merge: a token is newly covered only past
    * the furthest end seen so far), so a long repeated passage counts
    * its length once, not once per overlapping gram.
    *
    * Scale shape: the gram document-frequency side shuffles distinct
    * (doc, gram) pairs; the instance stream is then semi-joined to the
    * hot grams and the interval merge is one window over (doc, pos) —
    * partitioned by doc, never a global sort.
    */
  def duplicatedSpans(spark: SparkSession, dir: String, k: Int = 3, minDocs: Int = 3): DataFrame =
    duplicatedSpansDf(Tables.documents(spark, dir), k, minDocs)

  /** k-gram instance stream (doc_id, pos, g), pos 1-based — shared by
    * [[duplicatedSpansDf]], [[dedupSubstrings]] and the gram-index
    * build/probe paths. `materialize` lazily checkpoints the stream
    * for callers that feed it to BOTH a gram-frequency aggregate and a
    * join back to itself (Spark performs no cross-input subtree reuse,
    * so without it the tokenize+posexplode runs once per consumer —
    * same reason boilerplateScore checkpoints its pair set); the
    * single-consumer index build/append paths pass false, because
    * persisting a corpus-scale stream for one reader is pure cost.
    */
  private def gramInstances(docs: DataFrame, k: Int, materialize: Boolean = true): DataFrame = {
    val gramExpr = s"transform(sequence(1, size(tk) - ${k - 1}), i -> concat_ws(' ', slice(tk, i, $k)))"
    val base = docs
      .select(col("doc_id"), expr("letter_tokens(text)").as("tk"))
      .filter(size(col("tk")) >= k)
    val exploded =
      if (materialize) {
        // materialize at DOC grain (one row per doc, gram ARRAY
        // payload), not at instance grain: the expensive work both
        // consumers share is the tokenize + gram construction, and
        // storing ~corpus-count array rows instead of ~token-count
        // exploded rows cuts the checkpoint's row overhead by the gram
        // factor; consumers posexplode the checkpointed array column
        val arr = base
          .select(col("doc_id"), expr(gramExpr).as("__gs"))
          .localCheckpoint(eager = false)
        arr.select(col("doc_id"), posexplode(col("__gs")).as(Seq("__p", "g")))
      } else {
        // single-consumer path: keep the generator expression INLINE in
        // the Generate. Splitting it into Project(transform) + Generate
        // (the materialize path's shape, minus its checkpoint) makes
        // the Project serialize the whole gram array to unsafe format
        // per doc before the Generate unnests it — measured 4.5× slower
        // on text_phrase_search (warm 1.3–1.5 s inline vs 6.1–6.3 s
        // split, 3 alternating in-JVM pairs); the inline form hands
        // each gram straight from the transform to the generator with
        // no intermediate row copy.
        base.select(col("doc_id"), posexplode(expr(gramExpr)).as(Seq("__p", "g")))
      }
    exploded.select(col("doc_id"), (col("__p") + 1).cast("long").as("pos"), col("g"))
  }

  private[graft] def duplicatedSpansDf(docs: DataFrame, k: Int = 3, minDocs: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inst = gramInstances(docs, k)
    // document frequency in ONE aggregate (countDistinct plans as a
    // two-phase expand+aggregate) instead of distinct → groupBy, which
    // pays an extra full exchange of the pair set
    val hot = inst
      .groupBy("g")
      .agg(countDistinct("doc_id").as("df_docs"))
      .filter(col("df_docs") >= minDocs)
      .select("g")
    val w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    val per = inst
      .join(hot, Seq("g"), "left_semi")
      .withColumn("e", col("pos") + (k - 1))
      .withColumn("prev_e", max(col("e")).over(w))
      .withColumn(
        "cov",
        greatest(lit(0L), col("e") - greatest(col("pos"), coalesce(col("prev_e"), lit(0L)) + 1) + 1)
      )
      .groupBy("doc_id")
      .agg(sum("cov").as("covered_tokens"))
    docs
      .select(col("doc_id"), size(expr("letter_tokens(text)")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") > 0, coalesce(col("covered_tokens"), lit(0L)) / col("n_tokens").cast("double"))
          .as("covered_ratio")
      )
      .orderBy("doc_id")
  }

  /** Exact substring dedup — the REMOVAL half of [[duplicatedSpans]]
    * (Lee et al. 2021, arXiv:2107.06499 §4): emit the corpus with
    * every token that sits inside a cross-document duplicated k-gram
    * (document frequency ≥ `minDocs`) cut out, KEEPING one canonical
    * occurrence — the instance in the gram's minimum doc_id. The
    * operator a curation pipeline actually runs where
    * [[duplicatedSpans]] only measures; re-measuring the output
    * reports ~zero coverage (each surviving span lives in one doc).
    *
    * Scale shape: the gram instance stream shuffles once for the
    * frequency+canonical aggregate; cut instances explode to their k
    * token positions (a k× inflation of the DUPLICATED region only,
    * never the corpus) and remove kept tokens via an anti-join keyed
    * (doc_id, pos) — at most one row per covered token crosses the
    * shuffle. Reconstruction is one per-doc aggregate: sort-by-
    * position inside the aggregation buffer (array_sort over collected
    * structs), never a global sort.
    */
  def dedupSubstrings(spark: SparkSession, dir: String, k: Int = 3, minDocs: Int = 3): DataFrame =
    dedupSubstringsDf(Tables.documents(spark, dir), k, minDocs)

  private[graft] def dedupSubstringsDf(docs: DataFrame, k: Int = 3, minDocs: Int = 3): DataFrame = {
    val inst = gramInstances(docs, k)
    // one aggregate yields both the hot predicate and the canonical
    // owner: min over all instances == min over distinct docs
    val hot = inst
      .groupBy("g")
      .agg(countDistinct("doc_id").as("df_docs"), min("doc_id").as("canon"))
      .filter(col("df_docs") >= minDocs)
      .select("g", "canon")
    val cutStarts = inst
      .join(hot, Seq("g"))
      .filter(col("doc_id") =!= col("canon"))
      .select("doc_id", "pos")
    cutAndRebuild(docs, cutStarts, k)
  }

  /** Shared removal tail for the substring-dedup family: merge the cut
    * gram instances into per-doc COVERED INTERVALS (the duplicated
    * region only — a handful of (start, end) structs per doc, never
    * one row per token), then rebuild each document's text in ONE
    * narrow codegen'd pass over its token array (indexed transform +
    * interval-exists filter). The earlier formulation shuffled the
    * ENTIRE token stream through an anti-join on (doc, pos) and
    * re-collected every kept token per doc — two corpus-sized
    * shuffles this shape never pays; here only hot-gram instances
    * shuffle (the window + two aggregates below), and the interval
    * merge keeps the per-doc cut array small even for heavily
    * duplicated documents (a fully-covered doc is ONE interval).
    */
  private def cutAndRebuild(docs: DataFrame, cutStarts: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPrev = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    val wRun  = Window.partitionBy("doc_id").orderBy("pos")
    // ONE exchange for the whole cut-merge pipeline: hash-repartition
    // by doc BEFORE the dedup — HashPartitioning(doc_id) satisfies the
    // clustering of the (doc_id, pos) distinct, both windows, and both
    // per-doc aggregates below (partitioning-subset rule), so nothing
    // downstream exchanges again (the old plan paid a (doc_id, pos)
    // exchange for the distinct and then a doc_id exchange for the
    // windows). Skew bound unchanged: per-doc cut mass is bounded by
    // document length, the same bound the per-doc window always had.
    val cuts = cutStarts
      .repartition(col("doc_id"))
      .distinct()
      .withColumn("e", col("pos") + (k - 1))
      .withColumn("prev_e", max(col("e")).over(wPrev))
      // new interval when this span starts beyond the furthest end so
      // far (+1: adjacent spans union into one contiguous interval)
      .withColumn("brk", when(col("prev_e").isNull || col("pos") > col("prev_e") + 1, 1L).otherwise(0L))
      .withColumn("grp", sum("brk").over(wRun))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("s"), max("e").as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("cuts"))
    docs
      .select(col("doc_id"), expr("letter_tokens(text)").as("tk"))
      .join(cuts, Seq("doc_id"), "left")
      .withColumn(
        "kept",
        expr(
          """transform(
            |  filter(transform(tk, (t, i) -> named_struct('t', t, 'i', i + 1)),
            |         x -> cuts is null or not exists(cuts, c -> x.i >= c.s and x.i <= c.e)),
            |  x -> x.t)""".stripMargin
        )
      )
      .select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        coalesce(size(col("kept")).cast("long"), lit(0L)).as("n_kept"),
        coalesce(array_join(col("kept"), " "), lit("")).as("text_dedup")
      )
      .orderBy("doc_id")
  }

  /** Build and persist the standing gram-frequency index for
    * incremental substring dedup — per-gram document frequency and
    * canonical owner over the accepted corpus, bucketed by gram so
    * probes join exchange-free on the index side. Append-friendly
    * contract: the table may hold MULTIPLE rows per gram (one per
    * ingest append); readers aggregate `sum(df_docs), min(canon)` —
    * appends stay cheap (no index rewrite), the same trade the LSH
    * band index makes.
    */
  def buildGramIndex(corpus: DataFrame, name: String, k: Int = 3, buckets: Int = 32): Unit =
    graft.sources.Bucketing.writeBucketedKeys(
      gramInstances(corpus, k, materialize = false)
        .groupBy("g")
        .agg(countDistinct("doc_id").as("df_docs"), min("doc_id").as("canon")),
      s"${name}_gramdf",
      buckets,
      Seq("g")
    )

  /** Append a batch's gram statistics to a [[buildGramIndex]] index
    * (one row per gram per append; readers sum).
    */
  def appendGramIndex(batch: DataFrame, name: String, k: Int = 3, buckets: Int = 32): Unit =
    graft.sources.Bucketing.appendBucketedKeys(
      gramInstances(batch, k, materialize = false)
        .groupBy("g")
        .agg(countDistinct("doc_id").as("df_docs"), min("doc_id").as("canon")),
      s"${name}_gramdf",
      buckets,
      Seq("g")
    )

  /** Incremental exact substring dedup: cut duplicated spans from an
    * ARRIVING batch against the standing corpus statistics without
    * re-scanning the corpus — the batch-proportional form of
    * [[dedupSubstrings]], completing the standing-index family (exact
    * digests, MinHash bands, semantic cells, now gram frequencies).
    *
    * Semantics: a batch span is cut when its gram's TOTAL document
    * frequency (corpus + this batch) reaches `minDocs` and the doc is
    * not the gram's canonical owner — the global min doc_id across
    * corpus and batch, computed as least(index canon, batch canon), so
    * for ANY disjoint corpus/batch split the result equals the
    * from-scratch [[dedupSubstrings]] over corpus ∪ batch restricted
    * to batch rows (which is why the query itself is hash-oracled
    * against the DuckDB from-scratch replay, and
    * `check_incremental_substrings` proves the equality both
    * directions in-engine). Corpus rows are immutable by contract —
    * prior acceptances are never rewritten, same stance as every other
    * incremental tier.
    *
    * Probe shape: the index scan is semi-joined to the batch's gram
    * keys FIRST (probe work proportional to the batch, not the
    * corpus), the index side joins bucketed-exchange-free, and only
    * batch-derived streams shuffle.
    */
  def incrementalDedupSubstrings(
      spark: SparkSession,
      indexName: String,
      batch: DataFrame,
      k: Int = 3,
      minDocs: Int = 3
  ): DataFrame = {
    val inst = gramInstances(batch, k)
    // two consumers (the index semi-join probe and the merge join) —
    // materialize the small per-gram batch stats once
    val batchStats = inst
      .groupBy("g")
      .agg(countDistinct("doc_id").as("df_b"), min("doc_id").as("canon_b"))
      .localCheckpoint(eager = false)
    val idxTouched = spark
      .table(s"${indexName}_gramdf")
      .join(batchStats.select("g"), Seq("g"), "left_semi")
      .groupBy("g")
      .agg(sum("df_docs").as("df_idx"), min("canon").as("canon_idx"))
    val hot = batchStats
      .join(idxTouched, Seq("g"), "left")
      .select(
        col("g"),
        (coalesce(col("df_idx"), lit(0L)) + col("df_b")).as("df_tot"),
        least(coalesce(col("canon_idx"), lit(Long.MaxValue)), col("canon_b")).as("canon")
      )
      .filter(col("df_tot") >= minDocs)
      .select("g", "canon")
    val cutStarts = inst
      .join(hot, Seq("g"))
      .filter(col("doc_id") =!= col("canon"))
      .select("doc_id", "pos")
    cutAndRebuild(batch, cutStarts, k)
  }

  /** Bloom-prefiltered decontamination — same RESULT as
    * [[benchmarkContamination]] (the bloom filter has no false
    * negatives and every hit is re-verified by the exact join), but
    * the 100 TB plan: a bloom filter over the held-out shingles ships
    * to every task as a ~12 KB constant, the raw train-side shingle
    * stream is prefiltered by the bloom probe BEFORE anything
    * shuffles, and only the surviving sliver pays the distinct + join.
    * At a realistic contamination rate the shuffle shrinks by orders
    * of magnitude — the same runtime-bloom idea Spark's optimizer
    * applies to joins, here made an explicit operator over set
    * membership. Two-phase by design (the bloom build is a driver
    * action, like the KMeans fits): `BloomFilterMightContain` only
    * accepts a CONSTANT bloom side, which is also the honest shape —
    * the held-out set is a separate, earlier job in a real pipeline.
    */
  def contaminationBloom(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.GraftFunctions.register(spark)
    val docs   = Tables.documents(spark, dir)
    val evalSh = Dedup.shingles(docs.filter(col("doc_id") % 10 === 7), k).select("sh").distinct()
    val bfBytes = evalSh
      .agg(expr("graft_bloom_agg(xxhash64(sh), 10000L, 100000L)").as("bf"))
      .head()
      .getAs[Array[Byte]]("bf")
    val bfHex = bfBytes.map("%02x".format(_)).mkString
    val pre = Dedup
      .shingles(docs.filter(col("doc_id") % 10 =!= 7), k)
      .filter(expr(s"graft_might_contain(X'$bfHex', xxhash64(sh))"))
      .select("doc_id", "sh")
      .distinct()
    pre
      .join(evalSh, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Bigram language-model quality score (the CCNet/Gopher-style
    * "perplexity filter" shape): train bigram + unigram counts on the
    * corpus itself, then score every document by its mean add-one-
    * smoothed bigram log-probability — ln((c(w1,w2)+1)/(c(w1)+V)).
    * Low scores flag gibberish and token soup; abnormally high scores
    * flag boilerplate the model has memorized. The "model" is two
    * aggregate tables, so training and scoring are the same kind of
    * Spark job — no external LM, fully reproducible.
    *
    * Scale shape: the bigram stream feeds both the count pass and the
    * score pass, so it materializes ONCE via a lazy localCheckpoint —
    * measured ~30% faster than re-deriving the explode at sf0.1
    * (1.03 s vs 1.45 s min-of-3; see SCALE.md §lmScore for the
    * 100 TB crossover reasoning). The count tables shuffle by their
    * own keys; the score join shuffles bigram rows by (w1, w2), and
    * the vocabulary size enters as a broadcast 1-row aggregate (never
    * a driver `.count()`, which would make plan construction eagerly
    * execute — same contract as [[tfIdfTopTerm]]).
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bigrams: DataFrame =
      docs
        .select(col("doc_id"), expr("letter_tokens(text)").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(
          col("doc_id"),
          explode(expr("transform(sequence(0, size(tk) - 2), i -> array(tk[i], tk[i + 1]))")).as("bg")
        )
        .select(col("doc_id"), col("bg")(0).as("w1"), col("bg")(1).as("w2"))
        .localCheckpoint(eager = false)
    val uni   = TextJobs.tokenized(docs.select("doc_id", "text"), "text", "tok").groupBy(col("tok").as("w1")).agg(count(lit(1)).as("c1"))
    val big   = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("__v"))
    val per = bigrams
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log((col("cb") + 1.0) / (col("c1") + col("__v")))), 4).as("avg_logp")
      )
    docs
      .select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_logp"))
      .orderBy("doc_id")
  }

  /** Corpus heavy hitters via the Misra–Gries sketch
    * ([[graft.functions.FreqItemsAgg]]): the top-`outK` most frequent
    * tokens from ONE bounded-memory aggregate over the token stream —
    * no per-term shuffle. The exact groupBy ([[topBigrams]]-style)
    * shuffles the full distinct-term table; this ships one
    * `capacity`-entry summary per partition, the right shape when the
    * term universe itself is shuffle-scale (URLs, n-grams, user ids).
    *
    * Run with `capacity` ≥ the true vocabulary size, the sketch never
    * decrements and the estimates ARE the exact counts (the
    * oracle-comparable regime — this corpus has a fixed small
    * vocabulary). The sub-capacity regime's error bounds are verified
    * by `check_freq_items`.
    */
  def freqItems(spark: SparkSession, dir: String, capacity: Int = 64, outK: Int = 20): DataFrame = {
    graft.GraftFunctions.register(spark)
    tokenRows(spark, dir)
      .agg(expr(s"freq_items_agg(tok, $capacity)").as("fi"))
      .select(explode(col("fi")).as("e"))
      .select(col("e.item").as("term"), col("e.est").as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(outK)
  }

  /** EXACT global top-k terms WITHOUT a full-vocabulary shuffle: the
    * candidate-verify two-pass. Pass 1 runs Misra–Gries (capacity m)
    * as one mergeable aggregate — its guarantee: every item with true
    * frequency > N/m survives in the sketch. Pass 2 recounts ONLY the
    * candidates exactly (broadcast semi-join, so the groupBy's key
    * space is ≤ m instead of the vocabulary) and takes the top k.
    * The result is PROVABLY the exact top-k whenever the k-th
    * recounted frequency exceeds N/m — checked here and enforced
    * loudly, because a silently unproven "exact" answer is the sketch
    * failure mode this operator exists to prevent. At 100 TB this is
    * the difference between shuffling a billion-term vocabulary and
    * shuffling ≤ m candidate counts.
    */
  def topKExactTwoPass(spark: SparkSession, dir: String, k: Int = 20, capacity: Int = 4096): DataFrame = {
    graft.GraftFunctions.register(spark)
    import spark.implicits._
    val toks = tokenRows(spark, dir)
    // pass 1: one mergeable aggregate carries the sketch AND N
    val p1 = toks.agg(expr(s"freq_items_agg(tok, $capacity)").as("fi"), count(lit(1)).as("n")).collect().head
    val n  = p1.getLong(1)
    val cand = p1.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0)).toDF("tok")
    // pass 2: exact recount restricted to the ≤ m candidates
    val topK = toks
      .join(broadcast(cand), Seq("tok"), "left_semi")
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
      .localCheckpoint(eager = true) // reused by the proof AND the result
    // coverage proof: N/m < k-th count ⇒ no non-candidate can reach
    // the top k (MG keeps every item with freq > N/m)
    val kth = topK.collect().lastOption.map(_.getLong(1)).getOrElse(0L)
    require(
      kth > n / capacity,
      s"top-$k not provably exact: k-th count $kth ≤ N/m = ${n / capacity} — raise capacity"
    )
    topK
  }

  /** TF-IDF: top term per document by tf·idf weight. The corpus size
    * enters as a broadcast 1-row aggregate (not a driver `.count()`),
    * so building the DataFrame stays lazy and the whole thing runs as
    * ONE job — an eager count here would fire a separate scan per call
    * and make a plan-construction API secretly execute.
    */
  def tfIdfTopTerm(spark: SparkSession, dir: String): DataFrame = {
    val docs   = Tables.documents(spark, dir)
    val nd     = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    val tokens = TextJobs.tokenized(docs.select("doc_id", "text"), "text", "term")
    val tf     = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_    = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
    // top term per doc as an AGGREGATE, not a window: min of
    // (−tfidf, term) under struct ordering == max tfidf with the
    // smallest term as tie-break — identical to the row_number()
    // formulation, but partially aggregable (map-side combine, no
    // per-partition sort of every (doc, term) row). At corpus scale
    // the window sort is the dominant cost this avoids.
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(nd))
      .withColumn("tfidf", round(col("tf") * log(col("__n_docs") / col("df")), 4))
      .groupBy("doc_id")
      .agg(min(struct((-col("tfidf")).as("neg"), col("term"))).as("top"))
      .select(
        col("doc_id"),
        col("top.term").as("top_term"),
        // + 0.0 normalizes the −0.0 that negating a zero tfidf yields
        (-col("top.neg") + lit(0.0)).as("tfidf")
      )
      .orderBy("doc_id")
  }

  /** PMI collocations: the `topK` adjacent token pairs most over-
    * represented relative to their parts' independent rates —
    * pmi(x,y) = ln( P(x,y) / (P(x)·P(y)) ) with the joint from bigram
    * counts and the marginals from unigram counts (Church & Hanks
    * 1990, the standard collocation-extraction statistic for corpus
    * phrase mining / tokenizer-merge candidates).
    *
    * Scale shape: bigram extraction is ARRAY-LOCAL per document (the
    * token array zipped with its own tail — no self-join, no window,
    * no extra shuffle; the naive pos/pos+1 self-join would shuffle the
    * full token stream twice). Counting is two partially-aggregated
    * groupBys; the count-threshold filter runs BEFORE the marginal
    * joins, so the join input is the surviving bigrams, not the
    * corpus; corpus totals enter as broadcast 1-row aggregates; the
    * marginal joins are vocabulary-sized equi-joins left to AQE (the
    * filtered bigram side is usually broadcastable, but its size is
    * data-dependent — a hard broadcast pin here would be a 100 TB
    * OOM, exactly the case AQE decides correctly at runtime). Final
    * top-k is a TakeOrdered, never a global sort.
    */
  def pmiCollocations(spark: SparkSession, dir: String, minCount: Long = 5L, topK: Int = 40): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val toks = docs
      .select(expr("letter_tokens(text)").as("ts"))
      .filter(size(col("ts")) >= 2)
    val n1 = size(col("ts")) - 1
    val big = toks
      .select(
        explode(
          zip_with(
            slice(col("ts"), lit(1), n1),
            slice(col("ts"), lit(2), n1),
            (a, b) => struct(a.as("w1"), b.as("w2"))
          )
        ).as("bg")
      )
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uniRows = TextJobs.tokenized(docs, "text", "tok")
    val uni     = uniRows.groupBy("tok").agg(count(lit(1)).as("c"))
    val nUni    = uniRows.agg(count(lit(1)).as("n_uni"))
    val bigCnt  = big.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val nBig    = big.agg(count(lit(1)).as("n_big"))
    bigCnt
      .filter(col("c_xy") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBig))
      .withColumn(
        "pmi",
        round(
          log(
            (col("c_xy").cast("double") * col("n_uni") * col("n_uni")) /
              (col("n_big").cast("double") * col("c_x") * col("c_y"))
          ),
          4
        )
      )
      .select("w1", "w2", "c_xy", "pmi")
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** The default retrieval query set for [[bm25TopK]] — short
    * multi-term queries over the corpus vocabulary, distinct terms
    * per query (standard BM25 ignores query-side term frequency for
    * short queries).
    */
  val defaultBm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("fast", "hash", "join"),
    1 -> Seq("stream", "window", "agg"),
    2 -> Seq("customer", "order", "table"),
    3 -> Seq("slow", "scan", "filter", "spark"),
    4 -> Seq("vector", "merge", "batch")
  )

  /** BM25 full-text retrieval: top-`k` documents per query under
    * Okapi BM25 (k1, b; idf = ln(1 + (N − df + ½)/(df + ½)), the
    * always-positive "+1" variant from the original Robertson–Spärck
    * Jones formulation as used by Lucene).
    *
    * Built to invert the classic search shape into Spark relational
    * algebra at corpus scale:
    *   - the query set is a TINY literal relation, broadcast into the
    *     per-doc term-frequency table — the corpus-side scan + hash
    *     join keeps only postings for query terms, so everything
    *     downstream is proportional to the postings of the queried
    *     terms, not the corpus;
    *   - document frequency is computed FROM those postings (a
    *     query-term-only groupBy), never as a full-vocabulary
    *     aggregate — at 100 TB a global df table is a vocabulary-scale
    *     shuffle this operator never needs;
    *   - corpus constants (N, total token count → avgdl) enter as
    *     broadcast 1-row aggregates, keeping the plan one lazy job;
    *   - ranking is a per-query window over the candidate set only
    *     (docs sharing ≥1 query term), not the corpus.
    *
    * Scores are rounded to 4 decimals BEFORE ranking and doc_id breaks
    * ties, so ordering is reproducible across engines and summation
    * orders. Reference: the reference engine's inverted-index job
    * (reducer.go:159-186) stops at postings lists; this composes the
    * same postings into scored retrieval.
    */
  def bm25TopK(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Int, Seq[String])] = defaultBm25Queries,
      k: Int = 5,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    requireValidQueries(queries)
    val docs   = Tables.documents(spark, dir)
    val tokens = tokenRows(spark, dir)
    // N counts ALL docs (a token-free doc is still a non-candidate
    // member of the collection); avgdl = total tokens / N
    def constsFrom(dl: DataFrame): DataFrame = docs
      .agg(count(lit(1)).cast("double").as("__n"))
      .crossJoin(broadcast(dl.agg(sum("dl").cast("double").as("__ntok"))))
      .select(col("__n"), (col("__ntok") / col("__n")).as("__avgdl"))
    // ONE tokenize + ONE doc-keyed exchange (guide §2.3 — aggregate
    // before you shuffle): per-doc dl and each literal query term's tf
    // come out of a single conditional aggregation whose map-side
    // partials are #docs-per-task rows, replacing the corpus-sized
    // (doc, tok) exchange (and its per-consumer re-execution — the
    // executed plan ran the tokenize THREE times, once per consumer).
    // dl, the corpus token total and the query-term postings all read
    // the same doc-grain checkpoint.
    val stats    = docTermStats(tokens, queries)
    val dl       = stats.select(col("doc_id"), col("dl"))
    val postings = statsPostings(stats, queries)
    bm25Rank(postings, dl, consts = constsFrom(dl), k, k1, b)
  }

  /** Per-doc retrieval stats in ONE doc-keyed exchange: `dl` (the doc's
    * token count) plus the tf of every DISTINCT literal query term via
    * conditional aggregation (`sum(when(tok = t, 1))` — exact integer
    * counts, identical to the (doc, tok) groupBy's). Lazily
    * checkpointed: the relation is doc-sized (#docs × (1 + #terms)
    * longs), and it serves every downstream consumer (dl, corpus token
    * total, postings), so the corpus is tokenized exactly once.
    */
  private def docTermStats(tokens: DataFrame, queries: Seq[(Int, Seq[String])]): DataFrame = {
    val terms = queries.flatMap(_._2).distinct
    val aggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === lit(t), 1L).otherwise(0L)).as(s"__tf$i")
    }
    tokens
      .where(col("doc_id").isNotNull)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), aggs: _*)
      .localCheckpoint(eager = false)
  }

  /** Query-term postings (query_id, tok, doc_id, tf) off the
    * [[docTermStats]] relation: one generator row per (query, term)
    * pair per doc, kept where tf ≥ 1 — exactly the rows the
    * tf⋈qterms broadcast join produced (a posting exists iff the doc
    * contains the term), with the query_id fan-out baked into the
    * literal array instead of a join.
    */
  private def statsPostings(stats: DataFrame, queries: Seq[(Int, Seq[String])]): DataFrame = {
    val terms   = queries.flatMap(_._2).distinct
    val termIdx = terms.zipWithIndex.toMap
    val entries = queries.flatMap { case (qid, ts) =>
      ts.distinct.map { t =>
        struct(lit(qid).as("query_id"), lit(t).as("tok"), col(s"__tf${termIdx(t)}").as("tf"))
      }
    }
    stats
      .select(col("doc_id"), explode(array(entries: _*)).as("e"))
      .select(col("e.query_id").as("query_id"), col("e.tok").as("tok"), col("doc_id"), col("e.tf").as("tf"))
      .where(col("tf") >= 1L)
  }

  /** Query terms must be single lowercase-letter tokens — anything the
    * `[^\p{L}]+` tokenizer could never emit (spaces, digits, empty)
    * would silently match nothing, which reads as "no results" instead
    * of the caller error it is.
    */
  private def requireValidQueries(queries: Seq[(Int, Seq[String])]): Unit = {
    require(queries.map(_._1).distinct.length == queries.length, "duplicate query_id in query set")
    queries.foreach { case (qid, ts) =>
      require(ts.nonEmpty, s"query $qid has no terms")
      ts.foreach(t =>
        require(t.nonEmpty && t.forall(_.isLetter), s"query $qid term '$t' is not a single letter-only token")
      )
    }
  }

  /** The shared BM25 scoring/ranking tail: `postings` is (query_id,
    * tok, doc_id, tf) for query terms only, `dl` is (doc_id, dl),
    * `consts` one row (__n, __avgdl). One definition serves both the
    * one-shot [[bm25TopK]] and the standing-index [[bm25IndexProbe]],
    * so the two paths are arithmetically identical by construction.
    *
    * df per query term is a WINDOW over the postings — (query_id, tok,
    * doc_id) rows are unique, so count(*) per (query_id, tok)
    * partition IS the document frequency. A separate groupBy+rejoin
    * formulation re-derives tf from scratch under column pruning
    * (Catalyst prunes the count column, breaking exchange reuse) and
    * costs a second corpus tokenize; the window reuses the postings
    * rows already in hand.
    */
  private[graft] def bm25Rank(
      postings: DataFrame,
      dl: DataFrame,
      consts: DataFrame,
      k: Int,
      k1: Double,
      b: Double
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 > 0.0, s"k1 must be positive, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1], got $b")
    val wdf = org.apache.spark.sql.expressions.Window.partitionBy("query_id", "tok")
    val scored = postings
      .withColumn("df", count(lit(1)).over(wdf).cast("double"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(consts))
      .withColumn("idf", log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)))
      // association order mirrors the oracle SQL term-for-term so the
      // doubles (pre-rounding) are bit-identical modulo summation order
      .withColumn(
        "contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl")))
      )
      .groupBy("query_id", "doc_id")
      .agg(round(sum("contrib"), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** Build the STANDING BM25 retrieval index — the deployment shape of
    * [[bm25TopK]], completing the standing-index family (exact
    * digests, MinHash bands, semantic cells, gram frequencies, IVF×PQ,
    * now full-text postings). Three tables:
    *
    *   - `name_postings` (tok, doc_id, tf), bucketed by `tok`: probes
    *     scan only the buckets their literal query terms hash to
    *     (bucket pruning) and join exchange-free on the index side;
    *   - `name_docstats` (doc_id, dl), bucketed by `doc_id`;
    *   - `name_stats` (n_docs, n_tokens): ADDITIVE corpus constants,
    *     one row per build/append — readers SUM (the same
    *     multi-row-per-key append contract as the gram index).
    *
    * One corpus tokenize total: docstats and the token count derive
    * from the postings TABLE after it lands, not from a second pass.
    */
  def buildBm25Index(corpus: DataFrame, name: String, buckets: Int = 32): Unit = {
    val spark  = corpus.sparkSession
    val tokens = TextJobs.tokenized(corpus.select("doc_id", "text"), "text", "tok")
    val tf = tokens
      .where(col("doc_id").isNotNull)
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    graft.sources.Bucketing.writeBucketedKeys(
      tf.select(col("tok"), col("doc_id"), col("tf")),
      s"${name}_postings",
      buckets,
      Seq("tok")
    )
    spark.catalog.refreshTable(s"${name}_postings")
    graft.sources.Bucketing.writeBucketedKeys(
      spark.table(s"${name}_postings").groupBy("doc_id").agg(sum("tf").as("dl")),
      s"${name}_docstats",
      buckets,
      Seq("doc_id")
    )
    spark.catalog.refreshTable(s"${name}_docstats")
    // n_docs counts ALL corpus rows (token-free docs included — they
    // are collection members for idf/avgdl even though they can never
    // be candidates); n_tokens from the landed docstats
    val statsTable = s"${name}_stats"
    graft.sources.Bucketing.dropWithLocation(spark, statsTable)
    corpus
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(spark.table(s"${name}_docstats").agg(coalesce(sum("dl"), lit(0L)).as("n_tokens"))))
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(statsTable)
  }

  /** Append NEW documents to a [[buildBm25Index]] index (batch doc_ids
    * must be disjoint from the corpus — prior rows are immutable, the
    * same stance as every other standing index). Appends postings and
    * docstats rows plus one additive stats row; no index rewrite.
    */
  def appendBm25Index(batch: DataFrame, name: String, buckets: Int = 32): Unit = {
    val spark  = batch.sparkSession
    val tokens = TextJobs.tokenized(batch.select("doc_id", "text"), "text", "tok")
    // the batch tf feeds three appends — checkpoint so the (small)
    // batch tokenizes once, not per consumer
    val tf = tokens
      .where(col("doc_id").isNotNull)
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    graft.sources.Bucketing.appendBucketedKeys(
      tf.select(col("tok"), col("doc_id"), col("tf")),
      s"${name}_postings",
      buckets,
      Seq("tok")
    )
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl")).localCheckpoint(eager = false)
    graft.sources.Bucketing.appendBucketedKeys(dl, s"${name}_docstats", buckets, Seq("doc_id"))
    batch
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(dl.agg(coalesce(sum("dl"), lit(0L)).as("n_tokens"))))
      .write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet")
      .saveAsTable(s"${name}_stats")
    spark.catalog.refreshTable(s"${name}_postings")
    spark.catalog.refreshTable(s"${name}_docstats")
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty): score(Q, D) = Σ_t ln((tf + μ·cf(t)/|C|) / (dl + μ))
    * over ALL query terms — absent terms contribute their smoothed
    * background probability, which is what makes the model a proper
    * likelihood and not just a tf heuristic. A second scorer over the
    * SAME postings/doc-length/corpus-stats shapes as [[bm25TopK]]:
    * the candidate set is docs sharing ≥1 query term (the standard
    * practical restriction — a doc with zero query terms scores below
    * every candidate on every term), the (candidate × query-term)
    * grid is candidate-bounded, and corpus term frequency cf(t) comes
    * from the query-term postings themselves — never a vocabulary
    * aggregate. Scores round to 4 decimals before ranking, doc_id
    * breaks ties.
    */
  def qlTopK(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Int, Seq[String])] = defaultBm25Queries,
      k: Int = 5,
      mu: Double = 2000.0
  ): DataFrame = {
    import spark.implicits._
    requireValidQueries(queries)
    require(mu > 0.0, s"mu must be positive, got $mu")
    val tokens = tokenRows(spark, dir)
    val qterms = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")
    // one tokenize + one doc-keyed exchange — same doc-grain
    // conditional aggregation as [[bm25TopK]] (guide §2.3); the
    // Dirichlet corpus total |C| is the sum of the same dl values the
    // tf-derived formulation summed
    val stats    = docTermStats(tokens, queries)
    val dl       = stats.select(col("doc_id"), col("dl"))
    val consts   = dl.agg(sum("dl").cast("double").as("__ctot"))
    val postings = statsPostings(stats, queries)
    qlRank(postings, dl, consts, qterms, k, mu)
  }

  /** The shared Dirichlet-QL scoring/ranking tail: `postings` is
    * (query_id, tok, doc_id, tf) for query terms only, `dl` (doc_id,
    * dl), `consts` one row (__ctot), `qterms` the tiny broadcast query
    * relation. One definition serves both the one-shot [[qlTopK]] and
    * the standing-index [[qlIndexProbe]] — the same twin contract as
    * [[bm25Rank]], so the two paths are arithmetically identical by
    * construction. The query-term postings feed three consumers
    * (candidates, cf, the grid left join), so the SMALL filtered slice
    * materializes once instead of leaning on exchange reuse across
    * differently-pruned subtrees — in the ONE-SHOT path, where the
    * slice derives from a full corpus tokenize (`materialize = true`).
    * The index probe passes false: its postings are already a cheap
    * bucket-pruned scan, and re-reading those buckets per consumer
    * costs less than materializing them (it also keeps the pruned scan
    * visible in the plan, which the bucket-pruning spec asserts).
    */
  private[graft] def qlRank(
      postings: DataFrame,
      dl: DataFrame,
      consts: DataFrame,
      qterms: DataFrame,
      k: Int,
      mu: Double,
      materialize: Boolean = true
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(mu > 0.0, s"mu must be positive, got $mu")
    val pq   = if (materialize) postings.localCheckpoint(eager = false) else postings
    val cf   = pq.groupBy("query_id", "tok").agg(sum("tf").cast("double").as("cf"))
    val cand = pq.select("query_id", "doc_id").distinct()
    val grid = cand.join(broadcast(qterms), Seq("query_id"))
    val scored = grid
      .join(pq, Seq("query_id", "tok", "doc_id"), "left")
      .join(broadcast(cf), Seq("query_id", "tok"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(consts))
      .withColumn(
        "contrib",
        log((coalesce(col("tf"), lit(0L)) + lit(mu) * col("cf") / col("__ctot")) / (col("dl") + lit(mu)))
      )
      .groupBy("query_id", "doc_id")
      .agg(round(sum("contrib"), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** Dirichlet-QL retrieval against the standing [[buildBm25Index]]
    * index — the second scorer served from the SAME three tables
    * (postings/docstats/stats), because a deployed retrieval stack
    * serves every scorer from the index it maintains rather than
    * re-tokenizing the corpus per call ([[qlTopK]]'s one-shot shape).
    * Zero corpus scans: the postings scan is bucket-pruned by the
    * literal query terms, cf(t) derives from the query-term postings
    * slice (never a vocabulary aggregate), and the corpus token total
    * |C| is the SUM of the additive stats rows. Identical arithmetic
    * to [[qlTopK]] via [[qlRank]]: over the same corpus the two return
    * byte-identical rows (the probe is hash-oracled against the same
    * from-scratch SQL). Reference tie: the ii job's postings
    * (reducer.go:159-186) are the ancestor shape both scorers elevate.
    */
  def qlIndexProbe(
      spark: SparkSession,
      indexName: String,
      queries: Seq[(Int, Seq[String])] = defaultBm25Queries,
      k: Int = 5,
      mu: Double = 2000.0
  ): DataFrame = {
    import spark.implicits._
    requireValidQueries(queries)
    val qterms = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")
    val termLits = queries.flatMap(_._2).distinct
    val postings = spark
      .table(s"${indexName}_postings")
      .where(col("tok").isin(termLits: _*))
      .join(broadcast(qterms), "tok")
    val dl     = spark.table(s"${indexName}_docstats")
    val consts = spark.table(s"${indexName}_stats").agg(sum("n_tokens").cast("double").as("__ctot"))
    qlRank(postings, dl, consts, qterms, k, mu, materialize = false)
  }

  /** Default phrase set for [[phraseSearch]] — mixed lengths exercise
    * the per-length gram paths; a phrase absent at a given corpus
    * scale simply returns no rows for that id (both engines agree on
    * absence).
    */
  val defaultPhrases: Seq[(Int, String)] = Seq(
    0 -> "hash join",
    1 -> "table scan",
    2 -> "big order scan",
    3 -> "stream data filter"
  )

  /** Exact-phrase search: top-`k` documents per phrase by occurrence
    * count. An L-token phrase is exactly one L-gram, so matching rides
    * the same [[gramInstances]] machinery as the dedup family: one
    * gram pass per DISTINCT phrase length over the corpus, each
    * filtered to the phrase literals BEFORE any shuffle (the isin
    * filter sits under the aggregation, so only matching instances
    * leave the scan stage), then a count per (phrase, doc) and a
    * per-phrase top-k window over matched docs only. Counts are exact
    * integers — no floating-point anywhere — and ties break by doc_id,
    * so ordering is trivially cross-engine deterministic.
    */
  /** Validate and normalize a phrase set to (phrase_id, gram text,
    * token count) — shared by the one-shot [[phraseSearch]] and the
    * standing-index [[phraseIndexSearch]] so both reject the same
    * malformed inputs (a phrase the tokenizer could never emit would
    * silently read as "no results" instead of the caller error it is).
    */
  private def normalizePhrases(phrases: Seq[(Int, String)]): Seq[(Int, String, Int)] = {
    require(phrases.nonEmpty, "empty phrase set")
    require(phrases.map(_._1).distinct.length == phrases.length, "duplicate phrase_id")
    val norm = phrases.map { case (pid, p) =>
      val ts = p.trim.split("\\s+").toSeq
      require(ts.nonEmpty && ts.forall(t => t.nonEmpty && t.forall(_.isLetter)),
        s"phrase $pid '$p' is not a space-separated letter-token sequence")
      (pid, ts.mkString(" "), ts.length)
    }
    require(norm.map(_._2).distinct.length == norm.length, "duplicate phrase text")
    norm
  }

  def phraseSearch(
      spark: SparkSession,
      dir: String,
      phrases: Seq[(Int, String)] = defaultPhrases,
      k: Int = 10
  ): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    val norm = normalizePhrases(phrases)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val hits = norm
      .groupBy(_._3)
      .toSeq
      .map { case (len, ps) =>
        val pdf = ps.map { case (pid, g, _) => (pid, g) }.toDF("phrase_id", "g")
        gramInstances(docs, len, materialize = false)
          .where(col("g").isin(ps.map(_._2): _*))
          .join(broadcast(pdf), "g")
          .groupBy("phrase_id", "doc_id")
          .agg(count(lit(1)).as("n_hits"))
      }
      .reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("phrase_id")
      .orderBy(col("n_hits").desc, col("doc_id"))
    hits
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("phrase_id", "rnk", "doc_id", "n_hits")
      .orderBy("phrase_id", "rnk")
  }

  /** Build and persist the STANDING phrase index — the deployment
    * shape of [[phraseSearch]], which re-tokenizes the corpus once per
    * distinct phrase length per CALL; at 100 TB every search paying a
    * corpus scan is the cost a standing index exists to delete. Two
    * tables:
    *
    *   - `name_grams` (g, doc_id, n_hits): occurrence counts of every
    *     `lengths`-gram, bucketed by `g` so probes scan only the
    *     buckets their literal phrases hash to (the `bm25_index_topk`
    *     bucket-pruning pattern) and join exchange-free on the index
    *     side. Append-friendly: multiple rows per (g, doc_id) across
    *     ingest batches — readers SUM (the gram-index contract);
    *   - `name_lens` (l): which phrase lengths are indexed — probes
    *     fail LOUDLY on an unindexed length instead of silently
    *     returning no rows.
    *
    * An L-token phrase is exactly one L-gram, so a probe is a lookup,
    * not a scan: filter by phrase literals (bucket-pruned), sum counts,
    * rank. Index size is one row per distinct (gram, doc) — the same
    * order as the dedup gram index the corpus already carries.
    */
  def buildPhraseIndex(
      corpus: DataFrame,
      name: String,
      lengths: Seq[Int] = Seq(2, 3),
      buckets: Int = 32
  ): Unit = {
    require(lengths.nonEmpty && lengths.forall(_ >= 1), s"bad phrase lengths $lengths")
    require(lengths.distinct.length == lengths.length, s"duplicate phrase lengths in $lengths")
    val spark = corpus.sparkSession
    graft.sources.Bucketing.writeBucketedKeys(
      phraseGramCounts(corpus, lengths),
      s"${name}_grams",
      buckets,
      Seq("g")
    )
    val lensTable = s"${name}_lens"
    graft.sources.Bucketing.dropWithLocation(spark, lensTable)
    import spark.implicits._
    lengths.toDF("l").write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("parquet").saveAsTable(lensTable)
  }

  /** Per-length gram occurrence counts (g, doc_id, n_hits) for the
    * phrase index — one [[gramInstances]] pass per length, counts
    * aggregated BEFORE the write so the stored row count is distinct
    * (gram, doc) pairs, not raw instances.
    */
  private def phraseGramCounts(docs: DataFrame, lengths: Seq[Int]): DataFrame =
    lengths
      .map(l =>
        gramInstances(docs.select("doc_id", "text"), l, materialize = false)
          .groupBy("g", "doc_id")
          .agg(count(lit(1)).as("n_hits"))
      )
      .reduce(_ unionByName _)

  /** Append NEW documents to a [[buildPhraseIndex]] index (batch
    * doc_ids disjoint from the corpus — the immutable-prior-rows
    * stance of every standing index). One row per (gram, doc) per
    * append; readers sum. The indexed lengths come from the index's
    * own `_lens` table — an append can never silently index a
    * different gram set than the build.
    */
  def appendPhraseIndex(batch: DataFrame, name: String, buckets: Int = 32): Unit = {
    val spark   = batch.sparkSession
    val lengths = spark.table(s"${name}_lens").orderBy("l").collect().map(_.getInt(0)).toSeq
    graft.sources.Bucketing.appendBucketedKeys(
      phraseGramCounts(batch, lengths),
      s"${name}_grams",
      buckets,
      Seq("g")
    )
    spark.catalog.refreshTable(s"${name}_grams")
  }

  /** Exact-phrase search against the standing index: zero corpus scans
    * — the gram table scan is BUCKET-PRUNED by the literal phrase
    * texts, counts sum across append rows, and ranking windows over
    * matched docs only. Identical results to [[phraseSearch]] over the
    * same corpus by construction (hash-oracled against the same
    * from-scratch SQL). Phrases whose length is not indexed fail with
    * the lengths the index actually holds.
    */
  def phraseIndexSearch(
      spark: SparkSession,
      indexName: String,
      phrases: Seq[(Int, String)] = defaultPhrases,
      k: Int = 10
  ): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    val norm    = normalizePhrases(phrases)
    val indexed = spark.table(s"${indexName}_lens").collect().map(_.getInt(0)).toSet
    val missing = norm.filter(p => !indexed.contains(p._3))
    require(
      missing.isEmpty,
      s"phrases ${missing.map(_._1).mkString(",")} have unindexed lengths " +
        s"${missing.map(_._3).distinct.mkString(",")}; index '$indexName' holds ${indexed.toSeq.sorted.mkString(",")}"
    )
    val pdf = norm.map { case (pid, g, _) => (pid, g) }.toDF("phrase_id", "g")
    val hits = spark
      .table(s"${indexName}_grams")
      .where(col("g").isin(norm.map(_._2): _*))
      .join(broadcast(pdf), "g")
      .groupBy("phrase_id", "doc_id")
      .agg(sum("n_hits").as("n_hits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("phrase_id")
      .orderBy(col("n_hits").desc, col("doc_id"))
    hits
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("phrase_id", "rnk", "doc_id", "n_hits")
      .orderBy("phrase_id", "rnk")
  }

  /** Compact an append-accumulated BM25 index in place: every append
    * adds small bucket files and one stats row, so a long-lived index
    * drifts toward many-files-per-bucket reads. Compaction rewrites
    * postings/docstats into fresh buckets and folds the additive stats
    * rows into one; probe results are unchanged by construction
    * (readers already aggregate), so this is purely a read-
    * amplification reset — the standing-index analogue of
    * [[graft.operators.DataOps.compactParquet]].
    */
  /** The write-aside-then-swap protocol lives in
    * [[graft.sources.Bucketing.swapInCompacted]] — shared by every
    * index family's compaction so the crash-recovery logic has exactly
    * one implementation.
    */
  def compactBm25Index(spark: SparkSession, name: String, buckets: Int = 32): Unit = {
    graft.sources.Bucketing.compactBucketed(spark, s"${name}_postings", buckets, Seq("tok"))
    graft.sources.Bucketing.compactBucketed(spark, s"${name}_docstats", buckets, Seq("doc_id"))
    val statsTable = s"${name}_stats"
    graft.sources.Bucketing.swapInCompacted(spark, statsTable) { tmp =>
      graft.sources.Bucketing.dropWithLocation(spark, tmp)
      spark
        .table(statsTable)
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet")
        .saveAsTable(tmp)
    }
  }

  /** Compact an append-accumulated gram index ([[buildGramIndex]]):
    * fold the multiple rows per gram that appends leave (readers
    * `sum(df_docs), min(canon)`) back into one row per gram in fresh
    * buckets, via the same write-aside-then-swap protocol. Probe
    * results unchanged; read amplification reset.
    */
  def compactGramIndex(spark: SparkSession, name: String, buckets: Int = 32): Unit =
    graft.sources.Bucketing.compactBucketed(
      spark,
      s"${name}_gramdf",
      buckets,
      Seq("g"),
      fold = _.groupBy("g").agg(sum("df_docs").as("df_docs"), min("canon").as("canon"))
    )

  /** Compact an append-accumulated phrase index ([[buildPhraseIndex]]):
    * fold the multiple rows per (g, doc_id) that appends leave (probes
    * `sum(n_hits)`) back into one row per pair in fresh buckets, via
    * the shared write-aside-then-swap protocol. Probe results
    * unchanged; read amplification reset. The `_lens` table is
    * single-write metadata — nothing to compact.
    */
  def compactPhraseIndex(spark: SparkSession, name: String, buckets: Int = 32): Unit =
    graft.sources.Bucketing.compactBucketed(
      spark,
      s"${name}_grams",
      buckets,
      Seq("g"),
      fold = _.groupBy("g", "doc_id").agg(sum("n_hits").as("n_hits"))
    )

  /** Retrieval against the standing index: zero corpus scans — the
    * postings scan is BUCKET-PRUNED by the literal query terms (only
    * the buckets those terms hash to are read), document stats join
    * per candidate, and the additive stats rows sum to the corpus
    * constants. Identical arithmetic to [[bm25TopK]] via [[bm25Rank]]:
    * over the same corpus the two return byte-identical rows (the
    * probe is hash-oracled against the same from-scratch SQL).
    */
  def bm25IndexProbe(
      spark: SparkSession,
      indexName: String,
      queries: Seq[(Int, Seq[String])] = defaultBm25Queries,
      k: Int = 5,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    import spark.implicits._
    requireValidQueries(queries)
    val qterms = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")
    val termLits = queries.flatMap(_._2).distinct
    val postings = spark
      .table(s"${indexName}_postings")
      .where(col("tok").isin(termLits: _*))
      .join(broadcast(qterms), "tok")
    val dl = spark.table(s"${indexName}_docstats")
    val consts = spark
      .table(s"${indexName}_stats")
      .agg(sum("n_docs").cast("double").as("__n"), sum("n_tokens").cast("double").as("__ntok"))
      .select(col("__n"), (col("__ntok") / col("__n")).as("__avgdl"))
    val ranked = bm25Rank(postings, dl, consts, k, k1, b)
    // Loud plan assertion (the pageRankBucketed convention): the
    // standing-index claim is that a probe reads only the POSTINGS
    // BUCKETS holding the query terms — corpus growth changes probe
    // cost only through those buckets. The `tok IN (literals)` filter
    // must therefore reach the bucketed scan as bucket pruning
    // (SelectedBucketsCount n < total, n bounded by the distinct query
    // terms); if a plan change ever drops the pruning (e.g. a rewrite
    // that hides the literals behind a join), the probe refuses to run
    // instead of silently full-scanning the index.
    val planStr = ranked.queryExecution.executedPlan.toString
    val prunedScans = """SelectedBucketsCount: (\d+) out of (\d+)""".r
      .findAllMatchIn(planStr)
      .map(mm => (mm.group(1).toInt, mm.group(2).toInt))
      .toSeq
    require(
      prunedScans.exists { case (n, total) => n < total && n <= termLits.size },
      s"bm25IndexProbe: postings scan is not bucket-pruned to the ${termLits.size} query terms " +
        s"(pruned scans seen: $prunedScans) — the standing-index probe degraded to a full scan:\n" +
        planStr.take(4000)
    )
    ranked
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009 — the
    * standard zero-tuning hybrid-retrieval combiner): fuse two
    * per-query rankings by score 1/(c + rank_a) + 1/(c + rank_b)
    * (absent from a list contributes 0). Rank-only — the two
    * scorers' score scales never meet, which is the point — and
    * bit-exact cross-engine: the ranks are integers and the fused
    * score is one fixed-shape two-term float expression, no
    * summation-order freedom. Inputs are (query_id, rnk, doc_id, …)
    * rankings, e.g. [[bm25IndexProbe]] + [[qlIndexProbe]] — hybrid
    * serving from ONE standing index. The fuse itself is one
    * full-outer join on (query, doc) + one window: candidate-count
    * work, nothing corpus-sized.
    */
  def rrfFusion(a: DataFrame, b: DataFrame, k: Int = 5, c: Int = 60): DataFrame = {
    require(k >= 1 && c >= 1, s"need k >= 1 and c >= 1, got k=$k c=$c")
    val ra = a.select(col("query_id"), col("doc_id"), col("rnk").as("rnk_a"))
    val rb = b.select(col("query_id"), col("doc_id"), col("rnk").as("rnk_b"))
    val fused = ra
      .join(rb, Seq("query_id", "doc_id"), "full_outer")
      .withColumn(
        "rrf",
        coalesce(lit(1.0) / (lit(c.toDouble) + col("rnk_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toDouble) + col("rnk_b")), lit(0.0))
      )
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    fused
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"), col("doc_id"), col("rrf"))
      .orderBy("query_id", "rnk")
  }

  /** RM3-style pseudo-relevance-feedback expansion (Lavrenko &
    * Croft's relevance models, the Anserini RM3 default shape): run
    * the query, take its `kDocs` best documents, promote the `mExp`
    * heaviest non-query terms of those documents (total tf, ties to
    * the lexicographically smaller term — integer-deterministic) into
    * the query, and rank again. The expansion table is
    * queries×mExp-sized, collected to the driver so the second pass
    * keeps the literal-pruned probe shape the one-shot rankers use.
    */
  def rm3ExpandedQueries(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Int, Seq[String])] = defaultBm25Queries,
      kDocs: Int = 3,
      mExp: Int = 2
  ): Seq[(Int, Seq[String])] = {
    import spark.implicits._
    require(kDocs >= 1 && mExp >= 0)
    val top = bm25TopK(spark, dir, queries, k = kDocs).select(col("query_id"), col("doc_id"))
    val qterms = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")
    val tf = tokenRows(spark, dir)
      .join(broadcast(top.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val expansion = rm3Expansion(tf, top, qterms, mExp)
    queries.map { case (qid, ts) => qid -> (ts ++ expansion.getOrElse(qid, Nil)) }
  }

  /** Expansion-term selection over a precomputed (doc_id, tok, tf)
    * relation: heaviest `mExp` non-query terms of each query's
    * feedback docs (total tf desc, term asc — integer-deterministic),
    * collected to the driver (queries×mExp rows).
    */
  private def rm3Expansion(
      tf: DataFrame,
      top: DataFrame,
      qterms: DataFrame,
      mExp: Int
  ): Map[Int, Seq[String]] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("w").desc, col("tok"))
    tf
      .join(broadcast(top), Seq("doc_id"))
      .join(broadcast(qterms), Seq("query_id", "tok"), "left_anti")
      .groupBy("query_id", "tok")
      .agg(sum("tf").as("w"))
      .withColumn("rw", row_number().over(w))
      .filter(col("rw") <= mExp)
      .select("query_id", "tok", "rw")
      // bounded by construction BEFORE the collect: rw <= mExp caps the
      // relation at |queries| x mExp rows (the per-query top-k filter is
      // the enforced bound — never a corpus-sized driver pull)
      .collect()
      .groupBy(_.getInt(0))
      .map { case (qid, rows) => qid -> rows.sortBy(_.getInt(2)).map(_.getString(1)).toSeq }
  }

  /** BM25 over the RM3-expanded queries — the full feedback loop.
    *
    * ONE corpus tokenize serves all three legs (guide §2.4 — remove
    * repeat passes): the checkpointed (doc_id, tok, tf) relation feeds
    * the pass-1 ranking, the expansion-term selection AND the pass-2
    * ranking. The composed form re-tokenized the corpus per leg (a
    * full tokenize+shuffle in each bm25TopK plus one for the expansion
    * tf); the arithmetic downstream of tf is unchanged, so the result
    * is bit-identical.
    */
  def rm3TopK(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Int, Seq[String])] = defaultBm25Queries,
      kDocs: Int = 3,
      mExp: Int = 2,
      k: Int = 5
  ): DataFrame = {
    import spark.implicits._
    requireValidQueries(queries)
    require(kDocs >= 1 && mExp >= 0)
    val tf = tokenRows(spark, dir)
      .where(col("doc_id").isNotNull)
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false) // consumers: pass-1 postings, dl, expansion, pass-2 postings
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl")).localCheckpoint(eager = false)
    val consts = Tables
      .documents(spark, dir)
      .agg(count(lit(1)).cast("double").as("__n"))
      .crossJoin(broadcast(dl.agg(sum("dl").cast("double").as("__ntok"))))
      .select(col("__n"), (col("__ntok") / col("__n")).as("__avgdl"))
    val qterms1 = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")
    val top = bm25Rank(tf.join(broadcast(qterms1), "tok"), dl, consts, kDocs, 1.2, 0.75)
      .select(col("query_id"), col("doc_id"))
    val expansion = rm3Expansion(tf, top, qterms1, mExp)
    val expanded  = queries.map { case (qid, ts) => qid -> (ts ++ expansion.getOrElse(qid, Nil)) }
    requireValidQueries(expanded)
    val qterms2 = expanded
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")
    bm25Rank(tf.join(broadcast(qterms2), "tok"), dl, consts, k, 1.2, 0.75)
  }

  /** Search-result SNIPPETS: for each query's best document, the
    * `window`-token span covering the most DISTINCT query terms (ties
    * → earliest span) — the highlighting step of a search stack,
    * integer-exact end to end (hit positions, distinct counts,
    * argmax by (count desc, pos asc)), so it hash-replays.
    *
    * Scale shape: only the top documents are ever tokenized with
    * positions (a broadcast semi-join prunes the corpus scan to ≤
    * |queries| docs), and the window scoring is a per-(query, doc)
    * hit-position band self-join — hits per doc are query-term
    * occurrences, a few dozen rows, so the quadratic-looking band
    * join is constant-bounded per result row.
    */
  def snippets(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Int, Seq[String])] = defaultBm25Queries,
      window: Int = 10
  ): DataFrame = {
    import spark.implicits._
    require(window >= 1)
    val top1 = bm25TopK(spark, dir, queries, k = 1)
      .select(col("query_id"), col("doc_id"))
      .localCheckpoint(eager = false)
    val qterms = queries
      .flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("query_id", "tok")
    val docToks = Tables
      .documents(spark, dir)
      .join(broadcast(top1.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), expr("letter_tokens(text)").as("tks"))
      .localCheckpoint(eager = false)
    val hits = docToks
      .select(col("doc_id"), posexplode(col("tks")).as(Seq("pos0", "tok")))
      .withColumn("pos", col("pos0") + 1)
      .join(broadcast(top1), Seq("doc_id"))
      .join(broadcast(qterms), Seq("query_id", "tok"))
      .select(col("query_id"), col("doc_id"), col("tok"), col("pos"))
      .localCheckpoint(eager = false)
    val h1 = hits.select(col("query_id"), col("doc_id"), col("pos").as("start"))
    val h2 = hits.select(col("query_id"), col("doc_id"), col("tok").as("t2"), col("pos").as("p2"))
    val scored = h1
      .join(h2, Seq("query_id", "doc_id"))
      .filter(col("p2") >= col("start") && col("p2") <= col("start") + (window - 1))
      .groupBy("query_id", "doc_id", "start")
      .agg(countDistinct(col("t2")).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id", "doc_id")
      .orderBy(col("n_terms").desc, col("start"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(docToks, Seq("doc_id"))
      .select(
        col("query_id"),
        col("doc_id"),
        col("start").cast("long").as("snippet_start"),
        col("n_terms"),
        concat_ws(" ", slice(col("tks"), col("start"), lit(window))).as("snippet")
      )
      .orderBy("query_id")
  }

  // -------------------------------------------------- compression quality

  /** Per-document deflate compression ratio — the classic corpus
    * quality / repetitiveness signal (CCNet/Gopher-style pipelines:
    * templated or highly repetitive text compresses far below natural
    * prose, near-random noise compresses above it; both tails get
    * filtered). One `Deflater` per PARTITION, reset per document — a
    * narrow single-pass transform that pipelines inside the scan
    * stage at 100 TB (the imperative-codec case `mapPartitions`
    * exists for, like [[Multimodal.extractMeta]]).
    *
    * Deterministic within a JVM/zlib build, but no SQL engine exposes
    * deflate, so the registry entry is rows-only;
    * `check_compression_ratio` pins the invariants the signal rests
    * on (range, repetition-shrinks-ratio, determinism) as an
    * oracle-green query. Empty documents get ratio 1.0 by convention
    * (deflate of nothing is pure overhead, not signal).
    */
  def compressionRatio(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      level: Int = 6
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val defl = new java.util.zip.Deflater(level, true)
        // release the native zlib buffer at task end — finalization is
        // too late in a long-lived executor running many partitions
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => defl.end()))
        val buf = new Array[Byte](1 << 16)
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset()
          defl.setInput(bytes)
          defl.finish()
          var n = 0L
          while (!defl.finished()) n += defl.deflate(buf)
          val ratio = if (bytes.isEmpty) 1.0 else n.toDouble / bytes.length
          (id, bytes.length.toLong, n, ratio)
        }
      }
      .toDF(idCol, "n_bytes", "n_compressed", "ratio")
      .orderBy(idCol)
  }

  /** Query spell correction against the corpus vocabulary (the
    * Norvig candidate-model shape, distributed): each query term maps
    * to the vocabulary term within edit distance ≤ `maxDist` ranked
    * by (distance asc, corpus frequency desc, term asc) — an in-vocab
    * term corrects to itself at distance 0, a term with no candidate
    * is absent. Candidates come from the Ed-Join machinery
    * ([[Dedup.editDistanceJoin]] run BIPARTITE by tagging the two
    * sides into one id space: query ids 1..k sit below the vocab id
    * offset, so the join's `a < b` pairs are exactly query×vocab plus
    * discardable query×query rows) — never a query × vocabulary cross
    * product, which is the whole point when the vocabulary is the
    * corpus's and the query log is large.
    */
  def spellCorrect(spark: SparkSession, dir: String, terms: Seq[String], maxDist: Int = 2): DataFrame = {
    import spark.implicits._
    require(terms.nonEmpty && terms.size < VocabOffset, "need 1..1e6 query terms")
    val vocab = graft.operators.DataOps
      .vocabIds(spark, dir)
      .select(col("vocab_id"), col("term"), col("cnt"))
      .localCheckpoint(eager = false)
    val qdf = terms.zipWithIndex
      .map { case (t, i) => (i + 1L, t) }
      .toDF("id", "s")
    val tagged = qdf.unionByName(
      vocab.select((col("vocab_id") + VocabOffset).as("id"), col("term").as("s"))
    )
    val pairs = graft.operators.Dedup
      .editDistanceJoin(tagged, maxDist)
      .filter(col("a") <= terms.size.toLong && col("b") > VocabOffset)
      .select(col("a").as("qid"), (col("b") - VocabOffset).as("vocab_id"), col("dist"))
    pairs
      .join(vocab, Seq("vocab_id"))
      .groupBy("qid")
      .agg(
        min(struct(col("dist"), (-col("cnt")).as("nc"), col("term"))).as("best")
      )
      .join(qdf.select(col("id").as("qid"), col("s").as("query_term")), Seq("qid"))
      .select(
        col("query_term"),
        col("best.term").as("corrected"),
        col("best.dist").as("dist"),
        (-col("best.nc")).as("cnt")
      )
      .orderBy("query_term")
  }

  private val VocabOffset = 1000000L
}
