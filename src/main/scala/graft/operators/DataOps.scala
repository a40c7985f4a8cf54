package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation utilities for the training-data pipeline: document
  * winnowing fingerprints, deterministic dataset splits, and the
  * salted-join skew recipe.
  */
object DataOps {

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    * k-gram, slide a window of `w` consecutive k-gram hashes, keep each
    * window's minimum — the classic guarantee that any match of length
    * ≥ w+k-1 shares a fingerprint. Hashes use the engine-portable
    * integer scheme (ascii/length mod p) so the DuckDB oracle can
    * replay them exactly; the narrow pass is one window over
    * (doc, position).
    */
  def winnowFingerprints(spark: SparkSession, dir: String, k: Int = 3, w: Int = 4): DataFrame = {
    require(k <= 6, "k-gram multipliers stay overflow-free up to k=6")
    val multipliers = Seq.iterate(1L, k)(_ * 131L)
    val tokVal = (j: Int) => s"(ascii(element_at(tk, i + $j)) * 131 + length(element_at(tk, i + $j))) % 1000003"
    val gramHash = (0 until k).map(j => s"(${tokVal(j)}) * ${multipliers(j)}L").mkString("(", " + ", s") % 1000000007L")
    val grams = Tables
      .documents(spark, dir)
      .select(col("doc_id"), expr("letter_tokens(text)").as("tk"))
      .filter(size(col("tk")) >= k)
      .select(
        col("doc_id"),
        posexplode(expr(s"transform(sequence(1, size(tk) - ${k - 1}), i -> $gramHash)")).as(Seq("pos", "gh"))
      )
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    grams
      .withColumn("winmin", min("gh").over(win))
      .groupBy(col("doc_id"), col("winmin").as("fp"))
      .agg(count(lit(1)).as("n_windows"))
      .orderBy("doc_id", "fp")
  }

  /** Deterministic train/valid/test assignment from a multiplicative
    * id hash — reproducible across engines and runs, no RNG state.
    */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        ((col("doc_id") * 2654435761L) % 100).as("bucket")
      )
      .withColumn(
        "split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "valid").otherwise("test")
      )
      .select("doc_id", "split")
      .orderBy("doc_id")

  /** Sequence packing: assign documents to fixed-token-budget bins by
    * prefix-sum binning — the batch-construction step between a
    * curated corpus and a trainer. Packing runs WITHIN each source
    * shard (window partitioned by `source`), never as a global ordered
    * window: a single global prefix sum is the one window shape that
    * cannot scale, and real corpora pack per shard anyway. A document
    * straddling a boundary stays in the bin its prefix starts in
    * (contiguous-fill semantics, deterministic by doc_id order).
    */
  def packSequences(spark: SparkSession, dir: String, budgetTokens: Long = 2048L): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .documents(spark, dir)
      .select(
        col("source"),
        col("doc_id"),
        size(expr("letter_tokens(text)"))
          .cast("long")
          .as("n_tokens")
      )
      .withColumn("cum", sum("n_tokens").over(w))
      .select(
        col("source"),
        col("doc_id"),
        col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / budgetTokens).cast("long").as("bin_id")
      )
      .orderBy("source", "doc_id")
  }

  /** Deterministic weighted mixture sampling — the "dataset mixing"
    * step of a training pipeline: each source gets a weight in epochs
    * (2.25 = every doc appears twice, plus a deterministic 25% appears
    * a third time; 0.5 = half the docs appear once; 0 = excluded).
    * The fractional part is admitted by the same multiplicative id
    * hash as [[datasetSplit]], so the sample is reproducible across
    * engines and runs with no RNG state, and a doc's fate never
    * changes as other sources' weights do. One narrow pass + an
    * explode — no shuffle at all.
    */
  def weightedMixture(spark: SparkSession, dir: String, weights: Map[String, Double]): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("w", element_at(typedLit(weights), col("source")))
      .filter(col("w").isNotNull && col("w") > 0.0)
      .withColumn("bucket", (col("doc_id") * 2654435761L) % 100)
      .withColumn(
        "copies",
        (floor(col("w")) + when(col("bucket") < (col("w") - floor(col("w"))) * 100.0, 1).otherwise(0)).cast("long")
      )
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("source"), explode(sequence(lit(1L), col("copies"))).as("epoch"))
      .orderBy("doc_id", "epoch")

  /** Temperature-balanced mixture (τ = 2, the mT5/multilingual
    * rebalancing rule): per-source sampling mass ∝ n_i^(1/τ), realized
    * as a per-doc admission fraction f_i = sqrt(n_min / n_i) so the
    * SMALLEST source is kept whole and every larger source is
    * down-sampled toward the balanced mix — the standard fix for
    * head-language domination without starving the tail.
    *
    * Determinism: the fraction is computed in integer basis points,
    * `fbp = floor(10000·sqrt(n_min·n_i) / n_i)` — sqrt is IEEE
    * correctly-rounded, so every engine computes the identical double
    * from the identical integers — and admission reuses the
    * multiplicative-id-hash bucket of [[weightedMixture]]: no RNG, a
    * doc's fate is a pure function of (doc_id, source counts).
    * One counting aggregate + one broadcast join; emits the
    * per-source audit row (n_docs, fbp, n_selected, sum_sel_ids).
    */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val nMin   = counts.agg(min("n").as("n_min"))
    val admitted = docs
      .join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(nMin))
      .withColumn("fbp", floor(lit(10000.0) * sqrt((col("n_min") * col("n")).cast("double")) / col("n")).cast("long"))
      .withColumn("bucket", (col("doc_id") * 2654435761L) % 10000L)
      .withColumn("sel", col("bucket") < col("fbp"))
    admitted
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        max("fbp").as("fbp"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("sel"), col("doc_id")).otherwise(0L)).as("sum_sel_ids")
      )
      .orderBy("source")
  }

  /** Deterministic stratified sample: exactly `perSource` docs from
    * each source (fewer if the stratum is smaller), chosen by rank
    * under the multiplicative id hash — a stable pseudo-random order
    * that every engine can replay, so "the sample" is a pure function
    * of the data. The per-stratum top-k is a window here for oracle
    * parity; the bounded-shuffle form is [[graft.functions.TopKAgg]].
    */
  /** Weighted sample without replacement (Efraimidis–Spirakis A-ES,
    * exponential-key form): inclusion probability proportional to
    * weight (`n_chars` here — the "sample long documents more" mix
    * knob), selected in ONE pass as the global bottom-k of the race
    * key e = −ln(u)/w. Selection is `orderBy().limit(k)` — Spark plans
    * TakeOrderedAndProject (per-partition heaps, k rows to the
    * driver), never a single-partition window, so the pass scales to
    * any corpus.
    *
    * Deterministic and oracle-replayable: the per-row uniform is the
    * multiplicative-hash residue mapped into (0, 1] (the same
    * [[deterministicShuffle]] arithmetic — exact integers in both
    * engines; the +1 keeps u off 0 where ln blows up). Ranking uses
    * the RAW key — race keys scale as 1/w, so quantizing before
    * selection would collapse heavy documents into giant doc_id-break
    * ties and erase the weight-proportional property; hash-uniform
    * keys are generically far further apart than the 1-ulp ln()
    * difference the two engines can disagree by. The REPORTED columns
    * are all exact integers — the hash residue `u_res` (the key's
    * numerator: rawkey = −ln(u_res/1000000008)/w) and the weight — so
    * the oracle hash compares exact bytes; a rounded float key would
    * reintroduce the decimal-boundary flake the selection argument
    * just excluded.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val uRes = col("doc_id") * lit(2654435761L) % lit(1000000007L) + lit(1L)
    val picked = Tables
      .documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(
        col("doc_id"),
        col("n_chars").cast("long").as("w"),
        uRes.as("u_res"),
        (-log(uRes / lit(1000000008.0)) / col("n_chars")).as("rawkey")
      )
      .orderBy(col("rawkey").asc, col("doc_id").asc)
      .limit(k)
    // rank assignment runs on the k-row result only — the window is
    // post-limit, never corpus-sized
    val wr = Window.orderBy(col("rawkey").asc, col("doc_id").asc)
    picked
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .select(col("rnk"), col("doc_id"), col("w"), col("u_res"))
      .orderBy("rnk")
  }

  def stratifiedSample(spark: SparkSession, dir: String, perSource: Int = 5): DataFrame = {
    val w = Window
      .partitionBy("source")
      .orderBy(((col("doc_id") * 2654435761L) % 1000000007L).asc, col("doc_id").asc)
    Tables
      .documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perSource)
      .select("source", "doc_id", "rk")
      .orderBy("source", "rk")
  }

  /** Vocabulary construction: every corpus term gets a contiguous id
    * 1..V in (frequency desc, term asc) order — the tokenizer-building
    * step between a curated corpus and a trainer.
    *
    * The naive formulation — `row_number()` over a global
    * `Window.orderBy` — forces EVERY row through one partition (Spark
    * plans an Exchange SinglePartition) and is the one window shape
    * that cannot scale. The scale pattern used here: range-partition by
    * the sort key, sort within partitions, then assign ids with
    * per-partition offsets (`RDD.zipWithIndex` — one tiny count job for
    * the partition sizes, then a narrow map). Ids depend only on the
    * total sort order, not on where the range boundaries land, so the
    * result is deterministic; the tie-break (term) makes the order
    * total.
    */
  /** Per-source document cap (the RefinedWeb/C4-style "no domain may
    * dominate the corpus" rule): keep the k highest-value documents of
    * each source, here ranked by length with doc_id tie-break. Runs
    * through [[graft.functions.TopKAgg]], so each mapper ships k
    * (score, id) pairs per source instead of sorting every document of
    * every domain under a window — at crawl scale the difference
    * between shuffling k·|domains| fixed rows and the whole corpus.
    */
  def sourceCap(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.GraftFunctions.register(spark)
    Tables
      .documents(spark, dir)
      .groupBy("source")
      .agg(expr(s"topk_agg(n_chars, doc_id, $k)").as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("source"),
        (col("pos") + 1).cast("long").as("rn"),
        col("t.id").as("doc_id"),
        col("t.score").cast("long").as("n_chars")
      )
      .orderBy("source", "rn")
  }

  def vocabIds(spark: SparkSession, dir: String, parts: Int = 32): DataFrame = {
    import spark.implicits._
    val counts = TextJobs
      .tokenized(Tables.documents(spark, dir).select("doc_id", "text"), "text", "term")
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .select(col("term"), col("cnt"))
      .as[(String, Long)]
    counts
      .repartitionByRange(parts, col("cnt").desc, col("term").asc)
      .sortWithinPartitions(col("cnt").desc, col("term").asc)
      .rdd
      .zipWithIndex()
      .map { case ((term, cnt), idx) => (term, cnt, idx + 1L) }
      .toDF("term", "cnt", "vocab_id")
      .orderBy("vocab_id")
  }

  /** Deterministic corpus shuffle: a reproducible pseudo-random
    * training order (shuffle-before-sharding) with contiguous
    * positions 1..N. The permutation key is the same multiplicative
    * Knuth hash the dataset split and stratified sample use — pure,
    * engine-replayable, no RNG state — and positions are assigned with
    * the [[vocabIds]] range-partition + per-partition-offset pattern,
    * never a single-partition global window.
    */
  def deterministicShuffle(spark: SparkSession, dir: String, parts: Int = 32): DataFrame = {
    import spark.implicits._
    val keyed = Tables
      .documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") * lit(2654435761L) % lit(1000000007L)).as("__k"))
      .as[(Long, Long)]
    keyed
      .repartitionByRange(parts, col("__k").asc, col("doc_id").asc)
      .sortWithinPartitions(col("__k").asc, col("doc_id").asc)
      .rdd
      .zipWithIndex()
      .map { case ((id, _), idx) => (idx + 1L, id) }
      .toDF("pos", "doc_id")
      .orderBy("pos")
  }

  /** Token-budgeted dataset selection (epoch construction): admit
    * documents in a deterministic priority order — (n_chars DESC,
    * doc_id ASC) here, any total order works — until the cumulative
    * token count reaches `budget`; the first document that would
    * exceed it is cut off, matching the SQL prefix-sum semantics
    * `SUM(n_tokens) OVER (ORDER BY …) <= budget`.
    *
    * The global running sum deliberately avoids the one unscalable
    * window shape (`SUM() OVER (ORDER BY …)` plans an Exchange
    * SinglePartition — the whole corpus through one task): same
    * two-pass pattern as [[vocabIds]] — range-partition by the
    * priority key, one tiny job computes per-partition token totals
    * (`parts` rows to the driver), their scan gives each partition its
    * prefix offset, and a narrow second pass emits running sums.
    * Partitions whose offset already exceeds the budget short-circuit
    * without iterating. Cost is two passes over the prioritized rows;
    * the cumulative result depends only on the total order, not the
    * partition boundaries (spec-pinned against the window form).
    */
  def budgetedSelection(spark: SparkSession, dir: String, budget: Long = 20000L, parts: Int = 32): DataFrame = {
    import spark.implicits._
    val toksExpr = "letter_tokens(text)"
    // null-tolerant like every other curation operator: a NULL text
    // counts 0 tokens (size(NULL) is NULL under ANSI and would NPE the
    // non-nullable encoder). NULL n_chars sorts BELOW every real value
    // (-1 sentinel; n_chars is a length, never negative) — DuckDB's
    // ORDER BY … DESC places NULLs last, so coalescing to 0 would
    // interleave NULL rows with true-zero rows in a different order
    // than the oracle's near a budget cutoff
    val prioritized = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        coalesce(col("n_chars").cast("long"), lit(-1L)).as("n_chars"),
        coalesce(size(expr(toksExpr)).cast("long"), lit(0L)).as("n_tokens")
      )
      .as[(Long, Long, Long)]
      .repartitionByRange(parts, col("n_chars").desc, col("doc_id").asc)
      .sortWithinPartitions(col("n_chars").desc, col("doc_id").asc)
      .rdd
    val partTotals = prioritized
      .mapPartitionsWithIndex { case (pid, it) =>
        var s = 0L; it.foreach(s += _._3); Iterator((pid, s))
      }
      .collect()
      .sortBy(_._1)
      .map(_._2)
    val offsets = partTotals.scanLeft(0L)(_ + _)
    val bc      = spark.sparkContext.broadcast(offsets)
    prioritized
      .mapPartitionsWithIndex { case (pid, it) =>
        if (bc.value(pid) > budget) Iterator.empty
        else {
          var run = bc.value(pid)
          it.flatMap { case (id, _, nt) =>
            run += nt
            if (run <= budget) Iterator.single((id, nt, run)) else Iterator.empty
          }
        }
      }
      .toDF("doc_id", "n_tokens", "cum_tokens")
      .orderBy("doc_id")
  }

  /** Z-order (Morton) value for two non-negative integer dimensions:
    * interleave the low `bits` bits of each. Sorting/range-partitioning
    * a table by this value clusters rows so that a rectangle predicate
    * over BOTH dimensions touches few files — parquet min/max pruning
    * then skips the rest, which is the data-layout half of scan
    * performance at 100 TB (pushdown can only skip what the layout
    * separates). Pure codegen'd HOF — no UDF.
    */
  def zOrderValue(xCol: String, yCol: String, bits: Int = 21): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits in [1,31], got $bits")
    expr(
      s"""aggregate(sequence(0, ${bits - 1}), 0L,
         |  (acc, i) -> acc
         |    | shiftleft(shiftright(cast($xCol as long), i) & 1L, 2 * i)
         |    | shiftleft(shiftright(cast($yCol as long), i) & 1L, 2 * i + 1))""".stripMargin
    )
  }

  /** N-dimensional Morton interleave: bit i of dimension j lands at
    * position i*n + j. Same layout contract as [[zOrderValue]]
    * generalized — cluster by this value and a k-dim rectangle
    * predicate touches few files under a zone map. `n * bits` must
    * fit in the 63 value bits of a LONG.
    */
  def zOrderValueN(cols: Seq[String], bits: Int = 20): org.apache.spark.sql.Column = {
    val n = cols.size
    require(n >= 1, "need at least one dimension")
    require(bits >= 1 && n * bits <= 63, s"n*bits must be in [1,63], got ${n * bits}")
    val terms = cols.zipWithIndex
      .map { case (c, j) => s"shiftleft(shiftright(cast($c as long), i) & 1L, i * $n + $j)" }
      .mkString(" | ")
    expr(s"aggregate(sequence(0, ${bits - 1}), 0L, (acc, i) -> acc | $terms)")
  }

  /** Rewrite a table into a z-ordered layout on two dimensions:
    * range-partition by the Morton value (so each output file owns a
    * compact z-range) and sort within partitions (so row groups are
    * compact too).
    */
  def zOrderWrite(df: DataFrame, xCol: String, yCol: String, path: String, files: Int = 16): Unit =
    df.withColumn("__z", zOrderValue(xCol, yCol))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write
      .mode("overwrite")
      .parquet(path)

  /** Snapshot diff (the CDC-style compare an ingest pipeline runs
    * between corpus versions): classify every document as added /
    * removed / changed between two snapshots by content digest.
    * One full outer join on the id, digests computed inline — the
    * 100 TB shape shuffles (id, 32-byte digest) pairs, never text.
    * Presence flags (not digest nullness) decide added/removed, so a
    * NULL-text document is never misclassified; digest comparison is
    * null-safe for the same reason.
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    v1.select(col(idCol), md5(col(textCol)).as("__h1"), lit(1).as("__p1"))
      .join(v2.select(col(idCol), md5(col(textCol)).as("__h2"), lit(1).as("__p2")), Seq(idCol), "full")
      .withColumn(
        "change",
        when(col("__p1").isNull, "added")
          .when(col("__p2").isNull, "removed")
          .when(!(col("__h1") <=> col("__h2")), "changed")
      )
      .filter(col("change").isNotNull)
      .select(col(idCol), col("change"))
      .orderBy(idCol)

  /** Compact a parquet directory into right-sized files — the
    * small-file remediation every long-lived ingest path eventually
    * needs (each streaming micro-batch/append leaves file counts
    * growing; a 100 TB table of 1 MB files pays per-file open/footer
    * cost and floods the driver's file listing). Sizes the rewrite
    * from the CURRENT on-disk bytes (file metadata, no data scan):
    * ceil(bytes / targetBytes) output files. Returns (files_before,
    * files_after, bytes). The rewrite is one shuffle-free coalesce
    * when shrinking; rows are preserved exactly (spec-pinned).
    *
    * Deliberately writes to a NEW directory + atomic swap is left to
    * the caller's table layer (a self-overwriting rewrite that fails
    * mid-job loses data — same reason the V2 sinks stage through temp
    * files).
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String, targetBytes: Long = 128L << 20): (Long, Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val conf = spark.sessionState.newHadoopConf()
    // RECURSIVE listing, matching what spark.read.parquet reads — a
    // partitionBy layout keeps its data in subdirectories, and sizing
    // from the top level alone would see 0 bytes and coalesce(1) the
    // whole table. (The rewrite itself flattens partitioning — compact
    // a partitioned table per partition directory.)
    // hidden-path-aware recursive listing, matching what
    // spark.read.parquet reads (shared with the avro scan)
    def listRec(fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      graft.sources.FsListing.listDataFiles(fs, dir)
    val p         = new org.apache.hadoop.fs.Path(inPath)
    val fs        = p.getFileSystem(conf)
    val dataFiles = listRec(fs, p)
    val bytes     = dataFiles.map(_.getLen).sum
    val nOut      = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    val df        = spark.read.parquet(inPath)
    // coalesce, not repartition: shrinking file counts needs no
    // shuffle (growing them would — caller picks a smaller target)
    df.coalesce(nOut.toInt).write.mode("overwrite").parquet(outPath)
    val after = listRec(fs, new org.apache.hadoop.fs.Path(outPath)).length
    (dataFiles.length.toLong, after.toLong, bytes)
  }

  /** Skew recipe: replicate the small side `salts` ways and scatter the
    * big side's hot keys across them — the manual fallback when AQE's
    * skew-join split isn't available (e.g. a non-shuffle child). Result
    * is identical to the plain join.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt", pmod(xxhash64(col(key), monotonically_increasing_id()), lit(salts)))
    val saltedSmall = small.withColumn("__salt", explode(expr(s"sequence(0, ${salts - 1})")))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** PORTABLE bucketed table checksum — the replication / migration
    * comparator: does this table hold exactly these rows in THAT other
    * engine or cluster, answered by exchanging `buckets` tiny rows
    * instead of the table. Per row: md5 over a '|'-joined canonical
    * string of the named columns, first 10 hex digits as a 40-bit
    * integer; per bucket (hash-partitioned on the same digest, so
    * bucketing itself is portable): row count and SUM of the 40-bit
    * values — addition commutes, so the checksum is independent of
    * row order, partitioning, and engine, and 2⁴⁰ × rows-per-bucket
    * stays far from long overflow at any realistic scale (2⁵⁴ at a
    * billion rows over 64 buckets). Columns must stringify identically
    * across engines — integers, strings, dates; never floats (binary
    * doubles format differently engine to engine).
    *
    * One narrow projection + one aggregation: scan-bound at 100 TB,
    * which is the floor for any full-content comparison.
    */
  def tableChecksum(df: DataFrame, cols: Seq[String], buckets: Int = 64): DataFrame = {
    require(cols.nonEmpty && buckets >= 1)
    val canon = concat_ws("|", cols.map(c => col(c).cast("string")): _*)
    df.select(conv(substring(md5(canon), 1, 10), 16, 10).cast("long").as("h40"))
      .groupBy(pmod(col("h40"), lit(buckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h40")).as("checksum"))
      .orderBy("bucket")
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023) in
    * fixed-point arithmetic: score each raw document by how target-like
    * its unigram profile is, for importance-resampling a pretraining
    * mix toward a target domain.
    *
    * The paper's feature weight is log p_target(w)/p_raw(w); a
    * transcendental replays differently across engines, so this uses
    * the integer ratio r_w = (targetCount_w * SCALE) div rawCount_w —
    * monotone in the likelihood ratio, bit-exact everywhere
    * ([[graft.Tables]] float discipline). A word unseen in the target
    * corpus contributes 0 (hard zero instead of smoothing; documented
    * contract). Score(doc) = Σ_w c_w(doc) * r_w, reported with the
    * doc's token count so callers can length-normalize.
    *
    * Plan: one tokenize+explode pass → per-(doc, word) counts (shuffle
    * on doc_id, word) → corpus and target counts from the SAME grouped
    * frame (shuffle on word) → ratio join back on word → per-doc sum
    * (shuffle on doc_id). Everything is hash-partitioned aggregation;
    * vocabulary never collects to the driver and no stage is
    * proportional to pairs. Overflow: c_w ≤ doc length, r_w ≤ SCALE ×
    * target corpus size; at SCALE=10⁶ the per-doc sum stays < 2⁶³ for
    * any corpus under ~10¹² target tokens per word — far past 100 TB.
    */
  def dsirWeights(
      docs: DataFrame,
      targetPred: org.apache.spark.sql.Column,
      scale: Long = 1000000L
  ): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val perDocWord = docs
      .select(col("doc_id"), targetPred.as("is_target"), explode(expr("letter_tokens(text)")).as("w"))
      .groupBy(col("doc_id"), col("is_target"), col("w"))
      .agg(count(lit(1)).as("c"))
    val ratios = perDocWord
      .groupBy("w")
      .agg(
        sum("c").as("raw_n"),
        sum(when(col("is_target"), col("c")).otherwise(lit(0L))).as("target_n")
      )
      .select(col("w"), expr(s"(target_n * ${scale}L) DIV raw_n").as("r"))
    perDocWord
      .join(ratios, Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("c") * col("r")).as("dsir_score"), sum("c").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** DSIR weights over the documents table with English as the target
    * domain — the raw corpus is everything, the target its `lang='en'`
    * slice.
    */
  def dsirWeightsEn(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.documents(spark, dir), col("lang") === "en")

  /** The DSIR selection step: importance-RESAMPLE the corpus with
    * inclusion probability ∝ the [[dsirWeights]] score, via the same
    * Efraimidis–Spirakis A-ES bottom-k used by [[weightedSample]]
    * (deterministic hash uniforms, race keys −ln(u)/w, global bottom-k
    * as TakeOrderedAndProject — one pass, no corpus-sized window).
    * Zero-weight documents (no target-seen unigram) are ineligible by
    * definition of the race. Output carries only integers; the float
    * race key orders but never hashes.
    */
  def dsirResample(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val uRes = col("doc_id") * lit(2654435761L) % lit(1000000007L) + lit(1L)
    val picked = dsirWeightsEn(spark, dir)
      .filter(col("dsir_score") > 0)
      .select(
        col("doc_id"),
        col("dsir_score"),
        uRes.as("u_res"),
        (-log(uRes / lit(1000000008.0)) / col("dsir_score")).as("rawkey")
      )
      .orderBy(col("rawkey").asc, col("doc_id").asc)
      .limit(k)
    val wr = Window.orderBy(col("rawkey").asc, col("doc_id").asc)
    picked
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .select(col("rnk"), col("doc_id"), col("dsir_score"), col("u_res"))
      .orderBy("rnk")
  }
}
