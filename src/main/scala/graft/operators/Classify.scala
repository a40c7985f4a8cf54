package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed supervised text classification — the trained-classifier
  * tier of a curation pipeline (reference scope: the wc/ii token
  * pipeline, main.go:94-118, generalized to supervised counting).
  *
  * Real 100 TB pipelines gate documents with a *trained* classifier
  * (quality / language / topicality) rather than only the heuristic
  * votes in [[TextAnalysis.languageId]]. Multinomial Naive Bayes is
  * the canonical such model that trains in ONE distributed counting
  * pass — the training job IS a word count grouped by label, so it
  * inherits the same partial-aggregation shape as wc, and the learned
  * model is a (label, token, count) relation that stays a DataFrame
  * end to end (never driver-side).
  *
  * Scale notes (100 TB):
  *   - train: explode + hash-aggregate with map-side partials; one
  *     shuffle on (label, token). Identical shape to `wc_wordcount`.
  *   - classify: the corpus joins the model ON TOKEN (shuffle
  *     equi-join; AQE broadcasts when the model is small). The
  *     per-class fan-out is |classes| (bounded, broadcast), and the
  *     only window is partitioned per document. No global window, no
  *     driver-side vocabulary.
  *   - unseen tokens: handled WITHOUT densifying (doc × vocab) —
  *     a matched-count subtraction folds every unmatched token into
  *     one closed-form Laplace term per (doc, class).
  *   - fit/score are split ([[nbFit]]/[[nbScore]]) so a standing model
  *     scores both batch corpora and micro-batches of a stream
  *     ([[graft.streaming.EventStreams]]-style foreachBatch) without
  *     refitting.
  */
object Classify {

  /** Fitted model: per-(class, token) smoothed log-likelihood relation
    * plus the tiny class relation (priors, token mass, vocab size).
    * Both are DataFrames — cache() them for repeated scoring.
    */
  final case class NbModel(modelScored: DataFrame, classes: DataFrame)

  /** Per-(doc, label, token) counts — training's unit of work. */
  private def docTokenCounts(docs: DataFrame): DataFrame =
    TextJobs
      .tokenized(docs.select("doc_id", "lang", "text"), "text", "tok")
      .groupBy("doc_id", "lang", "tok")
      .agg(count(lit(1)).as("cnt"))

  /** Deterministic leakage-safe split: doc_id % 5 == 0 is held out. */
  private[graft] def trainDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") % 5 =!= 0)
  private[graft] def evalDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") % 5 === 0)

  /** Learned multinomial model: token counts per class over the train
    * split. Pure integer counting — exact at any scale.
    */
  def nbTrainModel(spark: SparkSession, dir: String): DataFrame =
    docTokenCounts(trainDocs(spark, dir))
      .groupBy(col("lang"), col("tok"))
      .agg(sum("cnt").as("cnt"))
      .orderBy("lang", "tok")

  /** Fit the Laplace-smoothed multinomial NB from labeled docs
    * (`doc_id`, `lang`, `text`).
    */
  def nbFit(train: DataFrame): NbModel =
    nbFitCounts(docTokenCounts(train), train.select("doc_id", "lang"))

  /** [[nbFit]]'s core over a PRECOMPUTED token relation
    * (`doc_id`, `lang`, `tok`, `cnt`) plus the doc directory
    * (`doc_id`, `lang` — needed separately because a doc whose text
    * tokenizes to nothing still counts toward its class prior).
    * Split out so [[nbCrossValidate]]/[[nbClassify]] tokenize the
    * corpus ONCE and derive every fold's train/eval from the shared
    * (checkpointed) token relation instead of re-tokenizing per fold.
    */
  private[graft] def nbFitCounts(toks: DataFrame, meta: DataFrame): NbModel = {
    // lazily checkpointed: mass, vocab size and the scored-model
    // projection all consume this relation — without the checkpoint
    // each re-expands the tokenize+count subtree and the corpus is
    // re-scanned per consumer (AQE stage reuse collapses some but not
    // all; plan-evidence spec pins the executed scan count)
    val model = toks
      .groupBy(col("lang").as("c"), col("tok"))
      .agg(sum("cnt").as("mc"))
      .localCheckpoint(eager = false)

    // class relation: priors from doc counts, token mass from the
    // model; a class whose train docs are all empty still exists with
    // n_c = 0. All of this is a handful of rows — broadcast.
    val priors = meta.groupBy(col("lang").as("c")).agg(count(lit(1)).as("d_c"))
    val mass   = model.groupBy("c").agg(sum("mc").as("n_c"))
    // 1-row scalar aggregates enter via crossJoin (repo convention);
    // d re-aggregates the tiny priors relation — never a second
    // corpus scan
    val globals = model
      .agg(countDistinct("tok").as("v"))
      .crossJoin(priors.agg(sum("d_c").as("d")))
    val classes = priors
      .join(mass, Seq("c"), "left")
      .na.fill(0L, Seq("n_c"))
      .crossJoin(globals)

    // per-token class contribution, precomputed on the model side so
    // the big corpus-side join carries one double per matched row
    val modelScored = model
      .join(broadcast(classes.select("c", "n_c", "v")), "c")
      .select(
        col("tok"),
        col("c"),
        log((col("mc") + lit(1.0)) / (col("n_c") + col("v"))).as("ltp")
      )
    NbModel(modelScored, classes)
  }

  /** Score labeled docs (`doc_id`, `lang`, `text`) against a fitted
    * model and pick each doc's argmax class.
    *
    * score(d, c) = ln(D_c / D)
    *             + Σ_{t ∈ d ∩ model_c} n_{d,t} · ln((C_{t,c}+1)/(N_c+V))
    *             + (T_d − matched_d,c) · ln(1/(N_c+V))
    *
    * The argmax ranks on the score QUANTIZED to 6 decimals (then label
    * ascending): the raw score is an IEEE double sum whose addition
    * order Spark's partial aggregation does not fix, so ranking on the
    * unrounded value would let a near-tie flip with partition order;
    * after round(·, 6) the pick is insensitive to any summation-order
    * drift (≲1e-12) except in the measure-zero case of a score sitting
    * within that drift of a 5e-7 grid edge — the explicitly accepted
    * tolerance (cross-engine, the same statement covers the ~1-ulp
    * difference between Java's and DuckDB's `log`; the oracle ranks on
    * the identically-quantized score). Output scores are rounded to 4
    * decimals per the repo-wide double convention. Scoring is per-doc
    * independent, so it is micro-batch-invariant — a stream scored
    * batch by batch equals the batch classification.
    */
  def nbScore(m: NbModel, docs: DataFrame): DataFrame = {
    // two consumers (totals + matched): checkpoint so the scored docs
    // tokenize exactly once
    val evalToks = docTokenCounts(docs).localCheckpoint(eager = false)
    nbScoreCounts(m, evalToks, docs.select(col("doc_id"), col("lang").as("true_lang")))
  }

  /** [[nbScore]]'s core over a precomputed eval token relation
    * (`doc_id`, `tok`, `cnt`) plus the eval doc directory
    * (`doc_id`, `true_lang`). Caller is responsible for checkpointing
    * `evalToks` when it is consumed more than once (it is — totals and
    * matched).
    */
  private[graft] def nbScoreCounts(m: NbModel, evalToks: DataFrame, evalMeta: DataFrame): DataFrame = {
    val docTotals = evalMeta
      .join(
        evalToks.groupBy("doc_id").agg(sum("cnt").as("t_d")),
        Seq("doc_id"),
        "left"
      )
      .na.fill(0L, Seq("t_d"))

    val matched = evalToks
      .join(m.modelScored, "tok")
      .groupBy("doc_id", "c")
      .agg(sum(col("cnt") * col("ltp")).as("msum"), sum("cnt").as("mcnt"))

    val scored = docTotals
      .crossJoin(broadcast(m.classes))
      .join(matched, Seq("doc_id", "c"), "left")
      .na.fill(0L, Seq("mcnt"))
      .na.fill(0.0, Seq("msum"))
      .withColumn(
        "score",
        log(col("d_c").cast("double") / col("d")) +
          col("msum") +
          (col("t_d") - col("mcnt")) * log(lit(1.0) / (col("n_c") + col("v")))
      )

    // argmax as a PARTIAL-AGGREGABLE min(struct(...)) instead of a
    // row_number window: the window exchanged AND sorted the full
    // |docs|×|classes| scored relation by doc; the aggregate's map-side
    // partials shrink the shuffle to |docs| rows per side (guide §2.3
    // "aggregate before you shuffle"). Ordering is IDENTICAL:
    // min(-round(score,6)) == max rounded score (negation is strictly
    // order-reversing under Double.compare, incl. -0.0/0.0), class
    // ascending breaks ties, and the (doc, class)-unique key means the
    // payload field never decides. NaN scores only arise with an empty
    // model (v = 0), where they are uniform across classes — the
    // class tiebreak decides under both forms.
    scored
      .groupBy("doc_id", "true_lang")
      .agg(
        min(
          struct(
            negate(round(col("score"), 6)).as("nr"),
            col("c"),
            round(col("score"), 4).as("lp")
          )
        ).as("pick")
      )
      .select(
        col("doc_id"),
        col("true_lang"),
        col("pick.c").as("pred_lang"),
        col("pick.lp").as("logp")
      )
  }

  /** Classify the held-out split with the model fitted on the train
    * split — the batch form. One corpus tokenize, shared by fit and
    * score ([[nbCrossValidate]]'s pattern at k=1).
    */
  def nbClassify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docTokenCounts(docs).localCheckpoint(eager = false)
    val meta = docs.select("doc_id", "lang").localCheckpoint(eager = false)
    val m    = nbFitCounts(toks.filter(col("doc_id") % 5 =!= 0), meta.filter(col("doc_id") % 5 =!= 0))
    nbScoreCounts(
      m,
      toks.filter(col("doc_id") % 5 === 0).select("doc_id", "tok", "cnt"),
      meta.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("lang").as("true_lang"))
    ).orderBy("doc_id")
  }

  /** k-fold cross-validation accuracy: train on doc_id % folds ≠ k,
    * score fold k, for every k — the standard leakage-safe estimate of
    * classifier quality, emitted as PURE INTEGER (fold, n_correct,
    * n_total) counts.
    *
    * The k models are NEVER fit independently — the corpus is
    * tokenized once and aggregated once to per-(fold, class, token)
    * counts, and fold k's model is the COMPLEMENT rollup
    * `mc_k = total − own_fold` (the delete-aware IVM identity that
    * already maintains `nb_model_incremental`), with `mc_k = 0` rows
    * dropped so each fold's model relation is exactly what an
    * independent fit would produce (bit-identical priors, token mass,
    * vocab size). Scoring is ONE join of the token relation against
    * the per-fold model keyed by (fold, tok) — every doc is the eval
    * split of its own fold — so k-fold CV costs one tokenize + one
    * model-grain aggregate + one score join, independent of k, where
    * the naive form pays k fits and k scores (it was ~10 tokenize
    * passes and the single slowest bench query at both scales). The
    * per-fold msum terms are the same set an independent fit+score
    * would sum (only partial-aggregation order differs — inside the
    * round(·, 6) argmax tolerance [[nbScore]] documents).
    */
  def nbCrossValidate(spark: SparkSession, dir: String, folds: Int = 5): DataFrame = {
    require(folds >= 2, s"cross-validation needs >= 2 folds, got $folds")
    val docs = Tables.documents(spark, dir)
    val meta = docs
      .select(col("doc_id"), col("lang"), (col("doc_id") % folds).as("fold"))
      .localCheckpoint(eager = false) // consumers: per-fold priors + doc totals
    // the ONLY corpus-sized relations: token counts (+ owning fold)
    // and the doc directory; checkpointed — two consumers each
    val toksF = docTokenCounts(docs)
      .withColumn("fold", col("doc_id") % folds)
      .localCheckpoint(eager = false)
    // per-(fold, class, token) counts — model-sized from here on
    val foldTok = toksF
      .groupBy("fold", "lang", "tok")
      .agg(sum("cnt").as("fc"))
      .localCheckpoint(eager = false)
    val foldIds = spark.range(folds).select(col("id").as("fold"))
    val tot     = foldTok.groupBy("lang", "tok").agg(sum("fc").as("tc"))
    // fold-complement model: a bounded k-row fan-out (broadcast), one
    // left join back to the own-fold counts, zero rows dropped
    val modelByFold = tot
      .crossJoin(broadcast(foldIds))
      .join(foldTok, Seq("fold", "lang", "tok"), "left")
      .na.fill(0L, Seq("fc"))
      .select(col("fold"), col("lang").as("c"), col("tok"), (col("tc") - col("fc")).as("mc"))
      .filter(col("mc") > 0L)
      .localCheckpoint(eager = false) // consumers: mass, vocab, scored model
    // class relation per fold: priors/mass/vocab/doc total, all by the
    // same complement identity — tiny (k × classes rows)
    val priFold = meta.groupBy("fold", "lang").agg(count(lit(1)).as("fd"))
    val pri = priFold
      .groupBy("lang")
      .agg(sum("fd").as("dt"))
      .crossJoin(broadcast(foldIds))
      .join(priFold, Seq("fold", "lang"), "left")
      .na.fill(0L, Seq("fd"))
      .select(col("fold"), col("lang").as("c"), (col("dt") - col("fd")).as("d_c"))
      .filter(col("d_c") > 0L) // a class absent from fold k's train split has no prior row there
    val mass  = modelByFold.groupBy("fold", "c").agg(sum("mc").as("n_c"))
    val vocab = modelByFold.groupBy("fold").agg(countDistinct("tok").as("v"))
    val dTot  = pri.groupBy("fold").agg(sum("d_c").as("d"))
    val classes = pri
      .join(mass, Seq("fold", "c"), "left")
      .na.fill(0L, Seq("n_c"))
      .join(vocab, "fold")
      .join(dTot, "fold")
    val ms = modelByFold
      .join(broadcast(classes.select("fold", "c", "n_c", "v")), Seq("fold", "c"))
      .select(
        col("fold"),
        col("tok"),
        col("c"),
        log((col("mc") + lit(1.0)) / (col("n_c") + col("v"))).as("ltp")
      )
    // eval side: each doc scores against its OWN fold's model
    val docTotals = meta
      .join(toksF.groupBy("doc_id").agg(sum("cnt").as("t_d")), Seq("doc_id"), "left")
      .na.fill(0L, Seq("t_d"))
    val matched = toksF
      .join(ms, Seq("fold", "tok"))
      .groupBy("doc_id", "c")
      .agg(sum(col("cnt") * col("ltp")).as("msum"), sum("cnt").as("mcnt"))
    val scored = docTotals
      .join(classes, "fold")
      .join(matched, Seq("doc_id", "c"), "left")
      .na.fill(0L, Seq("mcnt"))
      .na.fill(0.0, Seq("msum"))
      .withColumn(
        "score",
        log(col("d_c").cast("double") / col("d")) +
          col("msum") +
          (col("t_d") - col("mcnt")) * log(lit(1.0) / (col("n_c") + col("v")))
      )
    // same min(struct) argmax as nbScoreCounts (see the comment there):
    // replaces the per-doc row_number window (full exchange + sort of
    // |docs|×|classes| rows) with a partial-aggregable pick
    scored
      .groupBy("doc_id", "fold", "lang")
      .agg(min(struct(negate(round(col("score"), 6)).as("nr"), col("c"))).as("pick"))
      .select(col("doc_id"), col("fold"), col("lang"), col("pick.c").as("pick_c"))
      .groupBy("fold")
      .agg(
        sum((col("pick_c") === col("lang")).cast("long")).as("n_correct"),
        count(lit(1)).as("n_total")
      )
      .orderBy("fold")
  }

  /** Top-k discriminative tokens per class by smoothed log-odds vs the
    * complement class — NB's interpretability artifact ("why is this
    * the 'de' model"). The odds ratio
    * ((C_tc+1)/(N_c+V)) / ((C_t¬c+1)/(N_¬c+V)) is ranked as an EXACT
    * long num/den pair (cross-multiplied), ordered by the int/int
    * double quotient with token tiebreak — the Theil-Sen exact-rational
    * ranking convention. Products stay far under 2⁶³ until corpus
    * token mass approaches ~3×10⁹ per class; beyond that move the pair
    * to DECIMAL (documented, like aucExact).
    */
  def nbTopFeatures(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    val model = docTokenCounts(trainDocs(spark, dir))
      .groupBy(col("lang").as("c"), col("tok"))
      .agg(sum("cnt").as("mc"))
    val mass = model.groupBy("c").agg(sum("mc").as("n_c"))
    val v    = model.agg(countDistinct("tok").as("v"))
    val nt   = model.agg(sum("mc").as("nt"))
    val tc   = model.groupBy("tok").agg(sum("mc").as("tc"))
    val f = model
      .join(tc, "tok")
      .join(broadcast(mass), "c")
      .crossJoin(broadcast(v))
      .crossJoin(broadcast(nt))
      .select(
        col("c").as("lang"),
        col("tok"),
        ((col("mc") + 1L) * ((col("nt") - col("n_c")) + col("v"))).as("odds_num"),
        (((col("tc") - col("mc")) + 1L) * (col("n_c") + col("v"))).as("odds_den")
      )
    f.withColumn(
      "rnk",
      row_number()
        .over(
          Window
            .partitionBy("lang")
            .orderBy((col("odds_num").cast("double") / col("odds_den")).desc, col("tok"))
        )
        .cast("long")
    ).filter(col("rnk") <= topK)
      .orderBy("lang", "rnk")
  }

  /** Confusion matrix of [[nbClassify]] on the held-out split — the
    * classifier's evaluation artifact, pure integer counts (robust at
    * any scale; the per-doc scores in nbClassify carry the rounded
    * doubles).
    */
  def nbConfusion(spark: SparkSession, dir: String): DataFrame =
    nbClassify(spark, dir)
      .groupBy("true_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")
}
