package graft

import graft.operators.TextAnalysis

/** tfIdfTopTerm contract: the oracle (text_tfidf_top) pins the values;
  * this spec pins the EXECUTION shape — building the DataFrame must be
  * lazy (the corpus size enters as a broadcast 1-row aggregate, not a
  * driver-side count), so a caller composing it into a larger plan
  * doesn't pay a hidden extra scan per call.
  */
class TextAnalysisSpec extends SparkSpec {

  test("tfIdfTopTerm builds lazily — no execution job fires at DataFrame construction") {
    // Reading parquet fires one schema-inference job per spark.read —
    // that's plan-construction cost any lazy reader pays. The contract
    // here: tfIdfTopTerm fires exactly as many build-time jobs as a
    // trivially-lazy read of the same table, i.e. no hidden count().
    spark.range(1).count() // session warm
    val baseline = jobsDuring(Tables.documents(spark, sfDir).select("doc_id"))
    var df: org.apache.spark.sql.DataFrame = null
    val actual = jobsDuring { df = TextAnalysis.tfIdfTopTerm(spark, sfDir) }
    assert(
      actual <= baseline,
      s"tfIdfTopTerm fired $actual build-time jobs vs $baseline for a plain lazy read — hidden driver action"
    )
    assert(df.count() > 0)
  }

  test("boilerplateScore: minDocs=1 flags every gram, huge minDocs flags none") {
    // the cap parameter's two extremes pin the join/count logic exactly:
    // at minDocs=1 every distinct gram trivially clears the bar, so
    // n_boiler == n_grams (ratio 1 wherever grams exist); at an
    // unreachable minDocs nothing does
    val all = TextAnalysis.boilerplateScore(spark, sfDir, minDocs = 1).collect()
    assert(all.nonEmpty)
    assert(all.forall(r => r.getLong(1) == r.getLong(2)))
    assert(all.forall(r => r.getLong(1) == 0 || r.getDouble(3) == 1.0))
    assert(all.forall(r => !(r.getLong(1) == 0) || r.isNullAt(3)))
    val none = TextAnalysis.boilerplateScore(spark, sfDir, minDocs = Int.MaxValue).collect()
    assert(none.forall(_.getLong(2) == 0L))
    // same per-doc universe regardless of the threshold
    assert(all.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      none.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("duplicatedSpans: interval merge covers exactly the full doc at minDocs=1, nothing at infinity") {
    // minDocs=1: every gram is duplicated, and the k-gram starts
    // 1..n-k+1 tile the whole token range once merged — coverage must
    // equal n_tokens exactly (an interval-merge bug over- or
    // under-counts here); docs shorter than k have no grams at all
    val all = TextAnalysis.duplicatedSpans(spark, sfDir, minDocs = 1).collect()
    assert(all.nonEmpty)
    all.foreach { r =>
      val (n, cov) = (r.getLong(1), r.getLong(2))
      if (n >= 3) assert(cov == n, s"doc ${r.getLong(0)}: covered $cov != n_tokens $n")
      else assert(cov == 0L)
    }
    val none = TextAnalysis.duplicatedSpans(spark, sfDir, minDocs = Int.MaxValue).collect()
    assert(none.forall(_.getLong(2) == 0L))
  }

  test("dedupSubstrings: canonical copy kept verbatim, duplicates cut, re-run reports zero coverage") {
    import org.apache.spark.sql.functions.col
    // planted corpus: a 6-token passage shared by docs 1/2/3 (embedded
    // in distinct surroundings), plus unique docs 4/5 — nothing else
    // repeats across >= 3 docs
    val passage = "alpha beta gamma delta epsilon zeta"
    val docs = spark
      .createDataFrame(
        Seq(
          (1L, s"one two $passage three four"),
          (2L, s"five six $passage seven eight"),
          (3L, s"nine ten $passage eleven twelve"),
          (4L, "lorem ipsum dolor sit amet unique"),
          (5L, "consectetur adipiscing elit sed do")
        )
      )
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupSubstringsDf(docs, k = 3, minDocs = 3).collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // kept-copy invariant: the minimum doc_id containing the passage
    // keeps its full text; the other two lose exactly the passage
    assert(byId(1L).getString(3) == s"one two $passage three four")
    assert(byId(2L).getString(3) == "five six seven eight")
    assert(byId(3L).getString(3) == "nine ten eleven twelve")
    assert(byId(4L).getString(3) == "lorem ipsum dolor sit amet unique")
    assert(byId(5L).getString(3) == "consectetur adipiscing elit sed do")
    assert(out.forall(r => r.getLong(2) <= r.getLong(1)))
    // re-running the MEASUREMENT half on the deduped corpus: zero
    // duplicated-span coverage — the surviving passage lives in doc 1
    // only, so no gram clears minDocs anymore
    val remeasured = TextAnalysis
      .duplicatedSpansDf(docs.select(col("doc_id")).join(
        spark.createDataFrame(out.map(r => (r.getLong(0), r.getString(3))).toSeq).toDF("doc_id", "text"),
        "doc_id"
      ), k = 3, minDocs = 3)
      .collect()
    assert(remeasured.forall(_.getLong(2) == 0L), remeasured.mkString("; "))
    // idempotence: a second dedup pass changes nothing
    val again = TextAnalysis
      .dedupSubstringsDf(
        spark.createDataFrame(out.map(r => (r.getLong(0), r.getString(3))).toSeq).toDF("doc_id", "text"),
        k = 3,
        minDocs = 3
      )
      .collect()
    assert(again.map(r => r.getLong(0) -> r.getString(3)).toMap ==
      out.map(r => r.getLong(0) -> r.getString(3)).toMap)
  }

  test("incrementalDedupSubstrings: probe == from-scratch on batch rows; corpus-owned spans cut") {
    import org.apache.spark.sql.functions.col
    val passage = "omega psi chi phi upsilon tau"
    val docs = spark
      .createDataFrame(Seq(
        (1L, s"c one $passage c two"),        // corpus: two owners of the passage
        (2L, s"c three $passage c four"),
        (11L, "corpus unique text about nothing shared"),
        (20L, s"b one $passage b two"),       // batch: third occurrence → gram df hits 3
        (21L, "batch unique text entirely novel")
      ))
      .toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 20)
    val batch  = docs.filter(col("doc_id") >= 20)
    graft.operators.TextAnalysis.buildGramIndex(corpus, "t_gram_inc")
    val inc = graft.operators.TextAnalysis
      .incrementalDedupSubstrings(spark, "t_gram_inc", batch)
      .collect()
      .map(r => r.getLong(0) -> r.getString(3))
      .toMap
    // the batch occurrence pushes df to 3; canon is corpus doc 1, so
    // the batch copy is cut while its unique surroundings survive
    assert(inc(20L) == "b one b two")
    assert(inc(21L) == "batch unique text entirely novel")
    // equals from-scratch restricted to the batch
    val full = graft.operators.TextAnalysis
      .dedupSubstringsDf(docs)
      .filter(col("doc_id") >= 20)
      .collect()
      .map(r => r.getLong(0) -> r.getString(3))
      .toMap
    assert(inc == full)
  }

  test("dedupSubstrings on the corpus: kept tokens == n_tokens - duplicatedSpans coverage per doc") {
    // the removal half must cut EXACTLY the token region the
    // measurement half reports, doc by doc — with the one semantic
    // delta that canonical copies are kept: so kept >= n - covered,
    // with equality for every doc that owns no canonical instance.
    // Global invariant that needs no per-doc canonical bookkeeping:
    // sum(kept) == sum(n_tokens) - sum(covered) + sum(canonical spans
    // kept), and every doc individually satisfies the >= bound.
    val measured = TextAnalysis.duplicatedSpans(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val deduped = TextAnalysis.dedupSubstrings(spark, sfDir).collect()
    assert(deduped.nonEmpty)
    deduped.foreach { r =>
      val (n, covered) = measured(r.getLong(0))
      assert(r.getLong(1) == n)
      assert(r.getLong(2) >= n - covered, s"doc ${r.getLong(0)} kept ${r.getLong(2)} < $n - $covered")
    }
    // the corpus has planted duplicates at sf scale — something is cut
    assert(deduped.map(_.getLong(2)).sum < deduped.map(_.getLong(1)).sum)
  }

  test("contaminationBloom == exact benchmarkContamination (bloom is a prefilter, not semantics)") {
    val exact = TextAnalysis.benchmarkContamination(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = TextAnalysis.contaminationBloom(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom == exact)
  }

  test("lmScore: one row per doc, short docs score null, probabilities stay below 1") {
    val docs = Tables.documents(spark, sfDir).count()
    val rows = TextAnalysis.lmScore(spark, sfDir).collect()
    assert(rows.length == docs)
    rows.foreach { r =>
      if (r.getLong(1) == 0L) assert(r.isNullAt(2), s"doc ${r.getLong(0)}: no bigrams but non-null score")
      // add-one smoothing keeps every bigram probability < 1 for any
      // corpus with vocabulary > 1, so the mean log-prob is negative
      else assert(r.getDouble(2) < 0.0, s"doc ${r.getLong(0)}: avg_logp ${r.getDouble(2)} not negative")
    }
  }

  test("tfIdfTopTerm: one row per document, deterministic top term") {
    val rows = TextAnalysis.tfIdfTopTerm(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val again = TextAnalysis.tfIdfTopTerm(spark, sfDir).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getString(1))).toSeq)
  }

  test("bm25TopK matches the Okapi formula exactly on a hand-built corpus") {
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana banana")
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.bm25TopK(spark, dir, queries = Seq(0 -> Seq("apple")), k = 5)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // independent restatement of the formula: N=3, avgdl=3, df(apple)=2
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / 2.5)
    def s(tf: Double, dl: Double) =
      BigDecimal(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq((0, 1L, 1L, s(2, 3)), (0, 2L, 2L, s(1, 2))))
  }

  test("r15 doc-grain retrieval arm == corpus-grain tf arm (bm25 + ql, full rows)") {
    // the r15 rewrite (one doc-keyed conditional aggregation replacing
    // the (doc, tok) tf exchange) must be bit-identical to the tf
    // formulation it replaced — both scorers, all columns. The tf
    // formulation lives here as the reference: corpus-grain (doc, tok)
    // tf, with dl and the corpus constants derived from it, fed to the
    // same ranking tails
    import org.apache.spark.sql.functions._
    import SparkSpec.spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val tf = graft.operators.TextJobs
      .tokenized(docs.select("doc_id", "text"), "text", "tok")
      .where(col("doc_id").isNotNull)
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val qterms = TextAnalysis.defaultBm25Queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")
    val postings = tf.join(broadcast(qterms), "tok")
    val bmConsts = docs
      .agg(count(lit(1)).cast("double").as("__n"))
      .crossJoin(broadcast(dl.agg(sum("dl").cast("double").as("__ntok"))))
      .select(col("__n"), (col("__ntok") / col("__n")).as("__avgdl"))
    val bmRef = TextAnalysis.bm25Rank(postings, dl, bmConsts, k = 5, k1 = 1.2, b = 0.75).collect().toSeq
    val bmNew = TextAnalysis.bm25TopK(spark, sfDir).collect().toSeq
    assert(bmRef.nonEmpty)
    assert(bmNew == bmRef, "bm25TopK diverged from the corpus-grain tf formulation")
    val qlConsts = dl.agg(sum("dl").cast("double").as("__ctot"))
    val qlRef = TextAnalysis.qlRank(postings, dl, qlConsts, qterms, k = 5, mu = 2000.0).collect().toSeq
    val qlNew = TextAnalysis.qlTopK(spark, sfDir).collect().toSeq
    assert(qlRef.nonEmpty)
    assert(qlNew == qlRef, "qlTopK diverged from the corpus-grain tf formulation")
  }

  test("bm25TopK invariants on the corpus: dense ranks, monotone scores, candidates only") {
    val rows = TextAnalysis.bm25TopK(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val perQ = rows.groupBy(_.getInt(0))
    assert(perQ.keySet == TextAnalysis.defaultBm25Queries.map(_._1).toSet)
    perQ.values.foreach { g =>
      val sorted = g.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq, "ranks dense from 1")
      assert(sorted.length <= 5)
      val scores = sorted.map(_.getDouble(3)).toSeq
      assert(scores == scores.sorted.reverse, "scores non-increasing in rank")
      assert(scores.forall(_ > 0.0), "the +1 idf variant keeps every score positive")
    }
    // every returned doc contains at least one of its query's terms
    val terms = TextAnalysis.defaultBm25Queries.toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("[^\\p{L}]+").toSet).toMap
    rows.foreach { r =>
      assert(terms(r.getInt(0)).exists(docs(r.getLong(2)).contains),
        s"doc ${r.getLong(2)} carries no term of query ${r.getInt(0)}")
    }
  }

  test("standing BM25 index: probe after build+append == one-shot, postings scan bucket-pruned") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // split build/append so the probe exercises the additive contract:
    // multiple stats rows, postings from two writes
    TextAnalysis.buildBm25Index(docs.filter(col("doc_id") % 10 =!= 0), "t_bm25_spec")
    TextAnalysis.appendBm25Index(docs.filter(col("doc_id") % 10 === 0), "t_bm25_spec")
    val probe   = TextAnalysis.bm25IndexProbe(spark, "t_bm25_spec")
    val oneShot = TextAnalysis.bm25TopK(spark, sfDir)
    assert(probe.collect().toSeq == oneShot.collect().toSeq,
      "standing-index probe diverged from the from-scratch computation")
    // the probe must not scan the whole postings table: the literal
    // query terms prune to their buckets
    val plan = probe.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in probe plan:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt, s"postings scan read every bucket: ${m.get.matched}")
  }

  test("standing QL probe: qlIndexProbe after build+append == one-shot qlTopK, bucket-pruned") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // the SAME index serves both scorers — build once, probe twice
    TextAnalysis.buildBm25Index(docs.filter(col("doc_id") % 10 =!= 0), "t_ql_spec")
    TextAnalysis.appendBm25Index(docs.filter(col("doc_id") % 10 === 0), "t_ql_spec")
    val probe   = TextAnalysis.qlIndexProbe(spark, "t_ql_spec")
    val oneShot = TextAnalysis.qlTopK(spark, sfDir)
    assert(probe.collect().toSeq == oneShot.collect().toSeq,
      "standing-index QL probe diverged from the from-scratch computation")
    // several bucketed scans print SelectedBucketsCount (docstats reads
    // all its buckets by design); the postings scan must be the pruned
    // one — assert at least one scan selects a strict subset
    val plan = probe.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val ms = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findAllMatchIn(plan).toSeq
    assert(ms.nonEmpty, s"no bucket pruning in QL probe plan:\n$plan")
    assert(ms.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"every bucketed scan read every bucket: ${ms.map(_.matched).mkString("; ")}")
    // both scorers from one index: BM25 probe against the same tables
    // still matches its own one-shot (no cross-scorer interference)
    assert(TextAnalysis.bm25IndexProbe(spark, "t_ql_spec").collect().toSeq ==
      TextAnalysis.bm25TopK(spark, sfDir).collect().toSeq)
  }

  test("qlTopK matches the Dirichlet formula exactly, absent query terms smoothed") {
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ql").toString
    Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana banana")
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis
      .qlTopK(spark, dir, queries = Seq(0 -> Seq("apple", "banana")), k = 5)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // independent restatement: |C|=9, cf(apple)=3, cf(banana)=5, mu=2000
    def term(tf: Long, cf: Double, dl: Long): Double =
      math.log((tf + 2000.0 * cf / 9.0) / (dl + 2000.0))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // candidates: all three docs share a query term; doc2 has banana
    // ABSENT (tf=0, smoothed), doc3 has apple absent
    val s1 = r4(term(2, 3, 3) + term(1, 5, 3))
    val s2 = r4(term(1, 3, 2) + term(0, 5, 2))
    val s3 = r4(term(0, 3, 4) + term(4, 5, 4))
    val expect = Seq((1L, s1), (2L, s2), (3L, s3))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex
      .map { case ((id, s), i) => (0, i + 1L, id, s) }
    assert(got == expect, s"got $got expected $expect")
  }

  test("phraseSearch: overlapping occurrences counted, ranks by count, matches are real") {
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_phrase").toString
    Seq(
      (1L, "alpha beta alpha beta alpha"), // "alpha beta" ×2, "beta alpha" ×2
      (2L, "alpha beta gamma"),            // "alpha beta" ×1
      (3L, "gamma gamma gamma")            // "gamma gamma" ×2 (overlap)
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis
      .phraseSearch(spark, dir, Seq(0 -> "alpha beta", 1 -> "gamma gamma", 2 -> "beta gamma absent"), k = 5)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq((0, 1L, 1L, 2L), (0, 2L, 2L, 1L), (1, 1L, 3L, 2L)))
    // corpus invariant: every reported doc contains its phrase as a
    // TOKEN-ALIGNED subsequence (a string-contains check would also
    // accept sub-token fragments like "rehash joint" ⊇ "hash join")
    val rows = TextAnalysis.phraseSearch(spark, sfDir).collect()
    val phrases = TextAnalysis.defaultPhrases.toMap
    val toks = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty).toSeq).toMap
    rows.foreach { r =>
      val p = phrases(r.getInt(0)).split(" ").toSeq
      assert(toks(r.getLong(2)).sliding(p.length).contains(p),
        s"doc ${r.getLong(2)} has no token-aligned occurrence of '${phrases(r.getInt(0))}'")
    }
  }

  test("standing phrase index: probe after build+append == one-shot, bucket-pruned, loud on unindexed length") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    TextAnalysis.buildPhraseIndex(docs.filter(col("doc_id") % 10 =!= 0), "t_phrase_spec")
    TextAnalysis.appendPhraseIndex(docs.filter(col("doc_id") % 10 === 0), "t_phrase_spec")
    val probe   = TextAnalysis.phraseIndexSearch(spark, "t_phrase_spec")
    val oneShot = TextAnalysis.phraseSearch(spark, sfDir)
    assert(probe.collect().toSeq == oneShot.collect().toSeq,
      "standing-index phrase probe diverged from the from-scratch computation")
    // the probe must not scan the whole gram table: the literal phrase
    // texts prune to their buckets
    val plan = probe.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val ms = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findAllMatchIn(plan).toSeq
    assert(ms.nonEmpty, s"no bucket pruning in phrase probe plan:\n$plan")
    assert(ms.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"gram scan read every bucket: ${ms.map(_.matched).mkString("; ")}")
    // a phrase length the index does not hold must fail loudly, not
    // silently return zero rows
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.phraseIndexSearch(spark, "t_phrase_spec", Seq(0 -> "one two three four"))
    }
    assert(e.getMessage.contains("unindexed length"), e.getMessage)
  }

  test("compactBm25Index: probe identical before/after, stats rows folded to one") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    TextAnalysis.buildBm25Index(docs.filter(col("doc_id") % 3 === 0), "t_bm25_cpt")
    TextAnalysis.appendBm25Index(docs.filter(col("doc_id") % 3 === 1), "t_bm25_cpt")
    TextAnalysis.appendBm25Index(docs.filter(col("doc_id") % 3 === 2), "t_bm25_cpt")
    assert(spark.table("t_bm25_cpt_stats").count() == 3)
    val before = TextAnalysis.bm25IndexProbe(spark, "t_bm25_cpt").collect().toSeq
    TextAnalysis.compactBm25Index(spark, "t_bm25_cpt")
    val after = TextAnalysis.bm25IndexProbe(spark, "t_bm25_cpt").collect().toSeq
    assert(after == before, "compaction changed probe results")
    assert(spark.table("t_bm25_cpt_stats").count() == 1, "stats rows not folded")
  }

  test("compaction swap recovery: a surviving __cpt copy is adopted on the next run") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    TextAnalysis.buildBm25Index(docs, "t_bm25_rec")
    val before = TextAnalysis.bm25IndexProbe(spark, "t_bm25_rec").collect().toSeq
    // simulate a crash in the swap window: the live postings table is
    // gone, the complete copy survives only under __cpt
    spark.sql("ALTER TABLE t_bm25_rec_postings RENAME TO t_bm25_rec_postings__cpt")
    assert(!spark.catalog.tableExists("t_bm25_rec_postings"))
    TextAnalysis.compactBm25Index(spark, "t_bm25_rec")
    val after = TextAnalysis.bm25IndexProbe(spark, "t_bm25_rec").collect().toSeq
    assert(after == before, "recovered index diverged")
  }

  test("compactGramIndex: incremental probe identical before/after, one row per gram") {
    import org.apache.spark.sql.functions.col
    val docs   = Tables.documents(spark, sfDir).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch  = docs.filter(col("doc_id") % 10 === 0)
    TextAnalysis.buildGramIndex(corpus.filter(col("doc_id") < 250), "t_gram_cpt")
    TextAnalysis.appendGramIndex(corpus.filter(col("doc_id") >= 250), "t_gram_cpt")
    spark.catalog.refreshTable("t_gram_cpt_gramdf")
    val before = TextAnalysis.incrementalDedupSubstrings(spark, "t_gram_cpt", batch).collect().toSeq
    TextAnalysis.compactGramIndex(spark, "t_gram_cpt")
    val after = TextAnalysis.incrementalDedupSubstrings(spark, "t_gram_cpt", batch).collect().toSeq
    assert(after == before, "compaction changed incremental dedup results")
    val grams = spark.table("t_gram_cpt_gramdf")
    assert(grams.groupBy("g").count().filter(col("count") > 1).count() == 0, "multi-row grams remain")
  }

  test("rm3 expansion adds <= mExp new non-query terms per query and actually moves a ranking") {
    val base     = TextAnalysis.defaultBm25Queries
    val expanded = TextAnalysis.rm3ExpandedQueries(spark, sfDir)
    assert(expanded.map(_._1) == base.map(_._1))
    expanded.zip(base).foreach { case ((_, ex), (qid, orig)) =>
      assert(ex.take(orig.length) == orig, s"query $qid: originals must stay, in order")
      val added = ex.drop(orig.length)
      assert(added.length <= 2 && added.distinct.length == added.length)
      assert(added.forall(t => !orig.contains(t)), s"query $qid: expansion re-added an original term")
    }
    val baseLen = base.toMap
    assert(expanded.exists { case (qid, ex) => ex.length > baseLen(qid).length }, "at least one query must expand")
    val plain = TextAnalysis.bm25TopK(spark, sfDir).collect().map(_.toString).toSeq
    val rm3   = TextAnalysis.rm3TopK(spark, sfDir).collect().map(_.toString).toSeq
    assert(rm3 != plain, "feedback must change at least one ranking on this corpus")
    val again = TextAnalysis.rm3TopK(spark, sfDir).collect().map(_.toString).toSeq
    assert(rm3 == again, "rm3 must be deterministic")
  }

  test("snippets: windows bounded, best window really covers the reported distinct terms, deterministic") {
    val qs  = TextAnalysis.defaultBm25Queries.toMap
    val got = TextAnalysis.snippets(spark, sfDir).collect()
    assert(got.length == qs.size, "one snippet per query (each query's top-1 doc)")
    got.foreach { r =>
      val (qid, start, nTerms, snip) = (r.getInt(0), r.getLong(2), r.getLong(3), r.getString(4))
      val tokens = snip.split(" ").toSeq
      assert(tokens.length <= 10 && start >= 1)
      assert(nTerms >= 1 && nTerms <= qs(qid).distinct.length)
      val inWindow = tokens.toSet.intersect(qs(qid).toSet).size
      assert(inWindow == nTerms, s"query $qid: reported $nTerms distinct terms, snippet carries $inWindow")
    }
    val again = TextAnalysis.snippets(spark, sfDir).collect()
    assert(got.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("rrfFusion: hand-built rankings fuse by 1/(60+r) with deterministic tie-break") {
    import SparkSpec.spark.implicits._
    val a = Seq((0, 1L, 10L), (0, 2L, 11L), (0, 3L, 12L)).toDF("query_id", "rnk", "doc_id")
    val b = Seq((0, 1L, 11L), (0, 2L, 13L)).toDF("query_id", "rnk", "doc_id")
    val got = TextAnalysis
      .rrfFusion(a, b, k = 4)
      .collect()
      .map(r => (r.getLong(2), r.getLong(1), r.getDouble(3)))
    // doc 11: 1/62 + 1/61 (both lists) beats doc 10: 1/61 (one list)
    assert(got.head == ((11L, 1L, 1.0 / 62 + 1.0 / 61)), s"got ${got.head}")
    assert(got(1) == ((10L, 2L, 1.0 / 61)))
    assert(got(2) == ((13L, 3L, 1.0 / 62)))
    assert(got(3) == ((12L, 4L, 1.0 / 63)))
  }

  test("rrfFusion over the standing-index probes: fused docs come from the input lists, ranks dense") {
    val idx  = "t_rrf_idx"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    if (!spark.catalog.tableExists(s"${idx}_postings")) TextAnalysis.buildBm25Index(docs, idx)
    val bm = TextAnalysis.bm25IndexProbe(spark, idx)
    val ql = TextAnalysis.qlIndexProbe(spark, idx)
    val fused = TextAnalysis.rrfFusion(bm, ql).collect()
    val inputs = (bm.collect() ++ ql.collect()).map(r => (r.getInt(0), r.getLong(2))).toSet
    assert(fused.nonEmpty)
    fused.groupBy(_.getInt(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq, "ranks must be dense from 1")
      val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y }, "rrf must be non-increasing in rank")
    }
    assert(fused.forall(r => inputs.contains((r.getInt(0), r.getLong(2)))), "fused doc not in any input list")
  }

  test("compressionRatio: repetition compresses below varied text, empty doc convention, UTF-8 byte counts") {
    import SparkSpec.spark.implicits._
    val rep    = "abc" * 100
    val varied = (0 until 100).map(i => (i * 2654435761L).toHexString).mkString(" ").take(300)
    val df = Seq((1L, rep), (2L, varied), (3L, ""), (4L, "héllo")).toDF("doc_id", "text")
    val got = TextAnalysis
      .compressionRatio(df)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L)._3 < got(2L)._3 / 2, s"repeated text must compress far below varied text: $got")
    assert(got(3L) == (0L, got(3L)._2, 1.0), "empty doc: 0 bytes, ratio 1.0 by convention")
    assert(got(4L)._1 == 6L, "n_bytes counts UTF-8 bytes, not chars")
    assert(got.values.forall(v => v._3 > 0.0), "ratios are strictly positive")
  }

  test("compressionRatio invariants hold corpus-wide (the check_compression_ratio gate)") {
    val row = graft.operators.Checks.compressionInvariants(spark, sfDir).collect().head
    assert(row.getLong(0) > 0)
    assert(row.getLong(1) == 0L, "ratio out of (0, 1.5]")
    assert(row.getLong(2) == 0L, "a self-concatenated doc failed to compress below the original")
    assert(row.getLong(3) == 0L, "recomputation was not bit-identical")
  }

  test("topKExactTwoPass == the full-shuffle exact top-k; tiny capacity fails the proof loudly") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val got = TextAnalysis.topKExactTwoPass(spark, sfDir, k = 20, capacity = 4096).collect()
    val want = graft.operators.TextJobs
      .tokenized(Tables.documents(spark, sfDir).select("text"), "text", "tok")
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(20)
      .collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq == want.map(r => (r.getString(0), r.getLong(1))).toSeq)
    // capacity 2: N/m is huge, the k-th count can't clear it — the
    // operator must refuse rather than return a silently unproven list
    val ex = intercept[IllegalArgumentException](TextAnalysis.topKExactTwoPass(spark, sfDir, k = 20, capacity = 2))
    assert(ex.getMessage.contains("not provably exact"))
  }

  test("pmiCollocations: ordered, thresholded, and the array-local bigram counts match a window recount") {
    val rows = TextAnalysis.pmiCollocations(spark, sfDir, minCount = 5L, topK = 40).collect()
    assert(rows.length == 40)
    val pmis = rows.map(_.getDouble(3))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b }, "pmi must be non-increasing")
    assert(rows.forall(_.getLong(2) >= 5L), "count threshold must hold")
    // recount the top pair's bigram frequency via the independent
    // lag-window formulation (shuffle-per-doc) — the zip-with-tail
    // extraction must agree with it exactly
    import org.apache.spark.sql.functions.{col, lead, monotonically_increasing_id}
    val (w1, w2, cxy) = (rows.head.getString(0), rows.head.getString(1), rows.head.getLong(2))
    val toks = graft.operators.TextJobs
      .tokenized(Tables.documents(spark, sfDir).select("doc_id", "text"), "text", "tok")
      .withColumn("ord", monotonically_increasing_id())
    val recount = toks
      .withColumn("nxt", lead("tok", 1).over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("ord")))
      .filter(col("tok") === w1 && col("nxt") === w2)
      .count()
    assert(recount == cxy, s"window recount $recount != array extraction $cxy for ($w1,$w2)")
  }

  test("spellCorrect: typos resolve by (dist, freq, term); in-vocab self-corrects; hopeless terms absent") {
    val got = graft.operators.TextAnalysis
      .spellCorrect(spark, sfDir, Seq("custoner", "merge", "qqqqqq", "scann"))
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(got("custoner") == (("customer", 1L)))
    assert(got("merge") == (("merge", 0L)), "in-vocab terms self-correct at distance 0")
    assert(got("scann")._2 == 1L)
    assert(!got.contains("qqqqqq"), "a term with no candidate within maxDist is absent")
    // rank model: recompute the winner for one typo by brute force
    import SparkSpec.spark.implicits._
    val vocab = graft.operators.DataOps.vocabIds(spark, sfDir).select("term", "cnt").as[(String, Long)].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(
          math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        )
      d(a.length)(b.length)
    }
    val want = vocab
      .map { case (t, c) => (t, lev("custoner", t), c) }
      .filter(_._2 <= 2)
      .minBy { case (t, d, c) => (d, -c, t) }
    assert(got("custoner")._1 == want._1)
  }

  test("vocabGrowth: cumulative vocab is monotone and lands exactly on the corpus distinct-token count") {
    import org.apache.spark.sql.functions._
    val curve = TextAnalysis.vocabGrowth(spark, sfDir).collect()
    assert(curve.nonEmpty)
    curve.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) > a.getLong(2), "vocab must strictly grow per non-empty bucket")
        assert(b.getLong(2) - a.getLong(2) == b.getLong(1), "cumulative must sum the new-token counts")
      case _ =>
    }
    val total = graft.operators.TextJobs
      .tokenized(Tables.documents(spark, sfDir).select("doc_id", "text"), "text", "tok")
      .select("tok").distinct().count()
    assert(curve.last.getLong(2) == total, "curve must end at the full distinct vocabulary")
  }

  test("rakeKeyphrases: hand-computed fixture — islands, integer word scores, phrase sums, top order") {
    val ss = spark; import ss.implicits._
    // doc 1 tokens: deep learning [of the] deep systems -> "deep learning", "deep systems"
    // doc 2: "systems design"; doc 3: [the] learning -> "learning"
    // deg/freq: deep 4/2 -> 200, learning 3/2 -> 150, systems 4/2 -> 200, design 2/1 -> 200
    // phrases: deep systems 400, systems design 400, deep learning 350, learning 150
    val docs = Seq(
      (1L, "Deep learning of the deep systems"),
      (2L, "systems design"),
      (3L, "the learning")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .rakeKeyphrasesDf(docs, topK = 10)
      .as[(String, Long, Long)]
      .collect()
      .toSeq
    assert(
      got == Seq(
        ("deep systems", 1L, 400L),
        ("systems design", 1L, 400L),
        ("deep learning", 1L, 350L),
        ("learning", 1L, 150L)
      ),
      s"got $got"
    )
    // maxLen binds: a 5-word run is not a candidate and its words don't score
    val long = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    assert(TextAnalysis.rakeKeyphrasesDf(long, topK = 10, maxLen = 4).count() == 0L)
    assert(
      TextAnalysis.rakeKeyphrasesDf(long, topK = 10, maxLen = 5).as[(String, Long, Long)].collect().toSeq ==
        Seq(("alpha beta gamma delta epsilon", 1L, 2500L)) // 5 words, each deg/freq = 5/1 -> 500
    )
  }
}
