package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operator properties on the deterministic testdata. */
class DedupSpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sfDir)

  test("exactDedup keeps one row per distinct text, keeper = min doc_id") {
    val deduped = Dedup.exactDedup(docs)
    val nTexts  = docs.select("text").distinct().count()
    assert(deduped.count() == nTexts)
    // keeper must be the min doc_id of its text group
    val viol = deduped
      .alias("d")
      .join(docs.alias("o"), expr("d.text = o.text AND o.doc_id < d.doc_id"), "inner")
      .count()
    assert(viol == 0, "a kept row has a smaller-doc_id duplicate")
  }

  test("minhash-LSH candidates ⊇ high-jaccard pairs (recall on near-dups)") {
    val exact = Dedup
      .ngramJaccardPairs(docs, k = 3, threshold = 0.7)
      .select("a", "b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lsh = Dedup
      .minhashNearDups(docs, k = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("a", "b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val missed = exact -- lsh
    // 16 bands × 4 rows: P(candidate | j=0.7) = 1-(1-0.7^4)^16 ≈ 0.99
    assert(
      missed.size <= math.max(1, exact.size / 10),
      s"LSH missed ${missed.size} of ${exact.size} true near-dup pairs: $missed"
    )
  }

  test("simhash of identical texts is identical; hamming to itself is 0") {
    val sigs = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val textOf = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byText = textOf.groupBy(_._2).values.filter(_.size > 1)
    byText.foreach { grp =>
      val ids = grp.keys.toSeq
      assert(ids.map(sigs).distinct.size == 1, s"same text, different simhash: $ids")
    }
  }

  test("connected components: edges stay within a component, label is the min member") {
    val pairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5).select("a", "b")
    val comp = Dedup
      .connectedComponents(pairs)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) => assert(comp(a) == comp(b), s"edge ($a,$b) crosses components") }
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.keys.min, s"component $label labeled by non-min member")
    }
  }

  test("incremental dedup: intra-batch dups collapse, corpus dups drop, NULL text passes through") {
    val existing = spark.createDataFrame(Seq((1L, "alpha"), (2L, "beta"))).toDF("doc_id", "text")
    val incoming = spark
      .createDataFrame(Seq((10L, Option("alpha")), (11L, Option("gamma")), (12L, Option("gamma")),
        (13L, None: Option[String]), (14L, None: Option[String])))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(existing, incoming).select("doc_id").collect().map(_.getLong(0)).toSet
    // 10 dup of corpus → dropped; 11 kept, 12 intra-batch dup → dropped;
    // 13/14 NULL text → both pass through (absence of content ≠ duplicate)
    assert(kept == Set(11L, 13L, 14L), s"got $kept")
  }

  test("connected components: 40-diameter chain converges to a single min label") {
    // a path graph 0-1-2-…-40 has diameter 40 — the shape that a
    // fixed low iteration cap silently mislabels; pointer halving must
    // still reach the fixpoint (in ~log2(40) rounds, not 40)
    val chain = spark.range(0, 40).selectExpr("id AS a", "id + 1 AS b")
    val comp  = Dedup.connectedComponents(chain).collect()
    assert(comp.length == 41)
    comp.foreach(r => assert(r.getLong(1) == 0L, s"node ${r.getLong(0)} labeled ${r.getLong(1)}, want 0"))
  }

  test("connected components: disjoint cliques and isolated edges keep distinct labels") {
    val edges = spark
      .createDataFrame(Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 32L), (30L, 32L)))
      .toDF("a", "b")
    val comp = Dedup.connectedComponents(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("large-star/small-star components == propagation loop on every graph shape") {
    // the equivalence contract: same labels on the real near-dup pair
    // set, a deep chain (the star algorithm's reason to exist), and
    // disjoint cliques + isolated edges (no cross-component leakage)
    val realPairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5).select("a", "b")
    val chain     = spark.range(0, 40).selectExpr("id AS a", "id + 1 AS b")
    val cliques = spark
      .createDataFrame(Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 32L), (30L, 32L)))
      .toDF("a", "b")
    for ((name, pairs) <- Seq(("real", realPairs), ("chain", chain), ("cliques", cliques))) {
      val loop = Dedup.connectedComponents(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Dedup.connectedComponentsStar(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == loop, s"star CC diverged from propagation loop on $name graph")
    }
  }

  test("LSH bucket cap bounds candidates under an adversarial hot bucket") {
    // 500 identical boilerplate docs share every band bucket: uncapped,
    // the bucket self-join would emit 500·499/2 ≈ 125k pairs — the
    // quadratic blowup the cap exists to stop. Exact dedup is the
    // operator that owns identical content, so dropping the bucket
    // loses nothing the pipeline doesn't already catch.
    val adversarial = spark
      .range(100000, 100500)
      .selectExpr("id AS doc_id", "'lorem ipsum boilerplate header block' AS text")
    val corpus  = docs.select("doc_id", "text").unionByName(adversarial)
    val sigs    = Dedup.minhashSignatures(Dedup.hashedShingles(corpus, 3), 64)
    val capped  = Dedup.lshCandidates(sigs, 64, 16, bucketCap = 256).count()
    val organic = Dedup
      .lshCandidates(Dedup.minhashSignatures(Dedup.hashedShingles(docs.select("doc_id", "text"), 3), 64), 64, 16,
        bucketCap = 256)
      .count()
    assert(capped <= organic + 100, s"hot bucket leaked into candidates: $capped vs organic $organic")

    // simhash path: same clique, same guard on (chunk_idx, chunk_val)
    val simCapped = Dedup.simhashNearDups(corpus, maxDist = 3, bucketCap = 256)
    val cliquePairs = simCapped.filter(col("a") >= 100000 && col("b") >= 100000).count()
    assert(cliquePairs == 0, s"simhash cap failed to drop the adversarial clique: $cliquePairs pairs")
  }

  test("incremental LSH probe == from-scratch pairs touching the batch") {
    val corpus = docs.filter(col("doc_id") < 300).select("doc_id", "text")
    val batch  = docs.filter(col("doc_id") >= 300).select("doc_id", "text")
    Dedup.buildLshIndex(corpus, "t_lsh_idx")
    val incr = Dedup
      .incrementalMinhashLsh(spark, "t_lsh_idx", batch, bucketCap = Int.MaxValue)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val full = Dedup
      .minhashNearDups(docs.select("doc_id", "text"), bucketCap = Int.MaxValue)
      .filter(col("a") >= 300 || col("b") >= 300)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(incr == full, s"incremental=${incr.size} from-scratch=${full.size}")
    assert(incr.nonEmpty, "probe found no pairs — testdata should contain cross-boundary near-dups")
  }

  /** The shared probe wraps its index slice in a localCheckpoint (so
    * the one bucketed scan feeds both the skew guard and the candidate
    * join), which hides the scan from the final plan string — so assert
    * the probe's access pattern on its slice step directly:
    * [[Dedup.touchedSlice]] must read the bucketed index table with NO
    * exchange on the index side. Under broadcast the planner rightly
    * disables the bucketed scan (bucketing buys nothing there) — force
    * the sort-merge regime, where bucketing is exactly what saves the
    * corpus-side exchange at scale, and assert the slice runs with the
    * bucketed scan and ZERO hash exchanges on the index's distribution
    * (the batch keys here are the table's own, bucketed too, so the
    * whole join is exchange-free).
    */
  private def assertSliceExchangeFree(table: String, keys: Seq[String]): Unit = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val touched = Dedup.touchedSlice(spark.table(table), spark.table(table), keys)
      val plan    = touched.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 0, s"bucketing should make this join exchange-free, got $exchanges:\n$plan")
      assert(touched.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("incremental LSH probe: index side scans bucketed, only the batch shuffles") {
    // self-contained: build the index rather than depending on suite order
    Dedup.buildLshIndex(docs.filter(col("doc_id") < 300).select("doc_id", "text"), "t_lsh_idx")
    assertSliceExchangeFree("t_lsh_idx_bands", Seq("band", "bucket"))
  }

  test("incremental semantic probe: index side scans bucketed, only the batch shuffles") {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    graft.operators.Similarity.buildSemanticIndex(e.filter(col("vec_id") % 10 =!= 0), "t_sem_slice")
    assertSliceExchangeFree("t_sem_slice_cells", Seq("cell"))
  }

  /** Uncapped [[Dedup.bucketPairs]] against its model, the keyed
    * self-join `x.k === y.k && x.m < y.m`, compared as multisets. The
    * struct form pairs `struct(m, t)` members, NULL fields included.
    */
  private def assertPairsMatchSelfJoin(rows: Seq[(Option[Long], Option[Long], Option[String])]): Unit = {
    val ss = spark
    import ss.implicits._
    val df = rows.toDF("k", "m", "t")
    for (member <- Seq(col("m"), struct(col("m"), col("t")))) {
      val m = df.select(col("k"), member.as("m")).distinct() // the precondition: distinct members per group
      val got = Dedup.bucketPairs(m, Seq("k"), col("m"), Int.MaxValue).select(col("a").cast("string"), col("b").cast("string"))
      val model = m
        .as("x")
        .join(m.as("y"), col("x.k") === col("y.k") && col("x.m") < col("y.m"))
        .select(col("x.m").cast("string"), col("y.m").cast("string"))
      def bag(d: org.apache.spark.sql.DataFrame) = d.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      assert(bag(got) == bag(model), s"member $member over $rows")
    }
  }

  test("bucketPairs == the keyed self-join model: empty, singletons, NULL keys, NULL members, struct members, random groups") {
    val cases: Seq[Seq[(Option[Long], Option[Long], Option[String])]] = Seq(
      Seq.empty,
      Seq((Some(1L), Some(1L), None), (Some(2L), Some(1L), None), (Some(3L), Some(5L), Some("x"))),
      Seq((None, Some(1L), None), (None, Some(2L), None), (None, Some(3L), None), (Some(1L), Some(4L), None)),
      Seq((Some(1L), None, None), (Some(1L), Some(2L), None), (Some(1L), Some(3L), Some("a")), (Some(1L), None, Some("b"))),
      Seq((Some(1L), Some(2L), None), (Some(1L), Some(2L), Some("a")), (Some(1L), Some(2L), Some("b")), (Some(1L), Some(1L), Some("c")))
    )
    val rnd = new scala.util.Random(17)
    def opt[T](v: => T) = if (rnd.nextInt(6) == 0) None else Some(v)
    val random = Seq.fill(6)(Seq.fill(rnd.nextInt(40))((opt(rnd.nextInt(4).toLong), opt(rnd.nextInt(9).toLong), opt(s"t${rnd.nextInt(2)}"))))
    (cases ++ random).foreach(assertPairsMatchSelfJoin)
  }

  test("hotBuckets reports over-cap buckets with sizes; capBuckets drops exactly those") {
    val banded = spark
      .range(0, 300)
      .selectExpr("id AS doc_id", "0L AS band", "CASE WHEN id < 280 THEN 7L ELSE id END AS bucket")
    val hot = Dedup.hotBuckets(banded, Seq("band", "bucket"), 100).collect()
    assert(hot.length == 1 && hot.head.getLong(2) == 280L)
    val kept = Dedup.capBuckets(banded, Seq("band", "bucket"), 100)
    assert(kept.count() == 20)
    assert(kept.filter(col("bucket") === 7L).count() == 0)
  }

  test("embedding near-dup pairs are symmetric-free (a < b) and above threshold") {
    val rows = Dedup.embeddingNearDups(spark, sfDir, 0.4).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("embeddingNearDups guard refuses a corpus over the quadratic cap") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDups(spark, sfDir, 0.4, maxRows = 10L)
    }
    assert(ex.getMessage.contains("embeddingNearDupLsh"), s"guard message should point to the scale path: ${ex.getMessage}")
  }

  test("setSimJoin == naive exact token-Jaccard on the full corpus (prefix filter loses nothing)") {
    val theta = 0.5
    val got = Dedup
      .setSimJoin(docs, theta)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // ground truth: ALL pairs sharing any token, exact distinct-token Jaccard
    val toks = docs
      .select(
        col("doc_id").as("id"),
        explode(expr("filter(split(text, '[^\\\\p{L}]+'), t -> t <> '')")).as("tok")
      )
      .distinct()
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val want = toks
      .select(col("id").as("a"), col("tok"))
      .join(toks.select(col("id").as("b"), col("tok")), "tok")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("id").as("b"), col("n").as("nb")), "b")
      .withColumn("jaccard", col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= theta)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
      .toSet
    assert(got == want, s"missed=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty, "corpus should contain at least one qualifying near-dup pair")
  }

  test("setSimJoin prefix filter prunes the candidate population and plans no cartesian") {
    val toks = docs
      .select(
        col("doc_id").as("id"),
        explode(expr("filter(split(text, '[^\\\\p{L}]+'), t -> t <> '')")).as("tok")
      )
      .distinct()
    // pruning power scales with θ (prefix length is n − ⌈θ·n⌉ + 1):
    // measure at a high threshold, and require monotonicity vs a low one
    val candHi = Dedup.setSimCandidates(toks, 0.8)._2.count()
    val candLo = Dedup.setSimCandidates(toks, 0.5)._2.count()
    val naiveN = toks
      .select(col("id").as("a"), col("tok"))
      .join(toks.select(col("id").as("b"), col("tok")), "tok")
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
      .count()
    // the driver corpus draws tokens near-uniformly from one small
    // vocabulary — flat df is the prefix filter's WORST case, so the
    // honest bound here is modest; the Zipf test below shows the
    // regime real corpora live in
    assert(candHi * 3 <= naiveN * 2, s"θ=0.8 prefix filter should cut ≥1.5×: candidates=$candHi naive=$naiveN")
    assert(candHi <= candLo, s"higher θ must not widen the candidate set: θ0.8=$candHi θ0.5=$candLo")
    val physical = Dedup.setSimJoin(docs, 0.5).queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), "setSimJoin must never plan a cartesian product")
  }

  test("setSimJoin on a Zipfian corpus: prefix filter cuts the candidate population ≥10×") {
    import SparkSpec.spark.implicits._
    // deterministic Zipf-ish corpus: token w_r included in doc d with
    // P ≈ 1/r (df(w_r) ≈ N/r) — the frequency profile of natural text,
    // where a universal stopword connects EVERY pair in the naive
    // inverted index but never enters a prefix
    val n = 400
    // letters-only token names (the tokenizer splits on non-letters)
    def wordOf(r: Int): String = "t" + r.toString.map(c => ('a' + (c - '0')).toChar)
    val docsZ = (0 until n)
      .map { d =>
        val toks = (1 to 500).filter(r => ((d * 2654435761L + r * 40503L) % r) == 0).map(wordOf)
        (d.toLong, toks.mkString(" "))
      }
      .toDF("doc_id", "text")
    val toksZ = docsZ
      .select(col("doc_id").as("id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val cand = Dedup.setSimCandidates(toksZ, 0.8)._2.count()
    val naive = toksZ
      .select(col("id").as("a"), col("tok"))
      .join(toksZ.select(col("id").as("b"), col("tok")), "tok")
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
      .count()
    assert(naive > (n.toLong * (n - 1) / 2) * 9 / 10, s"w1 should connect nearly all pairs: naive=$naive")
    assert(cand * 10 <= naive, s"Zipf corpus should prune ≥10×: candidates=$cand naive=$naive")
    // and exactness is independent of the skew: verify against the naive join
    val got = Dedup
      .setSimJoin(docsZ, 0.8)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
      .toSet
    val sizesZ = toksZ.groupBy("id").agg(count(lit(1)).as("nn"))
    val want = toksZ
      .select(col("id").as("a"), col("tok"))
      .join(toksZ.select(col("id").as("b"), col("tok")), "tok")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"))
      .join(sizesZ.select(col("id").as("a"), col("nn").as("na")), "a")
      .join(sizesZ.select(col("id").as("b"), col("nn").as("nb")), "b")
      .filter(col("common") / (col("na") + col("nb") - col("common")) >= 0.8)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
      .toSet
    assert(got == want, s"missed=${want -- got} extra=${got -- want}")
  }

  test("setSimJoinOnSets over shingles == ngramJaccardPairs (scale path ≡ quadratic oracle path)") {
    val k     = 3
    val theta = 0.6
    val sub   = docs.filter(col("doc_id") < 300)
    val viaPrefix = Dedup
      .setSimJoinOnSets(Dedup.shingles(sub, k), theta, idCol = "doc_id", tokCol = "sh")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val viaInverted = Dedup
      .ngramJaccardPairs(sub, k, theta)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(viaPrefix == viaInverted, "prefix-filtered setsim must equal the inverted-index jaccard bit-for-bit")
  }

  test("setSimJoin corner cases: identity pair at θ=1, boundary-threshold pair kept, singletons safe") {
    import SparkSpec.spark.implicits._
    val tiny = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),  // identical → J=1 with 1
      (3L, "alpha beta"),        // J(3, 1)=2/3, J(3,4)=1/3
      (4L, "beta delta"),        // J with 3 = 1/3 (boundary at θ=1/3)
      (5L, "omega")              // singleton token, no partner
    ).toDF("doc_id", "text")
    val exact = Dedup.setSimJoin(tiny, 1.0).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)), s"θ=1 must return exactly the identical pair, got $exact")
    val boundary = Dedup
      .setSimJoin(tiny, 1.0 / 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(boundary.contains((3L, 4L)), s"boundary pair J=1/3 must be KEPT at θ=1/3, got $boundary")
    assert(!boundary.exists(p => p._1 == 5L || p._2 == 5L), "token-disjoint singleton must pair with nobody")
  }

  // -------------------------------------------------- containment join

  private def naiveContainment(elements: org.apache.spark.sql.DataFrame, th: Double) = {
    val t  = elements.select(col("doc_id").as("id"), col("sh").as("tok")).distinct()
    val sz = t.groupBy("id").agg(count(lit(1)).as("n"))
    t.select(col("id").as("a"), col("tok"))
      .join(t.select(col("id").as("b"), col("tok")), Seq("tok"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("c"))
      .join(sz.select(col("id").as("a"), col("n").as("na")), Seq("a"))
      .withColumn("containment", col("c") / col("na"))
      .filter(col("containment") >= th)
      .select("a", "b", "containment")
  }

  test("containmentJoin == naive inverted-index containment on the corpus (prefix filter loses nothing)") {
    val sub = Dedup.shingles(docs.filter(col("doc_id") < 600), k = 3)
    for (th <- Seq(0.6, 0.8)) {
      val fast = Dedup
        .containmentJoin(sub, th, idCol = "doc_id", tokCol = "sh")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val naive = naiveContainment(sub, th).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == naive, s"θ=$th: missing=${naive -- fast}, extra=${fast -- naive}")
      assert(naive.nonEmpty, s"θ=$th: corpus must exercise containment")
    }
  }

  test("containmentJoin is directional: a strict token subset scores 1.0 one way, |A|/|B| the other") {
    import SparkSpec.spark.implicits._
    val tiny = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // B: 6 tokens
      (2L, "alpha beta gamma"),                    // A ⊂ B: C(2→1)=1.0, C(1→2)=0.5
      (3L, "omega psi")                            // disjoint
    ).flatMap { case (id, text) => text.split(" ").map(t => (id, t)) }.toDF("doc_id", "sh")
    val got = Dedup
      .containmentJoin(tiny, 0.9, idCol = "doc_id", tokCol = "sh")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == Set((2L, 1L, 1.0)), s"only the contained direction may pass θ=0.9, got $got")
    val loose = Dedup
      .containmentJoin(tiny, 0.5, idCol = "doc_id", tokCol = "sh")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(loose == Set((2L, 1L, 1.0), (1L, 2L, 0.5)), s"θ=0.5 keeps the boundary reverse direction, got $loose")
  }

  // ------------------------------------------------- edit-distance join

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("editDistanceJoin == naive levenshtein join on real customer names (filters lose nothing)") {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey").as("id"), col("c_name").as("s"))
    for (d <- Seq(1, 2)) {
      val fast  = pairSet(Dedup.editDistanceJoin(c, d))
      val naive = pairSet(Dedup.editDistanceJoinNaive(c, d))
      assert(fast == naive, s"d=$d: prefix-filtered join must equal the naive join exactly")
      assert(naive.nonEmpty, s"d=$d: the corpus must actually exercise the join")
    }
  }

  test("editDistanceJoin covers the short-string bucket and the short/long boundary") {
    import SparkSpec.spark.implicits._
    // q=3, d=2 → shortLen = 9: lengths straddle the pigeonhole boundary,
    // including a short(8)/long(9) true pair only the dense bucket can find
    val tiny = Seq(
      (1L, "ab"), (2L, "b"), (3L, "abc"), (4L, "xyz"), (5L, ""),
      (6L, "abcdefgh"), (7L, "abcdefghi"), (8L, "abcdefghixx"), (9L, "zzzzzzzzz")
    ).toDF("id", "s")
    val fast  = pairSet(Dedup.editDistanceJoin(tiny, 2))
    val naive = pairSet(Dedup.editDistanceJoinNaive(tiny, 2))
    assert(fast == naive)
    assert(fast.contains((6L, 7L, 1L)), "short(8)/long(9) pair must be found via the dense bucket")
    assert(fast.contains((1L, 2L, 1L)) && fast.contains((2L, 5L, 1L)), "empty/1-char strings join correctly")
  }

  test("editDistanceJoin == naive on a seeded random mixed-length corpus (completeness fuzz)") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(42)
    val strs = (0L until 80L).map { i =>
      val n = rnd.nextInt(13) // 0..12 straddles shortLen=9; tiny alphabet forces collisions
      (i, (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val df = strs.toDF("id", "s")
    for (d <- Seq(0, 1, 2, 3)) {
      val fast  = pairSet(Dedup.editDistanceJoin(df, d))
      val naive = pairSet(Dedup.editDistanceJoinNaive(df, d))
      assert(fast == naive, s"d=$d mismatch: missing=${naive -- fast}, extra=${fast -- naive}")
    }
  }

  // ------------------------------------------------- Jaro–Winkler join

  private def jwSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("jaro_winkler expression: pinned known values incl. byte semantics and empty cases") {
    GraftFunctions.register(spark)
    def jw(a: String, b: String): Double =
      spark.sql(s"SELECT jaro_winkler('${a.replace("'", "''")}', '${b.replace("'", "''")}')").head().getDouble(0)
    assert(jw("martha", "marhta") == 0.9611111111111111)
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    assert(jw("", "") == 0.0 && jw("a", "") == 0.0 && jw("", "a") == 0.0, "empty inputs score 0 (DuckDB parity)")
    assert(jw("a", "a") == 1.0 && jw("abcdef", "abcdef") == 1.0)
    // byte semantics: é is 2 bytes, so L1=6 vs L2=5 — pinned to the
    // exact double DuckDB 1.0.0 returns for this pair
    assert(jw("héllo", "hello") == 0.8400000000000001)
    // boost threshold: jaro <= 0.7 gets no prefix bonus despite the
    // 3-char common prefix (0.6667 stays 0.6667)
    assert(jw("abcdef", "abcxyz") == 0.6666666666666666, "no prefix boost at jaro <= 0.7")
  }

  test("jaroWinklerJoin == naive JW join on real customer names at several thresholds") {
    val c = Tables
      .customer(spark, sfDir)
      .filter(col("c_custkey") < 300)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    for (th <- Seq(0.92, 0.97)) {
      val fast  = jwSet(Dedup.jaroWinklerJoin(c, th))
      val naive = jwSet(Dedup.jaroWinklerJoinNaive(c, th))
      assert(fast == naive, s"theta=$th: missing=${(naive -- fast).take(5)}, extra=${(fast -- naive).take(5)}")
      assert(naive.nonEmpty, s"theta=$th: the corpus must actually exercise the join")
    }
  }

  test("jaroWinklerJoin == naive on a seeded tiny-alphabet corpus (completeness fuzz incl. boundary sims)") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(7)
    val strs = (0L until 90L).map { i =>
      val n = 1 + rnd.nextInt(11)
      (i, (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val df = strs.toDF("id", "s")
    for (th <- Seq(0.85, 0.9, 0.95)) {
      val fast  = jwSet(Dedup.jaroWinklerJoin(df, th))
      val naive = jwSet(Dedup.jaroWinklerJoinNaive(df, th))
      assert(fast == naive, s"theta=$th: missing=${(naive -- fast).take(5)}, extra=${(fast -- naive).take(5)}")
    }
  }

  test("jaroWinklerJoin plans no cartesian product and refuses degenerate thresholds") {
    val c = Tables
      .customer(spark, sfDir)
      .filter(col("c_custkey") < 300)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    val plan = Dedup.jaroWinklerJoin(c, 0.95).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"JW join must never plan a cartesian:\n$plan")
    intercept[IllegalArgumentException](Dedup.jaroWinklerJoin(c, 0.8))
    intercept[IllegalArgumentException](Dedup.jaroWinklerJoin(c, 0.5))
  }

  test("jaroWinklerJoin refuses non-ASCII input loudly (byte-exact prefix bound is char-granular)") {
    import SparkSpec.spark.implicits._
    // the kernel scores UTF-8 bytes while prefix tokens are characters:
    // on multi-byte input the no-miss bound silently degrades, so the
    // operator must refuse at first evaluation instead
    val bad = Seq((1L, "müller"), (2L, "muller"), (3L, "miller")).toDF("id", "s")
    val ex  = intercept[Exception](Dedup.jaroWinklerJoin(bad, 0.9).collect())
    assert(ex.getMessage.contains("ASCII"), s"unexpected: ${ex.getMessage}")
    val ok = Seq((1L, "muller"), (2L, "muller"), (3L, "miller")).toDF("id", "s")
    assert(Dedup.jaroWinklerJoin(ok, 0.9).count() >= 1L)
  }

  test("canonicalPick keeps the longest member per cluster (id tie-break), counts the rest") {
    import SparkSpec.spark.implicits._
    val docs = Seq(
      (1L, 100L), (2L, 300L), (3L, 300L), // cluster A: 2 wins the length tie over 3
      (7L, 50L), (8L, 60L)                // cluster B: 8 wins on length
    ).toDF("doc_id", "n_chars")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)).toDF("doc_id", "component")
    val got = Dedup
      .canonicalPick(docs, comps)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq((1L, 2L, 3L, 700L), (7L, 8L, 2L, 110L)))
    // on real clusters: the canonical is always a member holding the
    // cluster's max length, and clusters have >= 2 members by
    // construction (components only contain paired docs)
    val real = SparkEntry.queries("dedup_canonical_pick")(spark, sfDir)
    val members = Tables
      .documents(spark, sfDir)
      .filter(col("doc_id") < 300)
      .join(Dedup.nearDupComponents(spark, sfDir), Seq("doc_id"))
    val joined = real
      .join(members, real("canonical_id") === members("doc_id") && real("component") === members("component"))
    assert(joined.count() == real.count(), "every canonical_id must be a member of its own cluster")
    assert(real.filter(col("n_members") < 2).isEmpty)
  }

  test("editDistanceJoin plans no cartesian product on the long-string path") {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey").as("id"), col("c_name").as("s"))
    val plan = Dedup.editDistanceJoin(c, 1).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"edit-distance join must never plan a cartesian:\n$plan")
  }

  /** Global-window twin of the distributed SNM: one unpartitioned
    * row_number — the oracle's formulation, fine at test scale.
    */
  private def snmGlobal(df: org.apache.spark.sql.DataFrame, w: Int): Set[(Long, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    import SparkSpec.spark.implicits._
    val n = df.select(col("doc_id").cast("long").as("id"), Dedup.normalizedText("text").as("norm"))
    val s = n.withColumn("rn", row_number().over(Window.orderBy(substring(col("norm"), 1, 24), col("id"))))
    val a = s.select(col("id").as("ia"), col("norm").as("na"), col("rn").as("ra"))
    val b = s.select(col("id").as("ib"), col("norm").as("nb"), col("rn").as("rb"))
    a.join(b, col("rb") > col("ra") && col("rb") - col("ra") <= w - 1)
      .withColumn("d", levenshtein(substring(col("na"), 1, 80), substring(col("nb"), 1, 80)).cast("long"))
      .filter(col("d") <= 8)
      .select(least(col("ia"), col("ib")), greatest(col("ia"), col("ib")), col("d"))
      .as[(Long, Long, Long)]
      .collect()
      .toSet
  }

  test("sortedNeighborhoodPairs == global-window SNM on the corpus; partition invariant") {
    import SparkSpec.spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val expect = snmGlobal(docs, 8)
    val got = Dedup.sortedNeighborhoodPairs(docs).as[(Long, Long, Long)].collect()
    assert(got.toSet == expect, "distributed two-phase ranking must equal the global sort order")
    assert(got.length == got.toSet.size, "no duplicate pairs")
    val got17 = Dedup.sortedNeighborhoodPairs(docs.repartition(17)).as[(Long, Long, Long)].collect()
    assert(got17.toSet == expect)
  }

  test("sortedNeighborhoodPairs: sort-adjacent near-dups found across a block boundary, far pairs not candidates") {
    import SparkSpec.spark.implicits._
    // two near-identical records landing in DIFFERENT 4-char blocks
    // ("abcd..." vs "abce...") but rank-adjacent — the two-phase
    // ranking must pair them; "zzzz" is sort-distant and stays out
    val rows = Seq(
      (1L, "abcd shared tail of text one"),
      (2L, "abce shared tail of text one"),
      (3L, "zzzz completely different words")
    ).toDF("doc_id", "text")
    val got = Dedup
      .sortedNeighborhoodPairs(rows, w = 2, maxDist = 8)
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    assert(got == Set((1L, 2L, 1L)), s"got $got")
  }
}
