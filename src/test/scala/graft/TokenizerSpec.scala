package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{DistinctLetterTokens, LetterTokenCounts, LetterTokens}
import graft.operators.TextJobs

/** Tokenizer fidelity (SURVEY.md §2.3.1): the engine's `[^\p{L}]+`
  * split must equal the reference's Go unicode.IsLetter FieldsFunc —
  * maximal runs of Unicode category-L code points, no empties.
  */
class TokenizerSpec extends SparkSpec {

  /** Model implementation: character-by-character category-L splitter,
    * the direct transliteration of Go's FieldsFunc(!unicode.IsLetter).
    */
  private def modelTokens(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    s.codePoints().forEach { cp =>
      if (Character.isLetter(cp)) cur.appendAll(Character.toChars(cp))
      else if (cur.nonEmpty) { out += cur.toString; cur.clear() }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  private def engineTokens(s: String): Seq[String] =
    s.split(TextJobs.TokenSep).toSeq.filter(_.nonEmpty)

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  private val weird = Gen.oneOf('a', 'Z', 'é', 'ß', '漢', 'і', '1', '½', '⅔', ' ', '\n', '﻿', '.', '_', '-', '0')

  /** `weird` plus a supplementary-plane letter, both unpaired
    * surrogate halves (which pair up when adjacent in the right order)
    * and the BOM.
    */
  private val letterEdge: Gen[String] = Gen
    .listOf(Gen.frequency(8 -> weird.map(_.toString), 1 -> Gen.oneOf("𝔘", "\uD835", "\uDD18", "\uFEFF")))
    .map(_.mkString)

  /** Byte strings that splice ill-formed UTF-8 (stray continuation
    * bytes, overlong leads C0 C1 E0 F0, encoded surrogates ED A0+,
    * truncated sequences, out-of-range leads F4 90+ and F5+) between
    * ASCII and well-formed letters.
    */
  private val illFormed: Gen[Array[Byte]] = {
    val edgeBytes = Seq(0x80, 0x8f, 0x90, 0x9f, 0xa0, 0xa9, 0xbf, 0xc0, 0xc1, 0xc2, 0xc3, 0xdf, 0xe0, 0xe1, 0xed,
      0xef, 0xf0, 0xf4, 0xf5, 0xff)
    val chunk = Gen.frequency(
      4 -> Gen.oneOf("a", "Z", " ", "1").map(_.getBytes(UTF_8).toSeq),
      6 -> Gen.oneOf(edgeBytes).map(b => Seq(b.toByte)),
      2 -> Gen.oneOf("é", "ж", "漢", "𝔘", "½").map(_.getBytes(UTF_8).toSeq)
    )
    Gen.listOf(chunk).map(_.flatten.toArray)
  }

  private def strings(a: ArrayData): Seq[String] = (0 until a.numElements()).map(a.getUTF8String(_).toString)

  private def letterTokens(s: String): Seq[String] = strings(LetterTokens.compute(UTF8String.fromString(s)))

  test("engine split == category-L model on arbitrary unicode strings") {
    val gen = Gen.listOf(weird).map(_.mkString)
    checkProp(Prop.forAll(gen) { s => engineTokens(s) == modelTokens(s) })
    checkProp(Prop.forAll(Gen.asciiPrintableStr) { s => engineTokens(s) == modelTokens(s) })
  }

  test("ShingleHashes' internal tokenizer agrees with the regex tokenizer") {
    // k=1 → one hash per token; counts must match the model on any input
    val gen = Gen
      .listOf(Gen.oneOf("a", "Z", "é", "漢", "𝔘" /* 𝔘 supplementary-plane letter */, "1", "½", " ", "\n", ".", "﻿"))
      .map(_.mkString)
    checkProp(Prop.forAll(gen) { s =>
      graft.functions.ShingleHashes
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(s), 1)
        .numElements() == modelTokens(s).size
    })
    // identical token streams hash identically; differing ones don't
    val a = graft.functions.ShingleHashes.compute(org.apache.spark.unsafe.types.UTF8String.fromString("foo bar baz"), 2)
    val b = graft.functions.ShingleHashes.compute(org.apache.spark.unsafe.types.UTF8String.fromString("foo-bar!baz"), 2)
    assert(a.toLongArray().toSeq == b.toLongArray().toSeq, "separator choice must not affect shingle hashes")
    val c = graft.functions.ShingleHashes.compute(org.apache.spark.unsafe.types.UTF8String.fromString("foo bar qux"), 2)
    assert(a.toLongArray().toSeq != c.toLongArray().toSeq)
  }

  test("BOM is a separator (pg174.txt case)") {
    assert(engineTokens("﻿The Project") == Seq("The", "Project"))
  }

  test("case-sensitive, digits excluded") {
    assert(engineTokens("The the THE 42 foo42bar") == Seq("The", "the", "THE", "foo", "bar"))
  }

  test("letter_tokens (interpreted) == category-L model == regex split") {
    checkProp(Prop.forAll(letterEdge) { s => letterTokens(s) == modelTokens(s) && letterTokens(s) == engineTokens(s) })
    checkProp(Prop.forAll(Gen.asciiPrintableStr) { s => letterTokens(s) == modelTokens(s) })
    assert(letterTokens("") == Nil)
    assert(letterTokens("\uFEFFThe 𝔘𝔫𝔦 a\uD800b") == Seq("The", "𝔘𝔫𝔦", "a", "b"))
    assert(LetterTokens(Literal(null, StringType)).eval() == null)
  }

  test("letter_tokens (codegen'd, through SQL) == category-L model, NULL in → NULL out") {
    import SparkSpec.spark.implicits._
    val samples = Gen.listOfN(300, letterEdge).sample.get ++ Seq("", "\uFEFF", "\uFEFFThe 𝔘𝔫𝔦", "a\uD800b")
    val rows    = samples.zipWithIndex.map { case (s, i) => (i, s) } :+ ((-1, null: String))
    // an RDD scan, not a local relation: the optimizer cannot fold the
    // projection away, so it runs in generated code
    spark.sparkContext.parallelize(rows, 4).toDF("id", "s").createOrReplaceTempView("letter_tokens_input")
    val q = spark.sql("SELECT id, letter_tokens(s) AS toks FROM letter_tokens_input")
    val codegened = q.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w.child }.exists {
      case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[LetterTokens]))
      case _              => false
    }
    assert(codegened, q.queryExecution.executedPlan.toString)
    val got = q.collect().map(r => r.getInt(0) -> Option(r.getSeq[String](1))).toMap
    assert(got(-1).isEmpty)
    samples.zipWithIndex.foreach { case (s, i) => assert(got(i).contains(modelTokens(s)), s"tokens of ${s.toList}") }
  }

  test("letter_tokens splits ill-formed UTF-8 exactly where the regex path's decoder does") {
    checkProp(Prop.forAll(illFormed) { b =>
      val u = UTF8String.fromBytes(b)
      strings(LetterTokens.compute(u)) == engineTokens(u.toString)
    })
  }

  /** `letter_tokens` grouped in plain Scala: each distinct token once,
    * in order of first occurrence, with its number of occurrences.
    */
  private def grouped(tokens: Seq[String]): Seq[(String, Long)] = {
    val m = mutable.LinkedHashMap.empty[String, Long]
    tokens.foreach(t => m(t) = m.getOrElse(t, 0L) + 1)
    m.toSeq
  }

  private def pairs(a: ArrayData): Seq[(String, Long)] =
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      r.getUTF8String(0).toString -> r.getLong(1)
    }

  /** 5000 distinct words, each repeated a different number of times:
    * the table starts at 16 entries, so it grows nine times.
    */
  private val manyWords: String = {
    val words = (0 until 5000).map(i => Iterator.iterate(i)(_ / 26).takeWhile(_ > 0).map(d => ('a' + d % 26).toChar).mkString + "z")
    words.zipWithIndex.flatMap { case (w, i) => Seq.fill(1 + i % 3)(w) }.reverse.mkString(" ")
  }

  /** Both combining outputs of `text`, evaluated interpreted through
    * their expressions, against `letter_tokens` grouped.
    */
  private def combineMatchesModel(text: UTF8String): Boolean = {
    def eval(e: Expression): ArrayData = e.eval().asInstanceOf[ArrayData]
    val model = grouped(strings(LetterTokens.compute(text)))
    pairs(eval(LetterTokenCounts(Literal(text, StringType)))) == model &&
    strings(eval(DistinctLetterTokens(Literal(text, StringType)))) == model.map(_._1)
  }

  test("letter_token_counts and distinct_letter_tokens (interpreted) == letter_tokens grouped") {
    checkProp(Prop.forAll(letterEdge)(s => combineMatchesModel(UTF8String.fromString(s))))
    checkProp(Prop.forAll(illFormed)(b => combineMatchesModel(UTF8String.fromBytes(b))))
    assert(combineMatchesModel(UTF8String.fromString(manyWords)))
    assert(pairs(LetterTokens.counts(UTF8String.fromString(""))).isEmpty)
    assert(strings(LetterTokens.distinct(UTF8String.fromString(""))).isEmpty)
    assert(pairs(LetterTokens.counts(UTF8String.fromString("b a b\uFEFFb é a"))) == Seq("b" -> 3L, "a" -> 2L, "é" -> 1L))
    assert(LetterTokenCounts(Literal(null, StringType)).eval() == null)
    assert(DistinctLetterTokens(Literal(null, StringType)).eval() == null)
  }

  test("letter_token_counts and distinct_letter_tokens (codegen'd, through SQL) == letter_tokens grouped") {
    import SparkSpec.spark.implicits._
    val samples = Gen.listOfN(200, letterEdge).sample.get.map(_.getBytes(UTF_8)) ++
      Gen.listOfN(200, illFormed).sample.get ++ Seq("", manyWords).map(_.getBytes(UTF_8))
    val rows = samples.zipWithIndex.map { case (b, i) => (i, b) } :+ ((-1, null: Array[Byte]))
    // binary cast to string keeps ill-formed bytes as they are; an RDD
    // scan keeps the projection in generated code
    spark.sparkContext.parallelize(rows, 4).toDF("id", "b").createOrReplaceTempView("letter_combine_input")
    val q = spark.sql(
      "SELECT id, letter_token_counts(CAST(b AS STRING)) AS c, distinct_letter_tokens(CAST(b AS STRING)) AS d " +
        "FROM letter_combine_input"
    )
    val codegened = q.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w.child }.flatMap {
      case p: ProjectExec => p.projectList.flatMap(_.collect { case e: LetterTokenCounts => e; case e: DistinctLetterTokens => e })
      case _              => Nil
    }
    assert(codegened.map(_.getClass).distinct.size == 2, q.queryExecution.executedPlan.toString)
    val got = q.collect().map { r =>
      val c = Option(r.getSeq[org.apache.spark.sql.Row](1)).map(_.map(x => x.getString(0) -> x.getLong(1)))
      r.getInt(0) -> (c, Option(r.getSeq[String](2)))
    }.toMap
    assert(got(-1) == ((None, None)))
    samples.zipWithIndex.foreach { case (b, i) =>
      val model = grouped(strings(LetterTokens.compute(UTF8String.fromBytes(b))))
      assert(got(i) == ((Some(model), Some(model.map(_._1)))), s"bytes ${b.toSeq}")
    }
  }
}
