package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.TextJobs

/** Golden-output parity for the reference's two jobs (SURVEY.md §5.2.1):
  * goldens computed by an independent plain-Scala oracle over the same
  * corpus, compared as merged key→value maps (order-insensitive per the
  * contract §2.3.4).
  */
object TextJobsGoldenSpec {

  /** The committed corpus (src/test/resources/textjobs), resolved here
    * and nowhere else. `large` holds `small`'s three files byte for
    * byte, plus a mixed-script file, a file opening with two BOMs and
    * `wc6.txt`, a byte-identical copy of `wc4.txt`. Between them the
    * files carry Unicode letters (Latin, Greek, Cyrillic, CJK, a
    * supplementary-plane run), case-variant keys, digits, apostrophes,
    * BOMs, CRLF, vulgar fractions and a combining accent as
    * separators, and words repeated within one file and shared across
    * files.
    */
  private val corpusRoot = Paths.get(getClass.getResource("/textjobs").toURI).toString
  val small: String      = s"$corpusRoot/small"
  val large: String      = s"$corpusRoot/large"
}

class TextJobsGoldenSpec extends SparkSpec {

  private def listFiles(dir: String): Seq[java.nio.file.Path] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  private def tokens(s: String): Iterator[String] =
    s.split(TextJobs.TokenSep).iterator.filter(_.nonEmpty)

  private def goldenWc(dir: String): Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    listFiles(dir).foreach { p =>
      tokens(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).foreach(w => m(w) += 1)
    }
    m.toMap
  }

  private def goldenIi(dir: String): Map[String, Seq[String]] = {
    val m = scala.collection.mutable.HashMap.empty[String, Set[String]].withDefaultValue(Set.empty)
    listFiles(dir).foreach { p =>
      val name = p.getFileName.toString
      tokens(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).foreach(w => m(w) += name)
    }
    m.view.mapValues(_.toSeq.sorted).toMap
  }

  import TextJobsGoldenSpec.{large, small}

  private def wcOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def iiOf(df: org.apache.spark.sql.DataFrame): Map[String, (Long, String)] =
    df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap

  test("wc golden parity on small corpus") {
    val got = wcOf(TextJobs.wordCountDir(spark, small))
    assert(got == goldenWc(small))
    // the corpus exercises what it claims to: case-variant keys kept
    // apart, in-file repeats summed, apostrophes and combining accents
    // (`cafe\u0301`) splitting, and no separator inside any token
    assert(got("the") == 4L && got("The") == 3L && got("THE") == 1L)
    assert(got("жук") == 1L && got("Жук") == 1L && got("ЖУК") == 1L)
    assert(got("𝔘𝔫𝔦𝔠𝔬𝔡𝔢") == 1L && got("over") == 4L && got("fox") == 5L)
    assert(got("doesn") == 1L && got("t") == 1L && got("cafe") == 1L && got("café") == 2L)
    assert(got.keySet.forall(_.codePoints().allMatch(Character.isLetter(_))))
  }

  test("ii golden parity on large corpus incl. small⊂large cross-check") {
    val golden = goldenIi(large)
    val got    = iiOf(TextJobs.invertedIndexDir(spark, large))
    assert(got.keySet == golden.keySet)
    got.foreach { case (w, (n, files)) =>
      assert(n == golden(w).size, s"n_files mismatch for $w")
      assert(files == golden(w).mkString(","), s"files mismatch for $w")
    }
    // the byte-identical duplicate indexes under both names
    assert(got("Ελληνικά") == (2L, "wc4.txt,wc6.txt"))
    assert(got("the") == (4L, "wc1.txt,wc2.txt,wc4.txt,wc6.txt"))
    assert(got("Straße") == (2L, "wc1.txt,wc5.txt"))
    // small ⊂ large: large holds small's files byte for byte, so ii over
    // large restricted to small's file names is exactly ii over small,
    // and its words are exactly wc over small's words
    val smallFiles = listFiles(small).map(_.getFileName.toString)
    smallFiles.foreach { f =>
      assert(
        java.util.Arrays.equals(Files.readAllBytes(Paths.get(small, f)), Files.readAllBytes(Paths.get(large, f))),
        s"$f must be byte-identical in small and large"
      )
    }
    val restricted = got.view
      .mapValues { case (_, files) => files.split(",").filter(smallFiles.contains).toSeq }
      .filter(_._2.nonEmpty)
      .toMap
    val gotSmall = iiOf(TextJobs.invertedIndexDir(spark, small))
    assert(restricted == gotSmall.view.mapValues(_._2.split(",").toSeq).toMap)
    assert(restricted.keySet == wcOf(TextJobs.wordCountDir(spark, small)).keySet)
  }

  test("partition-count invariance (kills the reference's >=10-reducer bug class)") {
    val corpus = TextJobs.corpus(spark, large)
    val wc     = wcOf(TextJobs.wordCount(corpus))
    val ii     = iiOf(TextJobs.invertedIndex(corpus))
    Seq(1, 3, 7).foreach { r =>
      assert(wcOf(TextJobs.wordCount(corpus.repartition(r))) == wc, s"repartition($r) changed the merged wc result")
      assert(iiOf(TextJobs.invertedIndex(corpus.repartition(r))) == ii, s"repartition($r) changed the merged ii result")
    }
  }
}
