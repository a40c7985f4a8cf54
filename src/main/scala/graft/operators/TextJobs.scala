package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's two jobs — word count and inverted index —
  * re-expressed as declarative Spark plans.
  *
  * Reference semantics (SURVEY.md §2.3; /root/reference/services/
  * mapper.go:179-203, reducer.go:159-186):
  *   - tokens = maximal runs of Unicode letters (split on `[^\p{L}]+`),
  *     case-sensitive, no normalization — computed by the codegen'd
  *     UTF-8 letter-run scanner ([[graft.functions.LetterTokens]]);
  *     [[TokenSep]] stays as the independent regex reference;
  *   - wc: word → total occurrence count across all files;
  *   - ii: word → (#distinct files, lexicographically ascending
  *     comma-joined distinct file list).
  *
  * Where the reference ships every ("word","1") pair over the wire
  * (no combiner, mapper.go:62-83), these plans combine twice before
  * the shuffle: the tokenizer scan itself folds each document to one
  * row per distinct word (`letter_token_counts` for wc,
  * `distinct_letter_tokens` for ii), and Catalyst's partial hash
  * aggregate then combines those rows across the documents of a
  * partition — the single biggest scale win over the reference design.
  *
  * ii aggregates once per word over each row's distinct words;
  * `n_files` is the size of the file set that aggregate already
  * builds. A `countDistinct(file)` beside the `collect_set(file)`
  * would make Spark plan a single-distinct aggregate instead: four
  * aggregate nodes keyed first by (word, file), a `collect_set` buffer
  * per token, one more exchange and one more job.
  *
  * The final `orderBy` of both jobs sorts in one partition, with no
  * range-sampling job, once the aggregate's input is materialized and
  * small enough that AQE would coalesce the sorted output into one
  * partition anyway ([[graft.plans.SmallSortInOnePartition]]).
  */
object TextJobs {

  /** Java-regex equivalent of Go's unicode.IsLetter FieldsFunc split. */
  val TokenSep = "[^\\p{L}]+"

  /** Read a directory of whole text files as (file, text) rows —
    * file granularity matches the reference's one-map-task-per-file.
    */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .text(dir)
      .select(
        regexp_replace(input_file_name(), ".*/", "").as("file"),
        col("value").as("text")
      )

  /** `fn(text)` for one of the tokenizer scan's SQL functions. */
  private def scan(df: DataFrame, fn: String, textCol: String): Column = {
    graft.GraftFunctions.register(df.sparkSession)
    call_function(fn, col(textCol))
  }

  /** Explode a text column into one row per token. Keeps all other
    * columns.
    */
  def tokenized(df: DataFrame, textCol: String = "text", out: String = "word"): DataFrame =
    df.withColumn(out, explode(scan(df, "letter_tokens", textCol))).drop(textCol)

  /** wc over any DataFrame with a text column: each row contributes
    * one (word, cnt) per distinct word, summed per word.
    */
  def wordCount(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(inline(scan(df, "letter_token_counts", textCol)))
      .groupBy("word")
      .agg(sum("cnt").as("cnt"))
      .orderBy("word")

  /** ii over any DataFrame with (text, file) columns: each row
    * contributes its distinct words once, and one aggregate collects
    * the sorted distinct file list per word.
    */
  def invertedIndex(df: DataFrame, textCol: String = "text", fileCol: String = "file"): DataFrame =
    df.select(explode(scan(df, "distinct_letter_tokens", textCol)).as("word"), col(fileCol))
      .groupBy("word")
      .agg(array_sort(collect_set(col(fileCol))).as("file_set"))
      .select(
        col("word"),
        size(col("file_set")).cast("long").as("n_files"),
        concat_ws(",", col("file_set")).as("files")
      )
      .orderBy("word")

  /** Reference-parity entry points over a directory of text files. */
  def wordCountDir(spark: SparkSession, dir: String): DataFrame =
    wordCount(corpus(spark, dir))

  def invertedIndexDir(spark: SparkSession, dir: String): DataFrame =
    invertedIndex(corpus(spark, dir))

  /** Reference-format text sink: one `key: value` line per row, sorted
    * by key for determinism (reference row order is nondeterministic
    * and explicitly non-contractual, SURVEY.md §2.3.4).
    */
  def sinkText(df: DataFrame, keyCol: String, valueCol: String, path: String): Unit =
    df.orderBy(keyCol)
      .select(concat_ws(": ", col(keyCol), col(valueCol).cast("string")).as("value"))
      .write
      .mode("overwrite")
      .text(path)
}
