package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared text primitives for the reference's three queries.
  *
  * Normalized semantics per SURVEY.md §1.2:
  *  - tokenizer (Q5): lowercase, then maximal runs of `[a-z][a-z']*`
  *    (reference: tolower + skip-to-letter loop,
  *    wordCount/wordCount.cpp:67-86);
  *  - stop words (Q1): exact membership in the whitespace-tokenized
  *    Stop_Words.txt set (reference does substring `find` on the raw line,
  *    wordCount/wordCount.cpp:151-157 — normalized to exact match);
  *  - line numbers (Q6): 0-based in file order
  *    (invert/invert.cpp:91-105).
  */
object TextPipeline {
  /** Reference tokenizer: starts with a letter, may contain apostrophes. */
  val TokenPattern = "[a-z][a-z']*"

  /** One row per line in file order with a 0-based line number.
    *
    * `monotonically_increasing_id` is NOT file-ordered across partitions;
    * `zipWithIndex` is (Hadoop text splits are ordered by file offset and
    * rows are ordered within a split), and it stays fully distributed —
    * one extra count-per-partition job, no driver collect, so it holds at
    * 100 TB (unlike a `coalesce(1)` row_number).
    */
  def linesWithIndex(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path).rdd.zipWithIndex.toDF("text", "line")
  }

  /** Explode a text column into reference-semantics tokens. The pattern
    * goes through `lit` (not an `expr` string) so the apostrophe needs no
    * SQL-literal escaping. */
  def tokens(df: DataFrame, textCol: String): DataFrame =
    df.select(
      explode(regexp_extract_all(lower(col(textCol)), lit(TokenPattern), lit(0)))
        .as("word"))

  /** Tokens with their 0-based source line (for the inverted index). */
  def tokensWithLine(df: DataFrame): DataFrame =
    df.select(
      col("line"),
      explode(regexp_extract_all(lower(col("text")), lit(TokenPattern), lit(0)))
        .as("word"))

  /** The 182-word stop list, whitespace-tokenized, exact-match set.
    * Tiny by construction → always broadcast in the anti-join. Not
    * deduplicated: every consumer anti-joins it or collects it into a
    * `Set`, so a repeated word cannot change a result, and a `distinct`
    * would cost each query a shuffle stage and a job. */
  def stopWords(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(explode(split(trim(col("value")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
}
