package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated parquet tables (/root/repo/TESTDATA.md).
  *
  * All loaders take the scale-factor directory so every query in
  * [[SparkEntry.queries]] is parameterized by `sfDir` exactly as the driver
  * contract requires. Scans stay lazy `spark.read.parquet` DataFrames so
  * Catalyst pushes projections and predicates into the parquet reader
  * (check `.explain`: `PushedFilters` / `ReadSchema`).
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** `events.ts` is written as parquet `timestamp[ns]`, which Spark cannot
    * read as a timestamp (DuckDB can). With
    * `spark.sql.legacy.parquet.nanosAsLong` (set session-wide in
    * [[SparkEnv]] — never mutated here) the raw nanos arrive as LONG and we
    * truncate to microseconds — the same value DuckDB's
    * `CAST(ts AS TIMESTAMP)` produces — so both sides of the oracle agree.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // `div` is integral division — a double roundtrip would lose
        // precision above 2^53 (epoch-nanos are ~1.7e18).
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // future Spark versions may read nanos natively
    }
  }
}
