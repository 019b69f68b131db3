package graft

import org.apache.spark.sql.{SparkSession, functions => F, DataFrame => SDF}
import org.apache.spark.sql.types.{LongType, TimestampType}
import graft.api.LazyFrame

/** Schema-adaptive loading helpers for the driver's synthetic tables.
  *
  * The `events.ts` column has shipped in two physical spellings across
  * testdata generations: parquet TIMESTAMP(NANOS) — which Spark reads as
  * a raw Long under `spark.sql.legacy.parquet.nanosAsLong` — and native
  * timestamp[us], which Spark reads as TIMESTAMP_NTZ. Normalize both to
  * session-tz TimestampType (µs) so every query sees one shape; with the
  * UTC session tz used by Verify/Bench/tests the NTZ cast is instant-
  * preserving and hashes identically to the DuckDB oracle's epoch_us.
  */
object TestTables {
  /** The driver table `dir/name.parquet`, scanned through [[graft.io.Scan]]. */
  def t(s: SparkSession, dir: String, name: String): SDF =
    graft.io.Scan.parquet(s, s"$dir/$name.parquet")
  def lf(s: SparkSession, dir: String, name: String): LazyFrame =
    LazyFrame(t(s, dir, name))
  def events(s: SparkSession, dir: String): LazyFrame =
    LazyFrame(normalizeEventsTs(t(s, dir, "events")))
  /** `events` as a file stream with the table's schema, over a link in
    * `root` (file stream sources take directories; see
    * [[graft.streaming.Streaming.linkedInput]]). */
  def eventsStream(s: SparkSession, dir: String, root: java.io.File): SDF =
    graft.streaming.Streaming.scanParquetStream(
      graft.streaming.Streaming.linkedInput(root, dir, "events"), t(s, dir, "events").schema)(s)

  def normalizeEventsTs(df: SDF): SDF = df.schema("ts").dataType match {
    case LongType      => df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    case TimestampType => df
    case _             => df.withColumn("ts", F.col("ts").cast("timestamp"))
  }
}
