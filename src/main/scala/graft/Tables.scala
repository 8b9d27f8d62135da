package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Every table is a single parquet file under `sfDir`; reads go through
  * `spark.read.parquet` so Catalyst handles column pruning + predicate
  * pushdown into the scan, with the schema taken from the file's footer
  * on the driver ([[graft.sources.ParquetFooters.scan]]) instead of a
  * schema-inference job. At cluster scale the same call reads a
  * directory of many files — nothing here assumes a single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize a `ts` column to micros `TimestampType` regardless of
    * which corner of the parquet timestamp zoo it came from:
    *
    *  - legacy TIMESTAMP(NANOS) read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    *    [[Sessions.tune]]) arrives as Long nanos → integer-divide to
    *    micros (a double division would lose precision above 2^53 ns);
    *  - TIMESTAMP_MICROS with isAdjustedToUTC=false (the pyarrow
    *    default) arrives as TIMESTAMP_NTZ → cast to TimestampType.
    *    The session time zone is pinned to UTC in [[Sessions.tune]],
    *    so the wall-clock value is reinterpreted as a UTC instant and
    *    the µs-epoch values the oracles compare are unchanged on any
    *    host JVM;
    *  - an already-instant TimestampType (isAdjustedToUTC=true) passes
    *    through untouched.
    *
    * Every scan of the events table — batch and streaming — funnels
    * through this, so downstream `unix_micros(ts)` / window / as-of
    * logic sees ONE canonical type. A real 100 TB lake mixes writer
    * stacks and encodings; normalizing at the scan boundary (a codegen
    * cast, no shuffle) is the only place this stays O(0).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeTs(graft.sources.ParquetFooters.scan(spark, s"$sfDir/$name.parquet"))

  /** Register all tables as temp views so spark.sql(...) mirrors the
    * DuckDB oracle's table naming. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
