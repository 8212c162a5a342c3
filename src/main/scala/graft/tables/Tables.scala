package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-supplied Parquet corpus (see /root/repo/TESTDATA.md).
  *
  * Design note (scale): all reads go through `spark.read.parquet`, so Catalyst
  * gets a relation with pushdown-capable scan — filters and column pruning
  * written downstream reach the Parquet reader (verify with
  * `.explain("formatted")`: `PushedFilters`, `ReadSchema`). At cluster scale
  * the same call works on a directory of thousands of files; nothing here
  * assumes a single file.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts precision varies by corpus generation: TIMESTAMP(NANOS)
      // (which Spark rejects — [PARQUET_TYPE_ILLEGAL] — so it is read as
      // LONG nanos and truncated to microsecond TimestampType; integer
      // `div`, no double precision loss, matches DuckDB's own ns→µs
      // truncation) or TIMESTAMP(MICROS) isAdjustedToUTC=false (read as
      // TIMESTAMP_NTZ; session tz is UTC, so the cast to TimestampType is
      // value-identical and keeps downstream `window(ts, …)`/unix-time
      // code on one type). Branch on the decoded type, not the file.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case org.apache.spark.sql.types.TimestampType => raw
        case other =>
          // A corpus-format drift (new precision / adjusted-to-UTC flag)
          // must fail HERE with a clear message, not downstream in
          // window/unix-time code with a type error three operators later.
          throw new IllegalStateException(
            s"events.ts decoded as unexpected type $other — " +
              "extend Tables.load's ts normalization for this corpus format")
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
}
