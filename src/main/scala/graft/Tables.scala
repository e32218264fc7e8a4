package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loaders for the driver-provided deterministic parquet fixtures
  * (`/root/testdata/sf*`, see TESTDATA.md). One DataFrame per table; the
  * partitioned parquet scan is the engine's bootstrap "token-range full
  * scan" (SURVEY §2 S1 — reference: crates/vector-store/src/db_index.rs:439-561).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Fixture-vintage guard: events.ts has shipped both as TIMESTAMP(NANOS)
    // (read as a raw nanos long under spark.sql.legacy.parquet.nanosAsLong)
    // and as TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ — the legacy conf
    // only applies to nanos). Every downstream operator and oracle treats
    // ts as epoch NANOS in a long column; normalize here so both vintages
    // present identically. Sessions run in UTC, so the NTZ→instant cast is
    // value-preserving and matches DuckDB's naive-as-UTC epoch_us/epoch_ns.
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }
  }
}
