package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Table access layer for the driver-generated parquet corpus (TESTDATA.md).
  *
  * Every corpus table and every [[Stored.materialize]] read-back goes
  * through the one reader, [[parquet]]. It takes the file's inferred schema
  * from [[Stored.schema]], once per (path, listing of that path), and reads
  * with it declared, so building a query starts no footer-merge job to
  * infer a schema. Only the `StructType` is cached, never the DataFrame or
  * its plan: a self-join needs fresh attribute ids on every read. The key
  * holds no conf: `nanosAsLong` (below), which changes the inferred `ts`
  * type, is fixed for the whole engine. Reads of paths written fresh per
  * call (temp dirs, view versions) stay plain `read.parquet`: their first
  * lookup would always miss.
  *
  * The one source quirk: `events.parquet` has shipped with two different `ts`
  * physical layouts across testdata generations, and the loader adapts to
  * whichever is on disk so every downstream plan sees the same logical column
  * (session-zone `TIMESTAMP`, micro precision):
  *
  *  - parquet `TIMESTAMP(NANOS)` — Spark's reader rejects it outright
  *    (PARQUET_TYPE_ILLEGAL), so the engine session reads with
  *    `spark.sql.legacy.parquet.nanosAsLong=true` ([[graft.EngineSession]]):
  *    ts arrives as an epoch nanos long, and the loader rebuilds a micros
  *    timestamp with integer division —
  *    `DIV`, not `/`: a 2024 epoch-nanos value (~1.7e18) far exceeds a
  *    double's 53-bit mantissa, so float division would corrupt timestamps.
  *    Truncation (floor) matches how DuckDB converts nanos→micros.
  *  - parquet `TIMESTAMP(MICROS, isAdjustedToUTC=false)` — arrives as
  *    `TIMESTAMP_NTZ`; cast to session-zone `TIMESTAMP`, which is
  *    value-identical under the engine's pinned UTC session zone and keeps
  *    the column type (and therefore every result file) byte-identical to
  *    the nanos path.
  */
object Tables {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(s, dir)
    else parquet(s, s"$dir/$name.parquet")

  /** The one parquet reader: `path` read with its stored inferred schema. */
  def parquet(s: SparkSession, path: String): DataFrame =
    s.read.schema(Stored.schema(path, s)(s.read.parquet(path).schema)).parquet(path)

  /** Normalize whatever `ts` layout the reader produced to micro-precision
    * session-zone TIMESTAMP. Long = legacy nanosAsLong read; NTZ = plain
    * micros file; already-TIMESTAMP passes through untouched.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }

  def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(parquet(s, s"$dir/events.parquet"))
}
