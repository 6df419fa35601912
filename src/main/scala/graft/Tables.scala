package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the engine's star-schema + LLM-data tables (one parquet each).
  *
  * Mirrors the reference's table registry (raw/staging/curation datasets in
  * `/root/reference/dags/config/pipeline_config.yaml:42-46`) as a flat
  * parquet lakehouse: the scan is columnar, filter-pushdown-able, and
  * splittable, so every downstream operator starts from a pruned scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The columns that have shipped with DATE semantics (naive midnight
    * timestamps) across testdata generations — the only ones the DATE
    * re-encode guard in [[load]] may retype. A DATE column outside this
    * set is NEW information (a schema change, not a re-encode) and must
    * surface as itself, not be silently rewritten. */
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val KnownDateCols: Map[String, Set[String]] = Map(
    "orders" -> Set("o_orderdate"),
    "lineitem" -> Set("l_shipdate", "l_commitdate", "l_receiptdate"))

  /** Row count of a base table, counted once per (JVM, dir, table): the
    * measured bound a `BoundedBroadcast.hintIfBounded` dim side filtered
    * from that table passes, so rebuilding the query runs no count job. */
  private val rowCounts =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]
  def rows(spark: SparkSession, dir: String, name: String): Long =
    rowCounts.getOrElseUpdate((dir, name), load(spark, dir, name).count())

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped in two physical encodings across testdata
    // generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    // reader rejects — read as long nanos via the legacy conf) and plain
    // TIMESTAMP(MICROS) without timezone (which Spark reads as
    // TIMESTAMP_NTZ). Normalize BOTH to a session-UTC TimestampType so
    // every downstream `unix_micros(ts)` sees the same epoch micros
    // DuckDB's `epoch_us(ts)` computes from the naive wall time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df0 = spark.read.parquet(s"$dir/$name.parquet")
    // date-typed re-encode guard (the o_orderdate/l_shipdate analog of the
    // events.ts normalization below): these columns have always shipped as
    // timezone-less TIMESTAMP(MICROS); should a generation re-encode one
    // as DATE, surface the identical TIMESTAMP_NTZ (naive midnight) the
    // engine reads today — DuckDB's epoch_us treats a DATE the same way,
    // so both sides keep computing the same epoch micros. Scoped to
    // KnownDateCols: a DATE column we have never seen is a schema CHANGE
    // and must not be silently retyped; it is logged and kept as-is.
    val known = KnownDateCols.getOrElse(name, Set.empty)
    val df = df0.schema.fields.foldLeft(df0) { (acc, f) =>
      if (f.dataType == org.apache.spark.sql.types.DateType && known(f.name)) {
        log.warn(
          s"Tables.load: $name.${f.name} arrived DATE-encoded; normalizing to timestamp_ntz")
        acc.withColumn(f.name,
          org.apache.spark.sql.functions.col(f.name).cast("timestamp_ntz"))
      } else if (f.dataType == org.apache.spark.sql.types.DateType) {
        log.warn(
          s"Tables.load: UNEXPECTED DATE column $name.${f.name} — new schema, NOT normalized")
        acc
      } else acc
    }
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        // integer div: ts is ~1e18 nanos, float division would lose micros
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        // naive wall time -> instant under the session's UTC zone: epoch
        // micros equal DuckDB's epoch_us of the same naive value
        case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }
}
