package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev harness only — the driver passes two): comma-
    // separated query names to restrict the dump to, for fast iteration
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    val spark = GraftSession.harness("WARN")
    try run(spark, sfDir, outDir, only)
    finally spark.stop()
  }

  /** The dump pass, session-agnostic so the contract is testable: MUST
    * not throw on a broken sfDir or a failing query — each failure is
    * caught per query, logged, and its oracle entry withheld, while
    * `oracle_sql.json` is still written (the driver's whole round zeroes
    * if this crashes). Returns the failed query names. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Set[String] = Set.empty): Set[String] = {
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    // queries whose result parquet failed to materialize: their oracle
    // entries are withheld below, so a partial failure degrades to the
    // driver's rows-only/missing check instead of comparing a live oracle
    // against a stale or absent dump (e.g. s3's oracle is built from
    // process state the failed run may have half-updated)
    val failed = scala.collection.mutable.Set.empty[String]
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // the result now exists: confirm the run-derived oracle (the model
        // its body trained, e.g. s3's centroids) it registered for this dir
        // in graft.operators.RunOracles; unregistered names are a no-op
        SparkEntry.markMaterialized(name, sfDir)
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .filterNot { case (k, _) => failed(k) }
      // a null/blank oracle is a registration bug (e.g. a strict val read
      // before initialization) — withhold THAT entry with a loud note
      // instead of NPEing the whole dump (the no-throw contract above)
      .filterNot { case (k, v) =>
        val bad = v == null || v.trim.isEmpty
        if (bad) System.err.println(s"[verify] $k oracle is null/blank — withheld")
        bad
      }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.toSet
  }
}
