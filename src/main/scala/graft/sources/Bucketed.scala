package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Bucketed fact layout for shuffle-free fact-fact consumers.
  *
  * The engine's single biggest recurring cost at 100 TB is the
  * `l_orderkey`/`o_orderkey` hash shuffle that every fact-fact operator
  * (q3, q39, q33's edge build, q42's baskets) pays to co-locate lineitem
  * with orders. Bucketing pays that shuffle ONCE at write time — both
  * facts land hash-bucketed on the order key ([[ensureFactLayout]]) — and
  * every subsequent consumer reads co-located buckets: the join needs no
  * exchange, and any aggregation keyed on the bucket column (or a
  * superset of it) reuses the SAME storage partitioning, because
  * `HashPartitioning(orderkey)` satisfies every
  * `ClusteredDistribution` whose clustering contains the bucket key.
  * This is the "one partitioning, reused across stages" claim SURVEY §5
  * makes, landed as a concrete layout + operator (reference analog: the
  * reference clusters its curated BigQuery tables on the join key in
  * dags/config/pipeline_config.yaml; clustering there buys block pruning
  * and co-location the same way bucketing does here).
  *
  * On a real cluster the layout is written once per landing cycle by the
  * curation stage and consumed by every downstream query; `SourcesSpec`
  * pins the contract at test scale: ZERO `Exchange hashpartitioning`
  * anywhere in the bucketed plan — the aggregation AND the fact-fact
  * join both run on the storage partitioning — and the result is
  * row-identical to the shuffled form of the same query.
  */
object Bucketed {

  /** Once-per-(JVM, sf-dir) layout bootstrap for the measured p29 path,
    * PERSISTED ACROSS JVMs: the first session ever pays the one-time
    * bucketed write (exactly like the curation stage that owns the layout
    * in production) and stamps the table dir with a `_GRAFT_LAYOUT`
    * marker content-addressing the source (file names + sizes + mtimes),
    * bucket spec and written schema; every later session — whose
    * in-memory catalog is empty but whose warehouse dir survived —
    * RE-REGISTERS the existing files as an external bucketed table from
    * the marker instead of rewriting them (an adopt is a single DDL, no
    * data IO). A marker that is missing (crash mid-write), or that
    * disagrees with the current source fingerprint or bucket spec,
    * triggers a full rewrite — staleness can't be adopted. Table names
    * carry a sanitized dir tag so different SF dirs never collide.
    * Idempotent under a lost race — the write is mode(Overwrite) of
    * identical data and the adopt DDL is create-if-absent.
    *
    * Both facts share one bucket count and sort each bucket on the key,
    * so their join needs neither an Exchange nor a Sort. Returns the
    * (lineitem, orders) table names. */
  private val builtLayouts =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  def ensureFactLayout(spark: SparkSession, dir: String): (String, String) =
    builtLayouts.getOrElseUpdate(dir, {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val prefix = s"bkt_${tag}_"
      adoptOrWrite(spark, dir, "lineitem", "l_orderkey", s"${prefix}lineitem")
      adoptOrWrite(spark, dir, "orders", "o_orderkey", s"${prefix}orders")
      (s"${prefix}lineitem", s"${prefix}orders")
    })

  /** Test hook: forget a memoized layout so a spec can replay the
    * next-JVM path (catalog empty, warehouse dir intact) in-process. */
  private[graft] def forgetLayout(dir: String): Unit =
    builtLayouts.remove(dir)

  private val NBuckets = 32

  /** The source's content address: every file's (name, size, mtime) under
    * `dir/name.parquet` — cheap (one listStatus), and any upstream
    * rewrite, append or touch changes it. */
  private def sourceFingerprint(spark: SparkSession, dir: String,
                                name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val files = if (st.isDirectory) fs.listStatus(p).filter(_.isFile)
      .sortBy(_.getPath.getName).toSeq else Seq(st)
    files.map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .mkString("|")
  }

  private def adoptOrWrite(spark: SparkSession, dir: String, source: String,
                           bucketCol: String, table: String): Unit = {
    val fp = sourceFingerprint(spark, dir, source)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(loc, "_GRAFT_LAYOUT")
    val stored: Map[String, String] =
      if (!fs.exists(marker)) Map.empty
      else {
        val in = fs.open(marker)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.linesIterator.filter(_.contains('=')).map { l =>
          val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
        }.toMap
      }
    val valid = stored.get("fingerprint").contains(fp) &&
      stored.get("buckets").contains(NBuckets.toString) &&
      stored.get("bucket_col").contains(bucketCol) &&
      stored.get("schema").exists(_.nonEmpty)
    if (valid) {
      if (!spark.catalog.tableExists(table))
        spark.sql(s"CREATE TABLE `$table` (${stored("schema")}) USING parquet " +
          s"CLUSTERED BY (`$bucketCol`) SORTED BY (`$bucketCol`) " +
          s"INTO $NBuckets BUCKETS LOCATION '${loc.toString}'")
    } else {
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      if (fs.exists(loc)) fs.delete(loc, true)
      val df = Tables.load(spark, dir, source)
      // external (explicit path) so a DROP TABLE — or a dead catalog —
      // never takes the files with it; the marker lands only after the
      // data write committed, so a crash between the two re-runs the write
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(NBuckets, bucketCol).sortBy(bucketCol)
        .option("path", loc.toString)
        .format("parquet").saveAsTable(table)
      val out = fs.create(marker, true)
      try out.write((s"fingerprint=$fp\nbuckets=$NBuckets\n" +
        s"bucket_col=$bucketCol\nschema=${df.schema.toDDL}\n").getBytes("UTF-8"))
      finally out.close()
    }
  }
}
