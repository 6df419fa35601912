package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.pipeline._

/** Runnable end-to-end pipeline — the reference DAG as a standalone job.
  *
  * Mirrors /root/reference/dags/pipeline_orchestration_dag.py:212's stage
  * chain: per-entity sensor → raw ingest → staging, then quality gate →
  * curation (SCD2 + denormalized join) → archive, orchestrated by
  * [[pipeline.Runner]] with the same fail-fast semantics, per-attempt
  * execution timeout included.
  *
  * Entities, landing patterns, sensor timeouts, the retry policy and the
  * stage timeout come from [[pipeline.PipelineConfig]] (default: the
  * shipped graft-pipeline.properties; override with a 4th arg) — adding an
  * entity is a config change plus, at most, a staging transform registered
  * below, matching the reference's config-driven task generation
  * (dags/config/pipeline_config.yaml:31-46).
  *
  * `--stage <group>` runs ONE stage group in isolation, mirroring the
  * reference's independently-triggerable per-stage DAGs
  * (dags/gcs_to_raw_dag.py, raw_to_staging_dag.py,
  * staging_to_curation_dag.py): `ingest` = sensors + raw ingest,
  * `staging` = staging transforms, `curation` = quality gate + SCD2 +
  * curated join + merge, `archive` = landing archival. Cross-group
  * dependencies are dropped when a group runs standalone — re-running one
  * zone after a partial failure must not re-demand its upstream's stages.
  *
  * Usage: graft.PipelineMain [sfDir] [workDir] [landingDir] [configPath]
  *                           [--stage ingest|staging|curation|archive]
  * Writes each zone as parquet under workDir and prints per-stage status.
  */
object PipelineMain {

  /** Entity-specific staging transforms (cleansing is per-schema logic;
    * everything around it is parameterized). */
  val stagingTransforms: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "customer" -> (Staging.p2StagingCustomer _),
      "orders" -> (Staging.p3StagingOrders _))

  val StageGroups: Seq[String] = Seq("ingest", "staging", "curation", "archive")

  /** All pipeline stages, each tagged with its stage group. Dependencies
    * are declared in full-pipeline terms; [[stagesFor]] prunes the ones
    * that leave the selected group. */
  def stageGroups(spark: SparkSession, sfDir: String, workDir: String,
                  landing: String, config: PipelineConfig): Seq[(String, Runner.Stage)] = {
    import Runner._
    def save(name: String)(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$workDir/$name")
    def stage(group: String, name: String, deps: Seq[String])(body: () => Unit) =
      group -> Stage(name, deps, config.retries, config.retryDelayMs,
        config.stageTimeoutMs)(body)

    val entityStages = config.entities.flatMap { e =>
      Seq(
        stage("ingest", s"sense_${e.name}", Seq.empty)(() =>
          require(Sensor.await(Seq(Paths.get(landing, e.pattern).toString),
            e.sensorTimeoutMs, e.pokeIntervalMs),
            s"no ${e.pattern} in $landing")),
        stage("ingest", s"ingest_${e.name}", Seq(s"sense_${e.name}"))(() =>
          save(s"raw_${e.name}")(Ingest.ingestRawEntity(spark, sfDir, e))),
        stage("staging", s"staging_${e.name}", Seq(s"ingest_${e.name}"))(() =>
          save(s"staging_${e.name}")(stagingTransforms(e.name)(spark, sfDir))))
    }
    val stagingDeps = config.entities.map(e => s"staging_${e.name}")
    val senseDeps = config.entities.map(e => s"sense_${e.name}")

    val tailStages = Seq(
      stage("curation", "quality", stagingDeps)(() => {
        val report = Quality.p4QualityChecks(spark, sfDir)
        save("quality_report")(report)
        // gate on the configured entity tables via their configured PKs
        // (the synthetic lineitem has planted PK dups the report is
        // expected to surface, not fail the run on)
        val gate = config.entities.map(e =>
            Quality.tableMetrics(Tables.load(spark, sfDir, e.table), e.table, e.pk))
          .reduce(_ unionAll _)
        require(Quality.gatePasses(gate), "quality gate failed")
      }),
      stage("curation", "curate_scd2", Seq("quality"))(() =>
        save("curated_user_scd2")(Scd2.p5Scd2User(spark, sfDir))),
      stage("curation", "curate_join", Seq("quality"))(() =>
        save("curated_customer")(Curated.p6CuratedJoin(spark, sfDir))),
      stage("curation", "merge", Seq("curate_join"))(() =>
        save("merged_orders")(Merge.p7IncrementalMerge(spark, sfDir))),
      stage("archive", "archive", Seq("curate_scd2", "curate_join", "merge") ++ senseDeps)(() => {
        val moved = Archive.archive(landing, s"$workDir/archived",
          java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString.replace("-", ""))
        require(moved.nonEmpty, "nothing archived")
      }))

    entityStages ++ tailStages
  }

  /** Select one group's stages (or all of them), pruning dependencies on
    * stages outside the selection — standalone `staging` must not wait for
    * (absent) `ingest_*` stages, exactly like the reference's
    * raw_to_staging DAG carries no gcs_to_raw sensor tasks. */
  def stagesFor(all: Seq[(String, Runner.Stage)],
                group: Option[String]): Seq[Runner.Stage] = {
    group.foreach(g => require(StageGroups.contains(g),
      s"unknown stage group '$g' (known: ${StageGroups.mkString(", ")})"))
    val chosen = group match {
      case None => all.map(_._2)
      case Some(g) => all.filter(_._1 == g).map(_._2)
    }
    val names = chosen.map(_.name).toSet
    chosen.map(s => s.copy(deps = s.deps.filter(names))(s.run))
  }

  def main(args: Array[String]): Unit = {
    // --stage <group> may appear anywhere; remaining args stay positional
    val stageIdx = args.indexOf("--stage")
    require(stageIdx < 0 || stageIdx + 1 < args.length,
      s"--stage requires a group name (${StageGroups.mkString("|")})")
    val group = if (stageIdx >= 0) Some(args(stageIdx + 1)) else None
    val pos = if (stageIdx >= 0) args.patch(stageIdx, Nil, 2) else args

    val sfDir = if (pos.length > 0) pos(0) else "/root/testdata/sf0.001"
    val workDir = if (pos.length > 1) pos(1) else Files.createTempDirectory("graft_run").toString
    val config = if (pos.length > 3) PipelineConfig.load(pos(3)) else PipelineConfig.default
    // validate before building stages: a config entity without a registered
    // staging transform must fail with a clear message, not a
    // NoSuchElementException halfway through DAG construction
    config.entities.foreach(e => require(stagingTransforms.contains(e.name),
      s"no staging transform registered for entity '${e.name}' " +
        s"(known: ${stagingTransforms.keys.toSeq.sorted.mkString(", ")})"))
    val landing = if (pos.length > 2) pos(2) else {
      // default landing dir with marker files so every entity's sensor passes
      val l = Files.createTempDirectory("graft_landing")
      config.entities.foreach(e => Files.writeString(l.resolve(e.pattern), "placeholder\n"))
      l.toString
    }
    val spark = GraftSession.local(
      GraftSession.coresFrom(sys.env.get("SPARK_GRAFT_CPUS"), 8), shufflePartitions = 32)
    spark.sparkContext.setLogLevel("WARN")

    // failure hook: the reference's email_on_failure analog (no SMTP in a
    // library — log the notification target and the error)
    val onFailure: (String, Throwable) => Unit = (stage, e) =>
      System.err.println(s"[pipeline] NOTIFY ${config.notifyEmail.getOrElse("<none>")}: " +
        s"stage $stage failed: ${e.getMessage}")

    val stages = stagesFor(stageGroups(spark, sfDir, workDir, landing, config), group)
    val results = Runner.run(stages, onFailure)
    results.foreach(r => println(s"[pipeline] ${r.name}: ${r.status}"))
    val failed = results.exists(_.status != Runner.Succeeded)
    spark.stop()
    if (failed) sys.exit(1)
  }
}
