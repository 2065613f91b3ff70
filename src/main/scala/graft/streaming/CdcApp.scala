package graft.streaming

import graft.config.{JobConfig, TableSpec}
import graft.envelope.CdcFormat
import graft.sink.{AggViewTarget, JdbcWriteExecutor, MergeTarget, ParquetMergeTarget, RedshiftSql, ReplayCopyExecutor, StatementCopyExecutor, WarehouseMergeSink}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The single app driver, replacing the reference's three near-identical
  * entry points (emr_ec2 / glue / emr_serverless `cdc_redshift.py` —
  * platform differences are config here, SURVEY.md §3).
  *
  * Usage: `runMain graft.streaming.CdcApp <config.properties> [jdbcUrl]`
  *  - config: the reference's property names (`kafka_broker`, `topic`,
  *    `cdc_format`, `sync_table_list`, ...; see JobConfig).
  *  - sink: `jdbc:` URL → the one warehouse sink, [[WarehouseMergeSink]],
  *    loading staging by staged COPY when `redshift_tmpdir` is set and by
  *    Spark's JDBC writer otherwise; any other value is treated as a
  *    directory of bucketed [[ParquetMergeTarget]]s, one per table
  *    (lakehouse/test mode).
  */
object CdcApp {

  /** The stream session, from [[graft.Launch.session]]'s `Stream`
    * profile. `workers` is unused; it is kept for the bench's binding
    * (`perfbench` calls `CdcApp.session(appName, workers)`). */
  def session(appName: String, workers: Int): SparkSession =
    graft.Launch.session(graft.Launch.Stream, Some(appName))

  def sinkFactory(spark: SparkSession, sinkSpec: String,
                  cfg: JobConfig = JobConfig()): TableSpec => MergeTarget = {
    if (sinkSpec.startsWith("jdbc:")) {
      // S8: credentials from the secret reference (env:/file:), secret
      // values overriding explicit jdbc_user/jdbc_password properties —
      // and a secret-provided host/port overriding the URL's endpoint
      // (a rotated secret that moves the warehouse must win).
      val creds = cfg.credentials()
      val url = creds.applyTo(sinkSpec)
      val props = new java.util.Properties()
      creds.username.foreach(props.setProperty("user", _))
      creds.password.foreach(props.setProperty("password", _))
      // Engine VARCHAR ceiling: Redshift takes the generated 65535;
      // Derby (the sandbox warehouse) tops out at 32672.
      val maxVarchar = if (url.startsWith("jdbc:derby")) 32672 else 65535
      // redshift_tmpdir configured → the staged-COPY bulk path (part
      // files + manifest + COPY); otherwise Spark's JDBC writer loads
      // staging directly.
      val executor = cfg.redshiftTmpdir match {
        case Some(tmpdir) =>
          val opts = RedshiftSql.CopyOptions(iamRole = cfg.iamRole, region = cfg.awsRegion,
            maxError = cfg.maxError, tempformat = cfg.tempformat)
          if (cfg.copyMode.equalsIgnoreCase("statement")) new StatementCopyExecutor(tmpdir, opts)
          else new ReplayCopyExecutor(spark, url, props, tmpdir, opts)
        case None => new JdbcWriteExecutor(url, props)
      }
      val sink = new WarehouseMergeSink(url, props, executor, maxVarchar = maxVarchar)
      // redshift_schema qualifies every target (and thus its staging
      // table) — ref passes it to all catalog probes and DDL.
      val qualify: TableSpec => TableSpec =
        if (cfg.redshiftSchema.isEmpty) identity
        else s => s.copy(targetTable = Some(s"${cfg.redshiftSchema}.${s.resolvedTarget}"))
      spec0 => new MergeTarget {
        private val spec = qualify(spec0)
        def merge(stage: DataFrame, s: TableSpec): Unit = sink.writeBatch(stage, qualify(s))
        def snapshot(sp: SparkSession): DataFrame = {
          val r = sp.read.format("jdbc").option("url", url)
            .option("dbtable", spec.resolvedTarget)
          creds.username.foldLeft(
            creds.password.foldLeft(r)(_.option("password", _)))(_.option("user", _))
            .load()
        }
      }
    } else {
      val sinks = scala.collection.concurrent.TrieMap.empty[String, MergeTarget]
      // Size-derived bucketed layout: one bucket until the table outgrows
      // 8 MiB, then per-batch I/O is O(touched buckets), not O(table).
      // The target takes its merge algebra from each batch's spec:
      // `scd2_history` specs keep a type-2 version history instead of the
      // type-1 last-image table.
      spec => sinks.getOrElseUpdate(spec.resolvedTarget, {
        val base = new ParquetMergeTarget(s"$sinkSpec/${spec.resolvedTarget}")
        // `agg_view_keys`/`agg_view_value` specs also maintain a moments
        // rollup next to the merged table (AggViewTarget decorator).
        // Half-configured specs fail fast (a silently missing rollup is
        // discovered by its consumer, far from the config mistake), and
        // SCD2 targets are refused: the view's retraction model assumes
        // a type-1 last-image snapshot — retracting an SCD2 history
        // would subtract every stored version of a key.
        val wantsView = spec.aggViewKeys.nonEmpty || spec.aggViewValue.nonEmpty
        if (wantsView) {
          require(spec.aggViewKeys.nonEmpty && spec.aggViewValue.nonEmpty,
            s"table ${spec.resolvedTarget}: agg_view_keys and agg_view_value " +
              "must be set together")
          require(!spec.scd2History,
            s"table ${spec.resolvedTarget}: agg_view is not supported on an " +
              "scd2_history target (type-2 retraction is undefined)")
          new AggViewTarget(base, s"$sinkSpec/${spec.resolvedTarget}_agg_view")
        } else base
      })
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CdcApp <config.properties> [sink]")
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args(0))), java.nio.charset.StandardCharsets.UTF_8)
    val cfg = JobConfig.fromProperties(text)
    val sinkSpec = if (args.length > 1) args(1) else "/tmp/graft-targets"
    val spark = session("graft-cdc", cfg.threadMaxWorkers)
    // Per-batch progress + consumer-group offset commit (T4 — ref
    // README.md:141: KafkaOffsetCommitterListener). Print-only committer
    // here; a broker deployment plugs an AdminClient-backed one.
    spark.streams.addListener(
      new OffsetCommit.CommittingProgressListener(cfg.consumerGroup))
    val format = CdcFormat.forName(cfg.cdcFormat)
    val source = CdcPipeline.kafkaSource(spark, cfg)
    val query = CdcPipeline.streamWriter(source, cfg, format,
      sinkFactory(spark, sinkSpec, cfg)).start()
    query.awaitTermination()
  }
}
