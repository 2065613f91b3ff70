package graft.config

/** Per-table sync spec — the behavioral switches the reference parses in
  * `run_task` (ref: cdc_util/redshift_sink.py:549-579; samples in
  * config/job.properties:31-86). One entry per logical source table.
  *
  * Notes vs the reference:
  *  - `primary_key` is a comma-separated composite in the config; we split
  *    it eagerly into `primaryKey: Seq[String]`.
  *  - the reference compares `skip_delete` against the literal `"ture"`
  *    [sic] (redshift_sink.py:456-457); we accept both spellings plus
  *    "true" so configs written for either engine behave.
  *  - `table` may be a regex (ref README.md:42) — `tableIsRegex` opts in.
  */
final case class TableSpec(
    db: String,
    table: String,
    primaryKey: Seq[String] = Nil,
    targetTable: Option[String] = None,
    ignoreDdl: Boolean = false,
    saveDelete: Boolean = false,
    onlySaveDelete: Boolean = false,
    skipDelete: Boolean = false,
    superColumns: Seq[String] = Nil,
    /** Route `super_columns` through Spark 4's native VariantType
      * (parse once at ingest, `variant_get` field access at read) instead
      * of repaired JSON text — the lakehouse-target form. */
    superAsVariant: Boolean = false,
    /** "col" or "col|fmt" entries (ref redshift_sink.py:170-190). */
    timestampColumns: Seq[String] = Nil,
    dateColumns: Seq[String] = Nil,
    tableIsRegex: Boolean = false,
    /** LWW dedup physical strategy: "window" (WindowGroupLimit top-1),
      * "agg" (partial-aggregating max_by — spill-free under per-key skew),
      * "salted" (two-phase (key,salt)→key — bounded task size for hot
      * keys taking a large fraction of a batch), or "auto" (per-batch
      * sampled hot-key probe picks one of the three — see
      * [[graft.operators.Skew.chooseStrategy]]). Semantics are identical;
      * see [[graft.operators.Dedup]] / [[graft.operators.Skew]]. */
    dedupStrategy: String = "window",
    /** Salt fan-out for `dedup_strategy=salted`. */
    saltBuckets: Int = 16,
    /** Keep a type-2 history target (every version with its
      * [valid_from, valid_to) interval — [[graft.operators.Scd2]])
      * instead of the reference's type-1 last-image upsert. Honored by
      * the parquet sink factory ([[graft.streaming.CdcApp.sinkFactory]]),
      * whose [[graft.sink.ParquetMergeTarget]] folds the batch as SCD2
      * when this is set; `skip_delete` composes (a delete then never
      * closes the open version). */
    scd2History: Boolean = false,
    /** Maintain a (group-keys → count/sum/sum-of-squares) rollup NEXT TO
      * the merged table, updated incrementally from each micro-batch's
      * retract/insert deltas ([[graft.operators.IncrementalAgg]]) —
      * `agg_view_keys` names the group columns, `agg_view_value` the
      * integral value column (micro-unit discipline: scale fractional
      * money/measures to integers upstream). Honored by the parquet sink
      * factory via [[graft.sink.AggViewTarget]]. */
    aggViewKeys: Seq[String] = Nil,
    aggViewValue: String = ""
) {
  def resolvedTarget: String = targetTable.getOrElse(table)

  /** Keys the sinks merge on: the configured primary key, else the Mongo
    * doc-id column the pipeline extracts (one definition shared by every
    * MergeTarget so the layouts cannot diverge). */
  def mergeKeys: Seq[String] = if (primaryKey.nonEmpty) primaryKey else Seq("doc_id")
}

object TableSpec {
  private[config] def truthy(v: String): Boolean =
    v != null && (v.equalsIgnoreCase("true") || v.equalsIgnoreCase("ture") || v == "1")

  private def csv(v: String): Seq[String] =
    Option(v).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Build from a loose string map (one parsed JSON object of
    * `sync_table_list`). Unknown keys are ignored, as in the reference. */
  def fromMap(m: Map[String, String]): TableSpec = TableSpec(
    db = m.getOrElse("db", ""),
    table = m.getOrElse("table", ""),
    primaryKey = csv(m.getOrElse("primary_key", "")),
    targetTable = m.get("target_table").filter(_.nonEmpty),
    ignoreDdl = truthy(m.getOrElse("ignore_ddl", "")),
    saveDelete = truthy(m.getOrElse("save_delete", "")),
    onlySaveDelete = truthy(m.getOrElse("only_save_delete", "")),
    skipDelete = truthy(m.getOrElse("skip_delete", "")),
    superColumns = csv(m.getOrElse("super_columns", "")),
    superAsVariant = truthy(m.getOrElse("super_as_variant", "")),
    timestampColumns = csv(m.getOrElse("timestamp_columns", "")),
    dateColumns = csv(m.getOrElse("date_columns", "")),
    tableIsRegex = truthy(m.getOrElse("table_is_regex", "")),
    dedupStrategy = m.getOrElse("dedup_strategy", "window").toLowerCase,
    saltBuckets = m.getOrElse("salt_buckets", "16").toInt,
    scd2History = truthy(m.getOrElse("scd2_history", "")),
    aggViewKeys = csv(m.getOrElse("agg_view_keys", "")),
    aggViewValue = m.getOrElse("agg_view_value", "")
  )
}

/** Job-level config (ref: config/job.properties + the three drivers'
  * property reads, e.g. emr_ec2/cdc_redshift.py:36-103). */
final case class JobConfig(
    brokers: String = "",
    topic: String = "",
    consumerGroup: String = "graft-cdc",
    startingOffsets: String = "earliest",
    startingTimestamp: Option[Long] = None,
    maxOffsetsPerTrigger: Long = 1000000L,
    triggerInterval: String = "30 seconds", // or "availableNow"
    checkpointLocation: String = "",
    cdcFormat: String = "FLINK-CDC",
    threadMaxWorkers: Int = 30,
    batchTimeoutMinutes: Int = 360,
    /** Bounded error tolerance (ref `maxerror`, redshift_sink.py:356-358,
      * config/job-ec2.properties:19): a table-batch with more than this
      * many quarantined records — data rows whose payload parsed to an
      * all-null key — fails instead of silently dropping them. 0 = strict.
      * Rows dropped by the operational-event whitelist (DDL/control/
      * invalidate) are routine traffic, not errors, and never count. */
    maxError: Long = 0L,
    /** Drift-probe cadence of the cross-batch schema cache (SURVEY §7.4):
      * re-infer a table's payload schema every N-th non-empty batch;
      * batches in between run zero inference jobs. */
    schemaProbeBatches: Int = 20,
    /** `disable_msg` (ref redshift_sink.py:128-136): when false, each
      * table-batch logs its schema tree and a 5-row/20-char sample before
      * the merge. Quiet (true) by default, as in the reference configs. */
    disableMsg: Boolean = true,
    /** Warehouse credential injection (S8): a [[Secrets]] reference
      * (`env:NAME` / `file:/path`) in the reference's
      * `redshift_secret_id` position; secret values override the
      * explicit `jdbc_user`/`jdbc_password` properties, as in
      * `redshift_sink.py:104-110`. */
    secretId: Option[String] = None,
    jdbcUser: Option[String] = None,
    jdbcPassword: Option[String] = None,
    /** Explicit warehouse endpoint (ref `redshift_host`/`redshift_port`/
      * `redshift_database`, config/job-ec2.properties:20-25) — applied to
      * the sink URL exactly like a secret's endpoint, with the secret
      * winning where both are set. */
    jdbcHost: Option[String] = None,
    jdbcPort: Option[Int] = None,
    jdbcDatabase: Option[String] = None,
    /** Parsed for config-surface parity (ref `s3_endpoint`): the S3 API
      * endpoint the connector's client would use for the tempdir. The
      * sandbox replay executor reads the staged files directly. */
    s3Endpoint: Option[String] = None,
    /** Staged-COPY bulk-load path (S5 production form — ref
      * `redshift_tmpdir`/`redshift_iam_role`/`aws_region`/`tempformat`,
      * config/job-ec2.properties:16,26-27): a jdbc: sink is always the
      * one warehouse sink ([[graft.sink.WarehouseMergeSink]]); when
      * `redshift_tmpdir` is set it loads staging via part files +
      * manifest + COPY, otherwise through Spark's JDBC writer.
      * `copy_mode=statement` issues the COPY text verbatim (a
      * COPY-capable warehouse); the default `replay` emulates COPY
      * through a distributed re-read for engines without it. */
    redshiftTmpdir: Option[String] = None,
    iamRole: String = "",
    awsRegion: String = "",
    tempformat: String = "CSV", // reference default, redshift_sink.py:85-88
    copyMode: String = "replay",
    /** Warehouse schema every target/staging table is qualified with
      * (ref `redshift_schema`, config/job.properties:26; the reference
      * passes it to every catalog probe and DDL). Empty = the
      * connection's default schema. */
    redshiftSchema: String = "",
    tables: Seq[TableSpec] = Nil
) {
  /** Resolved JDBC credentials (secret wins over explicit). */
  def credentials(env: String => Option[String] = sys.env.get): Secrets.Credentials =
    Secrets.credentials(secretId, jdbcUser, jdbcPassword, env,
      jdbcHost, jdbcPort, jdbcDatabase)
}

object JobConfig {

  /** Parse a java.util.Properties-style text plus its embedded
    * `sync_table_list` JSON array. Pure, no I/O (callers load the text). */
  def fromProperties(text: String): JobConfig = {
    val props = new java.util.Properties()
    props.load(new java.io.StringReader(text))
    def p(k: String, dflt: String) = Option(props.getProperty(k)).map(_.trim).getOrElse(dflt)
    // The reference overloads one property: a `startingOffsets` that is
    // neither "earliest" nor "latest" is an epoch-ms start timestamp
    // (ref emr_ec2/cdc_redshift.py:99-103). Route a numeric value to
    // `startingTimestamp`; an explicit `startingTimestamp` property wins.
    val rawStarting = p("startingOffsets", "earliest")
    val startingAsEpoch = Some(rawStarting).filter(_.matches("\\d{1,19}")).map(_.toLong)
    JobConfig(
      brokers = p("kafka_broker", ""),
      topic = p("topic", ""),
      consumerGroup = p("consumer_group", "graft-cdc"),
      startingOffsets = if (startingAsEpoch.isDefined) "earliest" else rawStarting,
      startingTimestamp = Option(props.getProperty("startingTimestamp")).map(_.trim.toLong)
        .orElse(startingAsEpoch),
      maxOffsetsPerTrigger = p("max_offsets_per_trigger", "1000000").toLong,
      triggerInterval = p("checkpoint_interval", "30 seconds"),
      checkpointLocation = p("checkpoint_location", ""),
      cdcFormat = p("cdc_format", "FLINK-CDC"),
      threadMaxWorkers = p("thread_max_workers", "30").toInt,
      batchTimeoutMinutes = p("batch_timeout", "360").toInt,
      maxError = p("maxerror", "0").toLong,
      schemaProbeBatches = p("schema_probe_batches", "20").toInt,
      disableMsg = TableSpec.truthy(p("disable_msg", "true")),
      // both the generic key and the reference's name are accepted, so a
      // reference job.properties drops in unchanged
      secretId = Option(props.getProperty("secret_id"))
        .orElse(Option(props.getProperty("redshift_secret_id")))
        .map(_.trim).filter(_.nonEmpty),
      // the generic names and the reference's names both drop in; the
      // generic ones win when a config (oddly) sets both
      jdbcUser = Option(props.getProperty("jdbc_user"))
        .orElse(Option(props.getProperty("redshift_username")))
        .map(_.trim).filter(_.nonEmpty),
      jdbcPassword = Option(props.getProperty("jdbc_password"))
        .orElse(Option(props.getProperty("redshift_password")))
        .map(_.trim).filter(_.nonEmpty),
      jdbcHost = Option(props.getProperty("redshift_host")).map(_.trim).filter(_.nonEmpty),
      jdbcPort = Option(props.getProperty("redshift_port")).map(_.trim)
        .filter(_.nonEmpty).flatMap(_.toIntOption),
      jdbcDatabase = Option(props.getProperty("redshift_database"))
        .map(_.trim).filter(_.nonEmpty),
      s3Endpoint = Option(props.getProperty("s3_endpoint")).map(_.trim).filter(_.nonEmpty),
      redshiftTmpdir = Option(props.getProperty("redshift_tmpdir")).map(_.trim).filter(_.nonEmpty),
      iamRole = p("redshift_iam_role", ""),
      awsRegion = p("aws_region", ""),
      tempformat = p("tempformat", "CSV"),
      copyMode = p("copy_mode", "replay"),
      redshiftSchema = p("redshift_schema", ""),
      tables = parseTableList(p("sync_table_list", "[]"))
    )
  }

  /** Minimal JSON array-of-flat-objects parser for `sync_table_list`
    * (values are always strings/numbers/bools in the reference configs);
    * avoids adding a JSON dependency for config parsing. */
  def parseTableList(json: String): Seq[TableSpec] = {
    val objPat = "\\{[^{}]*\\}".r
    objPat.findAllIn(json).toSeq.map { obj =>
      val kvPat = "\"([^\"]+)\"\\s*:\\s*(\"([^\"]*)\"|true|false|-?[0-9.]+)".r
      val m = kvPat
        .findAllMatchIn(obj)
        .map(g => g.group(1) -> Option(g.group(3)).getOrElse(g.group(2)))
        .toMap
      TableSpec.fromMap(m)
    }
  }
}
