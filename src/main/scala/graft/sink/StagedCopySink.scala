package graft.sink

import graft.config.TableSpec
import graft.schema.SchemaEvolution
import graft.schema.SchemaEvolution.ColumnDef
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import java.sql.{Connection, DriverManager}
import java.util.Properties

/** S5: the warehouse merge sink and its staged-COPY bulk-load path.
  *
  * The reference never batch-INSERTs a micro-batch into Redshift — it
  * writes the batch to S3 part files and has the warehouse pull them with
  * `COPY`, then runs the merge transaction as a post-action
  * (`cdc_util/redshift_sink.py:345-380,498-560`: tempdir staging,
  * `tempformat` CSV / CSV GZIP / PARQUET, `extracopyoptions`
  * "TRUNCATECOLUMNS region … maxerror … dateformat 'auto' timeformat
  * 'auto'", `aws_iam_role`, and the begin/delete-using/insert/truncate/end
  * transaction with a `create table … sortkey … as select … where 1=3`
  * prepended on first contact). JDBC insert cannot sustain 1M-row batches
  * against a columnar warehouse; the staged COPY is the scale path.
  *
  * Spark-first split of that behavior:
  *  - [[WarehouseMergeSink]] — the one warehouse sink: auto-DDL, the
  *    merge transaction and the retry, whatever loads its staging table.
  *  - [[CopyExecutor]] — how a batch becomes staging-table rows, the
  *    sink's only point of variation. [[JdbcWriteExecutor]] writes the
  *    batch through Spark's distributed JDBC writer (no tempdir).
  *    [[StatementCopyExecutor]] stages part files and issues the COPY
  *    text verbatim over the warehouse connection (production; needs a
  *    COPY-capable engine). [[ReplayCopyExecutor]] stages part files and
  *    replays the manifest through a distributed Spark read + the JDBC
  *    writer — COPY semantics for engines without COPY (Derby here), so
  *    the WHOLE pipeline (staging layout, manifest, transaction, retry)
  *    is exercised end-to-end against Derby.
  *  - [[CopyStage.stage]] — the batch lands as part files via Spark's
  *    DISTRIBUTED writer (every executor writes its partition; the driver
  *    only lists the finished files to build the manifest, O(#files)).
  *  - [[RedshiftSql]] — the exact SQL text the warehouse would receive
  *    (COPY statement + merge transaction), pure functions pinned by
  *    `StagedCopySpec` against the reference's templates.
  *
  * At 100 TB: the staging write is a narrow per-partition dump (no
  * shuffle), the manifest is #files entries, and the warehouse-side COPY
  * parallelizes across its own slices — nothing on the Spark side holds
  * the batch in one place.
  */
object CopyStage {

  /** Options shared by the staging writer and the replay reader — both
    * sides MUST agree or the round-trip corrupts nulls/quotes/timestamps.
    * `@NULL@` is the spark-redshift community connector's null sentinel
    * (emitted in the COPY text as `NULL AS '@NULL@'`). */
  val csvOptions: Map[String, String] = Map(
    "nullValue" -> "@NULL@",
    "quote" -> "\"",
    "escape" -> "\"",
    // read-side: records legally contain quoted newlines (COPY CSV parses
    // them; Spark needs the whole-file parser). gzip parts are already
    // non-splittable, so this costs nothing at the staging sizes involved.
    "multiLine" -> "true",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "dateFormat" -> "yyyy-MM-dd")

  /** Options shared by the JSON staging writer and replay reader (the
    * reference's other tempformat pair, config/job-ec2.properties:15:
    * "CSV,CSV GZIP,JSON, JSON GZIP"). */
  val jsonOptions: Map[String, String] = Map(
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "dateFormat" -> "yyyy-MM-dd")

  final case class StagedBatch(dir: String, manifestPath: String,
                               files: Seq[String], tempformat: String)

  /** Write `df` under `tempRoot/<uuid>/` in `tempformat` and a Redshift
    * manifest JSON naming every part file (`mandatory: true` — a lost
    * part must fail the COPY, not silently shrink the batch). */
  def stage(df: DataFrame, tempRoot: String, tempformat: String): StagedBatch = {
    val dir = s"$tempRoot/${java.util.UUID.randomUUID().toString}"
    val w = df.write.mode(SaveMode.Overwrite)
    tempformat.trim.toUpperCase match {
      case "PARQUET" => w.parquet(dir)
      case "CSV" => w.options(csvOptions).csv(dir)
      case "CSV GZIP" => w.options(csvOptions).option("compression", "gzip").csv(dir)
      case "JSON" => w.options(jsonOptions).json(dir)
      case "JSON GZIP" => w.options(jsonOptions).option("compression", "gzip").json(dir)
      case other => throw new IllegalArgumentException(
        s"unsupported tempformat '$other' (CSV | CSV GZIP | JSON | JSON GZIP | PARQUET)")
    }
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(_.getAbsolutePath).sorted.toSeq
    val manifestPath = s"$dir/manifest.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(manifestPath),
      manifestJson(files))
    StagedBatch(dir, manifestPath, files, tempformat.trim.toUpperCase)
  }

  /** Redshift COPY manifest format (public AWS spec): every entry
    * mandatory so a missing part aborts the load. */
  def manifestJson(files: Seq[String]): String =
    files.map(f => s"""    {"url": "$f", "mandatory": true}""")
      .mkString("{\n  \"entries\": [\n", ",\n", "\n  ]\n}\n")

  /** Parse entry URLs back out of a manifest (the replay executor's
    * input; bounded by #files). */
  def manifestFiles(manifestPath: String): Seq[String] = {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(manifestPath))
    "\"url\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text).map(_.group(1)).toSeq
  }

  def cleanup(batch: StagedBatch): Unit =
    graft.operators.VersionedDir.deleteTree(new java.io.File(batch.dir))

  /** Stage `df`, hand the batch to `load`, then remove the staged files
    * whether or not the load succeeded (`keep` leaves them for audit). */
  def withStaged[A](df: DataFrame, tempRoot: String, tempformat: String,
                    keep: Boolean)(load: StagedBatch => A): A = {
    val batch = stage(df, tempRoot, tempformat)
    try load(batch) finally if (!keep) cleanup(batch)
  }
}

/** The warehouse-dialect SQL text, centralized and pure so the spec pins
  * it byte-for-byte against the reference's templates. */
object RedshiftSql {

  final case class CopyOptions(iamRole: String = "", region: String = "",
                               maxError: Long = 0L, tempformat: String = "CSV")

  private def fmt(tempformat: String): String = tempformat.trim.toUpperCase match {
    case "PARQUET" => "FORMAT AS PARQUET"
    // CSV carries the connector's null sentinel; JSON/PARQUET are
    // self-describing ('auto' maps JSON keys to columns by name)
    case "CSV" => "FORMAT AS CSV NULL AS '@NULL@'"
    case "CSV GZIP" => "FORMAT AS CSV GZIP NULL AS '@NULL@'"
    case "JSON" => "FORMAT AS JSON 'auto'"
    case "JSON GZIP" => "FORMAT AS JSON 'auto' GZIP"
    case other => throw new IllegalArgumentException(s"unsupported tempformat '$other'")
  }

  /** The reference's extracopyoptions string, verbatim
    * (redshift_sink.py:356-358): TRUNCATECOLUMNS + region + maxerror +
    * auto date/time parsing. */
  def extraCopyOptions(opts: CopyOptions): String =
    s"TRUNCATECOLUMNS region '${opts.region}' maxerror ${opts.maxError} " +
      "dateformat 'auto' timeformat 'auto'"

  /** The COPY the warehouse receives: manifest-driven, IAM-authorized,
    * format per `tempformat`, reference extracopyoptions appended. */
  def copySql(stagingTable: String, manifestUrl: String, opts: CopyOptions): String =
    s"COPY $stagingTable FROM '$manifestUrl' " +
      s"IAM_ROLE '${opts.iamRole}' MANIFEST ${fmt(opts.tempformat)} " +
      extraCopyOptions(opts)

  /** First-contact target creation — the reference's create-as-select with
    * the primary key as compound sortkey, byte-identical to
    * redshift_sink.py:331-334 (including its double space after "table"). */
  def createAsSelectSql(target: String, staging: String, cols: Seq[String],
                        sortKeys: Seq[String]): String = {
    val q = (s: String) => "\"" + s + "\""
    s"create table  $target sortkey (${sortKeys.map(q).mkString(",")}) " +
      s"as select ${cols.map(q).mkString(",")} from $staging where 1=3;"
  }

  /** The merge transaction post-action, byte-shaped like
    * redshift_sink.py:335-341: begin; [create;] [schema-change;] delete
    * using; insert-select; truncate staging; end. */
  def transactionSql(target: String, staging: String, cols: Seq[String],
                     mergeKeys: Seq[String], targetExists: Boolean,
                     schemaChangeSql: String = ""): String = {
    val q = (s: String) => "\"" + s + "\""
    val on = mergeKeys.map(k => s"$target.${q(k)} = $staging.${q(k)}").mkString(" and ")
    val columns = cols.map(q).mkString(",")
    val txn = s"begin;$schemaChangeSql delete from $target using $staging where $on; " +
      s"insert into $target($columns) select $columns from $staging; " +
      s"truncate table $staging; end;"
    if (targetExists) txn
    else txn.replace("begin;",
      s"begin; ${createAsSelectSql(target, staging, cols, mergeKeys)}")
  }

  /** The MONGO path's merge transaction, byte-shaped like
    * mongo_redshift_sink.py:174-187 — the reference is ASYMMETRIC
    * between its two sinks, and the asymmetry is pinned here rather
    * than papered over:
    *
    *  - lifecycle: the Mongo path `drop table`s the staging table per
    *    batch where the MySQL path `truncate`s it (the Mongo staging
    *    table is re-created by the connector on the next batch; the
    *    MySQL one persists empty);
    *  - delete handling: the Mongo path filters `operation!='delete'`
    *    INSIDE the warehouse insert (the delete rows still ride to the
    *    staging table to drive the delete-using), where the MySQL path
    *    inserts every staged row;
    *  - join key: fixed unquoted `doc_id`, staging side first
    *    (mongo_redshift_sink.py:133-138), vs per-spec quoted keys
    *    target-side-first;
    *  - first-contact create-as-select sortkeys `ts_date` (the derived
    *    ingest date), not the merge key.
    *
    * `opCol`/`delValue` default to the REFERENCE's column name and
    * delete sentinel (`operation`/'delete' — the byte-shape
    * StagedCopySpec pins); [[WarehouseMergeSink.writeBatch]] passes
    * this pipeline's own markers (`op_aws`/'d') so the recorded
    * post-action is executable against the staging tables this sink
    * actually stages. */
  def mongoTransactionSql(target: String, staging: String,
                          cols: Seq[String], targetExists: Boolean,
                          opCol: String = "operation",
                          delValue: String = "delete"): String = {
    val columns = cols.mkString(",")
    val txn = s"begin; delete from $target using $staging " +
      s"where $staging.doc_id = $target.doc_id; " +
      s"insert into $target($columns) select $columns from $staging " +
      s"where $opCol!='$delValue'; drop table $staging; end;"
    if (targetExists) txn
    else txn.replace("begin;",
      s"begin; create table  $target sortkey (ts_date) " +
        s"as select $columns from $staging where 1=3;")
  }
}

/** How a batch becomes staging-table rows: the one thing that differs
  * between the warehouse sink's load paths. */
trait CopyExecutor {
  /** Load `stage` into `stagingTable`. `conn` is the warehouse connection
    * the merge transaction will run on (the statement executor issues its
    * COPY on it; the JDBC-writer load goes through Spark's own JDBC path
    * instead, exactly like the connector's pre-postactions write). */
  def load(conn: Connection, stagingTable: String, stage: DataFrame): Unit

  /** Whether [[load]] needs the staging table pre-created (a real
    * warehouse COPY loads INTO an existing table; the JDBC-writer load
    * instead recreates the table through Spark's JDBC Overwrite, whose
    * dialect owns the column types — pre-creating with warehouse DDL
    * would leave types the dialect's writer can't bind, e.g. Derby
    * binds string NULLs as CLOB, not VARCHAR). */
  def requiresExistingStaging: Boolean = true
}

/** Direct load: the batch goes to the staging table through Spark's
  * distributed JDBC writer, no tempdir. Overwrite + truncate reuses the
  * table when shapes match and recreates it when the dialect owns the
  * types (a dialect's string type must also be the type its writer binds
  * NULLs with); `op_aws` is compared in the merge SQL, so it is forced to
  * a comparable type (Derby maps StringType to CLOB, which cannot equal a
  * literal). */
final class JdbcWriteExecutor(url: String, connProps: Properties) extends CopyExecutor {
  override def requiresExistingStaging: Boolean = false
  def load(conn: Connection, stagingTable: String, stage: DataFrame): Unit = {
    val w = stage.write.mode(SaveMode.Overwrite).option("truncate", "true")
    (if (stage.columns.contains("op_aws"))
       w.option("createTableColumnTypes", "op_aws VARCHAR(8)")
     else w).jdbc(url, stagingTable, connProps)
  }
}

/** Production path: stage the batch under `tempDir`, hand the warehouse
  * the COPY text and let it pull the manifest itself. `manifestUrlFor`
  * maps the local manifest path to the URL the warehouse sees (e.g. the
  * s3:// key the tempdir is mounted at). */
final class StatementCopyExecutor(tempDir: String,
                                  opts: RedshiftSql.CopyOptions = RedshiftSql.CopyOptions(),
                                  manifestUrlFor: String => String = identity,
                                  keepStaged: Boolean = false)
  extends CopyExecutor {
  def load(conn: Connection, stagingTable: String, stage: DataFrame): Unit =
    CopyStage.withStaged(stage, tempDir, opts.tempformat, keepStaged) { batch =>
      val st = conn.createStatement()
      try st.execute(RedshiftSql.copySql(stagingTable, manifestUrlFor(batch.manifestPath),
        opts.copy(tempformat = batch.tempformat, maxError = math.max(opts.maxError, 0L))))
      finally st.close()
    }
}

/** COPY semantics for engines without COPY: stage the batch under
  * `tempDir`, read the manifest's files back with the SAME options the
  * stage writer used, and load them with [[JdbcWriteExecutor]]. Every
  * part file is mandatory — a missing one throws, as the real COPY
  * would. */
final class ReplayCopyExecutor(spark: SparkSession, url: String, connProps: Properties,
                               tempDir: String,
                               opts: RedshiftSql.CopyOptions = RedshiftSql.CopyOptions(),
                               keepStaged: Boolean = false)
  extends CopyExecutor {
  private val writer = new JdbcWriteExecutor(url, connProps)
  override def requiresExistingStaging: Boolean = false

  def load(conn: Connection, stagingTable: String, stage: DataFrame): Unit =
    CopyStage.withStaged(stage, tempDir, opts.tempformat, keepStaged) { batch =>
      writer.load(conn, stagingTable, replay(batch, stage.schema))
    }

  /** The staged batch as the warehouse's COPY would read it. */
  def replay(batch: CopyStage.StagedBatch, schema: StructType): DataFrame = {
    val files = CopyStage.manifestFiles(batch.manifestPath)
    files.filterNot(f => new java.io.File(f).isFile) match {
      case Nil =>
      case missing => throw new IllegalStateException(
        s"mandatory manifest entries missing: ${missing.mkString(", ")}")
    }
    if (files.isEmpty) // an all-quarantined batch stages zero part files
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else batch.tempformat match {
      case "PARQUET" => spark.read.schema(schema).parquet(files: _*)
      case "JSON" | "JSON GZIP" =>
        spark.read.schema(schema).options(CopyStage.jsonOptions).json(files: _*)
      case _ => spark.read.schema(schema).options(CopyStage.csvOptions).csv(files: _*)
    }
  }
}

/** The warehouse merge sink (S5): auto-create/evolve the target, load the
  * dedup'd batch into `<target>_stage_aws` through `executor`, run one
  * merge transaction, and retry once with a dropped staging table. One
  * instance per table task, with its own connection lifecycle (ref
  * SURVEY.md §2.10 C3). The warehouse-dialect post-action text for the
  * last batch is kept on [[lastTransactionSql]] so callers (and the spec)
  * can audit exactly what a Redshift deployment would have executed. */
final class WarehouseMergeSink(url: String, connProps: Properties = new Properties(),
                               executor: CopyExecutor,
                               maxVarchar: Int = 65535) {

  @volatile private var lastTxn: Option[String] = None
  /** The Redshift-dialect transaction the last [[writeBatch]] mirrors. */
  def lastTransactionSql: Option[String] = lastTxn

  /** Clamp generated VARCHAR widths to the engine's limit (Redshift allows
    * 65535; Derby tops out at 32672). */
  private def clampVarchar(ddl: String): String =
    "VARCHAR\\((\\d+)\\)".r.replaceAllIn(ddl, m =>
      s"VARCHAR(${math.min(m.group(1).toInt, maxVarchar)})")

  private def withConnection[A](f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, connProps)
    try f(conn) finally conn.close()
  }

  private def execute(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** Catalog columns of `name` on an open connection: exact name first,
    * then the engine's upper-cased fold. A `schema.table` name probes
    * with the schema as the metadata pattern (the reference always
    * schema-qualifies its pg_table_def lookups). */
  private def lookupColumns(conn: Connection, name: String): List[ColumnDef] = {
    val (schemaPat, tablePat) = name.split("\\.", 2) match {
      case Array(s, t) => (s, t)
      case _ => (null, name)
    }
    def one(s: String, t: String): List[ColumnDef] = {
      val rs = conn.getMetaData.getColumns(null, s, t, null)
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => ColumnDef(r.getString("COLUMN_NAME").toLowerCase,
          r.getString("TYPE_NAME"))).toList
    }
    one(schemaPat, tablePat) match {
      case Nil => one(if (schemaPat == null) null else schemaPat.toUpperCase,
        tablePat.toUpperCase)
      case c => c
    }
  }

  /** Columns of `table` from JDBC metadata, None if the table is absent. */
  def catalogColumns(table: String): Option[Seq[ColumnDef]] = withConnection { conn =>
    lookupColumns(conn, table) match { case Nil => None; case c => Some(c) }
  }

  private def q(id: String): String = "\"" + id + "\""

  /** Merge `stage0` (deduped, one row per key, op in `op_aws`) into
    * `spec.resolvedTarget`:
    *  1. auto-create target / evolve schema (unless `ignore_ddl`);
    *  2. load the staging table through `executor`;
    *  3. one transaction: DELETE matched keys, INSERT non-deletes,
    *     TRUNCATE (or, for the Mongo family, DROP) staging;
    *  4. on failure: drop staging, retry once (schema-drifted staging
    *     leftovers are the usual cause, as in the reference); a second
    *     failure is rethrown carrying the first as suppressed. */
  def writeBatch(stage0: DataFrame, spec: TableSpec): Unit = {
    val target = spec.resolvedTarget
    val staging = s"${target}_stage_aws"
    val dataCols = stage0.columns.filterNot(Seq("ts_ms_aws", "idx_aws").contains)
    // Column names come from CDC payload keys and are quoted, not escaped,
    // in every DDL and merge statement: a `"` would end the identifier.
    dataCols.find(_.contains('"')).foreach(c => throw new IllegalArgumentException(
      s"table $target: column name '$c' contains '\"' and cannot be quoted"))
    val stage1 = stage0.select(dataCols.map(col): _*)
    // ignore_ddl: the user manages DDL; cast the batch to the existing
    // catalog's types instead of evolving the table (ref
    // redshift_schema_evolution.py:97-155; README.md:107-115).
    val stage = if (!spec.ignoreDdl) stage1 else {
      val catalog = catalogColumns(target).getOrElse(throw new IllegalStateException(
        s"ignore_ddl=true but target table $target does not exist"))
      val present = stage1.columns.map(_.toLowerCase).toSet
      val castCols = catalog.filter(c => present.contains(c.name.toLowerCase))
        .map(c => col(c.name).cast(SchemaEvolution.sqlToSpark(c.sqlType)).as(c.name))
      stage1.select(castCols :+ col("op_aws"): _*)
    }

    def attempt(dropStagingFirst: Boolean): Unit = {
      val targetExisted = withConnection { conn =>
        if (dropStagingFirst)
          try execute(conn, s"DROP TABLE $staging") catch { case _: Exception => }
        val existed = lookupColumns(conn, target).nonEmpty
        ensureTargetSchema(conn, stage.drop("op_aws"), spec)
        // Staging must exist before a COPY statement can target it —
        // the production StatementCopyExecutor hands the warehouse
        // COPY text only, so on first contact, and on every batch
        // after a Mongo-family per-batch DROP, the table would be
        // missing. Mirrors the connector's staging-create preaction.
        // The JDBC-writer loads opt out: Spark's JDBC Overwrite
        // creates the table with the dialect's own types.
        if (executor.requiresExistingStaging && lookupColumns(conn, staging).isEmpty)
          execute(conn, clampVarchar(SchemaEvolution.createTableDdl(
            staging, stage.schema, Nil, ifNotExists = false)))
        existed
      }
      withConnection { conn =>
        executor.load(conn, staging, stage)
        // The exact post-action a Redshift deployment would run —
        // the Mongo family (no configured primary key: the pipeline
        // merges on the extracted doc_id, TableSpec.mergeKeys) uses
        // the reference's drop-staging / insert-filtered form, every
        // other family the MySQL truncate-staging form (see
        // mongoTransactionSql's scaladoc on the asymmetry).
        val isMongo = spec.primaryKey.isEmpty
        val dataColumns = stage.columns.filterNot(_ == "op_aws").toSeq
        lastTxn = Some(
          if (isMongo) RedshiftSql.mongoTransactionSql(target, staging, dataColumns,
            targetExists = targetExisted, opCol = "op_aws", delValue = "d")
          else RedshiftSql.transactionSql(target, staging, dataColumns, spec.mergeKeys,
            targetExists = targetExisted))
        conn.setAutoCommit(false)
        try {
          // Table names stay unquoted (engines upper-fold them consistently);
          // column names are quoted lower-case to match Spark's JDBC writer.
          // mergeKeys, not primaryKey: a Mongo spec with no configured key
          // merges on the extracted doc_id, same as the parquet targets.
          val on = spec.mergeKeys
            .map(k => s"$target.${q(k)} = $staging.${q(k)}").mkString(" AND ")
          // Delete phase always clears matched keys; with skip_delete the
          // "deleted" row is then re-inserted as a regular upsert.
          execute(conn,
            s"DELETE FROM $target WHERE EXISTS (SELECT 1 FROM $staging WHERE $on)")
          val insertCols = dataColumns.map(q)
          val opPredicate = if (spec.skipDelete) "1=1" else s"${q("op_aws")} <> 'd'"
          execute(conn,
            s"INSERT INTO $target (${insertCols.mkString(", ")}) " +
              s"SELECT ${insertCols.mkString(", ")} FROM $staging WHERE $opPredicate")
          // Staging lifecycle follows the reference's per-family
          // asymmetry: Mongo-shaped specs drop the staging table each
          // batch (recreated by the next batch's load), MySQL truncates
          // and keeps it (catalog churn with hundreds of tables, ref
          // README.md:46).
          execute(conn,
            if (isMongo) s"DROP TABLE $staging" else s"TRUNCATE TABLE $staging")
          conn.commit()
        } catch {
          case e: Exception => conn.rollback(); throw e
        } finally conn.setAutoCommit(true)
      }
    }
    // Reference retry: first failure drops the (usually schema-drifted)
    // staging table and tries once more (redshift_sink.py:360-380).
    try attempt(dropStagingFirst = false)
    catch {
      case first: Exception =>
        try attempt(dropStagingFirst = true)
        catch { case second: Exception => second.addSuppressed(first); throw second }
    }
  }

  /** Create the target if missing; otherwise diff + ALTER (add/drop), the
    * reference's auto-evolution (redshift_schema_evolution.py:188-241).
    * With `ignore_ddl`, neither create nor alter runs. */
  private def ensureTargetSchema(conn: Connection, data: DataFrame, spec: TableSpec): Unit = {
    if (spec.ignoreDdl) return
    val target = spec.resolvedTarget
    val existing = lookupColumns(conn, target)
    if (existing.isEmpty) {
      // Plain CREATE (existence already checked): Derby and several other
      // engines lack IF NOT EXISTS. Identifiers stay quoted (lower-case) so
      // the merge SQL and Spark's quoted JDBC writer agree on names.
      execute(conn, clampVarchar(SchemaEvolution.createTableDdl(target, data.schema,
        Nil, ifNotExists = false)))
    } else {
      val (adds, drops) = SchemaEvolution.diff(data.schema, existing)
      SchemaEvolution.alterDdl(target, adds, drops).map(clampVarchar)
        .foreach(execute(conn, _))
    }
  }
}
