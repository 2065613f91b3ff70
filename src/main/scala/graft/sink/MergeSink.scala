package graft.sink

import graft.config.TableSpec
import graft.operators.{MergeOps, Skew}
import graft.schema.SchemaEvolution
import graft.schema.SchemaEvolution.ColumnDef
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.{Connection, DriverManager}
import java.util.Properties

/** Keyed-merge sinks. The reference merges through Redshift (staging table
  * + `DELETE USING` / `INSERT SELECT` in one transaction —
  * cdc_util/redshift_sink.py:465-547); we provide the same algebra against
  * four parquet targets — {whole-table, bucketed} × {type-1, SCD2} — and
  * a JDBC sink:
  *
  *  - [[ParquetMergeTarget]] — pure-Spark merge into a parquet "table";
  *    lets every merge semantics be oracle-tested with no warehouse.
  *  - [[BucketedParquetMergeTarget]] — the same merge on a key-bucketed
  *    layout that rewrites only the buckets a batch touches (scale path).
  *  - [[Scd2ParquetTarget]] / [[BucketedScd2Target]] — type-2 history
  *    (every version with its validity interval), whole-table and
  *    bucketed.
  *  - [[JdbcMergeSink]] — staging-table batch insert (Spark's executor-side
  *    JDBC writer) + a single driver-side transaction running portable
  *    ANSI merge SQL (`DELETE WHERE EXISTS` + `INSERT SELECT`), with
  *    auto-create, add/drop-column schema evolution, staging TRUNCATE
  *    (not drop — catalog churn with hundreds of tables, ref README.md:46)
  *    and the reference's retry-once-after-staging-reset policy
  *    (redshift_sink.py:528-547).
  */
trait MergeTarget {
  /** Merge a deduped stage batch (one row per key, carrying `op_aws`). */
  def merge(stage: DataFrame, spec: TableSpec): Unit
  /** Current target snapshot (empty DataFrame with schema if absent). */
  def snapshot(spark: SparkSession): DataFrame
}

private[sink] object DirSwap {
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(); ()
  }

  /** Replace `dst` with `src` via an `old` hop directory. `old` must live
    * OUTSIDE any directory Spark lists as a table (a hop inside a
    * partitioned table path would be discovered as a bogus partition after
    * a crash). With `allowMissingSrc` (the "bucket emptied by deletes"
    * case) a missing `src` removes `dst`; otherwise it throws — a missing
    * tmp on the whole-table path is a failed write, not a delete. */
  def swap(src: java.io.File, dst: java.io.File, old: java.io.File,
           allowMissingSrc: Boolean = false): Unit = {
    if (!allowMissingSrc && !src.exists())
      throw new java.io.IOException(s"cannot swap in $src: missing")
    if (old.exists()) rmTree(old)
    if (dst.exists() && !dst.renameTo(old))
      throw new java.io.IOException(s"cannot swap out $dst")
    if (src.exists() && !src.renameTo(dst))
      throw new java.io.IOException(s"cannot swap in $src")
    if (old.exists()) rmTree(old)
  }

  /** Recover an interrupted [[swap]]: a surviving hop with a missing live
    * directory means the crash hit between swap-out and swap-in — the hop
    * holds the ONLY copy, so restore it (a checkpoint replay would
    * otherwise see an empty target and lose every key not in the replayed
    * batch). A hop next to a live directory is completed-swap garbage. */
  def recover(hop: java.io.File, dst: java.io.File): Unit =
    if (hop.exists()) {
      if (!dst.exists()) {
        if (!hop.renameTo(dst))
          throw new java.io.IOException(s"cannot restore $hop to $dst")
      } else rmTree(hop)
    }

  /** Restore any hop left by an interrupted swap on a (possibly bucketed)
    * table: the whole-table hop (`<name>.old`) and every per-bucket hop
    * (`<name>.old-<bucket>=N`) — shared by the bucketed targets. */
  def recoverTable(path: String): Unit = {
    val table = new java.io.File(path).getAbsoluteFile
    recover(new java.io.File(table.getPath + ".old"), table)
    val prefix = table.getName + ".old-"
    Option(table.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
      .foreach(hop => recover(hop,
        new java.io.File(table, hop.getName.stripPrefix(prefix))))
  }
}

/** On-disk layout of the bucketed targets: parquet partitioned by the
  * stable key bucket `kb_aws`. */
private[sink] object BucketLayout {
  final val Kb = "kb_aws"

  private def entries(path: String): Array[java.io.File] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)

  /** The layout marker: a table is bucketed iff it has `kb_aws=` partition
    * directories. A pre-existing unbucketed target is migrated in one
    * whole-table rewrite on its first merge, then every later batch takes
    * the pruned path. */
  def isBucketed(path: String): Boolean = entries(path).exists(_.getName.startsWith(s"$Kb="))

  /** A legacy (unbucketed) table has data files at the top level. A
    * directory with neither bucket dirs nor data files — e.g. a bucketed
    * table whose every key was deleted (all bucket dirs removed) — must be
    * treated as absent, not migrated (reading it would fail forever). */
  def hasLegacyDataFiles(path: String): Boolean = entries(path).exists(_.getName.endsWith(".parquet"))

  /** Write `df` (carrying `kb_aws`) as bucket directories under `tmp`,
    * clustered on the bucket: the shuffle puts each bucket's rows in
    * exactly one task, so each `kb_aws=N` directory gets exactly one file.
    * Unclustered, every write task (one per scan split of the target plus
    * one per stage partition) holds rows of nearly every bucket and opens
    * a file for each, and the next merge's scan splits multiply the count
    * again. */
  def write(df: DataFrame, tmp: String): Unit =
    df.repartition(col(Kb)).write.mode(SaveMode.Overwrite).partitionBy(Kb).parquet(tmp)
}

/** Parquet-backed merge target: read-modify-write with an atomic directory
  * swap. Its documented role is the TEST ORACLE for merge semantics (and a
  * small-table target): every batch rewrites the whole table, O(|target|)
  * I/O. The scale path is [[BucketedParquetMergeTarget]]. */
final class ParquetMergeTarget(path: String, metaCols: Seq[String] = Seq("op_aws", "ts_ms_aws", "idx_aws"))
  extends MergeTarget {

  private def exists: Boolean = new java.io.File(path).exists()

  private def recover(): Unit =
    DirSwap.recover(new java.io.File(path + ".old"), new java.io.File(path))

  def snapshot(spark: SparkSession): DataFrame = {
    recover()
    require(exists, s"no target at $path")
    spark.read.parquet(path)
  }

  def merge(stage: DataFrame, spec: TableSpec): Unit = {
    recover()
    val spark = stage.sparkSession
    val isDelete = col("op_aws") === "d"
    val merged =
      if (!exists) stage.filter(if (spec.skipDelete) lit(true) else !isDelete)
        .drop(metaCols: _*)
      else {
        val target = spark.read.parquet(path)
        if (spec.skipDelete) MergeOps.mergeSkipDelete(target, stage, spec.mergeKeys, metaCols)
        else MergeOps.merge(target, stage, spec.mergeKeys, isDelete, metaCols)
      }
    // Write to a sibling tmp dir, then swap — a crashed batch never leaves
    // a half-written target (same discipline as the reference's
    // single-transaction merge).
    val tmp = path + ".tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    DirSwap.swap(new java.io.File(tmp), new java.io.File(path),
      new java.io.File(path + ".old"))
  }
}

/** Type-2 history target ([[graft.operators.Scd2]]): where the reference's
  * merge keeps only each key's last row image (redshift_sink.py:477-509),
  * this target keeps EVERY version with its [valid_from, valid_to)
  * interval and an `is_current` flag — the audit/time-travel shape.
  *
  * The stage contract is identical to [[ParquetMergeTarget]] (the deduped,
  * coerced micro-batch with `op_aws`/`ts_ms_aws` meta), so the streaming
  * pipeline needs no change: [[graft.streaming.CdcApp.sinkFactory]] routes
  * `scd2_history` specs here. Checkpoint-replaying a batch is a no-op by
  * [[graft.operators.Scd2.merge]]'s algebra (an already-closed version
  * can't re-close; an already-open equal version can't re-open) — the
  * same T3 idempotence the type-1 targets guarantee.
  *
  * Scale: the micro-batch broadcasts against the history (the history is
  * never shuffled); the whole-table rewrite is this oracle target's
  * simplification, same as [[ParquetMergeTarget]]'s documented role.
  * Columns tracked = stage columns minus keys minus meta. */
final class Scd2ParquetTarget(path: String,
                              metaCols: Seq[String] = Seq("op_aws", "ts_ms_aws", "idx_aws"))
  extends MergeTarget {

  private def exists: Boolean = new java.io.File(path).exists()

  private def recover(): Unit =
    DirSwap.recover(new java.io.File(path + ".old"), new java.io.File(path))

  def snapshot(spark: SparkSession): DataFrame = {
    recover()
    require(exists, s"no target at $path")
    spark.read.parquet(path)
  }

  def merge(stage0: DataFrame, spec: TableSpec): Unit = {
    recover()
    val spark = stage0.sparkSession
    // skip_delete composes: a delete never closes the open version.
    val stage = if (spec.skipDelete) stage0.filter(col("op_aws") =!= "d") else stage0
    val keys = spec.mergeKeys
    val tracked = stage.columns.toSeq.filterNot(c => keys.contains(c) || metaCols.contains(c))
    val isDelete = col("op_aws") === "d"
    val merged =
      if (!exists)
        graft.operators.Scd2.fromChangelog(stage, keys, "ts_ms_aws", tracked,
          tieBreak = Seq(col("idx_aws")), isDelete = isDelete)
      else
        graft.operators.Scd2.merge(spark.read.parquet(path), stage, keys,
          "ts_ms_aws", tracked, isDelete)
    val tmp = path + ".tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    DirSwap.swap(new java.io.File(tmp), new java.io.File(path),
      new java.io.File(path + ".old"))
  }
}

/** Bucketed type-2 history target: [[Scd2ParquetTarget]]'s algebra at
  * [[BucketedParquetMergeTarget]]'s I/O profile. The layout key is the
  * MERGE key's hash bucket, so a key's ENTIRE version history co-locates
  * in one bucket directory; closing/opening versions for a micro-batch
  * rewrites only the buckets its keys hash to, and untouched buckets keep
  * their files bit- and mtime-identical — per-batch I/O is O(touched
  * history), not O(|history|), which is what a history table (strictly
  * growing by design) needs even more than a last-image table.
  * Bucket assignment is a pure key hash: stable across batches and
  * checkpoint replays (replays rewrite the same buckets idempotently —
  * [[graft.operators.Scd2.merge]] is a no-op on replayed content).
  * A legacy whole-table history (written by [[Scd2ParquetTarget]]) is
  * migrated in one rewrite on its first merge here. Every rewrite leaves
  * one file per live bucket ([[BucketLayout.write]]). */
final class BucketedScd2Target(path: String, buckets: Int = 64,
                               metaCols: Seq[String] = Seq("op_aws", "ts_ms_aws", "idx_aws"))
  extends MergeTarget {
  import BucketLayout.Kb

  private def exists: Boolean = new java.io.File(path).exists()
  private def recover(): Unit = DirSwap.recoverTable(path)

  def snapshot(spark: SparkSession): DataFrame = {
    recover()
    require(exists, s"no target at $path")
    spark.read.option("mergeSchema", "true").parquet(path).drop(Kb)
  }

  def merge(stage0: DataFrame, spec: TableSpec): Unit = {
    recover()
    val spark = stage0.sparkSession
    val stage = if (spec.skipDelete) stage0.filter(col("op_aws") =!= "d") else stage0
    val keys = spec.mergeKeys
    val tracked = stage.columns.toSeq.filterNot(c => keys.contains(c) || metaCols.contains(c))
    val isDelete = col("op_aws") === "d"
    val bucketOf = Skew.keyBucket(keys.map(col), buckets)
    val tmp = path + ".tmp"
    def initial(): DataFrame =
      graft.operators.Scd2.fromChangelog(stage, keys, "ts_ms_aws", tracked,
        tieBreak = Seq(col("idx_aws")), isDelete = isDelete)
    if (!exists || !BucketLayout.isBucketed(path)) {
      // Create — or migrate a legacy whole-table history in one pass.
      val merged =
        if (!exists || !BucketLayout.hasLegacyDataFiles(path)) initial()
        else graft.operators.Scd2.merge(spark.read.parquet(path), stage, keys,
          "ts_ms_aws", tracked, isDelete)
      BucketLayout.write(merged.withColumn(Kb, bucketOf), tmp)
      DirSwap.swap(new java.io.File(tmp), new java.io.File(path),
        new java.io.File(path + ".old"))
    } else {
      // ≤ `buckets` distinct values — a bounded driver-side collect by design.
      val touched = stage.select(bucketOf.as(Kb)).distinct()
        .collect().map(_.getInt(0)).sorted
      val touchedDirs = touched.map(b => new java.io.File(s"$path/$Kb=$b"))
        .filter(_.exists()).map(_.getPath)
      val merged =
        if (touchedDirs.isEmpty) initial()
        else {
          // Only the touched buckets' history meets the batch; rows of
          // co-bucketed OTHER keys pass through Scd2.merge unchanged and
          // are rewritten in place with their bucket.
          val history = spark.read.option("mergeSchema", "true")
            .option("basePath", path).parquet(touchedDirs.toIndexedSeq: _*).drop(Kb)
          graft.operators.Scd2.merge(history, stage, keys, "ts_ms_aws", tracked, isDelete)
        }
      BucketLayout.write(merged.withColumn(Kb, bucketOf), tmp)
      // History rows are never removed (deletes only close versions), but
      // allowMissingSrc keeps the swap robust to an all-skip batch.
      touched.foreach { b =>
        DirSwap.swap(new java.io.File(s"$tmp/$Kb=$b"), new java.io.File(s"$path/$Kb=$b"),
          new java.io.File(s"$path.old-$Kb=$b"), allowMissingSrc = true)
      }
      DirSwap.rmTree(new java.io.File(tmp))
    }
  }
}

/** Scale path for lakehouse targets (SURVEY §7.5): the table is laid out
  * as parquet partitioned by a stable key bucket
  * `kb_aws = pmod(xxhash64(primary key), buckets)`, and a merge reads and
  * rewrites ONLY the buckets whose keys appear in the stage batch:
  *
  *  - the target scan is partition-pruned to the touched buckets (a CDC
  *    micro-batch touches few buckets relative to a 100 TB table);
  *  - the rewrite swaps only the touched bucket directories; untouched
  *    buckets keep their files bit- and mtime-identical, so per-batch I/O
  *    is O(touched data), not O(|target|);
  *  - bucket assignment is a pure hash of the key — stable across batches
  *    and replays, so checkpoint-replayed batches rewrite the same buckets
  *    idempotently. A crash mid-swap leaves some buckets merged and some
  *    not; the replay re-merges all of them and converges (same
  *    idempotence argument as the whole-table swap, per bucket);
  *  - every rewrite leaves ONE file per live bucket: the write is clustered
  *    on `kb_aws` ([[BucketLayout.write]]), so each bucket is written by
  *    exactly one task and write parallelism is bounded by the number of
  *    touched buckets. A legacy bucket holding many files is compacted to
  *    one the first time a merge touches it.
  *
  * Equivalent semantics to [[ParquetMergeTarget]] (asserted in tests);
  * `snapshot` drops the internal bucket column so readers see the same
  * schema either way. */
final class BucketedParquetMergeTarget(path: String, buckets: Int = 64,
                                       metaCols: Seq[String] = Seq("op_aws", "ts_ms_aws", "idx_aws"))
  extends MergeTarget {
  import BucketLayout.Kb

  private def exists: Boolean = new java.io.File(path).exists()

  /** Restore any hop left by an interrupted swap — whole-table
    * (`<name>.old`) and per-bucket (`<name>.old-kb_aws=N`) alike. */
  private def recover(): Unit = DirSwap.recoverTable(path)

  def snapshot(spark: SparkSession): DataFrame = {
    recover()
    require(exists, s"no target at $path")
    spark.read.option("mergeSchema", "true").parquet(path).drop(Kb)
  }

  def merge(stage: DataFrame, spec: TableSpec): Unit = {
    recover()
    val spark = stage.sparkSession
    val keys = spec.mergeKeys
    val isDelete = col("op_aws") === "d"
    val bucketOf = Skew.keyBucket(keys.map(col), buckets)
    val staged = stage.withColumn(Kb, bucketOf)
    val tmp = path + ".tmp"
    if (!exists || !BucketLayout.isBucketed(path)) {
      // Create — or migrate an unbucketed target (written by
      // [[ParquetMergeTarget]]) in one whole-table pass. A dir with neither
      // layout (bucketed table fully emptied by deletes) is a create, not a
      // migration.
      val merged =
        if (!exists || !BucketLayout.hasLegacyDataFiles(path))
          staged.filter(if (spec.skipDelete) lit(true) else !isDelete)
            .drop(metaCols: _*)
        else {
          val target = spark.read.parquet(path) // legacy layout: no Kb column
          val m = if (spec.skipDelete)
            MergeOps.mergeSkipDelete(target, staged.drop(Kb), keys, metaCols)
          else MergeOps.merge(target, staged.drop(Kb), keys, isDelete, metaCols)
          m.withColumn(Kb, bucketOf)
        }
      BucketLayout.write(merged, tmp)
      DirSwap.swap(new java.io.File(tmp), new java.io.File(path),
        new java.io.File(path + ".old"))
    } else {
      // ≤ `buckets` distinct values — a bounded driver-side collect by design.
      val touched = staged.select(Kb).distinct().collect().map(_.getInt(0)).sorted
      // Read ONLY the touched bucket directories (listed explicitly with
      // basePath so Kb survives as a partition column): both the data AND
      // the mergeSchema footer pass stay O(touched buckets) — a
      // whole-table read with a runtime filter would still pay schema
      // inference over every file in the table each trigger. mergeSchema:
      // buckets rewritten after a schema drift carry wider files than
      // untouched ones; a single-footer sample must not drop the drifted
      // columns from kept rows.
      val touchedDirs = touched.map(b => new java.io.File(s"$path/$Kb=$b"))
        .filter(_.exists()).map(_.getPath)
      val merged =
        if (touchedDirs.isEmpty)
          // none of the batch's buckets exist yet: nothing to merge against
          staged.filter(if (spec.skipDelete) lit(true) else !isDelete)
            .drop(metaCols: _*)
        else {
          val target = spark.read.option("mergeSchema", "true")
            .option("basePath", path).parquet(touchedDirs.toIndexedSeq: _*)
          if (spec.skipDelete) MergeOps.mergeSkipDelete(target, staged, keys, metaCols)
          else MergeOps.merge(target, staged, keys, isDelete, metaCols)
        }
      BucketLayout.write(merged, tmp)
      // Swap only the touched buckets; a bucket whose merged output is
      // empty (all rows deleted) has no tmp dir and is removed. The `.old`
      // hops are SIBLINGS of the table directory — a crash mid-swap must
      // not leave a bogus `kb_aws=N.old` partition inside the table.
      touched.foreach { b =>
        DirSwap.swap(new java.io.File(s"$tmp/$Kb=$b"), new java.io.File(s"$path/$Kb=$b"),
          new java.io.File(s"$path.old-$Kb=$b"), allowMissingSrc = true)
      }
      DirSwap.rmTree(new java.io.File(tmp))
    }
  }
}

/** JDBC merge sink: the warehouse path. One instance per table task, with
  * its own connection lifecycle (ref SURVEY.md §2.10 C3). */
final class JdbcMergeSink(url: String, connProps: Properties = new Properties(),
                          maxVarchar: Int = 65535) {

  /** Clamp generated VARCHAR widths to the engine's limit (Redshift allows
    * 65535; Derby tops out at 32672). */
  private def clampVarchar(ddl: String): String =
    "VARCHAR\\((\\d+)\\)".r.replaceAllIn(ddl, m =>
      s"VARCHAR(${math.min(m.group(1).toInt, maxVarchar)})")

  private def withConnection[A](f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, connProps)
    try f(conn) finally conn.close()
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
        .map(r => ColumnDef(r.getString("COLUMN_NAME").toLowerCase, r.getString("TYPE_NAME")))
        .toList
    }
    one(schemaPat, tablePat) match {
      case Nil => one(if (schemaPat == null) null else schemaPat.toUpperCase,
        tablePat.toUpperCase)
      case c => c
    }
  }

  /** Columns of `table` from JDBC metadata, None if the table is absent. */
  def catalogColumns(table: String): Option[Seq[ColumnDef]] = withConnection { conn =>
    lookupColumns(conn, table) match {
      case Nil => None
      case c => Some(c)
    }
  }

  private def execute(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** Merge `stage` (deduped, one row per key, op in `op_aws`) into
    * `spec.resolvedTarget`:
    *  1. auto-create target / evolve schema (unless `ignore_ddl`);
    *  2. load staging table via Spark's distributed JDBC writer;
    *  3. one transaction: DELETE matched keys, INSERT non-deletes,
    *     TRUNCATE staging;
    *  4. on failure: drop staging, retry once (schema-drifted staging
    *     leftovers are the usual cause, as in the reference).
    */
  private def q(id: String): String = "\"" + id + "\""

  def writeBatch(stage0: DataFrame, spec: TableSpec): Unit = {
    val target = spec.resolvedTarget
    val staging = s"${target}_stage_aws"
    val dataCols = stage0.columns.filterNot(Seq("ts_ms_aws", "idx_aws").contains)
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
      withConnection { conn =>
        if (dropStagingFirst)
          try execute(conn, s"DROP TABLE $staging") catch { case _: Exception => }
        ensureTargetSchema(conn, stage.drop("op_aws"), spec)
      }
      stage.write.mode(SaveMode.Overwrite)
        .option("truncate", "true") // reuse staging table when shape matches
        // `op_aws` is compared in the merge SQL — force a comparable type
        // (dialects like Derby map StringType to CLOB, which cannot equal a
        // literal).
        .option("createTableColumnTypes", "op_aws VARCHAR(8)")
        .jdbc(url, staging, connProps)
      withConnection { conn =>
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
          val insertCols = stage.columns.filterNot(_ == "op_aws").map(q)
          val opPredicate = if (spec.skipDelete) "1=1" else s"${q("op_aws")} <> 'd'"
          execute(conn,
            s"INSERT INTO $target (${insertCols.mkString(", ")}) " +
              s"SELECT ${insertCols.mkString(", ")} FROM $staging WHERE $opPredicate")
          execute(conn, s"TRUNCATE TABLE $staging")
          conn.commit()
        } catch {
          case e: Exception => conn.rollback(); throw e
        } finally conn.setAutoCommit(true)
      }
    }
    try attempt(dropStagingFirst = false)
    catch { case _: Exception => attempt(dropStagingFirst = true) }
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
      execute(conn, clampVarchar(SchemaEvolution.createTableDdl(target, data.schema, Nil,
        ifNotExists = false)))
    } else {
      val (adds, drops) = SchemaEvolution.diff(data.schema, existing)
      SchemaEvolution.alterDdl(target, adds, drops)
        .map(clampVarchar)
        .foreach(execute(conn, _))
    }
  }
}
