package graft.sink

import graft.config.TableSpec
import graft.operators.{MergeOps, Scd2, Skew, VersionedDir}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed-merge sinks. The reference merges through Redshift (staging table
  * + `DELETE USING` / `INSERT SELECT` in one transaction —
  * cdc_util/redshift_sink.py:465-547); we provide the same algebra against
  * one parquet target, [[ParquetMergeTarget]]: a key-bucketed table
  * (`buckets = 1` is the whole-table case) whose merge is the type-1
  * upsert or, for `scd2_history` specs, the type-2 history fold. It lets
  * every merge semantics be oracle-tested with no warehouse. It commits
  * the way every on-disk writer here does: a new `v<n>` directory, then
  * an atomic move of the `_version` pointer ([[VersionedDir]]).
  *
  * The warehouse itself is the one JDBC sink, [[WarehouseMergeSink]]
  * (StagedCopySink.scala): a staging-table load through a pluggable
  * [[CopyExecutor]] + one transaction of portable ANSI merge SQL
  * (`DELETE WHERE EXISTS` + `INSERT SELECT`), with auto-create,
  * add/drop-column schema evolution and the reference's
  * retry-once-after-staging-reset policy (redshift_sink.py:528-547).
  */
trait MergeTarget {
  /** Merge a deduped stage batch (one row per key, carrying `op_aws`). */
  def merge(stage: DataFrame, spec: TableSpec): Unit
  /** Current target snapshot. Throws if the target was never written; a
    * table whose every row was deleted reads as zero rows. */
  def snapshot(spark: SparkSession): DataFrame
}

/** Parquet merge target (SURVEY §7.5): the table is laid out as parquet
  * partitioned by a stable key bucket
  * `kb_aws = pmod(xxhash64(merge keys), buckets)`, and a merge reads and
  * rewrites ONLY the buckets whose keys appear in the stage batch:
  *
  *  - the target scan is partition-pruned to the touched buckets (a CDC
  *    micro-batch touches few buckets relative to a 100 TB table);
  *  - the table is a [[VersionedDir]]: each merge writes the touched
  *    buckets into `v<n+1>`, hard-links every untouched bucket's files
  *    from `v<n>` (same inode and mtime — untouched data is never
  *    rewritten, so per-batch I/O is O(touched data), not O(|target|)),
  *    and commits by moving the `_version` pointer. Readers see a whole
  *    pre-batch or post-batch table; a crash before the pointer move
  *    leaves `v<n>` live, and the checkpoint replay purges the orphan
  *    and re-merges the batch (the merge algebra is idempotent);
  *  - bucket assignment is a pure hash of the key — stable across batches
  *    and replays;
  *  - every rewrite leaves ONE file per live bucket: the write is clustered
  *    on `kb_aws`, so each bucket is written by exactly one task and write
  *    parallelism is bounded by the number of touched buckets. A legacy
  *    bucket holding many files is compacted to one the first time a merge
  *    touches it.
  *
  * The merge algebra comes from the spec on each batch:
  *  - type-1 (default): [[MergeOps.merge]] — last-write-wins upsert with
  *    physical deletes; `skip_delete` upserts delete rows instead;
  *  - `scd2_history`: [[graft.operators.Scd2.merge]] — every version with
  *    its [valid_from, valid_to) interval and an `is_current` flag; the
  *    merge key's bucket holds a key's ENTIRE history, deletes close the
  *    open version, `skip_delete` drops delete rows before the fold, and
  *    tracked columns are the stage columns minus keys and meta.
  * Both are no-ops on a replayed batch (the T3 idempotence).
  *
  * A table written before versioning (top-level `kb_aws=N` directories,
  * or older top-level unbucketed files) is read in place and becomes
  * `v0` on its first merge; `snapshot` drops the internal bucket column,
  * so readers see the same schema under any bucket count. */
final class ParquetMergeTarget(path: String, buckets: Int = 64) extends MergeTarget {
  import ParquetMergeTarget.{Kb, MetaCols}

  private val table = new java.io.File(path).getAbsoluteFile
  private val versions = new VersionedDir(table)

  /** `kb_aws=N` directory names under `dir` — the layout marker. */
  private def bucketNames(dir: java.io.File): Set[String] =
    Option(dir.list()).getOrElse(Array.empty).filter(_.startsWith(s"$Kb=")).toSet

  /** The live table: `v<current>`, or the table root itself for a table
    * written before versioning. */
  private def live(): java.io.File = {
    val cur = versions.current
    if (cur >= 0) versions.dir(cur) else { restoreHops(); table }
  }

  /** Pre-versioned tables only: restore any hop the old rename-swap
    * commit left behind — the whole-table hop (`<name>.old`) and every
    * per-bucket hop (`<name>.old-kb_aws=N`). A hop with a missing live
    * directory holds the ONLY copy (the crash hit between swap-out and
    * swap-in); a hop next to a live directory is completed-swap garbage. */
  private def restoreHops(): Unit = {
    def restore(hop: java.io.File, dst: java.io.File): Unit =
      if (hop.exists()) {
        if (dst.exists()) VersionedDir.deleteTree(hop)
        else if (!hop.renameTo(dst)) throw new java.io.IOException(s"cannot restore $hop to $dst")
      }
    restore(new java.io.File(table.getPath + ".old"), table)
    val prefix = table.getName + ".old-"
    Option(table.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
      .foreach(hop => restore(hop, new java.io.File(table, hop.getName.stripPrefix(prefix))))
  }

  def snapshot(spark: SparkSession): DataFrame = {
    val dir = live()
    require(dir.exists(), s"no target at $path")
    spark.read.option("mergeSchema", "true").parquet(dir.getPath).drop(Kb)
  }

  /** Write `merged` as bucket directories under `dir`, clustered on the
    * bucket: the shuffle puts each bucket's rows in exactly one task, so
    * each `kb_aws=N` directory gets exactly one file. Unclustered, every
    * write task (one per scan split of the target plus one per stage
    * partition) holds rows of nearly every bucket and opens a file for
    * each, and the next merge's scan splits multiply the count again. */
  private def write(merged: DataFrame, bucketOf: Column, dir: java.io.File): Unit =
    merged.withColumn(Kb, bucketOf).repartition(col(Kb))
      .write.mode(SaveMode.Overwrite).partitionBy(Kb).parquet(dir.getPath)

  def merge(stage0: DataFrame, spec: TableSpec): Unit = versions.withWriterLock {
    val spark = stage0.sparkSession
    val keys = spec.mergeKeys
    val isDelete = col("op_aws") === "d"
    // SCD2 skip_delete: a delete never closes the open version.
    val stage = if (spec.scd2History && spec.skipDelete) stage0.filter(!isDelete) else stage0
    val tracked = stage.columns.toSeq.filterNot(c => keys.contains(c) || MetaCols.contains(c))
    def create(): DataFrame =
      if (spec.scd2History)
        Scd2.fromChangelog(stage, keys, "ts_ms_aws", tracked,
          tieBreak = Seq(col("idx_aws")), isDelete = isDelete)
      else stage.filter(if (spec.skipDelete) lit(true) else !isDelete).drop(MetaCols: _*)
    def fold(target: DataFrame): DataFrame =
      if (spec.scd2History) Scd2.merge(target, stage, keys, "ts_ms_aws", tracked, isDelete)
      else if (spec.skipDelete) MergeOps.mergeSkipDelete(target, stage, keys, MetaCols)
      else MergeOps.merge(target, stage, keys, isDelete, MetaCols)
    val bucketOf = Skew.keyBucket(keys.map(col), buckets)
    val cur = versions.current
    val src = live()
    val next = versions.dir(cur + 1)
    VersionedDir.deleteTree(next) // the orphan of a crashed writer, if any
    val liveBuckets = bucketNames(src)
    val (merged, untouched) =
      if (liveBuckets.isEmpty) {
        // Create — or fold an older unbucketed table in one whole-table
        // pass. A dir with neither layout is a create, not a migration.
        val legacy = Option(src.list()).getOrElse(Array.empty).exists(_.endsWith(".parquet"))
        (if (legacy) fold(spark.read.parquet(src.getPath)) else create(), Set.empty[String])
      } else {
        // ≤ `buckets` distinct values — a bounded collect by design.
        val touched = stage.select(bucketOf).distinct().collect().map(b => s"$Kb=${b.getInt(0)}")
        // Read ONLY the touched bucket directories (listed explicitly with
        // basePath): both the data AND the mergeSchema footer pass stay
        // O(touched buckets) — a whole-table read with a runtime filter would
        // still pay schema inference over every file in the table each
        // trigger. mergeSchema: buckets rewritten after a schema drift carry
        // wider files than untouched ones; a single-footer sample must not
        // drop the drifted columns from kept rows. Rows of co-bucketed OTHER
        // keys pass through the fold unchanged and are rewritten with them.
        val touchedDirs = touched.filter(liveBuckets).map(new java.io.File(src, _).getPath)
        (if (touchedDirs.isEmpty) create()
         else fold(spark.read.option("mergeSchema", "true").option("basePath", src.getPath)
           .parquet(touchedDirs.toIndexedSeq: _*).drop(Kb)),
         liveBuckets -- touched)
      }
    write(merged, bucketOf, next)
    // Untouched buckets join the new version as hard links to their files.
    for (name <- untouched) {
      val to = new java.io.File(next, name)
      to.mkdirs()
      new java.io.File(src, name).listFiles().foreach(f =>
        java.nio.file.Files.createLink(new java.io.File(to, f.getName).toPath, f.toPath))
    }
    // A merge that would leave no bucket at all (every key deleted) lands
    // one zero-row file instead, so the table stays readable with its
    // last columns.
    if (bucketNames(next).isEmpty) merged.limit(0).write.parquet(new java.io.File(next, s"$Kb=0").getPath)
    versions.commit(cur + 1)
    versions.dropUnversioned()
  }
}

private object ParquetMergeTarget {
  final val Kb = "kb_aws"
  /** Stage meta columns, never stored in the target. */
  final val MetaCols = Seq("op_aws", "ts_ms_aws", "idx_aws")
}
