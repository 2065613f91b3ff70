package graft.sink

import graft.config.TableSpec
import graft.operators.{MergeOps, Scd2, Skew}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed-merge sinks. The reference merges through Redshift (staging table
  * + `DELETE USING` / `INSERT SELECT` in one transaction —
  * cdc_util/redshift_sink.py:465-547); we provide the same algebra against
  * one parquet target, [[ParquetMergeTarget]]: a key-bucketed table
  * (`buckets = 1` is the whole-table case) whose merge is the type-1
  * upsert or, for `scd2_history` specs, the type-2 history fold. It lets
  * every merge semantics be oracle-tested with no warehouse.
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
}

/** Parquet merge target (SURVEY §7.5): the table is laid out as parquet
  * partitioned by a stable key bucket
  * `kb_aws = pmod(xxhash64(merge keys), buckets)`, and a merge reads and
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
  *    not; the replay re-merges all of them and converges (the merge
  *    algebra is idempotent per bucket);
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
  * A pre-existing unbucketed (legacy) table is migrated in one whole-table
  * rewrite on its first merge. `snapshot` drops the internal bucket
  * column, so readers see the same schema under any bucket count. */
final class ParquetMergeTarget(path: String, buckets: Int = 64) extends MergeTarget {
  import ParquetMergeTarget.{Kb, MetaCols}

  private val table = new java.io.File(path).getAbsoluteFile
  private def bucketDir(root: java.io.File, b: Int) = new java.io.File(root, s"$Kb=$b")

  /** `kb_aws=N` directory names under `dir` — the layout marker. */
  private def bucketNames(dir: java.io.File): Set[String] =
    Option(dir.list()).getOrElse(Array.empty).filter(_.startsWith(s"$Kb=")).toSet

  /** A legacy (unbucketed) table has data files at the top level. A
    * directory with neither bucket dirs nor data files must be treated as
    * absent, not migrated (reading it would fail forever). */
  private def hasLegacyDataFiles: Boolean =
    Option(table.list()).getOrElse(Array.empty).exists(_.endsWith(".parquet"))

  /** Restore any hop left by an interrupted swap: the whole-table hop
    * (`<name>.old`) and every per-bucket hop (`<name>.old-kb_aws=N`). */
  private def recover(): Unit = {
    DirSwap.recover(new java.io.File(table.getPath + ".old"), table)
    val prefix = table.getName + ".old-"
    Option(table.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
      .foreach(hop => DirSwap.recover(hop, new java.io.File(table, hop.getName.stripPrefix(prefix))))
  }

  def snapshot(spark: SparkSession): DataFrame = {
    recover()
    require(table.exists(), s"no target at $path")
    spark.read.option("mergeSchema", "true").parquet(path).drop(Kb)
  }

  /** Write `merged` as bucket directories under `tmp`, clustered on the
    * bucket: the shuffle puts each bucket's rows in exactly one task, so
    * each `kb_aws=N` directory gets exactly one file. Unclustered, every
    * write task (one per scan split of the target plus one per stage
    * partition) holds rows of nearly every bucket and opens a file for
    * each, and the next merge's scan splits multiply the count again. */
  private def write(merged: DataFrame, bucketOf: Column, tmp: java.io.File): Unit =
    merged.withColumn(Kb, bucketOf).repartition(col(Kb))
      .write.mode(SaveMode.Overwrite).partitionBy(Kb).parquet(tmp.getPath)

  /** A merge that would leave no bucket at all (every key deleted) lands
    * one zero-row file in bucket `b` of `tmp` instead, so the table stays
    * readable with its last columns. */
  private def keepReadable(merged: DataFrame, tmp: java.io.File, b: Int): Unit =
    merged.limit(0).write.parquet(bucketDir(tmp, b).getPath)

  def merge(stage0: DataFrame, spec: TableSpec): Unit = {
    recover()
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
    val tmp = new java.io.File(table.getPath + ".tmp")
    val live = bucketNames(table)
    if (live.isEmpty) {
      // Create — or migrate a legacy unbucketed table in one whole-table
      // pass. A dir with neither layout is a create, not a migration.
      val merged = if (hasLegacyDataFiles) fold(spark.read.parquet(path)) else create()
      write(merged, bucketOf, tmp)
      if (bucketNames(tmp).isEmpty) keepReadable(merged, tmp, 0)
      DirSwap.swap(tmp, table, new java.io.File(table.getPath + ".old"))
    } else {
      // ≤ `buckets` distinct values — a bounded driver-side collect by design.
      val touched = stage.select(bucketOf).distinct().collect().map(_.getInt(0)).sorted
      // Read ONLY the touched bucket directories (listed explicitly with
      // basePath): both the data AND the mergeSchema footer pass stay
      // O(touched buckets) — a whole-table read with a runtime filter would
      // still pay schema inference over every file in the table each
      // trigger. mergeSchema: buckets rewritten after a schema drift carry
      // wider files than untouched ones; a single-footer sample must not
      // drop the drifted columns from kept rows. Rows of co-bucketed OTHER
      // keys pass through the fold unchanged and are rewritten in place.
      val touchedDirs = touched.map(bucketDir(table, _)).filter(_.exists()).map(_.getPath)
      val merged =
        if (touchedDirs.isEmpty) create()
        else fold(spark.read.option("mergeSchema", "true").option("basePath", path)
          .parquet(touchedDirs.toIndexedSeq: _*).drop(Kb))
      write(merged, bucketOf, tmp)
      if ((live -- touched.map(b => s"$Kb=$b") ++ bucketNames(tmp)).isEmpty)
        keepReadable(merged, tmp, touched.head)
      // Swap only the touched buckets; a bucket whose merged output is
      // empty (all rows deleted) has no tmp dir and is removed. The `.old`
      // hops are SIBLINGS of the table directory — a crash mid-swap must
      // not leave a bogus `kb_aws=N.old` partition inside the table.
      touched.foreach { b =>
        DirSwap.swap(bucketDir(tmp, b), bucketDir(table, b),
          new java.io.File(s"${table.getPath}.old-$Kb=$b"), allowMissingSrc = true)
      }
      DirSwap.rmTree(tmp)
    }
  }
}

private object ParquetMergeTarget {
  final val Kb = "kb_aws"
  /** Stage meta columns, never stored in the target. */
  final val MetaCols = Seq("op_aws", "ts_ms_aws", "idx_aws")
}
