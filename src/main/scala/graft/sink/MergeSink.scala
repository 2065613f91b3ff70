package graft.sink

import graft.config.TableSpec
import graft.operators.{MergeOps, Scd2, Skew, VersionedDir}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Keyed-merge sinks. The reference merges through Redshift (staging table
  * + `DELETE USING` / `INSERT SELECT` in one transaction —
  * cdc_util/redshift_sink.py:465-547); we provide the same algebra against
  * one parquet target, [[ParquetMergeTarget]]: a key-bucketed table
  * whose bucket count follows its size (one bucket, the whole-table
  * case, until it outgrows 8 MiB) and whose merge is the type-1
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
  * `kb_aws = pmod(xxhash64(merge keys), n)`, and a merge reads and
  * rewrites ONLY the buckets whose keys appear in the stage batch:
  *
  *  - the bucket count `n` follows the table's size: the smallest power
  *    of two that keeps each bucket under `bucketBytes`
  *    ([[ParquetMergeTarget.BucketBytes]], 8 MiB), counting the
  *    committed table's file bytes, capped at `maxBuckets`
  *    ([[ParquetMergeTarget.MaxBuckets]], 64). A table under 8 MiB is
  *    one bucket, so its merge is one read and one write, with no bucket
  *    probe; a larger table's merge reads only the buckets its stage
  *    touches, and from 512 MiB on the table has all 64 buckets;
  *  - `n` only grows, by powers of two. A growth step is the same merge
  *    with every live bucket touched, written at the new `n`. The stage
  *    is not counted: the optimizer's size estimate of a parsed and
  *    deduped batch runs tens of times its real size, and is a scaled
  *    `Long.MaxValue` over a leaf without statistics. So a table's first
  *    merge lands as one bucket whatever its size, and the merge after
  *    it re-lays the table out;
  *  - the table is a [[VersionedDir]]: each merge writes the touched
  *    buckets into `v<n+1>`, hard-links every untouched bucket's files
  *    from `v<n>` (same inode and mtime — untouched data is never
  *    rewritten, so per-batch I/O is O(touched data), not O(|target|)),
  *    and commits by moving the `_version` pointer. Readers see a whole
  *    pre-batch or post-batch table; a crash before the pointer move
  *    leaves `v<n>` live, and the checkpoint replay purges the orphan
  *    and re-merges the batch (the merge algebra is idempotent);
  *  - each version carries a layout marker, `_layout`: its bucket count
  *    and its schema (Spark JSON), written before the pointer moves, so
  *    it flips with the version. Merges and snapshots read with that
  *    schema instead of a `mergeSchema` footer pass: a column that a
  *    bucket's files lack (a bucket untouched since a schema drift)
  *    reads as null, as `mergeSchema` gives it;
  *  - bucket assignment is a pure hash of the key — stable across batches
  *    and replays at a given `n`;
  *  - every rewrite leaves ONE file per live bucket: the write is clustered
  *    into `n` partitions on `kb_aws`, so each bucket is written by exactly
  *    one task. A legacy bucket holding many files is compacted to one the
  *    first time a merge touches it.
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
  * A bucketed version without a marker was written at a fixed 64
  * buckets (`maxBuckets`): it is read with `mergeSchema`, and its next
  * merge keeps that count and writes the marker. A table written before
  * versioning (top-level `kb_aws=N` directories, or older top-level
  * unbucketed files) is read in place and becomes `v0` on its first
  * merge; `snapshot` drops the internal bucket column, so readers see the
  * same schema under any bucket count.
  *
  * `maxBuckets` and `bucketBytes` are a test seam: specs pass a zero
  * byte target to reach a many-bucket layout from the first merge, and
  * the count an unmarked table was written at. */
final class ParquetMergeTarget private[graft] (path: String, maxBuckets: Int, bucketBytes: Long)
    extends MergeTarget {
  import ParquetMergeTarget.{Kb, Layout, LayoutFile, MetaCols}

  def this(path: String) = this(path, ParquetMergeTarget.MaxBuckets, ParquetMergeTarget.BucketBytes)

  private val table = new java.io.File(path).getAbsoluteFile
  private val versions = new VersionedDir(table)

  /** `kb_aws=N` directory names under `dir` — the bucketed layout. */
  private def bucketNames(dir: java.io.File): Set[String] =
    Option(dir.list()).getOrElse(Array.empty).filter(_.startsWith(s"$Kb=")).toSet

  /** The live table: `v<current>`, or the table root itself for a table
    * written before versioning. */
  private def live(v: Long): java.io.File =
    if (v >= 0) versions.dir(v) else { restoreHops(); table }

  /** The layout marker of version `v`: its bucket count and schema. A
    * reader takes `v` once and reads both the marker and the files from
    * it, so it pairs the files with their own version's marker. */
  private def layoutOf(v: Long): Option[Layout] =
    versions.textIn(v, LayoutFile).map { text =>
      val Array(n, schema) = text.split("\n", 2)
      Layout(n.trim.toInt, DataType.fromJson(schema).asInstanceOf[StructType])
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
    val cur = versions.current
    val dir = live(cur)
    require(dir.exists(), s"no target at $path")
    layoutOf(cur).fold(spark.read.option("mergeSchema", "true"))(l => spark.read.schema(l.schema))
      .parquet(dir.getPath).drop(Kb)
  }

  /** The smallest power of two that keeps each bucket of a `bytes`-sized
    * table under `bucketBytes`, capped at `maxBuckets`. */
  private def sized(bytes: Long): Int = {
    var n = 1
    while (n < maxBuckets && bytes >= n.toLong * bucketBytes) n *= 2
    math.min(n, maxBuckets)
  }

  /** Bytes of every file under `f`. */
  private def bytesUnder(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytesUnder).sum
    else f.length()

  /** Write `merged` as `n` bucket directories under `dir`, clustered on
    * the bucket: the shuffle puts each bucket's rows in exactly one task,
    * so each `kb_aws=N` directory gets exactly one file. Unclustered,
    * every write task (one per scan split of the target plus one per
    * stage partition) holds rows of nearly every bucket and opens a file
    * for each, and the next merge's scan splits multiply the count again. */
  private def write(merged: DataFrame, bucketOf: Column, n: Int, dir: java.io.File): Unit =
    merged.withColumn(Kb, bucketOf).repartition(n, col(Kb))
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
    val cur = versions.current
    val src = live(cur)
    val next = versions.dir(cur + 1)
    VersionedDir.deleteTree(next) // the orphan of a crashed writer, if any
    val liveBuckets = bucketNames(src)
    val layout = layoutOf(cur)
    // A bucketed version without a marker was written at `maxBuckets`.
    val liveN = layout.map(_.buckets).getOrElse(if (liveBuckets.isEmpty) 1 else maxBuckets)
    val n = math.max(liveN, sized(bytesUnder(src)))
    val bucketOf = Skew.keyBucket(keys.map(col), n)
    val (merged, untouched, prior) =
      if (liveBuckets.isEmpty) {
        // Create — or fold an older unbucketed table in one whole-table
        // pass. A dir with neither layout is a create, not a migration.
        val legacy = Option(src.list()).getOrElse(Array.empty).exists(_.endsWith(".parquet"))
        (if (legacy) fold(spark.read.parquet(src.getPath)) else create(), Set.empty[String],
         new StructType())
      } else {
        // The whole table's schema: the marker's, or one mergeSchema pass
        // over a version written without one (its untouched buckets may
        // hold columns the touched ones lack).
        val schema = layout.map(_.schema).getOrElse(
          spark.read.option("mergeSchema", "true").parquet(src.getPath).drop(Kb).schema)
        // At one bucket, or when `n` grows, every live bucket is touched;
        // otherwise ≤ `n` distinct values — a bounded collect by design.
        val touched =
          if (n == 1 || n > liveN) liveBuckets
          else stage.select(bucketOf).distinct().collect().map(b => s"$Kb=${b.getInt(0)}").toSet
        // Read ONLY the touched bucket directories (listed explicitly with
        // basePath), with the table's schema: a column a touched file
        // lacks reads as null. Rows of co-bucketed OTHER keys pass through
        // the fold unchanged and are rewritten with them.
        val touchedDirs = touched.filter(liveBuckets).map(new java.io.File(src, _).getPath)
        (if (touchedDirs.isEmpty) create()
         else fold(spark.read.schema(schema).option("basePath", src.getPath)
           .parquet(touchedDirs.toIndexedSeq: _*).drop(Kb)),
         liveBuckets -- touched, schema)
      }
    write(merged, bucketOf, n, next)
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
    // The marker's schema keeps the columns of untouched buckets that
    // this batch's rows lack.
    val kept = prior.filterNot(f => merged.columns.exists(_.equalsIgnoreCase(f.name)))
    VersionedDir.writeAtomically(new java.io.File(next, LayoutFile).toPath,
      s"$n\n${StructType(merged.schema.fields ++ kept).json}")
    versions.commit(cur + 1)
    versions.dropUnversioned()
  }
}

private object ParquetMergeTarget {
  final val Kb = "kb_aws"
  /** The layout marker in each version: bucket count, then schema JSON. */
  final val LayoutFile = "_layout"
  final case class Layout(buckets: Int, schema: StructType)
  /** The bucket count's ceiling, and the count of a version written
    * without a marker. */
  final val MaxBuckets = 64
  /** The per-bucket byte target, taken from measured merges (ROADMAP
    * direction 2): rewriting a bucket of up to about 8 MB costs no more
    * than the jobs and files of a many-bucket merge, while a whole-table
    * rewrite of 60 MB or more loses to 64 buckets. */
  final val BucketBytes = 8L << 20
  /** Stage meta columns, never stored in the target. */
  final val MetaCols = Seq("op_aws", "ts_ms_aws", "idx_aws")
}
