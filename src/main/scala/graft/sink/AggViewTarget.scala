package graft.sink

import graft.config.TableSpec
import graft.operators.{IncrementalAgg, VersionedDir}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintained-rollup decorator around any [[MergeTarget]]: next to the
  * merged last-image table, keep a (group keys → count / Σv / Σv²)
  * moments view current from each micro-batch's deltas — the
  * [[graft.operators.IncrementalAgg]] algebra wired into the live
  * pipeline, so a dashboard aggregate never re-reads the merged base
  * (the reference's consumers re-aggregate the warehouse table; at
  * 100 TB the rollup must ride the batch).
  *
  * Delta derivation per batch (the stage is the DEDUPED one-row-per-key
  * micro-batch, the [[MergeTarget]] contract):
  *  - retractions: the PRE-merge target rows for the batch's keys —
  *    fetched through a broadcast semi-join on the merge keys, so the
  *    target is scanned once with key pushdown, never re-aggregated;
  *  - insertions: the batch's surviving after-images ('d' rows drop
  *    unless `skip_delete` upserts them).
  * The view merge is the union + hash re-aggregate currency (exact
  * BIGINT sums, decimal(38,0) squares; zero-count groups vanish).
  *
  * The view is a [[VersionedDir]]: each update lands in `viewPath/v<n+1>/`
  * and commits by moving the `_version` pointer, so readers see a whole
  * view and a crashed update leaves the previous one live.
  *
  * Replay safety: the delta application is NOT naturally idempotent
  * (unlike the type-1 merge), so each view version carries the applied
  * batch's content checksum (order-independent XOR of row hashes — the
  * q139 fingerprint currency) INSIDE its version directory; a
  * checkpoint-replayed batch matches the committed checksum and skips
  * the view update while the inner merge re-runs idempotently. The
  * checksum flips with the pointer, so no crash window separates it
  * from the view data. A view directory written before versioning is
  * ignored: the first update bootstraps from the pre-merge target.
  *
  * Write ordering: the view updates BEFORE the inner merge (the view's
  * retraction needs the PRE-merge target). A crash between the two
  * replays into: checksum hit → view skip → merge runs. A crash before
  * the view write replays both. Either way state converges. */
final class AggViewTarget(inner: MergeTarget, viewPath: String)
  extends MergeTarget {

  def snapshot(spark: SparkSession): DataFrame = inner.snapshot(spark)

  private val versions = VersionedDir(viewPath)

  private def exists: Boolean = versions.current >= 0

  /** The maintained rollup: group keys, cnt, sumv, sumsq. */
  def viewSnapshot(spark: SparkSession): DataFrame = {
    require(exists, s"no agg view at $viewPath")
    spark.read.parquet(versions.dir(versions.current).getPath)
  }

  /** Order/partitioning-independent batch fingerprint: XOR of portable
    * row hashes over every view-relevant column — merge keys, op, the
    * GROUP columns and the value. The group columns must participate:
    * two consecutive batches that only move a row between groups agree
    * on (key, op, value) and would otherwise collide, skipping a real
    * view update as a "replay". */
  private def fingerprint(stage: DataFrame, spec: TableSpec): String = {
    val cols = (spec.mergeKeys ++ Seq("op_aws") ++ spec.aggViewKeys :+
      spec.aggViewValue).distinct
    // Explicit field delimiter + NULL sentinel: concat_ws alone drops
    // NULLs and abuts fields, so ("a1", 1)/("a", 11) — or a NULL moving
    // between fields — would hash identically and a REAL batch would
    // be skipped as a replay.
    val h = graft.functions.TextFunctions.md5Long(
      concat_ws("\u0001",
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
    val agg = stage.select(h.as("h"))
      .agg(count(lit(1)).as("n"), coalesce(expr("bit_xor(h)"), lit(0L)).as("x"))
      .head()
    s"${agg.getLong(0)}:${agg.getLong(1)}"
  }

  def merge(stage: DataFrame, spec: TableSpec): Unit = {
    require(spec.aggViewKeys.nonEmpty && spec.aggViewValue.nonEmpty,
      "AggViewTarget needs agg_view_keys and agg_view_value")
    val spark = stage.sparkSession
    val fp = fingerprint(stage, spec)
    versions.withWriterLock {
      if (!versions.committedText("_applied_checksum").contains(fp)) {
        val groups = spec.aggViewKeys
        val v = col(spec.aggViewValue).cast("long")
        val keep = if (spec.skipDelete) lit(true) else col("op_aws") =!= "d"
        val plus = stage.filter(keep).select(
          groups.map(col) ++ Seq(lit(1L).as(IncrementalAgg.cntCol),
            v.as(IncrementalAgg.sumCol),
            (v.cast("decimal(38,0)") * v).as(IncrementalAgg.sumSqCol)): _*)
        val keyFrame = stage.select(spec.mergeKeys.map(col): _*).distinct()
        // Pre-merge target. With a live view the target MUST be readable —
        // a transient snapshot failure propagates and fails the batch (the
        // checkpoint replays it) rather than silently dropping the
        // retractions. Only before the first view write may the target
        // legitimately not exist yet.
        val preTarget: Option[DataFrame] =
          if (exists) Some(inner.snapshot(spark))
          else scala.util.Try(inner.snapshot(spark)).toOption
        val minus = preTarget.map(
          _.join(broadcast(keyFrame), spec.mergeKeys, "left_semi").select(
            groups.map(col) ++ Seq(lit(-1L).as(IncrementalAgg.cntCol),
              (-v).as(IncrementalAgg.sumCol),
              (-(v.cast("decimal(38,0)") * v)).as(IncrementalAgg.sumSqCol)): _*))
        val delta = minus.fold(plus)(plus.unionByName(_))
        // First write bootstraps the state from the PRE-merge target, so a
        // view attached to a table with history starts equal to its
        // recompute instead of tracking only post-attachment deltas.
        val state = if (exists) viewSnapshot(spark) else
          preTarget.map(t => IncrementalAgg.initialMoments(t, groups, v))
            .getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], delta.schema))
        val merged = IncrementalAgg.applyMomentDeltas(state, delta, groups)
        val next = versions.current + 1
        VersionedDir.deleteTree(versions.dir(next)) // the orphan of a crashed update, if any
        merged.write.parquet(versions.dir(next).getPath)
        java.nio.file.Files.writeString(new java.io.File(versions.dir(next), "_applied_checksum").toPath, fp)
        versions.commit(next)
        versions.dropUnversioned()
      }
    }
    inner.merge(stage, spec)
  }
}
