package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyed merge algebra (ref SURVEY.md §2.3 J1–J3). The reference expresses
  * this as warehouse SQL — `DELETE FROM target USING stage; INSERT INTO
  * target SELECT ... WHERE op != delete` inside one transaction
  * (cdc_util/redshift_sink.py:477-509). The same algebra, Spark-native:
  *
  *     merged = (target ANTI JOIN stage ON keys)  UNION  (stage WHERE NOT delete)
  *
  * which is exactly "delete every target row whose key appears in the
  * batch, then insert the batch's surviving rows" — last-write-wins upsert
  * with physical deletes.
  *
  * Scale notes:
  *  - a CDC micro-batch is tiny relative to the target table, so the anti
  *    join broadcasts the *stage key set* (`broadcast()` hint) — the 100 TB
  *    target is never shuffled;
  *  - `stage` must already be deduped to one row per key (Dedup.latestPerKey)
  *    or the union could emit duplicate keys;
  *  - idempotent: merge(merge(T,B),B) == merge(T,B) — replayed batches
  *    converge, which is what makes checkpoint-restart exactly-once-ish
  *    (ref SURVEY.md §2.9 T3). Property-tested in MergeSpec.
  */
object MergeOps {

  /** Pure-Spark merge of a deduped stage batch into a target snapshot.
    *
    * @param dropCols meta columns to strip from stage before insert
    *                 (op/ts/idx — ref P9 drops `seqnum_aws` etc.)
    * @param broadcastStage hint that stage is small (the normal CDC case)
    */
  def merge(target: DataFrame, stage: DataFrame, keys: Seq[String], isDelete: Column,
            dropCols: Seq[String] = Nil, broadcastStage: Boolean = true): DataFrame = {
    val stageKeys0 = stage.select(keys.map(col): _*)
    val stageKeys = if (broadcastStage) broadcast(stageKeys0) else stageKeys0
    // A using-columns join moves the keys to the front; restore the target's
    // column order so the merged schema is stable across batches.
    val kept = target.join(stageKeys, keys, "left_anti")
      .select(target.columns.map(col).toIndexedSeq: _*)
    val upserts = stage.filter(!isDelete).drop(dropCols: _*)
    kept.unionByName(upserts, allowMissingColumns = true)
  }

  /** `skip_delete` variant (ref redshift_sink.py:456-457): deletes are
    * retained as regular upserts — the target keeps the last row image. */
  def mergeSkipDelete(target: DataFrame, stage: DataFrame, keys: Seq[String],
                      dropCols: Seq[String] = Nil): DataFrame =
    merge(target, stage, keys, lit(false), dropCols)

  /** Out-of-order-batch guard (improvement over the reference, flagged in
    * SURVEY.md §7.4): a stage row only replaces the target row if its event
    * time is >= the target's. `tsCol` must exist on both sides. */
  def mergeWithTsGuard(target: DataFrame, stage: DataFrame, keys: Seq[String],
                       isDelete: Column, tsCol: String,
                       dropCols: Seq[String] = Nil): DataFrame = {
    val sk = broadcast(stage.select((keys :+ tsCol).map(col): _*)
      .withColumnRenamed(tsCol, "__stage_ts"))
    // Rows that lose to the batch: key matches AND target not newer.
    val kept = target.join(sk, keys, "left")
      .filter(col("__stage_ts").isNull || col(tsCol) > col("__stage_ts"))
      .drop("__stage_ts")
      .select(target.columns.map(col).toIndexedSeq: _*)
    val winners = stage.filter(!isDelete).drop(dropCols: _*)
      // Only insert stage rows that actually won (no stale resurrect):
      .join(kept.select(keys.map(col): _*), keys, "left_anti")
    kept.unionByName(winners, allowMissingColumns = true)
  }

  /** ADDITIVE merge — incremental aggregate-table maintenance, the other
    * merge algebra next to the replace-upsert above: the target holds
    * running counters per key, the delta holds a batch's partial
    * counters, and merging SUMS them. This is how a daily/hourly rollup
    * stays current under streaming ingest without ever rescanning
    * history: counters must be associative-commutative (counts, integer
    * micro-unit sums, min/max via the variant column you pass), so
    * batch arrival order cannot change the result.
    *
    * Shape: union + re-aggregate — partial aggregation collapses both
    * sides map-side, the exchange carries one row per touched key, and
    * under a key-bucketed target ([[graft.sink.ParquetMergeTarget]])
    * only touched buckets rewrite. A full-outer-join formulation builds
    * the same result with a join it doesn't need.
    *
    * NOT idempotent by design — replaying a batch double-counts, so wire
    * it behind the checkpointed foreachBatch (T3) which already
    * guarantees effectively-once batch delivery, or carry a batch-id
    * high-water mark per key. Scaladoc'd loudly because the
    * replace-merge above IS idempotent and the two must not be swapped
    * silently. */
  def additiveMerge(target: DataFrame, delta: DataFrame, keys: Seq[String],
                    counters: Seq[String]): DataFrame = {
    val aggs = counters.map(c => sum(col(c)).as(c))
    target.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
