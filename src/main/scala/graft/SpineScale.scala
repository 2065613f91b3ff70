package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.envelope.FlinkDebeziumCdc
import graft.operators.Dedup
import graft.sources.CdcGen

/** Third-decade spine measurement (VERDICT r11 #7): the core CDC path —
  * route → parse → normalize → LWW — is measured at 1M records (sf0.1
  * bench) and 10M (sf1 endurance run); this runs it at 100M in one
  * batch, pinning the third decade the way the streaming-state probe's
  * two decades pin state growth.
  *
  * Method mirrors `Queries.debezium10xBatch` exactly (same key
  * expansion, same envelope synthesizer) but with a parameterized copy
  * count, and the synthesized batch is MATERIALIZED TO PARQUET untimed
  * — at 100M rows the JSON strings (~40 GB raw) exceed any sane
  * executor-memory persist, and a Kafka broker would hold them on disk
  * anyway. The timed section reads the parquet back and runs only the
  * engine: route predicate, from_json, normalize projection, LWW
  * window, noop sink.
  *
  * The MERGE leg (VERDICT r12 #7) extends the measured lifecycle past
  * LWW into the batch's landing: the spine output is written as the
  * parquet target snapshot (untimed — the "existing table"), then the
  * timed section replays MergeOps.merge(target, stage) — the anti-join +
  * union the reference runs as warehouse DELETE/INSERT — to a noop sink.
  * Stage here is a full key-expanded batch (|stage| = |target|), so the
  * stage key set is NOT broadcast — the degenerate worst case; a real
  * CDC trigger's stage is tiny and broadcasts. Disable with
  * SPARK_GRAFT_SPINE_MERGE=0 (e.g. for the 100M run where the untimed
  * target landing dominates wall-clock).
  *
  * Usage: SPARK_DRIVER_MEM=80g sbt "runMain graft.SpineScale
  * /root/repo/scaledata/sf1 100 [reps]" → one JSON line.
  */
object SpineScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/scaledata/sf1")
    val copies = args.lift(1).map(_.toInt).getOrElse(100)
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = Launch.session(Launch.Tool)

    val tmp = java.nio.file.Files.createTempDirectory("graft-spinescale").toString
    try {
      // ---- untimed: synthesize and land the batch (the "broker") ----
      val cp = broadcast(spark.range(copies.toLong).select(col("id").as("copy")))
      // Stride derived from the data so copies' key ranges are exactly
      // disjoint (a fixed stride aliased users across copies — r12
      // review): distinct keys grow by exactly `copies`×.
      // Guard the scalar: max() over an empty events table is NULL and
      // getLong would throw an opaque NPE (r12 advice).
      val maxRow = Tables.events(spark, sfDir)
        .agg(max(col("user_id")).cast("long")).head()
      require(!maxRow.isNullAt(0),
        s"events table at $sfDir is empty — cannot derive the copy key stride")
      val stride = maxRow.getLong(0) + 1
      val expanded = Tables.events(spark, sfDir).crossJoin(cp).select(
        (col("event_id") * copies + col("copy")).as("event_id"),
        col("ts"), col("ts_ms"),
        (col("user_id") + col("copy") * stride).as("user_id"),
        col("event_type"), col("value"), col("props"))
      CdcGen.debezium(expanded.repartition(
          spark.sparkContext.defaultParallelism * 4), barrier = false)
        .write.mode("overwrite").parquet(s"$tmp/batch")
      val raw = spark.read.parquet(s"$tmp/batch")
      val n = raw.count()

      // ---- timed: the engine only (the q24 body) ----
      val spec = config.TableSpec(db = "cdc_db", table = "t0",
        primaryKey = Seq("id"))
      val lww = Seq(col("ts_ms_aws"), col("idx_aws"), col("event_id"))
      def spine(): DataFrame = {
        val routed = raw.filter(FlinkDebeziumCdc.route(col("value"), spec))
        val norm = FlinkDebeziumCdc.normalize(routed, CdcGen.payloadSchema)
        Dedup.latestPerKey(norm, Seq("id"), lww)
          .select(col("id"), col("event_id"), col("k"), col("val"),
            col("op_aws"))
      }
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        spine().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val best = times.min
      // ---- merge leg: land the deduped batch as the target snapshot
      // (untimed), then time merge(target, stage) alone.
      val mergeJson =
        if (sys.env.get("SPARK_GRAFT_SPINE_MERGE").contains("0")) ""
        else {
          spine().write.mode("overwrite").parquet(s"$tmp/target")
          spine().write.mode("overwrite").parquet(s"$tmp/stage")
          val target = spark.read.parquet(s"$tmp/target")
          val stage = spark.read.parquet(s"$tmp/stage")
          val mergeTimes = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            operators.MergeOps.merge(target, stage, keys = Seq("id"),
                isDelete = col("op_aws") === "d", dropCols = Seq("op_aws"),
                broadcastStage = false)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val mBest = mergeTimes.min
          val mN = stage.count()
          s""","merge_records":$mN,"merge_secs":$mBest""" +
            s""","merge_records_per_sec":${(mN / mBest).toLong}"""
        }
      println(s"""{"metric":"spine_scale","records":$n,"copies":$copies,""" +
        s""""sf":"$sfDir","secs":$best,"records_per_sec":${(n / best).toLong},""" +
        s""""reps":$reps,"all_secs":[${times.map(t => f"$t%.1f").mkString(",")}]""" +
        mergeJson + "}")
    } finally {
      graft.operators.VersionedDir.deleteTree(new java.io.File(tmp))
      spark.stop()
    }
  }
}
