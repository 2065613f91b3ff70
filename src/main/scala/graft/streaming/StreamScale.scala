package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.Trigger

import graft.operators.VersionedDir

/** Streaming-STATE scale probe (VERDICT r10 #6): the stateful window
  * aggregates are spec-verified at toy size; this measures them at
  * volume under the production state store. It streams the sfDir
  * events table replicated `copies`× (identical timestamps — the
  * window grain stays FIXED while rows scale, which is exactly the
  * O(windows × types) claim under test) through each stateful agg
  * under RocksDB, and reports rows/s plus the state store's own row
  * and byte counts from the query progress.
  *
  * The proof shape: run once at 1× and once at `copies`× — state rows
  * must be IDENTICAL (state is keyed by (window, type), never by
  * input row) while input rows scale by `copies`. [[graft.Bench]]
  * embeds both runs' numbers next to the spine metric.
  */
object StreamScale {

  final case class Probe(name: String, rows: Long, secs: Double,
                         stateRows: Long, stateBytes: Long) {
    def rps: Long = if (secs > 0) (rows / secs).toLong else 0L
  }

  private val RocksDb = "org.apache.spark.sql.execution.streaming.state." +
    "RocksDBStateStoreProvider"

  /** A clone of `spark` whose streaming queries keep state in RocksDB.
    * The probes run on the clone, so the provider never reaches the
    * caller's session, and a value the caller set for it survives. */
  private def onRocksDb(spark: SparkSession): SparkSession = {
    val s = SessionBridge.cloneSession(spark)
    s.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDb)
    s
  }

  /** Runs the three stateful window aggs over `copies` × sfDir events
    * under RocksDB; returns one Probe per agg. Setup (writing the
    * scaled input parquet) is untimed; each probe times query start →
    * AvailableNow completion. */
  def run(caller: SparkSession, sfDir: String, copies: Int): Seq[Probe] = {
    val spark = onRocksDb(caller)
    val tmp = Files.createTempDirectory("graft-streamscale").toString
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
    val cp = broadcast(spark.range(copies.toLong).select(col("id").as("__c")))
    ev.crossJoin(cp).drop("__c")
      .repartition(graft.Launch.cpus.toInt)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val input = spark.read.parquet(s"$tmp/in")
    val rows = input.count()
    val schema = input.schema
    // Reference histogram for the PSI probe: the 1× batch distribution
    // (bounded (type, bin, n) rows, broadcast inside windowPsiDrift).
    val ref = graft.functions.HistSketch.logHistogram(
      ev.select(col("event_type").as("g"),
        round(col("value") * 1000000.0d, 0).cast("long").as("vm")),
      "g", col("vm"))
      .localCheckpoint(true)

    val aggs: Seq[(String, DataFrame => DataFrame)] = Seq(
      "trend" -> (df => StreamAggs.windowTrend(df, "60 minutes", 3600000L,
        "0 minutes")),
      "psi" -> (df => StreamAggs.windowPsiDrift(df, "60 minutes",
        "0 minutes", ref)),
      "hist" -> (df => StreamAggs.windowHistPercentiles(df, "60 minutes",
        "0 minutes")))

    try aggs.map { case (name, f) =>
      val src = spark.readStream.schema(schema).parquet(s"$tmp/in")
      val t0 = System.nanoTime()
      val q = f(src).writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", s"$tmp/ckpt_${name}_$copies")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      // Max over progress events: the final no-data batch can carry
      // empty operators, and intermediate batches under-count.
      val sos = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
      Probe(name, rows, secs,
        if (sos.isEmpty) -1L else sos.map(_.numRowsTotal).max,
        if (sos.isEmpty) -1L else sos.map(_.memoryUsedBytes).max)
    } finally {
      // The replicated input is copies× the events table plus three
      // checkpoint trees — left behind, repeated Bench sweeps would
      // fill /tmp on a long-lived host.
      VersionedDir.deleteTree(new java.io.File(tmp))
    }
  }

  /** Document-grain state probes (VERDICT r11 #2): the sfDir documents
    * table replicated `copies`× (identical doc_ids — the distinct-
    * document grain stays FIXED while rows scale) streamed under
    * RocksDB through BOTH stateful dedup twins over ONE shared prepared
    * input (writing it twice doubled the probe setup I/O — r12 review):
    *
    *  - `neardup` — [[StreamAggs.streamingNearDupCandidates]]: band
    *    state is one owner per *occupied band bucket*, O(distinct docs
    *    × bands), never O(input rows);
    *  - `substr` — [[StreamAggs.streamingTokenSpanMarks]] at W=10 (the
    *    sf documents are short, ~18 tokens median — the probe measures
    *    state mechanics, not the q267 production window): one owner per
    *    distinct window hash.
    *
    * The claim either way: state rows IDENTICAL at 1× and `copies`×
    * while input rows scale by `copies` (a re-observed owner neither
    * emits nor grows state). */
  def docStateProbes(caller: SparkSession, sfDir: String, copies: Int): Seq[Probe] = {
    val spark = onRocksDb(caller)
    val tmp = Files.createTempDirectory("graft-streamscale-doc").toString
    try {
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          // Deterministic event time: one second per doc from the epoch.
          timestamp_seconds(col("doc_id")).as("ts"), col("text"))
      val cp = broadcast(spark.range(copies.toLong).select(col("id").as("__c")))
      docs.crossJoin(cp).drop("__c")
        .repartition(graft.Launch.cpus.toInt)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val input = spark.read.parquet(s"$tmp/in")
      val rows = input.count()
      val schema = input.schema
      val probes: Seq[(String, DataFrame => DataFrame)] = Seq(
        "neardup" -> (src => StreamAggs.streamingNearDupCandidates(src,
          "ts", "text", "doc_id", watermark = "1 hour",
          stateTtlMs = 86400000L).toDF()),
        "substr" -> (src => StreamAggs.streamingTokenSpanMarks(src,
          "ts", "text", "doc_id", watermark = "1 hour",
          stateTtlMs = 86400000L, W = 10).toDF()))
      probes.map { case (name, f) =>
        val src = spark.readStream.schema(schema).parquet(s"$tmp/in")
        val t0 = System.nanoTime()
        val q = f(src).writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", s"$tmp/ckpt_${name}_$copies")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val secs = (System.nanoTime() - t0) / 1e9
        val sos = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        Probe(name, rows, secs,
          if (sos.isEmpty) -1L else sos.map(_.numRowsTotal).max,
          if (sos.isEmpty) -1L else sos.map(_.memoryUsedBytes).max)
      }
    } finally VersionedDir.deleteTree(new java.io.File(tmp))
  }

  /** Standalone runner: runMain graft.streaming.StreamScale [sfDir] [copies...] */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copiesList = if (args.length > 1) args.drop(1).toSeq.map(_.toInt)
      else Seq(1, 10)
    val spark = graft.Launch.session(graft.Launch.Tool)
    copiesList.foreach { c =>
      (run(spark, sfDir, c) ++ docStateProbes(spark, sfDir, c)).foreach { p =>
        println(f"[stream-scale] copies=$c%-3d ${p.name}%-6s rows=${p.rows}%-9d " +
          f"secs=${p.secs}%.2f rps=${p.rps}%-9d state_rows=${p.stateRows} " +
          f"state_bytes=${p.stateBytes}")
      }
    }
    spark.stop()
  }
}
