package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge

/** Throughput measurement for the maintained cut report (the r13
  * flagship, r14: segment-maintained report/pairs), FOUR workload arms
  * over the planted sf corpus against fresh state dirs, each ingest
  * timed end-to-end INCLUDING all state writes and the atomic version
  * commit:
  *
  *  - `append`   — contiguous doc_id ranges in ascending order, the
  *    production ingest shape: owners never change, so every bucket
  *    takes the stable fast path ((owner, new-member) candidates only)
  *    and per-ingest cost must stay ~flat regardless of how hot the
  *    planted cluster's bucket gets.
  *  - `backfill` — interleaved residues, highest first: every ingest
  *    undercuts the hot cluster's owner, re-roots the star, and
  *    legitimately repairs the whole cluster's report rows — per-ingest
  *    cost GROWS with the repaired set, which is the honest price of a
  *    backfill, not overhead (the touched counts in the JSON are the
  *    receipts).
  *  - `steady`   — MANY fixed-size appends with NO compaction: the r14
  *    claim under test is that per-ingest wall is INDEPENDENT of the
  *    accumulated corpus (every per-ingest write is O(batch + touched);
  *    reads union O(#segments) per table, so any drift across the legs
  *    is the segment-count tax compaction exists to pay down).
  *  - `compacted` — the same fixed-size appends with a timed
  *    [[graft.operators.CutReportMaintenance.compact]] every
  *    `compactEvery` ingests: compaction wall + the ingest cost
  *    before/after give the segment-count → ingest-cost curve and a
  *    measured cadence recommendation.
  *
  * Prints ONE JSON line with per-ingest docs/s + touched/changed per
  * arm (+ per-compaction wall) — the measured twin of SpineScale for
  * the maintenance pipeline.
  *
  * Usage: runMain graft.CutMaintScale [sfDir] [batches] [steadyBatches] [compactEvery]
  */
object CutMaintScale {
  private def d2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batches = args.lift(1).map(_.toInt).getOrElse(5)
    val steadyBatches = args.lift(2).map(_.toInt).getOrElse(12)
    val compactEvery = args.lift(3).map(_.toInt).getOrElse(4)
    require(batches >= 2, "need at least 2 batches to exercise maintenance")
    val spark = Launch.session(Launch.Tool)
    val root = java.nio.file.Files.createTempDirectory("graft-cutmaint").toString
    try {
      val corpus = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" " + QueriesExt9.q267Plant)))
            .otherwise(col("text")).as("text"))
        .localCheckpoint(true) // corpus materialization is untimed input
      val maxId = corpus.agg(max("doc_id")).head().getLong(0)

      def runArm(arm: String, nBatches: Int, batchOf: Int => DataFrame,
                 compactPeriod: Int = 0): String = {
        val dir = s"$root/$arm"
        val legs = Vector.newBuilder[String]
        val compactions = Vector.newBuilder[String]
        var totalDocs = 0L
        var totalSecs = 0.0
        (0 until nBatches).foreach { r =>
          val b = batchOf(r).localCheckpoint(true)
          val n = b.count()
          val t0 = System.nanoTime()
          val out = operators.CutReportMaintenance.ingest(spark, dir, b)
          val byUpd = out.groupBy("upd").count().collect()
            .map(x => x.getString(0) -> x.getLong(1)).toMap
          val secs = (System.nanoTime() - t0) / 1e9
          totalDocs += n; totalSecs += secs
          // Locale-pinned (r13 review): f"%.2f" uses the default locale,
          // which can emit "0,42" and break the one-line JSON artifact.
          legs += s"""{"docs":$n,"secs":${d2(secs)},""" +
            s""""docs_per_sec":${(n / secs).toLong},""" +
            s""""touched":${byUpd.values.sum},""" +
            s""""changed":${byUpd.getOrElse("changed", 0L)}}"""
          if (compactPeriod > 0 && (r + 1) % compactPeriod == 0 &&
              r + 1 < nBatches) {
            val c0 = System.nanoTime()
            operators.CutReportMaintenance.compact(spark, dir)
            compactions += s"""{"after_ingest":${r + 1},""" +
              s""""secs":${d2((System.nanoTime() - c0) / 1e9)}}"""
          }
        }
        val finalRows = operators.CutReportMaintenance.report(spark, dir).count()
        require(finalRows == totalDocs,
          s"$arm report must cover every ingested doc ($finalRows != $totalDocs)")
        val compactJson = {
          val c = compactions.result()
          if (c.isEmpty) "" else c.mkString(""","compactions":[""", ",", "]")
        }
        s""""$arm":{"total_docs":$totalDocs,""" +
          s""""total_secs":${d2(totalSecs)},""" +
          s""""docs_per_sec":${(totalDocs / totalSecs).toLong},""" +
          s""""ingests":${legs.result().mkString("[", ",", "]")}$compactJson}"""
      }

      // Arm filter for iterating on ONE arm (e.g. the probe arm's
      // fixed-target receipt) without paying the full suite; unset =
      // all arms, the receipt-producing mode. The delete leg rides the
      // compacted arm; the probe arm is independent.
      val arms = sys.env.get("SPARK_GRAFT_CUTMAINT_ARMS")
        .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
      def armOn(a: String) = arms.forall(_.contains(a))

      // Append arm: contiguous ascending id ranges (owner-stable by
      // construction). Backfill arm: interleaved residues, highest
      // residue first (every ingest undercuts owners). Steady/compacted
      // arms: many fixed-size ascending slices.
      val stride = maxId / batches + 1
      val appendJson = if (!armOn("append")) "" else runArm("append", batches, r =>
        corpus.filter(col("doc_id") >= r * stride &&
          col("doc_id") < (r + 1) * stride))
      val backfillJson = if (!armOn("backfill")) "" else runArm("backfill", batches, r =>
        corpus.filter(col("doc_id") % batches === (batches - 1 - r)))
      val steadyStride = maxId / steadyBatches + 1
      def steadySlice(r: Int) = corpus.filter(
        col("doc_id") >= r * steadyStride &&
          col("doc_id") < (r + 1) * steadyStride)
      val steadyJson = if (!armOn("steady")) "" else
        runArm("steady", steadyBatches, steadySlice)
      val compactedJson = if (!armOn("compacted")) "" else
        runArm("compacted", steadyBatches, steadySlice,
          compactPeriod = compactEvery)
      // Deletion leg on the compacted arm's final state: take down 2%
      // of the corpus (every 50th id — planted cluster members among
      // them, so keepers/owners/firsts move and survivors repair).
      // Rides the compacted arm, so it is gated with it.
      val deleteJson = if (!armOn("compacted")) "" else {
        val delIds = corpus.filter(col("doc_id") % 50 === 0)
          .select("doc_id").localCheckpoint(true)
        val nDel = delIds.count()
        val d0 = System.nanoTime()
        val delOut = operators.CutReportMaintenance.deleteDocs(
          spark, s"$root/compacted", delIds)
        val delByUpd = delOut.groupBy("upd").count().collect()
          .map(x => x.getString(0) -> x.getLong(1)).toMap
        val delSecs = (System.nanoTime() - d0) / 1e9
        val afterRows = operators.CutReportMaintenance
          .report(spark, s"$root/compacted").count()
        require(afterRows == corpus.count() - nDel,
          s"post-delete report must cover exactly the survivors " +
            s"($afterRows != ${corpus.count() - nDel})")
        s""""delete":{"docs":$nDel,"secs":${d2(delSecs)},""" +
          s""""docs_per_sec":${(nDel / delSecs).toLong},""" +
          s""""repaired":${delByUpd.getOrElse("changed", 0L)}}"""
      }

      // ---- probe arm (r15): the bucketed-layout receipt. Small FIXED-
      // size ingests against a compacted base measure per-ingest INPUT
      // metrics (records/bytes actually read from the state segments —
      // the checkpointed corpus slices come from the block store, not
      // input). The base then DOUBLES (second seed + compact) and the
      // same-size probes repeat: with the r15 hash-bucketed layout the
      // probes' reads must stay ~flat while the base grows — the claim
      // the r14 verdict asked to be measured, not argued.
      val inRec = new java.util.concurrent.atomic.AtomicLong
      val inBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null) {
              inRec.addAndGet(m.inputMetrics.recordsRead)
              inBytes.addAndGet(m.inputMetrics.bytesRead); ()
            }
          }
        })
      // The listener bus is async and can lag by more than one poll
      // under heavy event volume (at sf1 a single 150 ms-quiet check
      // attributed each leg's reads to the NEXT leg — legs printed 0
      // then four identical values). Require a sustained quiet window:
      // counters unchanged across 6 consecutive 250 ms polls.
      def settled(): (Long, Long) = {
        var cur = (inRec.get, inBytes.get)
        var stable = 0
        var tries = 0
        while (stable < 6 && tries < 240) {
          Thread.sleep(250)
          val next = (inRec.get, inBytes.get)
          if (next == cur) stable += 1 else { stable = 0; cur = next }
          tries += 1
        }
        cur
      }
      val probeDir = s"$root/probe"
      val probeLegsN = 5
      val corpusDocs = corpus.count()
      require(corpusDocs >= 2000,
        s"probe arm needs >= 2000 docs for disjoint rank windows (got $corpusDocs)")
      // FIXED probe size and FIXED bucket-row target across every sf
      // (r15 verdict #1): with the target fixed, bucket SIZE is the
      // invariant and bucket COUNT B grows with the corpus — a
      // fixed-size probe touches the same number of buckets at every
      // scale, so records_read per probe must stay ~flat while the
      // corpus grows 30×. That is the production claim ("B grows,
      // per-probe work doesn't"); the old arm scaled the target with
      // sf, which held bytes flat but let records grow ~linearly.
      // Sizing: 160 rows/bucket keeps B under MaxBuckets (32768) for
      // the hash_index (~35 window hashes/doc) through sf3, while an
      // 8-doc probe's ~280 window hashes stay below HALF the sf0.1
      // hash_index bucket count (~930) so the touched-set partition
      // filter engages at every sf (readSegmentsPruned falls back to
      // an unpruned read past b/2).
      val probeSize = sys.env.get("SPARK_GRAFT_PROBE_DOCS")
        .map(_.toLong).getOrElse(8L)
      val probeTarget = sys.env.get("SPARK_GRAFT_PROBE_TARGET")
        .map(_.toLong).getOrElse(160L)
      // Scaled corpora have SPARSE doc_ids (ScaleUp offsets each copy
      // by a large stride), so fixed id windows can land in gaps and
      // ingest nothing — boundaries come from the data: the id at a
      // given RANK in doc_id order, so every seed/leg holds exactly
      // the doc count it claims at any sparsity.
      def idAtRank(k: Long): Long = {
        // r15 advice: rank 0 has no max (null → NPE) and limit() takes
        // an Int — guard both ends instead of overflowing silently.
        if (k < 1L) Long.MinValue
        else {
          require(k <= Int.MaxValue.toLong,
            s"idAtRank($k): rank exceeds Int.MaxValue — limit() cannot express it")
          corpus.select(col("doc_id")).orderBy(col("doc_id")).limit(k.toInt)
            .agg(max(col("doc_id"))).head().getLong(0)
        }
      }
      def idRange(loExcl: Long, hiIncl: Long) =
        corpus.filter(col("doc_id") > loExcl && col("doc_id") <= hiIncl)
      // The probe's tiny bucket target is set on a clone that runs only
      // the probe's ingests, so it never reaches `spark`'s conf.
      val probeSpark = SessionBridge.cloneSession(spark)
      probeSpark.conf.set("spark.graft.cutmaint.targetBucketRows", probeTarget.toString)
      def probeIngest(b: DataFrame): Unit =
        operators.CutReportMaintenance.ingest(probeSpark, probeDir, SessionBridge.rebind(b, probeSpark))
      def probeLegs(startRank: Long): Seq[String] =
        (0 until probeLegsN).map { i =>
          val b = idRange(idAtRank(startRank + i * probeSize),
            idAtRank(startRank + (i + 1) * probeSize)).localCheckpoint(true)
          val n = b.count()
          settled(); inRec.set(0L); inBytes.set(0L)
          val t0 = System.nanoTime()
          probeIngest(b)
          val secs = (System.nanoTime() - t0) / 1e9
          val (r, by) = settled()
          s"""{"docs":$n,"secs":${d2(secs)},"records_read":$r,""" +
            s""""bytes_read":$by}"""
        }
      val rank45 = (corpusDocs * 45L) / 100L
      val rank50 = (corpusDocs * 50L) / 100L
      val rank90 = (corpusDocs * 90L) / 100L
      def seedAndCompact(loRank: Long, hiRank: Long): (Long, Double) = {
        val lo = if (loRank <= 0L) Long.MinValue else idAtRank(loRank)
        val s = idRange(lo, idAtRank(hiRank)).localCheckpoint(true)
        val n = s.count()
        val t0 = System.nanoTime()
        probeIngest(s)
        operators.CutReportMaintenance.compact(probeSpark, probeDir)
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val probeJson =
        if (!armOn("probe")) "" else {
          val (seed1Docs, seed1Secs) = seedAndCompact(0L, rank45)
          val legsSmall = probeLegs(rank45)
          val (seed2Docs, seed2Secs) = seedAndCompact(rank50, rank90)
          val legsLarge = probeLegs(rank90)
          s""""probe":{"probe_docs":$probeSize,""" +
            s""""bucket_target_rows":$probeTarget,""" +
            s""""seed1_docs":$seed1Docs,"seed1_secs":${d2(seed1Secs)},""" +
            s""""seed2_docs":$seed2Docs,"seed2_secs":${d2(seed2Secs)},""" +
            s""""small_base":${legsSmall.mkString("[", ",", "]")},""" +
            s""""large_base":${legsLarge.mkString("[", ",", "]")}}"""
        }

      val armJsons = Seq(appendJson, backfillJson, steadyJson,
        compactedJson, deleteJson, probeJson).filter(_.nonEmpty)
      println(s"""{"metric":"cut_maint_scale","sf":"$sfDir",""" +
        s""""batches":$batches,"steady_batches":$steadyBatches,""" +
        s""""compact_every":$compactEvery,""" +
        armJsons.mkString("", ",", "}"))
    } finally {
      graft.operators.VersionedDir.deleteTree(new java.io.File(root))
      spark.stop()
    }
  }
}
