package graft.operators

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** Convergence of the MAINTAINED cut report: interleaved backfill
  * ingests against persistent parquet state must land exactly where the
  * one-shot batch replay lands. */
class CutReportMaintenanceSpec extends SparkSuite {
  import spark.implicits._

  private def plantedCorpus = Tables.documents(spark, sf("sf0.001"))
    .select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" " + graft.QueriesExt9.q267Plant)))
        .otherwise(col("text")).as("text"))

  test("maintained cut report: three interleaved ingests converge to the batch q292 report, with repairs surfaced") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint").toString
    try {
      val corpus = plantedCorpus.localCheckpoint(true)
      // Interleaved id splits (%3 = 1, 2, 0): later ingests contain
      // LOWER ids than already-reported docs — the backfill shape that
      // forces exact-keeper undercuts, star-owner changes (incl.
      // rescissions), and substring first-occurrence repairs.
      val outs = Seq(1, 2, 0).map { r =>
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id") % 3 === r))
      }
      // Every ingest returns rows for at least its own batch.
      outs.zip(Seq(1, 2, 0)).foreach { case (o, r) =>
        val n = corpus.filter(col("doc_id") % 3 === r).count()
        assert(o.filter(col("upd") === "new").count() == n,
          s"ingest %3=$r must report each batch doc exactly once as new")
      }
      // Later ingests must touch EXISTING docs too (the maintained
      // point): batch-2/3 return rows for docs outside their batch.
      val laterTouched = outs.tail.map(
        _.filter(col("upd") =!= "new").count()).sum
      assert(laterTouched > 0, "backfill ingests must revisit base docs")
      val repaired = outs.tail.map(
        _.filter(col("upd") === "changed").count()).sum
      assert(repaired > 0, "backfill ingests must repair some dispositions")
      // Convergence: the stored report equals the one-shot batch replay
      // (q292's algebra over the full corpus), row for row.
      val maintained = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      val batch = graft.QueriesExt11.cutReportOf(corpus)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      assert(maintained.nonEmpty && maintained.size == corpus.count())
      assert(maintained == batch,
        s"maintained report must equal the batch replay; " +
          s"extra=${(maintained -- batch).take(5)} " +
          s"missing=${(batch -- maintained).take(5)}")
      // The SERVED artifact: curatedCorpus over the converged state
      // equals q296's span-complement reconstruction (same planted
      // corpus), restricted to the docs the tier ladder keeps.
      val curated = CutReportMaintenance.curatedCorpus(spark, dir)
        .select("doc_id", "tier", "n_tokens_kept", "n_tokens_cut", "text_kept")
        .as[(Long, String, Long, Long, String)].collect().toSet
      val keptTiers = graft.QueriesExt11.cutReportOf(corpus)
        .filter(!col("tier").isin("exact", "neardup", "embdup"))
        .select("doc_id", "tier")
      val expected = graft.QueriesExt11.q296ApplyTrim(spark, sf("sf0.001"))
        .join(keptTiers, Seq("doc_id"))
        .select("doc_id", "tier", "n_tokens_kept", "n_tokens_cut", "text_kept")
        .as[(Long, String, Long, Long, String)].collect().toSet
      assert(curated.nonEmpty && curated.exists(_._4 > 0),
        "the curated corpus must include trimmed partial docs")
      assert(curated == expected,
        s"curatedCorpus must equal q296's reconstruction on kept docs; " +
          s"extra=${(curated -- expected).take(3)} " +
          s"missing=${(expected -- curated).take(3)}")
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report on a STREAM: foreachBatch ingests converge to the batch replay; a replayed batch is skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-s").toString
    try {
      val corpus = plantedCorpus.as[(Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String)]
      val q = CutReportMaintenance.streamWriter(
          mem.toDF().toDF("doc_id", "text"), dir, "doc_id", "text")
        .option("checkpointLocation", s"$dir/_ckpt")
        .start()
      // Interleaved splits again — the stream carries backfills too.
      Seq(1, 2, 0).foreach { r =>
        mem.addData(corpus.filter(_._1 % 3 == r))
        q.processAllAvailable()
      }
      q.stop()
      val streamed = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      val batch = graft.QueriesExt11.cutReportOf(corpus.toDF("doc_id", "text"))
        .as[(Long, String, Option[Long], Long)].collect().toSet
      assert(streamed == batch,
        s"extra=${(streamed -- batch).take(5)} missing=${(batch -- streamed).take(5)}")
      // Replay protection: redeliver the first chunk as batchId 0 via a
      // SECOND query (fresh checkpoint, same state dir) — the batch-id
      // marker must skip it, because ingest is not idempotent (without
      // the marker these doc ids would double-enter every index and the
      // report row count below would change).
      val before = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      val mem2 = MemoryStream[(Long, String)]
      val q2 = CutReportMaintenance.streamWriter(
          mem2.toDF().toDF("doc_id", "text"), dir, "doc_id", "text")
        .option("checkpointLocation", s"$dir/_ckpt2")
        .start()
      mem2.addData(corpus.filter(_._1 % 3 == 1)) // batchId 0 <= marker 2
      q2.processAllAvailable()
      q2.stop()
      val after = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      assert(after == before, "a redelivered batchId must be skipped")
      // ...but a genuinely NEW lineage (fresh checkpoint AND fresh
      // streamId) attaching new documents to the same state must NOT be
      // skipped even though its batchIds also restart at 0 — the r13
      // review's silent-data-loss case.
      val mem3 = MemoryStream[(Long, String)]
      val q3 = CutReportMaintenance.streamWriter(
          mem3.toDF().toDF("doc_id", "text"), dir, "doc_id", "text",
          streamId = "second-feed")
        .option("checkpointLocation", s"$dir/_ckpt3")
        .start()
      mem3.addData(Seq((900001L, "a brand new late-arriving document body"),
        (900002L, "another novel document with its own words")))
      q3.processAllAvailable()
      q3.stop()
      assert(CutReportMaintenance.report(spark, dir).count() == before.size + 2,
        "a new lineage's batch 0 must apply, not be mistaken for a replay")
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: compaction mid-stream preserves convergence and drops superseded segments") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-c").toString
    try {
      val corpus = plantedCorpus.localCheckpoint(true)
      CutReportMaintenance.ingest(spark, dir,
        corpus.filter(col("doc_id") % 3 === 1))
      CutReportMaintenance.ingest(spark, dir,
        corpus.filter(col("doc_id") % 3 === 2))
      CutReportMaintenance.compact(spark, dir)
      def segVersions(name: String): Seq[Long] =
        Option(new java.io.File(s"$dir/seg_$name").listFiles())
          .toSeq.flatten.filter(_.isDirectory).map(_.getName.drop(1).toLong)
      def floor(): Long = {
        val v = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$dir/_version")), "UTF-8").trim
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$dir/v$v/_seg_floor")), "UTF-8").trim.toLong
      }
      // Exactly one LIVE segment after compaction (the merged one); the
      // superseded per-ingest segments survive ONE more generation (GC
      // is deferred so a lazy report() frame stays readable) and are
      // dropped by the NEXT compaction.
      val f1 = floor()
      assert(segVersions("docs").count(_ >= f1) == 1,
        s"expected one live compacted segment: ${segVersions("docs")} floor=$f1")
      assert(segVersions("docs").exists(_ < f1),
        "superseded segments must survive one generation (deferred GC)")
      // A backfill ingest AFTER compaction still repairs and converges.
      val out = CutReportMaintenance.ingest(spark, dir,
        corpus.filter(col("doc_id") % 3 === 0))
      assert(out.filter(col("upd") === "changed").count() > 0)
      val maintained = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      val batch = graft.QueriesExt11.cutReportOf(corpus)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      assert(maintained == batch,
        s"extra=${(maintained -- batch).take(5)} missing=${(batch -- maintained).take(5)}")
      // A second compaction folds again AND GCs the segments the first
      // one superseded.
      CutReportMaintenance.compact(spark, dir)
      val f2 = floor()
      assert(segVersions("docs").count(_ >= f2) == 1)
      assert(!segVersions("docs").exists(_ < f1),
        "the next compaction must GC segments below the previous floor")
      assert(CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet == batch,
        "compaction must not change the served report")
      // The built-in audit agrees: a from-scratch replay over the stored
      // corpus finds zero disagreements — and a planted corruption is
      // caught (this is the production safety valve, so prove both
      // directions). The corruption lands in the newest report SEGMENT
      // (the report is overlay segments now).
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      val newestRep = s"$dir/seg_report/v${segVersions("report").max}"
      val corrupted = spark.read.parquet(newestRep)
        .withColumn("cut_tokens",
          when(col("doc_id") === 5, lit(999999L)).otherwise(col("cut_tokens")))
        .localCheckpoint(true)
      corrupted.write.mode("overwrite").parquet(newestRep)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 1)
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: a second concurrent writer fails fast; mismatched params are refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-l").toString
    try {
      val corpus = plantedCorpus.limit(30).localCheckpoint(true)
      CutReportMaintenance.ingest(spark, dir, corpus)
      // Single-writer guard: hold the state dir's lock the way another
      // process would — the next ingest must fail fast (r13 review: two
      // racing writers would silently interleave half-applied state).
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(s"$dir/_lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val held = ch.lock()
      try {
        val e = intercept[IllegalArgumentException] {
          CutReportMaintenance.ingest(spark, dir, corpus)
        }
        assert(e.getMessage.contains("single-writer"))
        val e2 = intercept[IllegalArgumentException] {
          CutReportMaintenance.compact(spark, dir)
        }
        assert(e2.getMessage.contains("single-writer"))
      } finally { held.release(); ch.close() }
      // ...and the lock's release makes the dir writable again.
      CutReportMaintenance.compact(spark, dir)
      // Params are state-shaping: the first ingest persisted them, so a
      // writer presenting a different family is refused outright.
      val e3 = intercept[IllegalArgumentException] {
        CutReportMaintenance.ingest(spark, dir, corpus,
          CutReportMaintenance.Params(W = 30))
      }
      assert(e3.getMessage.contains("mismatched"))
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: the embedding tier converges — interleaved ingests with vectors equal the replay, twins land as embdup") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-v").toString
    try {
      // Docs with embeddings: unique short texts (so the text tiers stay
      // quiet and the vector tier is isolated), vectors from the planted
      // embeddings table; q32-style perturbed twins (id + 1e6) must land
      // as embdup of their base vector.
      val e = graft.Tables.embeddings(spark, sf("sf0.001"))
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("emb"))
      val base = e.withColumn("text",
        concat(lit("unique base document body number "), col("doc_id")))
      val twins = e.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(array(element_at(col("emb"), 1) + lit(0.25)),
            slice(col("emb"), 2, 63)).as("emb"))
        .withColumn("text",
          concat(lit("perturbed twin text variant "), col("doc_id")))
      val corpus = base.unionByName(twins)
        .select("doc_id", "text", "emb").localCheckpoint(true)
      // Interleaved splits: the LAST ingest carries the lowest ids, so
      // SRP bucket owners change and the vec tier's tombstone/re-star
      // path runs, not just the owner-stable append path.
      Seq(1L, 2L, 0L).foreach { r =>
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id") % 3 === r))
      }
      val rep = CutReportMaintenance.report(spark, dir).localCheckpoint(true)
      assert(rep.count() == corpus.count())
      val embdup = rep.filter(col("tier") === "embdup")
        .select("doc_id", "dup_of").as[(Long, Long)].collect().toMap
      assert(embdup.nonEmpty, "perturbed twins must land as embdup")
      assert(embdup.keySet.exists(_ >= 1000000L))
      // The from-scratch replay (including the SRP star tier over the
      // stored vectors) agrees row for row — the convergence property,
      // extended to the vector tier.
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      // Compaction preserves it (vec_pairs/vec_tombs fold too).
      CutReportMaintenance.compact(spark, dir)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      // Deleting embdup TARGETS (base vectors twins point at) re-stars
      // their SRP buckets over the survivors — the twins re-point or
      // fall to keep, and the replay (over surviving vectors) agrees.
      val targets = embdup.values.toSeq.distinct.take(2)
      val outDel = CutReportMaintenance.deleteDocs(spark, dir,
        targets.toDF("doc_id"))
      assert(outDel.filter(col("upd") === "deleted").count() == targets.size)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0,
        "vector-tier deletion must keep the maintained report replay-exact")
      assert(CutReportMaintenance.report(spark, dir)
        .filter(col("dup_of").isin(targets.map(Long.box): _*)).count() == 0,
        "no survivor may still point at a deleted doc")
      // streamWriter plumbs the embedding column through foreachBatch.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val dir2 = java.nio.file.Files.createTempDirectory("graft-cutmaint-vs").toString
      try {
        val rows = corpus.as[(Long, String, Seq[Double])].collect().toSeq
        val mem = MemoryStream[(Long, String, Seq[Double])]
        val q = CutReportMaintenance.streamWriter(
            mem.toDF().toDF("doc_id", "text", "emb"), dir2,
            "doc_id", "text", embCol = Some("emb"))
          .option("checkpointLocation", s"$dir2/_ckpt")
          .start()
        Seq(1L, 2L, 0L).foreach { r =>
          mem.addData(rows.filter(_._1 % 3 == r))
          q.processAllAvailable()
        }
        q.stop()
        val streamed = CutReportMaintenance.report(spark, dir2)
          .as[(Long, String, Option[Long], Long)].collect().toSet
        val batchRep = rep.as[(Long, String, Option[Long], Long)].collect().toSet
        assert(streamed == batchRep,
          s"extra=${(streamed -- batchRep).take(5)} " +
            s"missing=${(batchRep -- streamed).take(5)}")
      } finally VersionedDir.deleteTree(new java.io.File(dir2))
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: deleteDocs repairs survivors and converges to the replay over the surviving corpus; compaction purges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-d").toString
    try {
      val corpus = plantedCorpus.localCheckpoint(true)
      CutReportMaintenance.ingest(spark, dir,
        corpus.filter(col("doc_id") % 3 === 1))
      CutReportMaintenance.ingest(spark, dir,
        corpus.filter(col("doc_id") % 3 === 2))
      // Delete the two LOWEST planted ids ingested so far (5 and 10 —
      // they own the plant passage's substring firsts, the near-dup
      // star roots, and any exact-keeper role) plus one ordinary doc:
      // the repair sweep must re-root stars, move keepers, and UN-mark
      // the new surviving first occurrences.
      val delIds = Seq(5L, 10L, 7L).toDF("doc_id")
      val out = CutReportMaintenance.deleteDocs(spark, dir, delIds)
        .localCheckpoint(true)
      assert(out.filter(col("upd") === "deleted").count() == 3)
      assert(out.filter(col("upd") === "changed").count() > 0,
        "deleting keepers/owners/firsts must repair survivors")
      // A backfill ingest AFTER the deletion brings doc 0 — the lowest
      // planted id — which undercuts the post-delete firsts and owners:
      // the windows the deletion just UN-marked must RE-mark (the
      // versioned mark-tombstone case) and stars re-root to 0.
      CutReportMaintenance.ingest(spark, dir,
        corpus.filter(col("doc_id") % 3 === 0))
      val surviving = corpus.filter(!col("doc_id").isin(5L, 10L, 7L))
        .localCheckpoint(true)
      val maintained = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      val batch = graft.QueriesExt11.cutReportOf(surviving)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      assert(maintained.size == surviving.count())
      assert(!maintained.exists(r => Set(5L, 10L, 7L)(r._1)))
      assert(maintained == batch,
        s"post-delete report must equal the replay over survivors; " +
          s"extra=${(maintained -- batch).take(5)} " +
          s"missing=${(batch -- maintained).take(5)}")
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      // curatedCorpus serves no deleted doc.
      assert(CutReportMaintenance.curatedCorpus(spark, dir)
        .filter(col("doc_id").isin(5L, 10L, 7L)).count() == 0)
      // Compaction purges physically: the folded docs segment holds no
      // deleted row and the doc tombstones fold away (live dirs empty).
      CutReportMaintenance.compact(spark, dir)
      assert(CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet == batch)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      val v = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_version")), "UTF-8").trim
      val floor = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/v$v/_seg_floor")), "UTF-8").trim.toLong
      val liveDocSegs = Option(new java.io.File(s"$dir/seg_docs").listFiles())
        .toSeq.flatten.filter(f => f.isDirectory &&
          f.getName.drop(1).toLong >= floor).map(_.getPath)
      assert(spark.read.parquet(liveDocSegs: _*)
        .filter(col("doc_id").isin(5L, 10L, 7L)).count() == 0,
        "compaction must purge deleted docs physically")
      val liveTombSegs = Option(new java.io.File(s"$dir/seg_doc_tombs").listFiles())
        .toSeq.flatten.filter(f => f.isDirectory &&
          f.getName.drop(1).toLong >= floor)
      assert(liveTombSegs.isEmpty,
        "compaction must clear the doc tombstones it purged")
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: hash-bucketed compaction — every keyed table multi-bucket, pruned probes, convergence intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-b").toString
    try {
      // Force B > 1 on the tiny corpus so docs/fp_index bucket too (at
      // the default target only the window-hash tables are big enough).
      spark.conf.set("spark.graft.cutmaint.targetBucketRows", "8")
      try {
        val corpus = plantedCorpus.localCheckpoint(true)
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id") % 3 === 1))
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id") % 3 === 2))
        CutReportMaintenance.compact(spark, dir)
        def buckets(name: String): Seq[Int] =
          Option(new java.io.File(s"$dir/seg_$name").listFiles()).toSeq.flatten
            .filter(_.isDirectory)
            .map(d => new java.io.File(d, "_nbuckets"))
            .filter(_.exists())
            .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
              "UTF-8").trim.toInt)
        Seq("docs", "fp_index", "band_index", "hash_index").foreach { t =>
          assert(buckets(t).exists(_ > 1),
            s"$t compacted segment must be hash-bucketed (got ${buckets(t)})")
        }
        // A backfill ingest now probes the bucketed base through the
        // partition-pruned reads; convergence and the replay audit must
        // hold exactly as over plain segments.
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id") % 3 === 0))
        val maintained = CutReportMaintenance.report(spark, dir)
          .as[(Long, String, Option[Long], Long)].collect().toSet
        val batch = graft.QueriesExt11.cutReportOf(corpus)
          .as[(Long, String, Option[Long], Long)].collect().toSet
        assert(maintained == batch,
          s"bucketed-base convergence broke; " +
            s"extra=${(maintained -- batch).take(5)} " +
            s"missing=${(batch -- maintained).take(5)}")
        assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
        // Second compaction folds bucketed + plain segments together.
        CutReportMaintenance.compact(spark, dir)
        assert(CutReportMaintenance.report(spark, dir)
          .as[(Long, String, Option[Long], Long)].collect().toSet == batch)
      } finally spark.conf.unset("spark.graft.cutmaint.targetBucketRows")
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("bucket manifest: _pbset records exactly the nonempty partitions; a manifest-less dir degrades to the File probe with identical results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-m").toString
    try {
      spark.conf.set("spark.graft.cutmaint.targetBucketRows", "8")
      try {
        val corpus = plantedCorpus.localCheckpoint(true)
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id") % 3 === 1))
        CutReportMaintenance.compact(spark, dir)
        // Every bucketed segment carries a manifest naming exactly the
        // pb dirs that exist — the object-store contract: probe-time
        // planning needs no listing and no per-path existence check.
        val segDirs = Option(new java.io.File(dir).listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("seg_"))
          .flatMap(t => Option(t.listFiles()).toSeq.flatten)
          .filter(d => d.isDirectory && new java.io.File(d, "_nbuckets").exists())
        assert(segDirs.nonEmpty, "expected bucketed segments after compact")
        segDirs.foreach { d =>
          val mf = new java.io.File(d, "_pbset")
          assert(mf.exists(), s"missing _pbset beside ${d}/_nbuckets")
          val recorded = new String(java.nio.file.Files.readAllBytes(mf.toPath),
            "UTF-8").trim.split(",").filter(_.nonEmpty).map(_.toInt).toSet
          val present = Option(d.listFiles()).toSeq.flatten
            .filter(f => f.isDirectory && f.getName.startsWith("pb="))
            .map(_.getName.drop(3).toInt).toSet
          assert(recorded == present,
            s"$d manifest=$recorded differs from on-disk=$present")
        }
        // Probes read THROUGH the manifest (backfill forces undercut
        // repairs against the bucketed base) — convergence intact.
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id") % 3 === 2))
        assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
        // Degradation: strip every manifest (a pre-r17 dir) — the same
        // probes fall back to the File existence check, never a wrong
        // read. The final backfill + replay audit must still hold.
        segDirs.foreach(d => new java.io.File(d, "_pbset").delete())
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id") % 3 === 0))
        val maintained = CutReportMaintenance.report(spark, dir)
          .as[(Long, String, Option[Long], Long)].collect().toSet
        val batch = graft.QueriesExt11.cutReportOf(corpus)
          .as[(Long, String, Option[Long], Long)].collect().toSet
        assert(maintained == batch,
          s"manifest-less degradation broke convergence; " +
            s"extra=${(maintained -- batch).take(5)} " +
            s"missing=${(batch -- maintained).take(5)}")
      } finally spark.conf.unset("spark.graft.cutmaint.targetBucketRows")
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: the doc_id contract fails fast — live, tombstoned, and in-batch-repeated ids are refused without touching state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-c").toString
    try {
      val corpus = plantedCorpus.filter(col("doc_id") < 40).localCheckpoint(true)
      CutReportMaintenance.ingest(spark, dir, corpus)
      def version(): String = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_version")), "UTF-8").trim
      val v0 = version()
      val before = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      // Re-ingesting LIVE ids must fail fast, naming the offenders.
      val e1 = intercept[IllegalArgumentException] {
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id").isin(1L, 2L)))
      }
      assert(e1.getMessage.contains("contract"))
      // An id repeated WITHIN one batch must fail too.
      intercept[IllegalArgumentException] {
        CutReportMaintenance.ingest(spark, dir,
          Seq((990001L, "some body"), (990001L, "another body"))
            .toDF("doc_id", "text"))
      }
      // A TOMBSTONED id must not resurrect before compaction purges it.
      CutReportMaintenance.deleteDocs(spark, dir, Seq(3L).toDF("doc_id"))
      intercept[IllegalArgumentException] {
        CutReportMaintenance.ingest(spark, dir,
          corpus.filter(col("doc_id") === 3L))
      }
      // The failed ingests left no trace: the version pointer moved only
      // for the delete, and the report is exactly the pre-delete rows
      // minus doc 3 (every failure aborted before any segment landed).
      assert(version().toLong == v0.toLong + 1,
        "failed ingests must not advance the version pointer")
      val after = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      assert(after.map(_._1) == before.map(_._1) - 3L)
      // After compaction physically purges the tombstone, no stale
      // state references the id — re-using it is a fresh ingest again.
      CutReportMaintenance.compact(spark, dir)
      CutReportMaintenance.ingest(spark, dir,
        corpus.filter(col("doc_id") === 3L))
      assert(CutReportMaintenance.report(spark, dir).count() == before.size)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: takedown stream — interleaved ingest/delete streams converge to the replay over survivors; a replayed delete batch is skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-ds").toString
    try {
      val corpus = plantedCorpus.as[(Long, String)].collect().toSeq
      val ing = MemoryStream[(Long, String)]
      val qi = CutReportMaintenance.streamWriter(
          ing.toDF().toDF("doc_id", "text"), dir, "doc_id", "text")
        .option("checkpointLocation", s"$dir/_ckpt_i")
        .start()
      val dels = MemoryStream[Long]
      val qd = CutReportMaintenance.deleteStreamWriter(
          dels.toDF(), dir, "value", streamId = "takedown")
        .option("checkpointLocation", s"$dir/_ckpt_d")
        .start()
      // Interleave: ingest %3=1, delete the planted ids 10/25, ingest
      // %3=2 (re-roots around the holes), delete 7, backfill %3=0 (doc
      // 0 undercuts the post-delete firsts again).
      ing.addData(corpus.filter(_._1 % 3 == 1)); qi.processAllAvailable()
      dels.addData(Seq(10L, 25L)); qd.processAllAvailable()
      ing.addData(corpus.filter(_._1 % 3 == 2)); qi.processAllAvailable()
      dels.addData(Seq(7L)); qd.processAllAvailable()
      ing.addData(corpus.filter(_._1 % 3 == 0)); qi.processAllAvailable()
      qi.stop(); qd.stop()
      val deleted = Set(10L, 25L, 7L)
      val surviving = plantedCorpus
        .filter(!col("doc_id").isin(deleted.toSeq.map(Long.box): _*))
        .localCheckpoint(true)
      val maintained = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      val batch = graft.QueriesExt11.cutReportOf(surviving)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      assert(maintained == batch,
        s"interleaved ingest/delete streams must converge; " +
          s"extra=${(maintained -- batch).take(5)} " +
          s"missing=${(batch -- maintained).take(5)}")
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      // Replay protection on the DELETE lineage: a fresh checkpoint
      // with the same streamId redelivers batchId 0 — the marker must
      // skip it entirely (no new state version, same report).
      def version(): Long = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_version")), "UTF-8").trim.toLong
      val v0 = version()
      val dels2 = MemoryStream[Long]
      val qd2 = CutReportMaintenance.deleteStreamWriter(
          dels2.toDF(), dir, "value", streamId = "takedown")
        .option("checkpointLocation", s"$dir/_ckpt_d2")
        .start()
      dels2.addData(Seq(10L, 25L)) // batchId 0 <= marker 1
      qd2.processAllAvailable()
      qd2.stop()
      assert(version() == v0, "a redelivered delete batchId must be skipped")
      assert(CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet == batch)
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: a pre-r15 or foreign state-dir layout is refused, not misread") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-l").toString
    try {
      // Committed state without _params = pre-params layout.
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/_version"), "0".getBytes("UTF-8"))
      val e1 = intercept[IllegalStateException] {
        CutReportMaintenance.report(spark, dir)
      }
      assert(e1.getMessage.contains("_params"))
      // _params without a layout stamp (the r14 on-disk shape).
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_params"),
        "n=2\nnumHashes=32\nbands=16\nthreshold=0.05\nW=20\nportable=true\nvecBits=8\nvecBands=2\nvecDim=64\nvecThreshold=0.9\n"
          .getBytes("UTF-8"))
      val e2 = intercept[IllegalStateException] {
        CutReportMaintenance.ingest(spark, dir,
          Seq((1L, "a body")).toDF("doc_id", "text"))
      }
      assert(e2.getMessage.contains("layout"))
      // The refusal names the operator playbook and both of its exits
      // (rebuild from the source feed / export + re-ingest) — a refused
      // dir must come with a documented way out, not a dead end.
      assert(e2.getMessage.contains("playbook"))
      assert(e2.getMessage.contains("rebuild from the source feed"))
      assert(e2.getMessage.contains("re-ingest"))
      // Invalid state-shaping params are refused up front.
      val e3 = intercept[IllegalArgumentException] {
        CutReportMaintenance.ingest(spark,
          java.nio.file.Files.createTempDirectory("graft-cutmaint-l2").toString,
          Seq((1L, "a body")).toDF("doc_id", "text"),
          CutReportMaintenance.Params(vecBits = 9, vecBands = 2))
      }
      assert(e3.getMessage.contains("vecBits"))
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: a crashed writer's orphan segments are purged by the next committed operation, whatever it writes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-o").toString
    try {
      val corpus = plantedCorpus.localCheckpoint(true)
      CutReportMaintenance.ingest(spark, dir,
        corpus.filter(col("doc_id") % 2 === 0))
      val v = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_version")), "UTF-8").trim.toLong
      // Simulate a deleteDocs that CRASHED after landing its doc-
      // tombstone segment at v+1 but before committing: without the
      // purge, the next ingest (which never writes doc_tombs) would
      // expose the half-applied deletion the moment its commit lands
      // on the same version slot.
      Seq((0L, v + 1)).toDF("doc_id", "v").write
        .parquet(s"$dir/seg_doc_tombs/v${v + 1}")
      val before = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      CutReportMaintenance.ingest(spark, dir,
        corpus.filter(col("doc_id") % 2 === 1))
      val maintained = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      val batch = graft.QueriesExt11.cutReportOf(corpus)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      assert(maintained.exists(_._1 == 0L),
        "doc 0 must survive — the orphan tombstone was never committed")
      assert(maintained == batch,
        s"orphan segments leaked into the committed state; " +
          s"extra=${(maintained -- batch).take(5)} " +
          s"missing=${(batch -- maintained).take(5)}")
      assert(before.forall(r => maintained.exists(_._1 == r._1)))
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("maintained cut report: a malformed spark.graft.cutmaint.* conf fails at entry naming its key, before any segment lands") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-conf").toString
    try {
      val corpus = plantedCorpus.limit(20).localCheckpoint(true)
      CutReportMaintenance.ingest(spark, dir, corpus)
      def version = VersionedDir(dir).current
      def report = CutReportMaintenance.report(spark, dir).collect().toSet
      val (v0, report0) = (version, report)
      for (key <- Seq("segmentWriteFiles", "deltaShufflePartitions", "targetBucketRows")) {
        val k = s"spark.graft.cutmaint.$key"
        spark.conf.set(k, "abc")
        try {
          Seq[() => Any](
            () => CutReportMaintenance.ingest(spark, dir, corpus),
            () => CutReportMaintenance.deleteDocs(spark, dir, corpus.select("doc_id").limit(1)),
            () => CutReportMaintenance.applyOps(spark, dir, corpus),
            () => CutReportMaintenance.compact(spark, dir)).foreach { call =>
            val e = intercept[IllegalArgumentException](call())
            assert(e.getMessage.contains(k) && e.getMessage.contains("abc"), e.getMessage)
          }
        } finally spark.conf.unset(k)
        assert(version == v0)
        assert(report == report0)
      }
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("applyOps prep drain: a task outliving the timeout is interrupted and the drain fails naming the state dir") {
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val interrupted = new java.util.concurrent.CountDownLatch(1)
    pool.submit(new Runnable {
      def run(): Unit =
        try latch.await()
        catch { case _: InterruptedException => interrupted.countDown() }
    })
    try {
      val e = intercept[IllegalStateException] {
        CutReportMaintenance.drain(pool, 100.millis, "/state/dir")
      }
      assert(e.getMessage.contains("/state/dir"))
      assert(interrupted.await(10, SECONDS), "the blocked task was not interrupted")
      assert(pool.awaitTermination(10, SECONDS))
    } finally latch.countDown()
  }

  test("maintained cut report: single full-corpus ingest equals the batch replay (degenerate base case)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint1").toString
    try {
      val corpus = plantedCorpus.localCheckpoint(true)
      val out = CutReportMaintenance.ingest(spark, dir, corpus)
      assert(out.filter(col("upd") =!= "new").count() == 0)
      val maintained = CutReportMaintenance.report(spark, dir)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      val batch = graft.QueriesExt11.cutReportOf(corpus)
        .as[(Long, String, Option[Long], Long)].collect().toSet
      assert(maintained == batch)
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("parallel segment landing: a failing task's error escapes only after EVERY sibling task completes — no landing write can outlive the writer lock") {
    // The r17 failure-path hazard: landParallel rethrew the first
    // failure while sibling write futures were still in flight, so a
    // straggler could keep writing seg_*/v<next> after the lock was
    // released and race a retrying writer on the same directory. The
    // fix awaits ALL completions before rethrowing; this pins it by
    // racing a fast failure against deliberately slow siblings.
    val slowDone = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = new RuntimeException("segment write failed (injected)")
    val tasks: Seq[() => Unit] =
      Seq[() => Unit](() => { Thread.sleep(50); throw boom }) ++
        (1 to 4).map(_ => () => {
          Thread.sleep(400); slowDone.incrementAndGet(); ()
        })
    val thrown = intercept[RuntimeException] {
      CutReportMaintenance.landParallel(tasks)
    }
    assert(thrown eq boom, "the injected failure must propagate")
    // The moment the exception escapes (= the moment ingest would
    // release the writer lock), every sibling landing task has already
    // finished — nothing is still writing in the background.
    assert(slowDone.get() == 4,
      s"only ${slowDone.get()}/4 sibling landings had completed when " +
        "the failure escaped — a straggler write outlived the call")
    // A fatal error (which `Try` does not catch) must complete its task
    // too, and still escape only after the siblings: run the landing
    // under a bounded wait, since the failure mode is a hang.
    slowDone.set(0)
    val oom = new OutOfMemoryError("simulated")
    val fatal: Seq[() => Unit] =
      Seq[() => Unit](() => { Thread.sleep(50); throw oom }) ++
        (1 to 4).map(_ => () => {
          Thread.sleep(400); slowDone.incrementAndGet(); ()
        })
    val landed = scala.concurrent.Promise[(Throwable, Int)]()
    val lander = new Thread(() => landed.success(
      try { CutReportMaintenance.landParallel(fatal); (null, slowDone.get()) }
      catch { case e: Throwable => (e, slowDone.get()) }))
    lander.setDaemon(true)
    lander.start()
    val (escaped, doneAtEscape) = scala.concurrent.Await.result(landed.future,
      scala.concurrent.duration.Duration(60, "s"))
    assert(escaped eq oom, s"the fatal error must propagate, got $escaped")
    assert(doneAtEscape == 4,
      s"only $doneAtEscape/4 sibling landings had completed when the fatal error escaped")
    // And a fully-successful landing still runs every task exactly once.
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    CutReportMaintenance.landParallel(
      (1 to 5).map(_ => () => { ok.incrementAndGet(); () }))
    assert(ok.get() == 5)
  }

  private val kAqe = "spark.sql.adaptive.enabled"
  private val kShuf = "spark.sql.shuffle.partitions"

  test("delta-grain conf stays on the writer's clone: a concurrent thread sees the session default and plans adaptively mid-ingest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-iso").toString
    try {
      val corpus = plantedCorpus.localCheckpoint(true)
      val default = (spark.conf.get(kShuf), spark.conf.get(kAqe))
      val done = new java.util.concurrent.CountDownLatch(1)
      val writer = new Thread(() =>
        try CutReportMaintenance.ingest(spark, dir, corpus).count()
        finally done.countDown())
      writer.setDaemon(true)
      writer.start()
      // Thread B: conf reads and a corpus-grain plan on the shared
      // session, for as long as the ingest runs.
      val seen = scala.collection.mutable.Set.empty[(String, String)]
      var plans, nonAdaptive = 0
      while (done.getCount > 0) {
        seen += ((spark.conf.get(kShuf), spark.conf.get(kAqe)))
        val plan = Tables.documents(spark, sf("sf0.001"))
          .groupBy(col("doc_id") % 7).count().queryExecution.executedPlan
        plans += 1
        if (!plan.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
          nonAdaptive += 1
        Thread.sleep(5)
      }
      writer.join()
      assert(plans >= 10, s"only $plans plans overlapped the ingest")
      assert(seen == Set(default), s"thread B saw $seen, session default is $default")
      assert(nonAdaptive == 0, s"$nonAdaptive of $plans concurrent plans were not adaptive")
      assert(VersionedDir(dir).current == 0, "the ingest must have committed")
    } finally VersionedDir.deleteTree(new java.io.File(dir))
  }

  test("the delta-grain clone carries the caller's runtime conf; the caller's AQE and shuffle partitions are unchanged after every writer") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cutmaint-clone").toString
    val feedDir = java.nio.file.Files.createTempDirectory("graft-cutmaint-clonef").toString
    val kFiles = "spark.graft.cutmaint.segmentWriteFiles"
    spark.conf.set(kFiles, "2")
    try {
      val before = (spark.conf.getOption(kAqe), spark.conf.getOption(kShuf))
      def unchanged(call: String): Unit = assert(
        (spark.conf.getOption(kAqe), spark.conf.getOption(kShuf)) == before,
        s"$call changed the caller's conf")
      // Four input partitions, so a 2-file bound is visible as 2 files.
      val corpus = plantedCorpus.limit(40).repartition(4).localCheckpoint(true)
      CutReportMaintenance.ingest(spark, dir, corpus).count()
      unchanged("ingest")
      val parts = new java.io.File(s"$dir/seg_docs/v0").listFiles()
        .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.length == 2, s"seg_docs/v0 holds ${parts.toSeq}")
      CutReportMaintenance.deleteDocs(spark, dir, corpus.select("doc_id").limit(1)).count()
      unchanged("deleteDocs")
      CutReportMaintenance.applyOps(spark, feedDir,
        Seq(("insert", 1L, "a first body of text"), ("insert", 2L, "a second body of text"))
          .toDF("op", "ext_id", "text")).count()
      unchanged("applyOps")
    } finally {
      spark.conf.unset(kFiles)
      VersionedDir.deleteTree(new java.io.File(dir))
      VersionedDir.deleteTree(new java.io.File(feedDir))
    }
  }
}
