package graft.operators

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** The UNIFIED maintenance feed (r15 verdict #2): one multiplexed
  * stream of (op, document) — the reference's own shape, one topic
  * carrying inserts/updates/deletes dispatched per micro-batch
  * (cdc_util/redshift_sink.py:196-227) — applied to the maintained
  * dedup state. Update and delete-then-re-ingest of the SAME external
  * key, out of contract on the raw ingest/delete surfaces, are
  * first-class here via the internal generation scheme. */
class MaintenanceFeedSpec extends SparkSuite {
  import spark.implicits._

  private def rm(path: String): Unit = VersionedDir.deleteTree(new java.io.File(path))

  private def corpusRows = Tables.documents(spark, sf("sf0.001"))
    .select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" " + graft.QueriesExt9.q267Plant)))
        .otherwise(col("text")).as("text"))
    .as[(Long, String)].collect().toSeq

  test("unified feed: mixed batches (insert, same-batch delete+re-ingest, upsert, delete) converge to the replay; the view serves the external grain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-feed").toString
    try {
      val corpus = corpusRows
      def ops(rows: Seq[(String, Long, String)]) =
        rows.toDF("op", "ext_id", "text")
      // Batch 1: plain inserts (evens).
      val evens = corpus.filter(_._1 % 2 == 0)
      CutReportMaintenance.applyOps(spark, dir,
        ops(evens.map { case (id, t) => ("insert", id, t) }))
      // Batch 2: the verdict's named case — delete + re-ingest of the
      // SAME key in ONE batch (unordered pair reads as update), plus an
      // explicit upsert of another key, plus fresh odd inserts.
      val odds = corpus.filter(_._1 % 2 == 1)
      val newText4 = "a completely rewritten body for key four"
      val newText2 = "key two gets replaced wholesale by this text"
      CutReportMaintenance.applyOps(spark, dir,
        ops(Seq(("delete", 4L, null: String), ("ingest", 4L, newText4),
          ("update", 2L, newText2)) ++
          odds.map { case (id, t) => ("insert", id, t) }))
      // Batch 3: pure delete of key 6, and a delete of a NEVER-SEEN key
      // (no-op by contract).
      CutReportMaintenance.applyOps(spark, dir,
        ops(Seq(("delete", 6L, null), ("delete", 987654L, null))))

      // The stored report equals the from-scratch replay over the
      // stored corpus — the convergence property, across generations.
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      // External view: every key except 6 is live; 4 and 2 carry their
      // REPLACED texts (check via the curated corpus' stored docs).
      val view = CutReportMaintenance.maintainedView(spark, dir)
        .localCheckpoint(true)
      val liveExt = view.select("ext_id").as[Long].collect().toSet
      val expectedExt = corpus.map(_._1).toSet - 6L
      assert(liveExt == expectedExt,
        s"extra=${(liveExt -- expectedExt).take(5)} " +
          s"missing=${(expectedExt -- liveExt).take(5)}")
      assert(view.groupBy("ext_id").count().filter(col("count") > 1).isEmpty,
        "one view row per live external key")
      // The replaced keys' OLD internal ids are gone from the report;
      // their new generations carry the new texts.
      val curated = CutReportMaintenance.curatedCorpus(spark, dir)
      assert(curated.filter(col("text_kept") === newText4).count() == 1)
      assert(curated.filter(col("text_kept") === newText2).count() == 1)
      val rep = CutReportMaintenance.report(spark, dir)
      assert(rep.filter(col("doc_id").isin(2L, 4L, 6L)).count() == 0,
        "replaced/deleted generation-0 internal ids must be gone")
      // dup_of mapping surfaces as external ids where the target is a
      // mapped key (the planted near-dup cluster guarantees dups).
      assert(view.filter(col("dup_of_ext").isNotNull).count() > 0)
      // Compaction folds id_map too and preserves everything.
      CutReportMaintenance.compact(spark, dir)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      assert(CutReportMaintenance.maintainedView(spark, dir)
        .select("ext_id").as[Long].collect().toSet == expectedExt)
      // A key deleted and re-ingested in a LATER batch (post-compact,
      // where the doc tombstone is already purged) still gets a fresh
      // generation — "ever seen" survives compaction in id_map.
      CutReportMaintenance.applyOps(spark, dir,
        ops(Seq(("delete", 8L, null))))
      CutReportMaintenance.applyOps(spark, dir,
        ops(Seq(("ingest", 8L, "key eight returns with new words"))))
      val gen8 = CutReportMaintenance.maintainedView(spark, dir)
        .filter(col("ext_id") === 8L).count()
      assert(gen8 == 1)
      assert(CutReportMaintenance.report(spark, dir)
        .filter(col("doc_id") === 8L).count() == 0,
        "the re-ingest must land under a NEW internal generation, " +
          "never resurrect internal id 8")
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
    } finally rm(dir)
  }

  test("unified feed: seq orders an intra-batch ingest-then-delete to a net delete; ambiguous twin ingests without seq are refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-feed-s").toString
    try {
      CutReportMaintenance.applyOps(spark, dir,
        Seq(("insert", 1L, "the first document body here", 0L),
          ("insert", 2L, "the second document body here", 0L))
          .toDF("op", "ext_id", "text", "seq"), seqCol = Some("seq"))
      // seq says: ingest key 3, THEN delete it; and delete key 1, THEN
      // re-ingest it. Net: 1 lives (new text), 3 never lands.
      CutReportMaintenance.applyOps(spark, dir,
        Seq(("insert", 3L, "a transient document", 1L),
          ("delete", 3L, null: String, 2L),
          ("delete", 1L, null: String, 3L),
          ("insert", 1L, "the first document reborn", 4L))
          .toDF("op", "ext_id", "text", "seq"), seqCol = Some("seq"))
      val live = CutReportMaintenance.maintainedView(spark, dir)
        .select("ext_id").as[Long].collect().toSet
      assert(live == Set(1L, 2L), s"got $live")
      assert(CutReportMaintenance.curatedCorpus(spark, dir)
        .filter(col("text_kept") === "the first document reborn").count() == 1)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      // Two ingests of one key with no seq = an arbitrary pick — refused.
      val e = intercept[IllegalArgumentException] {
        CutReportMaintenance.applyOps(spark, dir,
          Seq(("insert", 9L, "version a"), ("insert", 9L, "version b"))
            .toDF("op", "ext_id", "text"))
      }
      assert(e.getMessage.contains("ambiguous"))
      // Unknown ops and out-of-range ext ids are refused up front.
      val e2 = intercept[IllegalArgumentException] {
        CutReportMaintenance.applyOps(spark, dir,
          Seq(("truncate", 9L, "x")).toDF("op", "ext_id", "text"))
      }
      assert(e2.getMessage.contains("ops"))
      val e3 = intercept[IllegalArgumentException] {
        CutReportMaintenance.applyOps(spark, dir,
          Seq(("insert", 1L << 41, "x")).toDF("op", "ext_id", "text"))
      }
      assert(e3.getMessage.contains("2^40"))
    } finally rm(dir)
  }

  test("unified feed with STRING keys: URL-shaped keys map to stable slots; same-batch delete+re-ingest, deletion, and compaction preserve the mapping; key modes never mix") {
    val dir = java.nio.file.Files.createTempDirectory("graft-feed-k").toString
    try {
      val corpus = corpusRows
      def url(id: Long) = s"https://example.test/doc/$id"
      def ops(rows: Seq[(String, String, String)]) =
        rows.toDF("op", "ext_id", "text")
      // Batch 1: inserts keyed by URL (evens).
      val evens = corpus.filter(_._1 % 2 == 0)
      CutReportMaintenance.applyOps(spark, dir,
        ops(evens.map { case (id, t) => ("insert", url(id), t) }))
      // Batch 2: the r16 verdict's named case at the string grain —
      // same-batch delete+re-ingest of one URL (recrawl), an upsert of
      // another, fresh odd inserts, and a delete of a never-seen URL
      // (no-op, and it must NOT burn a slot).
      val odds = corpus.filter(_._1 % 2 == 1)
      val newText4 = "a completely rewritten body for key four"
      val newText2 = "key two gets replaced wholesale by this text"
      CutReportMaintenance.applyOps(spark, dir,
        ops(Seq(("delete", url(4), null: String), ("ingest", url(4), newText4),
          ("update", url(2), newText2),
          ("delete", "https://example.test/never-seen", null: String)) ++
          odds.map { case (id, t) => ("insert", url(id), t) }))
      // Batch 3: pure takedown of one URL.
      CutReportMaintenance.applyOps(spark, dir,
        ops(Seq(("delete", url(6), null))))

      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      val view = CutReportMaintenance.maintainedView(spark, dir)
        .localCheckpoint(true)
      val liveExt = view.select("ext_key").as[String].collect().toSet
      val expectedExt = (corpus.map(_._1).toSet - 6L).map(url)
      assert(liveExt == expectedExt,
        s"extra=${(liveExt -- expectedExt).take(5)} " +
          s"missing=${(expectedExt -- liveExt).take(5)}")
      assert(view.groupBy("ext_key").count().filter(col("count") > 1).isEmpty,
        "one view row per live external key")
      // dup targets surface as URLs (the planted near-dup cluster
      // guarantees dups, and every doc arrived through the feed).
      val dups = view.filter(col("dup_of_ext").isNotNull)
      assert(dups.count() > 0)
      assert(dups.filter(!col("dup_of_ext").startsWith("https://")).isEmpty)
      // Replaced keys carry their new texts.
      val curated = CutReportMaintenance.curatedCorpus(spark, dir)
      assert(curated.filter(col("text_kept") === newText4).count() == 1)
      assert(curated.filter(col("text_kept") === newText2).count() == 1)
      // Compaction folds key_map too; the view is unchanged.
      CutReportMaintenance.compact(spark, dir)
      assert(CutReportMaintenance.maintainedView(spark, dir)
        .select("ext_key").as[String].collect().toSet == expectedExt)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      // Post-compaction re-ingest of a deleted URL gets a FRESH
      // generation under its ORIGINAL slot — the slot survives
      // deletion and compaction ("ever seen" is load-bearing).
      CutReportMaintenance.applyOps(spark, dir,
        ops(Seq(("ingest", url(6), "key six returns with new words"))))
      assert(CutReportMaintenance.maintainedView(spark, dir)
        .filter(col("ext_key") === url(6)).count() == 1)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      // Mode is stamped: numeric keys are refused on a string-keyed dir.
      val e = intercept[IllegalArgumentException] {
        CutReportMaintenance.applyOps(spark, dir,
          Seq(("insert", 42L, "numeric key body"))
            .toDF("op", "ext_id", "text"))
      }
      assert(e.getMessage.contains("string-keyed"))
      // Empty/null string keys are refused up front.
      val e2 = intercept[IllegalArgumentException] {
        CutReportMaintenance.applyOps(spark, dir,
          ops(Seq(("insert", "", "x"))))
      }
      assert(e2.getMessage.contains("non-empty"))
    } finally rm(dir)
  }

  test("unified feed on a STREAM: one MemoryStream of mixed ops converges; a redelivered mixed batch is skipped whole; a crashed ingest half redelivers alone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-feed-st").toString
    try {
      val corpus = corpusRows
      val mem = MemoryStream[(String, Long, String)]
      val q = CutReportMaintenance.maintenanceStreamWriter(
          mem.toDF().toDF("op", "ext_id", "text"), dir,
          "op", "ext_id", "text", streamId = "crawl")
        .option("checkpointLocation", s"$dir/_ckpt")
        .start()
      val evens = corpus.filter(_._1 % 2 == 0)
      val odds = corpus.filter(_._1 % 2 == 1)
      mem.addData(evens.map { case (id, t) => ("insert", id, t) })
      q.processAllAvailable()
      // Mixed batch: recrawl (update) of key 10, takedown of key 20,
      // fresh odds.
      mem.addData(Seq(("update", 10L, "a recrawled body for key ten"),
        ("delete", 20L, null: String)) ++
        odds.map { case (id, t) => ("insert", id, t) })
      q.processAllAvailable()
      q.stop()
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
      val expected = corpus.map(_._1).toSet - 20L
      assert(CutReportMaintenance.maintainedView(spark, dir)
        .select("ext_id").as[Long].collect().toSet == expected)
      def version(): Long = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_version")), "UTF-8").trim.toLong
      val v0 = version()
      // Redelivery: a fresh checkpoint, same streamId, batchIds restart
      // at 0 — BOTH halves' markers are ahead, so the whole mixed batch
      // skips (no new version).
      val mem2 = MemoryStream[(String, Long, String)]
      val q2 = CutReportMaintenance.maintenanceStreamWriter(
          mem2.toDF().toDF("op", "ext_id", "text"), dir,
          "op", "ext_id", "text", streamId = "crawl")
        .option("checkpointLocation", s"$dir/_ckpt2")
        .start()
      mem2.addData(evens.map { case (id, t) => ("insert", id, t) })
      q2.processAllAvailable()
      q2.stop()
      assert(version() == v0, "a redelivered mixed batchId must be skipped")
      // Crash-between-halves: simulate a batch whose DELETE half
      // committed (marker crawl-del=2) but whose ingest half did not —
      // the redelivered batch must apply ONLY the ingest half (the
      // doomed set must NOT be recomputed and re-deleted).
      val newText30 = "key thirty rewritten after the crash"
      CutReportMaintenance.applyOps(spark, dir,
        Seq(("delete", 30L, null: String)).toDF("op", "ext_id", "text"),
        streamId = Some("crawl"), batchId = 2L)
      // (that committed only the del half: marker crawl-del=2, no ing)
      val vMid = version()
      CutReportMaintenance.applyOps(spark, dir,
        Seq(("delete", 30L, null: String), ("insert", 30L, newText30))
          .toDF("op", "ext_id", "text"),
        streamId = Some("crawl"), batchId = 2L)
      assert(version() == vMid + 1,
        "the redelivered batch must commit exactly the missing ingest half")
      assert(CutReportMaintenance.curatedCorpus(spark, dir)
        .filter(col("text_kept") === newText30).count() == 1)
      assert(CutReportMaintenance.verifyAgainstReplay(spark, dir).count() == 0)
    } finally rm(dir)
  }
}
