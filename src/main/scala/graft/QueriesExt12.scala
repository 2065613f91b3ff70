package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.VersionedDir
import QueriesExt.docs

/** Round-17 depth tier: the UNIFIED maintenance feed under the value
  * oracle — the engine's most reference-shaped surface (one multiplexed
  * op stream, per-batch dispatch, merged state; the reference's own
  * topology, `cdc_util/redshift_sink.py:196-227`) graduated from
  * spec-only to a row-for-row DuckDB check. */
object QueriesExt12 {

  // ---------------------------------------------------------------- q300
  /** The unified maintenance feed VALUE-ORACLED end to end: a
    * deterministic mixed-op feed — inserts, a recrawl update, a
    * same-batch delete+re-ingest (seq-ordered), pure takedowns; the
    * reference's full op matrix — drives
    * [[graft.operators.CutReportMaintenance.applyOps]] with STRING
    * (URL-shaped) external keys against a fresh state dir, and the
    * external-grain [[graft.operators.CutReportMaintenance.maintainedView]]
    * is compared against DuckDB replaying the SAME ops to a final
    * corpus and running the COMPLETE q292 cut-report chain over it at
    * the engine's own internal-id grain (slots ranked by key string,
    * generations packed above bit 40), then mapping back to keys.
    * Everything the feed owns — slot allocation, generation
    * bookkeeping, upsert-as-delete+ingest, per-half replay markers'
    * final state, the external view join — is pinned by an independent
    * engine, not just by ScalaTest.
    *
    * Op schedule over the (size-adaptively sampled, q298 discipline)
    * planted corpus, keyed by `doc:<zero-padded id>` so string rank ==
    * numeric rank:
    *  - batch 1: insert ids with id % 3 ∈ {0, 1}
    *  - batch 2: insert ids with id % 3 = 2; update (recrawl) ids with
    *    id % 9 = 0; delete ids with id % 9 = 3
    *  - batch 3: delete + re-ingest (seq 1, 2) of ids with id % 9 = 6
    *
    * Final state: id%9=3 gone; id%9∈{0,6} generation 1 with suffixed
    * texts; everything else generation 0. The returned frame is
    * checkpoint-backed (the temp state dir is deleted before
    * returning). Scale shape: three applyOps batches of the maintained
    * probe algebra — per-batch work ∝ batch + touched state; this
    * query exists for the oracle, not the plan. */
  def q300MaintainedFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CutReportMaintenance
    val all = docs(s, dir)
    val samp = math.max(1L, all.count() / 6000L)
    val base = all.filter(col("doc_id") % samp === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" " + QueriesExt9.q267Plant)))
          .otherwise(col("text")).as("ptext"))
      .localCheckpoint(true)
    val key = concat(lit("doc:"),
      lpad(col("doc_id").cast("string"), 12, "0"))
    def op(pred: org.apache.spark.sql.Column, opName: String,
           text: org.apache.spark.sql.Column, seq: Long): DataFrame =
      base.filter(pred).select(lit(opName).as("op"), key.as("ext_id"),
        text.as("text"), lit(seq).as("seq"))
    val state = java.nio.file.Files.createTempDirectory("graft-q300").toString
    try {
      CutReportMaintenance.applyOps(s, state,
        op(col("doc_id") % 3 =!= 2, "insert", col("ptext"), 0L),
        seqCol = Some("seq"))
      CutReportMaintenance.applyOps(s, state,
        op(col("doc_id") % 3 === 2, "insert", col("ptext"), 0L)
          .unionByName(op(col("doc_id") % 9 === 0, "update",
            concat(col("ptext"), lit(" recrawl v2")), 0L))
          .unionByName(op(col("doc_id") % 9 === 3, "delete",
            lit(null).cast("string"), 0L)),
        seqCol = Some("seq"))
      CutReportMaintenance.applyOps(s, state,
        op(col("doc_id") % 9 === 6, "delete", lit(null).cast("string"), 1L)
          .unionByName(op(col("doc_id") % 9 === 6, "ingest",
            concat(col("ptext"), lit(" recrawl v3")), 2L)),
        seqCol = Some("seq"))
      CutReportMaintenance.maintainedView(s, state).localCheckpoint(true)
    } finally VersionedDir.deleteTree(new java.io.File(state))
  }

  /** DuckDB replays the op schedule to the final corpus AT THE
    * ENGINE'S INTERNAL GRAIN — slot = rank of the key string within
    * its allocation batch (zero-padded keys make that the numeric id
    * rank), generation packed above bit 40 — then runs the complete
    * q292 chain over `(internal_id, final_text)` and maps ids back to
    * external keys. The keeper/owner algebra (min internal id) is the
    * thing being checked: an updated doc's new generation must LOSE
    * keeper-ship to any generation-0 duplicate, exactly as the
    * maintained state serves it. */
  val q300Sql: String = {
    val samp = "(SELECT greatest(1, count(*) // 6000) FROM documents)"
    val planted = "CASE WHEN doc_id % 5 = 0 THEN text || ' " +
      QueriesExt9.q267Plant + "' ELSE text END"
    val finalCorpus =
      s"""WITH fbase AS (SELECT doc_id AS d, $planted AS ptext
         |       FROM documents WHERE doc_id % $samp = 0),
         |fs1 AS (SELECT d, row_number() OVER (ORDER BY d) - 1 AS slot
         |       FROM fbase WHERE d % 3 IN (0, 1)),
         |fs2 AS (SELECT d, (SELECT count(*) FROM fs1)
         |           + row_number() OVER (ORDER BY d) - 1 AS slot
         |       FROM fbase WHERE d % 3 = 2),
         |fsl AS (SELECT * FROM fs1 UNION ALL SELECT * FROM fs2)
         |SELECT (CASE WHEN b.d % 9 IN (0, 6) THEN (1::BIGINT << 40)
         |             ELSE 0 END) + fsl.slot AS doc_id,
         |       CASE WHEN b.d % 9 = 0 THEN b.ptext || ' recrawl v2'
         |            WHEN b.d % 9 = 6 THEN b.ptext || ' recrawl v3'
         |            ELSE b.ptext END AS text,
         |       'doc:' || lpad(b.d::VARCHAR, 12, '0') AS ext_key
         |FROM fbase b JOIN fsl ON b.d = fsl.d
         |WHERE b.d % 9 <> 3""".stripMargin
    val corpusSql = s"SELECT doc_id, text FROM ($finalCorpus)"
    val chain = QueriesExt11.cutReportSqlOverCorpus(corpusSql,
      QueriesExt9.q267SqlOverCorpus(corpusSql))
    s"""WITH fc AS ($finalCorpus),
       |rep AS (SELECT * FROM ($chain))
       |SELECT f.ext_key, rep.tier, f2.ext_key AS dup_of_ext,
       |       rep.cut_tokens
       |FROM rep JOIN fc f ON rep.doc_id = f.doc_id
       |LEFT JOIN fc f2 ON rep.dup_of = f2.doc_id""".stripMargin
  }


  // ------------------------------------------------------------ registry
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q300_maintained_feed" -> (q300MaintainedFeed _))

  val oracles: Map[String, String] = Map(
    "q300_maintained_feed" -> q300Sql)
}
