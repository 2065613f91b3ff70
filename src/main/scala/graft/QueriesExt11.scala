package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DedupFunctions, ExactSubstrings, TextFunctions}
import graft.operators.VersionedDir
import QueriesExt.docs

/** Round-12 depth tier: dedup as a MAINTAINED capability rather than a
  * one-shot sweep — the incremental index probe (q291) and the composed
  * per-document cut report (q292), the two artifacts a production
  * curation pipeline actually operates on. */
object QueriesExt11 {

  // ---------------------------------------------------------------- q291
  /** Incremental near-dup maintenance: a new ingest batch (docs with
    * doc_id ≡ 0 mod 7 — the "delta") probes the EXISTING corpus's LSH
    * band index instead of re-running the corpus×corpus self-join —
    * [[DedupFunctions.minhashLshProbe]], the batch twin of the
    * streaming band-key state and the shape that makes near-dup dedup
    * sustainable at 100 TB: per batch the candidate join is
    * |delta| × bands rows against a (band, bh)-bucketed index table,
    * never O(corpus²). Portable hash family so the oracle replays the
    * identical signature → band → probe → exact-verify chain.
    *
    * Single-pass shingling (the r12-deferred optimization, now applied):
    * the corpus is shingled ONCE into a localCheckpointed `(id, sh)`
    * frame; both sides' signature builds and the exact-verify join read
    * those cached arrays ([[DedupFunctions.minhashLshProbeShingled]])
    * instead of re-tokenizing the text three times.
    * Output: id_new, id_base, jaccard. */
  def q291IncrementalNeardup(s: SparkSession, dir: String): DataFrame = {
    val shAll = DedupFunctions.shingledDocs(docs(s, dir), "text", "doc_id", n = 2)
      .localCheckpoint(true)
    DedupFunctions.minhashLshProbeShingled(
      baseSh = shAll.filter(col("id") % 7 =!= 0),
      deltaSh = shAll.filter(col("id") % 7 === 0),
      numHashes = 32, bands = 16, threshold = 0.05, portable = true)
  }
  /** The probe variant of [[QueriesExt.minhashChainSql]] — the SAME
    * shared chain (signatures computed once over the whole corpus; a
    * doc's signature does not depend on the split) with only the
    * candidate CTE overridden to the asymmetric delta→base probe. */
  val q291Sql: String = {
    val probeCand =
      """SELECT DISTINCT d.doc_id AS id_a, bb.doc_id AS id_b,
        |                d.n_sh AS n_a, bb.n_sh AS n_b
        |         FROM band d JOIN band bb ON d.b = bb.b AND d.bh = bb.bh
        |         WHERE d.doc_id % 7 = 0 AND bb.doc_id % 7 <> 0""".stripMargin
    s"""SELECT id_a AS id_new, id_b AS id_base, jaccard
       |FROM (${QueriesExt.minhashChainSql(
              QueriesExt.shingleCteFor("t", "TRUE"), probeCand)})""".stripMargin
  }

  // ---------------------------------------------------------------- q292
  /** The composed per-document CUT REPORT — what a curation pipeline
    * actually executes: every document of the (q267-planted) corpus
    * gets ONE disposition from the three dedup tiers in severity order:
    *
    *  - `exact`   — whole-doc fingerprint duplicate (q13 tier): cut,
    *                `dup_of` = the kept (lowest-id) copy, reclaim all
    *                tokens;
    *  - `neardup` — verified MinHash/LSH near-duplicate of an earlier
    *                doc (q14's signature algebra in the cluster-safe
    *                STAR form — [[DedupFunctions.minhashLshStarPairs]];
    *                the clique form measured Θ(k²) on the planted
    *                cluster, 51→324 s over a 3× corpus): cut, `dup_of`
    *                = its earliest verified bucket owner;
    *  - `partial` — only substring-level duplication (q267 tier):
    *                keep the doc, trim the marked spans, reclaim
    *                exactly their token count;
    *  - `keep`    — untouched.
    *
    * Every tier reuses its operator verbatim (exactDedup's fingerprint,
    * minhashLshPairs, duplicateTokenSpans) over ONE localCheckpointed
    * planted corpus, so the report can never disagree with the
    * per-tier queries. The 100 TB shape is the union of the tiers'
    * (each audited separately); the composition adds only
    * doc_id-keyed left joins on bounded per-tier outputs.
    * Output: doc_id, tier, dup_of (null unless cut), cut_tokens. */
  def q292CutReport(s: SparkSession, dir: String): DataFrame =
    cutReportOf(docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" " + QueriesExt9.q267Plant)))
        .otherwise(col("text")).as("text")))

  /** The q292 report over an arbitrary `(doc_id, text)` corpus — the
    * batch ground truth [[graft.operators.CutReportMaintenance]]'s
    * convergence spec replays ingests against. */
  private[graft] def cutReportOf(corpus0: DataFrame): DataFrame = {
    val corpus = corpus0
      .localCheckpoint(true) // referenced by all three tiers + token counts
    val nTok = corpus.select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    val fp = corpus.select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val exCut = fp
      .join(fp.groupBy("fp").agg(min("doc_id").as("keep_id")), Seq("fp"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("keep_id").as("ex_dup_of"))
    // Near-dup tier reads ONE checkpointed shingle frame for both its
    // signature build and its exact verify (see q291's Scaladoc) — the
    // planted corpus is shingled once per sweep, not twice.
    val corpusSh = DedupFunctions.shingledDocs(corpus, "text", "doc_id", n = 2)
      .localCheckpoint(true)
    val ndCut = DedupFunctions.minhashLshStarPairsShingled(corpusSh,
        numHashes = 32, bands = 16, threshold = 0.05, portable = true)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("nd_dup_of"))
    val ssTrim = ExactSubstrings.duplicateTokenSpans(corpus, "text", "doc_id", W = 20)
      .groupBy(col("id").as("doc_id"))
      .agg(sum(col("tok_len")).as("substr_tokens"))
    corpus.select("doc_id")
      .join(nTok, Seq("doc_id"))
      .join(exCut, Seq("doc_id"), "left")
      .join(ndCut, Seq("doc_id"), "left")
      .join(ssTrim, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex_dup_of").isNotNull, "exact")
          .when(col("nd_dup_of").isNotNull, "neardup")
          .when(col("substr_tokens").isNotNull, "partial")
          .otherwise("keep").as("tier"),
        when(col("ex_dup_of").isNotNull, col("ex_dup_of"))
          .when(col("nd_dup_of").isNotNull, col("nd_dup_of")).as("dup_of"),
        when(col("ex_dup_of").isNotNull || col("nd_dup_of").isNotNull,
            col("n_tokens"))
          .when(col("substr_tokens").isNotNull, col("substr_tokens"))
          .otherwise(lit(0L)).cast("long").as("cut_tokens"))
  }
  /** Star-form candidate CTE for [[QueriesExt.minhashChainSql]] — the
    * oracle replay of [[DedupFunctions.minhashLshStarPairs]]: one owner
    * (earliest doc) per occupied band bucket, later co-occupants pair
    * with the owner only. */
  private val starCandSql: String =
    """SELECT DISTINCT o.id_a, d.doc_id AS id_b, o.n_a, d.n_sh AS n_b
      |         FROM band d JOIN (SELECT b, bh, min(doc_id) AS id_a,
      |                             min_by(n_sh, doc_id) AS n_a
      |                           FROM band GROUP BY 1, 2) o
      |           ON d.b = o.b AND d.bh = o.bh AND d.doc_id > o.id_a""".stripMargin

  /** The full q292 cut-report chain over a documents subset —
    * parameterized on the corpus predicate so q295's oracle replays the
    * SAME chain on the base-only and combined corpora (q292 itself uses
    * `TRUE`): a report's `upd` provenance can then be oracle-checked as
    * the literal diff of two full replays. */
  private def cutReportSql(whereSql: String): String = {
    val planted = "CASE WHEN doc_id % 5 = 0 THEN text || ' " +
      QueriesExt9.q267Plant + "' ELSE text END"
    cutReportSqlOverCorpus(
      s"SELECT doc_id, $planted AS text FROM documents WHERE $whereSql",
      QueriesExt9.q267SqlFor(whereSql))
  }

  /** The full cut-report chain over an ARBITRARY `(doc_id, text)`
    * corpus query (the span chain is passed alongside because its
    * predicate/plant instantiation must match) — q300's oracle replays
    * it over the unified feed's REPLAYED corpus, where doc ids are the
    * engine's internal generation-packed ids and texts are the
    * surviving generations, not a `documents` subset. The corpus SQL
    * is inlined self-contained into each tier's subquery, so nested
    * WITH scoping never matters. */
  private[graft] def cutReportSqlOverCorpus(corpusSql: String,
                                            spanSql: String): String = {
    val tCte =
      s"""t AS (
         |  SELECT doc_id, list_distinct([x[i] || ' ' || x[i+1] for i in range(1, len(x))]) AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS x
         |        FROM ($corpusSql)))""".stripMargin
    s"""WITH c AS ($corpusSql),
       |ntok AS (SELECT doc_id,
       |           len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT AS n_tokens
       |         FROM c),
       |fpt AS (SELECT doc_id,
       |          md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
       |        FROM c),
       |exc AS (SELECT f.doc_id, k.keep_id AS ex_dup_of
       |        FROM fpt f JOIN (SELECT fp, min(doc_id) AS keep_id FROM fpt GROUP BY 1) k
       |          USING (fp)
       |        WHERE f.doc_id <> k.keep_id),
       |nd0 AS (SELECT * FROM (${QueriesExt.minhashChainSql(tCte, starCandSql)})),
       |ndc AS (SELECT id_b AS doc_id, min(id_a) AS nd_dup_of FROM nd0 GROUP BY 1),
       |ss0 AS (SELECT * FROM ($spanSql)),
       |ssc AS (SELECT doc_id, sum(tok_len)::BIGINT AS substr_tokens FROM ss0 GROUP BY 1)
       |SELECT c.doc_id,
       |  CASE WHEN exc.ex_dup_of IS NOT NULL THEN 'exact'
       |       WHEN ndc.nd_dup_of IS NOT NULL THEN 'neardup'
       |       WHEN ssc.substr_tokens IS NOT NULL THEN 'partial'
       |       ELSE 'keep' END AS tier,
       |  CASE WHEN exc.ex_dup_of IS NOT NULL THEN exc.ex_dup_of
       |       WHEN ndc.nd_dup_of IS NOT NULL THEN ndc.nd_dup_of END AS dup_of,
       |  (CASE WHEN exc.ex_dup_of IS NOT NULL OR ndc.nd_dup_of IS NOT NULL
       |          THEN ntok.n_tokens
       |        WHEN ssc.substr_tokens IS NOT NULL THEN ssc.substr_tokens
       |        ELSE 0 END)::BIGINT AS cut_tokens
       |FROM c
       |LEFT JOIN exc USING (doc_id)
       |LEFT JOIN ndc USING (doc_id)
       |LEFT JOIN ssc USING (doc_id)
       |JOIN ntok USING (doc_id)""".stripMargin
  }

  val q292Sql: String = cutReportSql("TRUE")

  // ---------------------------------------------------------------- q293
  /** Incremental EXACT-dedup maintenance — the q13 tier as an index
    * probe, completing the maintained-dedup story across all three
    * grains (q293 whole-doc / q291 near-dup / q294 substring): a new
    * ingest batch's fingerprints equi-join the base corpus's
    * (fingerprint → earliest doc) index. At 100 TB the index is one
    * 16-byte-keyed table appended per batch; the probe shuffles only
    * the delta's fingerprints. Output: doc_id, dup_of. */
  /** Exact-dup plant: the sf corpora carry no byte-identical documents
    * (every text is unique), so — the q267 plant discipline — every
    * doc_id ≡ 0 (mod 11) doc's text is replaced by one constant
    * boilerplate page. Multiples of 11 land on BOTH sides of the %7
    * delta split (11k is in the delta iff 7 | k), so the probe has
    * known positives whose `dup_of` is arithmetically checkable. */
  private val q293Plant =
    "canonical boilerplate page served for every retired listing"
  def q293IncrementalExact(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir).select(col("doc_id"),
      TextFunctions.fingerprint(
        when(col("doc_id") % 11 === 0, q293Plant).otherwise(col("text")))
        .as("fp"))
    val baseIdx = all.filter(col("doc_id") % 7 =!= 0)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("dup_of"))
    all.filter(col("doc_id") % 7 === 0)
      .join(baseIdx, Seq("fp"))
      .select(col("doc_id"), col("dup_of"))
  }
  val q293Sql: String =
    s"""WITH f AS (SELECT doc_id,
       |             md5(regexp_replace(trim(lower(
       |               CASE WHEN doc_id % 11 = 0 THEN '$q293Plant'
       |                    ELSE text END)), '\\s+', ' ', 'g')) AS fp
       |           FROM documents),
       |idx AS (SELECT fp, min(doc_id) AS dup_of FROM f
       |        WHERE doc_id % 7 <> 0 GROUP BY 1)
       |SELECT doc_id, dup_of FROM f JOIN idx USING (fp)
       |WHERE doc_id % 7 = 0""".stripMargin

  // ---------------------------------------------------------------- q294
  /** Incremental SUBSTRING-dedup maintenance — the q267 tier as an
    * index probe: the delta batch's token-window hashes
    * ([[ExactSubstrings.tokenWindowHashes]], the SAME definition as
    * batch and streaming) equi-join the base corpus's distinct-hash
    * index; every delta position whose window already exists in the
    * base is marked and gap-merged ([[ExactSubstrings.mergeMarks]],
    * also shared) into removable spans. Corpus carries the q267 plant
    * so cross-split repeated passages exist. At 100 TB the hash index
    * is appended per batch exactly like q291's band index; the probe
    * shuffles (id, pos, hash) longs for the delta only. Output:
    * doc_id, span, tok_start, tok_end, tok_len. */
  def q294IncrementalSubstr(s: SparkSession, dir: String): DataFrame = {
    val W = 20
    val corpus = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" " + QueriesExt9.q267Plant)))
        .otherwise(col("text")).as("text"))
    val hashes = ExactSubstrings.tokenWindowHashes(corpus, "text", "doc_id", W)
    val baseIdx = hashes.filter(col("id") % 7 =!= 0)
      .select(col("h")).distinct()
    val marks = hashes.filter(col("id") % 7 === 0)
      .join(baseIdx, Seq("h"))
      .select(col("id"), col("pos"), (col("pos") + (W - 1)).as("e"))
      .dropDuplicates("id", "pos")
    ExactSubstrings.mergeMarks(marks)
      .select(col("id").as("doc_id"), col("span"),
        col("span_start").as("tok_start"), col("span_end").as("tok_end"),
        col("span_len").as("tok_len"))
  }
  val q294Sql: String = {
    def mid(c: String) = s"('0x' || substring(md5($c), 1, 15))::BIGINT"
    s"""WITH d0 AS (SELECT doc_id,
       |        CASE WHEN doc_id % 5 = 0 THEN text || ' ${QueriesExt9.q267Plant}'
       |             ELSE text END AS text
       |      FROM documents),
       |d AS (SELECT doc_id,
       |        string_split_regex(trim(lower(text)), '\\s+') AS toks
       |      FROM d0),
       |w AS (SELECT doc_id, unnest(range(1, len(toks) - 18)) AS pos, toks
       |      FROM d WHERE len(toks) >= 20),
       |g AS (SELECT doc_id, pos,
       |        ${mid("array_to_string(toks[pos:pos+19], ' ')")} AS h
       |      FROM w),
       |idx AS (SELECT DISTINCT h FROM g WHERE doc_id % 7 <> 0),
       |mk AS (SELECT DISTINCT doc_id, pos, pos + 19 AS e
       |       FROM g JOIN idx USING (h) WHERE doc_id % 7 = 0),
       |mx AS (SELECT doc_id, pos, e,
       |         max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
       |       FROM mk),
       |sp AS (SELECT doc_id, pos, e,
       |         sum(CASE WHEN pe IS NULL OR pos > pe + 1 THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos)::BIGINT AS span
       |       FROM mx)
       |SELECT doc_id, span, min(pos) AS tok_start, max(e) AS tok_end,
       |       max(e) - min(pos) + 1 AS tok_len
       |FROM sp GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q295
  /** INCREMENTAL composed cut report — the delta twin of q292 and the
    * operation a MAINTAINED 100 TB corpus actually runs per ingest:
    * given the base corpus (doc_id % 7 ≠ 0, whose report and indexes
    * already exist) and an arriving delta batch (doc_id % 7 = 0 — ids
    * interleave the base, the BACKFILL shape, so the delta can contain
    * earlier-canonical documents that rewrite base dispositions), emit
    * the refreshed full report plus an `upd` provenance column:
    * `new` (delta doc), `changed` (base doc whose tier / dup_of /
    * cut_tokens moved), `same`.
    *
    * Per tier, the incremental algebra (each provably equal to the full
    * replay, which IS the oracle — the DuckDB side runs the complete
    * q292 chain on base-only and combined corpora and diffs them):
    *
    *  - exact: the maintained (fp → earliest base id) index merges with
    *    the delta batch's (fp → earliest delta id) — `keep` is their
    *    least; only fps the delta undercuts repair base rows.
    *  - neardup (star): delta band keys mark AFFECTED buckets; star
    *    candidates from unaffected buckets are exactly the base sweep's
    *    (membership unchanged — in production they are READ from the
    *    stored pair set, not recomputed), affected buckets re-star over
    *    (base members ∪ delta members) with the new least-id owner.
    *    Per ingest the new work is |delta| × bands buckets.
    *  - substring: the maintained per-hash first-occurrence index
    *    merges with the delta's; marks never shrink — delta occurrences
    *    mark wherever the combined first precedes them, and a base
    *    first occurrence is repaired (marked) exactly when the delta
    *    introduced an earlier one.
    *
    * All three tiers read ONE checkpointed planted corpus and ONE
    * checkpointed shingle frame (the q291/q292 single-pass discipline).
    * Output: doc_id, tier, dup_of, cut_tokens, upd. */
  def q295IncrementalCutReport(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactSubstrings
    val isDelta = col("doc_id") % 7 === 0
    val corpus = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" " + QueriesExt9.q267Plant)))
        .otherwise(col("text")).as("text"))
      .localCheckpoint(true)
    val nTok = corpus.select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))

    // ---- exact tier: two fp indexes merged into the combined keeper.
    val fpAll = corpus.select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val baseFpIdx = fpAll.filter(!isDelta).groupBy("fp")
      .agg(min("doc_id").as("bmin"))
    val deltaFpIdx = fpAll.filter(isDelta).groupBy("fp")
      .agg(min("doc_id").as("dmin"))
    val keepIdx = baseFpIdx.join(deltaFpIdx, Seq("fp"), "full_outer")
      .select(col("fp"), least(col("bmin"), col("dmin")).as("keep"),
        col("bmin"))
    def exCutOf(fps: DataFrame, keep: Column) = fps
      .join(keepIdx, Seq("fp"))
      .filter(col("doc_id") =!= keep)
      .select(col("doc_id"), keep.as("ex_dup_of"))
    val exCutC = exCutOf(fpAll, col("keep"))
    val exCutB = exCutOf(fpAll.filter(!isDelta), col("bmin"))

    // ---- neardup tier: star candidates with bucket provenance, so the
    // affected buckets (those the delta touches) re-star while the rest
    // carry over from the base sweep verbatim.
    val corpusSh = DedupFunctions.shingledDocs(corpus, "text", "doc_id", n = 2)
      .localCheckpoint(true)
    def bandedOf(pre: DataFrame) = {
      val sig = DedupFunctions.minhashSignaturesFromShingles(pre, 32, portable = true)
      sig.select(col("id"), col("n_sh"),
        posexplode(array(DedupFunctions.bandKeyColumns(col("sig"), 16, 2,
          portable = true): _*)).as(Seq("band", "bh")))
    }
    def starCand(members: DataFrame) = members
      .join(members.groupBy("band", "bh")
          .agg(min("id").as("id_a"), min_by(col("n_sh"), col("id")).as("n_a")),
        Seq("band", "bh"))
      .filter(col("id") > col("id_a"))
      .select(col("band"), col("bh"), col("id_a"), col("id").as("id_b"),
        col("n_a"), col("n_sh").as("n_b"))
    val baseBand = bandedOf(corpusSh.filter(col("id") % 7 =!= 0))
    val deltaBand = bandedOf(corpusSh.filter(col("id") % 7 === 0))
    val affected = deltaBand.select("band", "bh").distinct()
    val candBase = starCand(baseBand)
    val candUnaff = candBase.join(affected, Seq("band", "bh"), "left_anti")
    val candAff = starCand(
      baseBand.join(affected, Seq("band", "bh")).unionByName(deltaBand))
    // ONE exact-Jaccard verify over the distinct pair union, carrying
    // membership flags (most pairs belong to BOTH the base-only and the
    // combined candidate sets — verifying them twice doubled the round's
    // heaviest join): in_b = base-only report's pair set (candBase),
    // in_c = combined report's (candUnaff ∪ candAff).
    def flagged(cand: DataFrame, b: Boolean, c: Boolean) = cand
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        lit(b).as("in_b"), lit(c).as("in_c"))
    val pairs = flagged(candBase, b = true, c = false)
      .unionByName(flagged(candUnaff, b = false, c = true))
      .unionByName(flagged(candAff, b = false, c = true))
      .groupBy("id_a", "id_b")
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        max(col("in_b")).as("in_b"), max(col("in_c")).as("in_c"))
      .join(corpusSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(corpusSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")).cast("double") >= 0.05)
      .select("id_a", "id_b", "in_b", "in_c")
      .localCheckpoint(true) // read twice below, verified once
    def ndCutOf(flag: String) = pairs.filter(col(flag))
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("nd_dup_of"))
    val ndCutC = ndCutOf("in_c")
    val ndCutB = ndCutOf("in_b")

    // ---- substring tier: first-occurrence index merge; marks only grow.
    val W = 20
    val hashesAll = ExactSubstrings
      .tokenWindowHashes(corpus, "text", "doc_id", W)
      .localCheckpoint(true)
    val occ = struct(col("id"), col("pos"))
    val baseOcc = hashesAll.filter(col("id") % 7 =!= 0)
    val deltaOcc = hashesAll.filter(col("id") % 7 === 0)
    val baseFirst = baseOcc.groupBy("h").agg(min(occ).as("bf"))
    val deltaFirst = deltaOcc.groupBy("h").agg(min(occ).as("df"))
    val firstIdx = baseFirst.join(deltaFirst, Seq("h"), "full_outer")
      .select(col("h"), col("bf"), col("df"),
        least(col("bf"), col("df")).as("cf"))
    val baseDup = baseOcc.join(baseFirst, Seq("h"))
      .filter(occ =!= col("bf")).select(col("id"), col("pos"))
    val deltaMarks = deltaOcc.join(firstIdx, Seq("h"))
      .filter(occ =!= col("cf")).select(col("id"), col("pos"))
    val repairMarks = firstIdx
      .filter(col("df").isNotNull && col("bf").isNotNull && col("df") < col("bf"))
      .select(col("bf.id").as("id"), col("bf.pos").as("pos"))
    def trimOf(marks: DataFrame) = ExactSubstrings.mergeMarks(
        marks.select(col("id"), col("pos"), (col("pos") + (W - 1)).as("e")))
      .groupBy(col("id").as("doc_id"))
      .agg(sum(col("span_len")).as("substr_tokens"))
    val ssTrimC = trimOf(baseDup.unionByName(deltaMarks).unionByName(repairMarks))
    val ssTrimB = trimOf(baseDup)

    // ---- assembly: the q292 severity ladder, for both report versions.
    def report(base: DataFrame, exCut: DataFrame, ndCut: DataFrame,
               ssTrim: DataFrame) = base
      .join(nTok, Seq("doc_id"))
      .join(exCut, Seq("doc_id"), "left")
      .join(ndCut, Seq("doc_id"), "left")
      .join(ssTrim, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex_dup_of").isNotNull, "exact")
          .when(col("nd_dup_of").isNotNull, "neardup")
          .when(col("substr_tokens").isNotNull, "partial")
          .otherwise("keep").as("tier"),
        when(col("ex_dup_of").isNotNull, col("ex_dup_of"))
          .when(col("nd_dup_of").isNotNull, col("nd_dup_of")).as("dup_of"),
        when(col("ex_dup_of").isNotNull || col("nd_dup_of").isNotNull,
            col("n_tokens"))
          .when(col("substr_tokens").isNotNull, col("substr_tokens"))
          .otherwise(lit(0L)).cast("long").as("cut_tokens"))
    val repC = report(corpus.select("doc_id"), exCutC, ndCutC, ssTrimC)
    val repB = report(corpus.filter(!isDelta).select("doc_id"),
        exCutB, ndCutB, ssTrimB)
      .select(col("doc_id"), col("tier").as("b_tier"),
        col("dup_of").as("b_dup_of"), col("cut_tokens").as("b_cut"))
    repC.join(repB, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tier"), col("dup_of"), col("cut_tokens"),
        when(col("doc_id") % 7 === 0, "new")
          .when(col("tier") <=> col("b_tier") &&
            col("dup_of") <=> col("b_dup_of") &&
            col("cut_tokens") <=> col("b_cut"), "same")
          .otherwise("changed").as("upd"))
  }
  val q295Sql: String =
    s"""WITH rep_all AS (SELECT * FROM (${cutReportSql("TRUE")})),
       |rep_base AS (SELECT * FROM (${cutReportSql("doc_id % 7 <> 0")}))
       |SELECT a.doc_id, a.tier, a.dup_of, a.cut_tokens,
       |  CASE WHEN a.doc_id % 7 = 0 THEN 'new'
       |       WHEN a.tier IS NOT DISTINCT FROM b.tier
       |            AND a.dup_of IS NOT DISTINCT FROM b.dup_of
       |            AND a.cut_tokens IS NOT DISTINCT FROM b.cut_tokens THEN 'same'
       |       ELSE 'changed' END AS upd
       |FROM rep_all a LEFT JOIN rep_base b USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- q296
  /** APPLY the substring-dedup spans — the step after every report query:
    * q267/q292/q295 say WHAT to cut; this materializes the curated
    * corpus, removing each marked token span from its document (Lee et
    * al. 2021's ExactSubstr cut, executed). Output per doc: the kept
    * token count, the cut count, and the canonical (lowercased,
    * single-spaced) trimmed text — the token currency every downstream
    * operator of this engine consumes. Docs the tier ladder would DROP
    * outright are one `tier NOT IN ('exact','neardup')` filter on q292's
    * already-pinned output away, so this query isolates the one new
    * primitive: span-complement reconstruction.
    *
    * Scale shape: spans per doc are a bounded list (collect_list after
    * the span op's per-doc grain), broadcast-joined back to the corpus
    * scan; the reconstruction is a narrow higher-order projection
    * (sequence → filter-by-span-membership → array_join) — no extra
    * shuffle beyond the span op itself, TEXT never shuffles. */
  def q296ApplyTrim(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactSubstrings
    val corpus = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" " + QueriesExt9.q267Plant)))
        .otherwise(col("text")).as("text"))
      .localCheckpoint(true) // read by the span op AND the reconstruction
    val spans = ExactSubstrings.duplicateTokenSpans(corpus, "text", "doc_id", W = 20)
      .groupBy(col("id").as("doc_id"))
      .agg(collect_list(struct(col("tok_start"), col("tok_end"))).as("spans"))
    val toks = TextFunctions.tokens(col("text"))
    val sp = coalesce(col("spans"),
      array().cast("array<struct<tok_start:long,tok_end:long>>"))
    val kept = filter(
      transform(sequence(lit(1L), size(toks).cast("long")), i =>
        struct(i.as("i"), element_at(toks, i.cast("int")).as("tok"))),
      x => !exists(sp, sg =>
        x.getField("i") >= sg.getField("tok_start") &&
          x.getField("i") <= sg.getField("tok_end")))
    corpus.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(kept).cast("long").as("n_tokens_kept"),
        (size(toks) - size(kept)).cast("long").as("n_tokens_cut"),
        array_join(transform(kept, x => x.getField("tok")), " ").as("text_kept"))
  }
  val q296Sql: String = q296SqlFor("TRUE")
  /** q296's reconstruction over a documents subset — predicate-
    * parameterized like [[QueriesExt9.q267SqlFor]]/[[cutReportSql]] so
    * q299's size-adaptive sample replays the SAME chain. */
  private def q296SqlFor(whereSql: String): String = {
    val planted = "CASE WHEN doc_id % 5 = 0 THEN text || ' " +
      QueriesExt9.q267Plant + "' ELSE text END"
    s"""WITH sp AS (SELECT * FROM (${QueriesExt9.q267SqlFor(whereSql)})),
       |tok AS (SELECT doc_id,
       |          string_split_regex(trim(lower($planted)), '\\s+') AS toks
       |        FROM documents WHERE $whereSql),
       |pos AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i FROM tok),
       |keep AS (SELECT p.doc_id, p.i FROM pos p
       |         WHERE NOT EXISTS (SELECT 1 FROM sp s
       |           WHERE s.doc_id = p.doc_id
       |             AND p.i BETWEEN s.tok_start AND s.tok_end)),
       |kept AS (SELECT k.doc_id, count(*)::BIGINT AS n_tokens_kept,
       |           string_agg(t.toks[k.i], ' ' ORDER BY k.i) AS text_kept
       |         FROM keep k JOIN tok t USING (doc_id) GROUP BY 1)
       |SELECT t.doc_id,
       |  coalesce(kp.n_tokens_kept, 0)::BIGINT AS n_tokens_kept,
       |  (len(t.toks) - coalesce(kp.n_tokens_kept, 0))::BIGINT AS n_tokens_cut,
       |  coalesce(kp.text_kept, '') AS text_kept
       |FROM tok t LEFT JOIN kept kp USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------- q297
  /** Incremental EMBEDDING near-dup maintenance — the q291 shape at the
    * embedding grain, completing the maintained-dedup family across
    * every modality this engine dedups (whole-doc q293 / near-dup q291 /
    * substring q294 / semantic-vector q297): the q32 injected
    * near-duplicates (perturbed copies, id + 1e6 — "re-encoded vectors
    * arriving") are the DELTA batch, probing the base corpus's SRP band
    * index via [[graft.functions.Similarity.cosineNearDupProbe]] — one
    * (band, bkey) equi-join against an appendable bucketed table, never
    * base×base. Literal-plane SRP family, so the oracle replays
    * projection → bucket → band probe → exact-cosine verify
    * value-for-value. Output: id_new, id_base, sim. */
  def q297IncrementalEmbedNeardup(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val delta = e.filter(col("vec_id") % 17 === 0).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      concat(array(element_at(col("embedding"), 1) + lit(0.25)),
        slice(col("embedding"), 2, 63)).as("embedding"))
    graft.functions.Similarity.cosineNearDupProbe(
      base = e, delta = delta, threshold = 0.9,
      planes = QueriesExt.srpPlanes)
  }
  val q297Sql: String = {
    def projs = (0 until 8).map(j =>
      s"${QueriesExt.projSql("v", j)} AS p$j").mkString(",\n       |         ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dd AS (SELECT vec_id + 1000000 AS vec_id, [v[1] + 0.25] || v[2:64] AS v
       |       FROM e WHERE vec_id % 17 = 0),
       |be0 AS (SELECT vec_id, v,
       |         $projs
       |       FROM e),
       |be AS (SELECT vec_id, v, ${QueriesExt.bucketFromPs} AS bucket FROM be0),
       |bd0 AS (SELECT vec_id, v,
       |         $projs
       |       FROM dd),
       |bd AS (SELECT vec_id, v, ${QueriesExt.bucketFromPs} AS bucket FROM bd0),
       |bbe AS (SELECT vec_id, v, band, (bucket >> (band * 4)) & 15 AS bkey
       |        FROM be, (SELECT unnest([0, 1]) AS band) bands),
       |bbd AS (SELECT vec_id, v, band, (bucket >> (band * 4)) & 15 AS bkey
       |        FROM bd, (SELECT unnest([0, 1]) AS band) bands),
       |pair AS (SELECT d.vec_id AS id_new, c.vec_id AS id_base,
       |                any_value(d.v) AS vd, any_value(c.v) AS vc
       |         FROM bbd d JOIN bbe c
       |           ON d.band = c.band AND d.bkey = c.bkey
       |         GROUP BY 1, 2),
       |s AS (SELECT id_new, id_base,
       |        ${QueriesExt.cosSql("vd", "vc")} AS sim
       |      FROM pair)
       |SELECT id_new, id_base, round(sim, 6) AS sim FROM s WHERE sim >= 0.9""".stripMargin
  }

  // ---------------------------------------------------------------- q298
  /** The MAINTAINED cut report under the value oracle — q292's report
    * produced not by the one-shot batch sweep but by
    * [[graft.operators.CutReportMaintenance]] itself: three interleaved
    * backfill ingests (doc_id ≡ 1, 2, 0 mod 3 — later ingests carry
    * EARLIER ids, forcing exact-keeper undercuts, star-owner
    * rescissions, and substring first-occurrence repairs) against a
    * fresh persistent state dir, then the stored report served back.
    * The oracle is the COMPLETE q292 chain — so the convergence
    * property the spec pins (interleaved incremental maintenance ≡
    * full batch replay) is here VALUE-CHECKED row-for-row by an
    * independent engine, closing the one gap in the maintained
    * pipeline's verification story (it was ScalaTest-only).
    *
    * The returned frame is checkpoint-backed (the temp state dir is
    * deleted before returning). Scale shape: each ingest is the q291/
    * q293/q294 probe algebra against retained segment indexes —
    * per-ingest work ∝ batch + touched state, measured by
    * CutMaintScale; this query exists for the oracle, not the plan. */
  def q298MaintainedCutReport(s: SparkSession, dir: String): DataFrame = {
    // Size-adaptive deterministic sample (r14 perf audit note): the
    // convergence property is scale-invariant, so above ~6k docs the
    // demonstration runs on every s-th id instead of the full corpus
    // (s = n/6000; identity at the sf0.01 gate and at sf0.1 — the cap
    // only bites the sf≥1 endurance runs, where the full form cost
    // 80 s). The oracle computes the SAME modulus from the same table.
    val all = docs(s, dir)
    val samp = math.max(1L, all.count() / 6000L)
    val corpus = all.filter(col("doc_id") % samp === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" " + QueriesExt9.q267Plant)))
          .otherwise(col("text")).as("text"))
      .localCheckpoint(true)
    val state = java.nio.file.Files.createTempDirectory("graft-q298").toString
    try {
      Seq(1L, 2L, 0L).foreach { r =>
        graft.operators.CutReportMaintenance.ingest(s, state,
          corpus.filter(col("doc_id") % 3 === r))
      }
      graft.operators.CutReportMaintenance.report(s, state)
        .localCheckpoint(true)
    } finally VersionedDir.deleteTree(new java.io.File(state))
  }
  val q298Sql: String = cutReportSql(
    "doc_id % (SELECT greatest(1, count(*) // 6000) FROM documents) = 0")

  // ---------------------------------------------------------------- q299
  /** The maintained APPLY surface under the value oracle — the curated
    * corpus [[graft.operators.CutReportMaintenance.curatedCorpus]]
    * serves off its stored marks and report (drop exact/neardup/embdup
    * docs, span-complement-trim the rest), after one full-corpus
    * ingest into a fresh state dir. The oracle reconstructs the same
    * artifact independently: q296's span chain + ordered string_agg,
    * joined to q292's tier ladder filtered to the kept tiers — the
    * trimmed TEXT is value-exact, so the maintained marks, the span
    * merge, and the reconstruction are all pinned by DuckDB, not just
    * by the ScalaTest equality with q296. Checkpoint-backed like q298. */
  def q299MaintainedCurated(s: SparkSession, dir: String): DataFrame = {
    // Size-adaptive deterministic sample, the q298 discipline (r15
    // verdict #7): the maintained-APPLY property is scale-invariant,
    // so above ~6k docs the demonstration ingests every samp-th id —
    // identity at the sf0.01 gate and at sf0.1; at sf1 this was the
    // endurance sweep's second-costliest query (19.6 s, one full
    // ingest). The oracle computes the SAME modulus from the table.
    val all = docs(s, dir)
    val samp = math.max(1L, all.count() / 6000L)
    val corpus = all.filter(col("doc_id") % samp === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" " + QueriesExt9.q267Plant)))
          .otherwise(col("text")).as("text"))
      .localCheckpoint(true)
    val state = java.nio.file.Files.createTempDirectory("graft-q299").toString
    try {
      graft.operators.CutReportMaintenance.ingest(s, state, corpus)
      graft.operators.CutReportMaintenance.curatedCorpus(s, state)
        .localCheckpoint(true)
    } finally VersionedDir.deleteTree(new java.io.File(state))
  }
  val q299Sql: String = {
    val samplePred =
      "doc_id % (SELECT greatest(1, count(*) // 6000) FROM documents) = 0"
    s"""SELECT r.doc_id, r.tier, a.n_tokens_kept, a.n_tokens_cut, a.text_kept
       |FROM (${q296SqlFor(samplePred)}) a
       |JOIN (${cutReportSql(samplePred)}) r USING (doc_id)
       |WHERE r.tier NOT IN ('exact', 'neardup', 'embdup')""".stripMargin
  }


  // ------------------------------------------------------------ registry
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q291_incremental_neardup" -> (q291IncrementalNeardup _),
    "q292_cut_report" -> (q292CutReport _),
    "q293_incremental_exact" -> (q293IncrementalExact _),
    "q294_incremental_substr" -> (q294IncrementalSubstr _),
    "q295_incremental_cut_report" -> (q295IncrementalCutReport _),
    "q296_apply_trim" -> (q296ApplyTrim _),
    "q297_incremental_embed_neardup" -> (q297IncrementalEmbedNeardup _),
    "q298_maintained_cut_report" -> (q298MaintainedCutReport _),
    "q299_maintained_curated" -> (q299MaintainedCurated _))

  val oracles: Map[String, String] = Map(
    "q291_incremental_neardup" -> q291Sql,
    "q292_cut_report" -> q292Sql,
    "q293_incremental_exact" -> q293Sql,
    "q294_incremental_substr" -> q294Sql,
    "q295_incremental_cut_report" -> q295Sql,
    "q296_apply_trim" -> q296Sql,
    "q297_incremental_embed_neardup" -> q297Sql,
    "q298_maintained_cut_report" -> q298Sql,
    "q299_maintained_curated" -> q299Sql)
}
