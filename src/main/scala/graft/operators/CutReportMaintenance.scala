package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.SessionBridge

import graft.functions.{DedupFunctions, ExactSubstrings, Similarity, TextFunctions}

/** MAINTAINED composed cut report — the persistent-state form of the
  * dedup arc (batch q292 → incremental probes q291/q293/q294/q297 →
  * one-query incremental q295): a pipeline that owns parquet-backed
  * indexes and, per ingest batch, does work proportional to the BATCH
  * and the state it touches — never to the corpus — while its stored
  * report stays equal to the full batch replay
  * ([[graft.QueriesExt11.q292CutReport]]'s algebra; the convergence
  * spec pins exactly that, three interleaved backfill ingests → one
  * batch report). This is what "dedup as a maintained capability"
  * executes in production: the q295 query demonstrates one delta in one
  * plan; this operator RETAINS the indexes between deltas.
  *
  * Every state table is a family of per-version parquet SEGMENTS under
  * `stateDir` (r14: the r13 design still rewrote `nd_pairs` and
  * `report` whole per ingest — an O(corpus) write that defeated the
  * delta shape everywhere else; both are now segment-maintained too):
  *
  *  - `docs`       (doc_id, text, n_tokens, fp) — the corpus itself;
  *                 text is retained because exact-Jaccard verification
  *                 of a later bucket collision needs the OLD member's
  *                 shingles (bounded: only affected buckets' members
  *                 are ever re-read). Append-only.
  *  - `fp_index`   (fp, keep_id, v) — exact tier, overlay-latest: each
  *                 write lands the key's MERGED keeper stamped with the
  *                 version; reads take max_by(v) per key (latest-wins,
  *                 so [[deleteDocs]] can move a keeper — a min-fold
  *                 could not un-min).
  *  - `band_index` (band, bh, id, n_sh) — near-dup tier: every doc's
  *                 LSH band keys, the q291 probe target. Append-only.
  *  - `nd_pairs`   (band, bh, id_a, id_b, v) — VERIFIED star pairs with
  *                 bucket provenance and the writing version;
  *  - `nd_tombs`   (band, bh, v) — bucket-keyed TOMBSTONES: a bucket
  *                 whose owner changes retracts exactly its own pairs
  *                 (every pair row older than the newest tombstone for
  *                 its bucket is dead) without touching any other
  *                 bucket — the per-ingest write is O(new pairs +
  *                 changed buckets), never O(stored pairs).
  *  - `hash_index` (h, id, pos, v) — substring tier, overlay-latest
  *                 first occurrences (latest-wins like fp_index).
  *  - `marks`      (h, id, pos, v) — accumulated duplicate-window marks
  *                 with their window hash (so deletion can recompute a
  *                 surviving first FROM the marks) and version;
  *  - `marks_byh`  — compaction-maintained SIDECAR of the folded marks,
  *                 hash-bucketed by `h` (the id-bucketed `marks` copy
  *                 serves touched-id reads; this one lets deletion's
  *                 h-keyed first-occurrence sweep prune files). Derived
  *                 data — never read except via the sweep.
  *  - `mark_tombs` (id, pos, v) — versioned un-marks written when a
  *                 deletion makes a marked occurrence the new first (a
  *                 later backfill can re-mark it at a higher version).
  *  - `doc_tombs`  (doc_id, v) — deleted ids; every content-table read
  *                 anti-joins them (skipped while empty) until the next
  *                 [[compact]] purges the rows physically.
  *  - `vecs`       (doc_id, emb, nrm) — the embedding tier's vectors
  *                 (optional: batches without an `emb` column skip the
  *                 tier). Append-only.
  *  - `vec_index`  (band, bkey, id) — SRP band keys (the q297 probe
  *                 target). Append-only.
  *  - `vec_pairs` / `vec_tombs` — the embedding tier's verified star
  *                 pairs + bucket tombstones, maintained exactly like
  *                 nd_pairs/nd_tombs.
  *  - `report`     (doc_id, tier, dup_of, cut_tokens, v) — the served
  *                 artifact as touched-row OVERLAY segments: each
  *                 ingest lands only the rows it touched, stamped with
  *                 its version; [[report]] folds latest-version-wins
  *                 (one `max_by` per doc — skipped entirely when
  *                 compaction has left a single live segment).
  *
  * Per-ingest delta shape: the batch's fingerprints/band keys/window
  * hashes/SRP keys probe the indexes (equi-joins on bounded keys, the
  * q291/q293/q294/q297 algebra); only AFFECTED buckets re-star and
  * re-verify; only hashes the batch undercuts repair old marks; and the
  * report overlay holds ONLY touched doc_ids. Nothing O(corpus) is
  * materialized or written per ingest — the index probes above scan
  * committed segments but aggregate only the keys the batch touches
  * (at 100 TB each index is a key-bucketed table and every probe is a
  * co-located equi-join; the CutMaintScale `steady` arm measures the
  * fixed-batch ingest wall staying flat as the corpus accumulates).
  *
  * Concurrency: a state dir is SINGLE-WRITER. [[ingest]] and
  * [[compact]] take an exclusive OS file lock (`_lock`) for their
  * duration — a second concurrent writer fails fast instead of racing
  * the version pointer and silently interleaving half-applied state
  * (r13 review). The lock is advisory between processes and re-entrant
  * nowhere; readers never take it (they see the last committed version).
  *
  * Assumes append/backfill ingest: doc_ids are unique across all
  * ingests. A changed document is a [[deleteDocs]] followed by an
  * ingest under a fresh id; re-ingesting a previously-deleted id is out
  * of contract. */
object CutReportMaintenance {

  /** `n`/`numHashes`/`bands`/`threshold` — the text near-dup tier;
    * `W` — the substring tier's window; `vecBits`/`vecBands`/`vecDim`/
    * `vecThreshold` — the embedding tier's SRP family. All of them are
    * STATE-SHAPING: the first ingest persists them into `_params` and
    * every later writer must present the same values (mixing families
    * across ingests would silently corrupt every index). */
  final case class Params(n: Int = 2, numHashes: Int = 32, bands: Int = 16,
                          threshold: Double = 0.05, W: Int = 20,
                          portable: Boolean = true,
                          vecBits: Int = 8, vecBands: Int = 2,
                          vecDim: Int = 64, vecThreshold: Double = 0.9)

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  // ---- persisted params: written once by the first ingest, immutable
  // after (r13 review: compact() guessed `portable` for empty-table
  // schemas; now every reader that lacks a Params argument reads the
  // stored truth, and a writer presenting different params fails fast).

  /** On-disk layout version, stamped into `_params` (r14 review: a
    * state dir written by an OLDER layout was silently misread — old
    * segment paths never read, old schemas read back as nulls). Bump on
    * any incompatible change; openers fail fast on a mismatch instead
    * of serving wrong answers. 2 = r15: layout stamp itself + hash-
    * bucketed compacted segments (`_nbuckets` dirs). 3 = r16: OWNER-
    * SUMMARY indexes (`band_owners`/`vec_owners`) that every ingest
    * consults INSTEAD of aggregating bucket membership — a layout-2
    * dir has no owner rows, so the new reader would silently treat
    * every stored bucket as brand-new (no retraction tombstones →
    * stale pairs served); refusing is mandatory, hence the bump. (The
    * r16 `marks_byh`/`docs_byfp` sidecars and the `id_map` table ARE
    * additive — absent dirs read as empty/unpruned.)
    *
    * OPERATOR PLAYBOOK for a refused state dir (there is deliberately
    * no in-place migration — a half-migrated dir is worse than a
    * refused one). Two exits:
    *
    *  1. REBUILD FROM SOURCE (preferred): point a fresh state dir at
    *     the original ingest feed and replay it — per-lineage
    *     `_applied_*` markers make redelivery safe, and convergence
    *     guarantees the rebuilt report equals the old one over the
    *     same corpus.
    *  2. EXPORT + RE-INGEST: with the LIBRARY VERSION THAT WROTE the
    *     dir, dump the corpus (`seg_docs` union, or [[curatedCorpus]]'s
    *     inputs) and any vectors to plain parquet; then [[ingest]] that
    *     dump into a fresh dir with the current version (one batch or
    *     many — the report converges either way). Use when the source
    *     feed is gone.
    *
    * Never copy segment dirs between layouts by hand: readers trust
    * `_nbuckets`/`_seg_floor`/`_applied_*` markers that are only
    * coherent as a set. */
  private val LayoutVersion = 3

  private def paramsPath(stateDir: String) =
    java.nio.file.Paths.get(s"$stateDir/_params")

  private def writeParams(stateDir: String, p: Params): Unit = {
    val body = Seq(
      s"layout=$LayoutVersion",
      s"n=${p.n}", s"numHashes=${p.numHashes}", s"bands=${p.bands}",
      s"threshold=${p.threshold}", s"W=${p.W}", s"portable=${p.portable}",
      s"vecBits=${p.vecBits}", s"vecBands=${p.vecBands}",
      s"vecDim=${p.vecDim}", s"vecThreshold=${p.vecThreshold}"
    ).mkString("", "\n", "\n")
    // Atomic like the version pointer (r14 review): a crash mid-write
    // must never leave a truncated _params wedging the dir.
    VersionedDir.writeAtomically(paramsPath(stateDir), body)
  }

  private[operators] def storedParams(stateDir: String): Option[Params] = {
    val f = paramsPath(stateDir)
    if (!java.nio.file.Files.exists(f)) None
    else {
      val kv =
        try new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
          .linesIterator.filter(_.contains("=")).map { l =>
            val Array(k, v) = l.split("=", 2); (k.trim, v.trim)
          }.toMap
        catch { case e: Exception => throw new IllegalStateException(
          s"malformed _params at $f — repair or rebuild the state dir", e) }
      val layout = kv.get("layout").map(_.toInt).getOrElse(0)
      if (layout != LayoutVersion) throw new IllegalStateException(
        s"state dir layout $layout at $f is not the supported layout " +
          s"$LayoutVersion — written by a different library version; " +
          "there is no in-place migration. Exits (see the LayoutVersion " +
          "playbook in CutReportMaintenance): rebuild from the source " +
          "feed into a fresh dir, or export the docs with the writing " +
          "library version and re-ingest them here")
      try Some(Params(kv("n").toInt, kv("numHashes").toInt, kv("bands").toInt,
        kv("threshold").toDouble, kv("W").toInt, kv("portable").toBoolean,
        kv("vecBits").toInt, kv("vecBands").toInt, kv("vecDim").toInt,
        kv("vecThreshold").toDouble))
      catch { case e: Exception => throw new IllegalStateException(
        s"malformed _params at $f (missing or unparsable keys) — " +
          "repair or rebuild the state dir", e) }
    }
  }

  /** Fail fast on a state dir written by an unknown layout: committed
    * state (`_version` present) without a readable, version-stamped
    * `_params` is a pre-r15 or foreign dir — refusing beats silently
    * reading it wrong (r14 review). Called by every opener. */
  private def checkLayout(stateDir: String): Unit =
    if (VersionedDir(stateDir).current >= 0) {
      if (!java.nio.file.Files.exists(paramsPath(stateDir)))
        throw new IllegalStateException(
          s"state dir $stateDir has a _version pointer but no _params — " +
            "written by a pre-params layout; rebuild the state dir")
      storedParams(stateDir)
      ()
    }

  /** State-shaping invariants the hash families silently assume
    * (r14 review: vecBandedOf truncates vecBits/vecBands, dropping SRP
    * bucket bits without an error for non-default Params). */
  private def validateParams(p: Params): Unit = {
    require(p.bands > 0 && p.numHashes > 0 && p.numHashes % p.bands == 0,
      s"numHashes=${p.numHashes} must split evenly into bands=${p.bands} " +
        "(bandKeyColumns slices the signature into equal-width bands)")
    require(p.vecBands > 0 && p.vecBits > 0 && p.vecBits % p.vecBands == 0,
      s"vecBits=${p.vecBits} must split evenly into vecBands=${p.vecBands} " +
        "(vecBandedOf slices the SRP bucket into equal-width bands; a " +
        "remainder would silently drop the top bits)")
  }

  private def requireOrPersistParams(stateDir: String, p: Params): Unit = {
    validateParams(p)
    storedParams(stateDir) match {
      case Some(stored) => require(stored == p,
        s"state at $stateDir was built with $stored; refusing to ingest " +
          s"with mismatched $p — mixed hash families would corrupt every index")
      case None => writeParams(stateDir, p)
    }
  }

  // ---- single-writer, versioned state (r13 review): every writer holds
  // the state dir's [[VersionedDir]] lock, lands ALL its segments under
  // version n+1 and then moves the `_version` pointer onto it. A crash
  // mid-write leaves v<n> live and mutually consistent; the next writer
  // purges the orphaned v<n+1> segments ([[purgeOrphans]]).

  // ---- per-version SEGMENTS (r13 CutMaintScale measurement): each
  // ingest lands only ITS rows under seg_<name>/v<n>; readers union
  // every segment in [floor, committed version]. Index tables
  // re-aggregate on read (min is associative, so per-batch partial
  // minima ARE the global index); pair tables apply tombstones; the
  // report folds latest-version-wins. Crash safety is unchanged — an
  // orphaned v<n+1> segment is above the pointer, so readers ignore it
  // and the replay overwrites it.

  /** Segment floor: [[compact]] folds every live segment into one and
    * raises the floor (committed inside the versioned dir, so it flips
    * atomically WITH the pointer) — readers then ignore the superseded
    * segment dirs, which are GC'd one compaction later. */
  private def segFloor(stateDir: String): Long =
    VersionedDir(stateDir).committedText("_seg_floor").fold(0L)(_.toLong)

  private def segmentDirs(stateDir: String, name: String): Seq[(Long, String)] = {
    val d = new java.io.File(s"$stateDir/seg_$name")
    Option(d.listFiles()).toSeq.flatten
      .filter { f =>
        val n = f.getName
        f.isDirectory && n.startsWith("v") && n.drop(1).forall(_.isDigit)
      }
      .map(f => (f.getName.drop(1).toLong, f.getPath))
  }

  private def liveSegmentDirs(stateDir: String, name: String): Seq[String] = {
    val cur = VersionedDir(stateDir).current
    val floor = segFloor(stateDir)
    segmentDirs(stateDir, name)
      .collect { case (v, p) if v >= floor && v <= cur => p }
  }

  // ---- hash-bucketed segment layout (r15, the r14 verdict's last
  // named scale item): [[compact]] rewrites the big index/corpus tables
  // PARTITIONED by `pb = pmod(xxhash64(key…), B)`, B = rows/target
  // clamped to [1, MaxBuckets] per segment (recorded in the segment
  // dir's `_nbuckets` marker). Probes push the batch's touched-bucket
  // set into the read as a PARTITION filter, so a probe against the
  // compacted base reads only the files its keys can live in — bytes,
  // not just rows, stay O(batch keys × bucket size) as the corpus
  // grows (the CutMaintScale `probe` arm measures exactly this via the
  // scan metrics). Per-ingest batch segments stay unbucketed: they are
  // batch-sized and the next compaction folds them into the bucketed
  // base — the standard LSM read story. At 1000 executors the same pb
  // column is the co-location key.
  // Default bucket size trades probe pruning against file count: a
  // production deployment sizes B for ~100 MB bucket files (at 100 TB
  // the hash index lands on ~10⁶ buckets and any sane batch's key set
  // touches a vanishing fraction); locally the conf override
  // `spark.graft.cutmaint.targetBucketRows` lets the harness pick a B
  // large enough for pruning to be measurable at test corpus sizes.
  private val TargetBucketRows = 4096L
  private val MaxBuckets = 32768

  /** Tables with a stable probe key worth bucketing by. Tombstone
    * tables stay unbucketed — their live size is bounded by retraction
    * density and compaction folds them away. */
  private def bucketKey(name: String): Option[Seq[String]] = name match {
    case "docs" | "vecs" => Some(Seq("doc_id"))
    case "fp_index" => Some(Seq("fp"))
    case "band_index" => Some(Seq("band", "bh"))
    case "hash_index" => Some(Seq("h"))
    case "vec_index" => Some(Seq("band", "bkey"))
    // r16 owner-summary indexes: one row per LSH/SRP bucket, probed by
    // the batch's bucket keys (the flat-records fix — the owner-stable
    // path must never scan a hot bucket's membership just to learn its
    // min).
    case "band_owners" => Some(Seq("band", "bh"))
    case "vec_owners" => Some(Seq("band", "bkey"))
    // Pair tables are served by id_b (the per-doc dup_of fold reads
    // them restricted to the touched ids); bucket-keyed retraction
    // reads only happen for owner-CHANGED buckets, whose members are
    // already in hand — no pair read needed there at all.
    case "nd_pairs" | "vec_pairs" => Some(Seq("id_b"))
    // fp → doc_id sidecar of the docs fold (see docs_byfp below): the
    // exact tier's "who shares this fp" lookups prune by fp instead of
    // scanning the whole corpus projection.
    case "docs_byfp" => Some(Seq("fp"))
    // marks/report are read per-ingest restricted to the TOUCHED ids
    // (liveness of a marks row is (id, pos)-local, so an id-pruned
    // read composes with the tombstone fold); full folds (report(),
    // curatedCorpus) read them whole.
    case "marks" => Some(Seq("id"))
    // r16 (r15 verdict #3): deletion's h-keyed first-occurrence sweep
    // was the one remaining whole-table marks read — compact now dual-
    // publishes the SAME folded marks rows as an h-bucketed sidecar so
    // that sweep prunes files too. Derived data, only ever read by
    // [[marksPrunedByH]]; per-ingest marks segments stay single-copy.
    case "marks_byh" => Some(Seq("h"))
    case "report" => Some(Seq("doc_id"))
    // r16 unified feed: external-key → internal-generation mapping,
    // probed per batch by the batch's ext keys.
    case "id_map" => Some(Seq("ext_id"))
    // r17 string-keyed feed: external string key → allocated numeric
    // slot, probed per batch by the batch's key strings. A key's slot
    // never changes once allocated, so the fold is a plain dedup.
    case "key_map" => Some(Seq("ext_key"))
    case _ => None
  }

  private def pbCol(keys: Seq[String], b: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(b.toLong)).cast("int")

  private def segBuckets(path: String): Option[Int] = {
    val f = new java.io.File(s"$path/_nbuckets")
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toInt)
    else None
  }

  /** Nonempty-bucket manifest (r16 verdict "What's missing #2"): the
    * set of pb partition values that actually received rows, recorded
    * beside `_nbuckets` at segment-commit time from ONE directory
    * listing the writer does anyway — so the probe-time read needs no
    * per-path existence check at all. On an object store this is the
    * only portable form (per-key HEAD probes are the thing the
    * explicit-path plan exists to avoid); the `java.io.File` probe
    * below survives solely as the fallback for pre-manifest dirs. */
  private def segPbSet(path: String): Option[Set[Int]] = {
    val f = new java.io.File(s"$path/_pbset")
    if (!f.exists()) None
    else {
      val body = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      Some(if (body.isEmpty) Set.empty[Int]
        else body.split(",").map(_.trim.toInt).toSet)
    }
  }

  private def writePbManifest(dir: String): Unit = {
    val present = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("pb="))
      .map(_.getName.drop(3).toInt).sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_pbset"),
      present.mkString(",").getBytes("UTF-8"))
    ()
  }

  private def readSegments(spark: SparkSession, stateDir: String, name: String,
                           schema: StructType): DataFrame =
    readSegmentsPruned(spark, stateDir, name, schema, None)

  /** Union of the live segments; when `keys` is given (a frame whose
    * columns are the table's bucket key), each BUCKETED segment is read
    * with a partition filter on the keys' touched-pb set — collected
    * bounded (≤ min(|distinct keys|, MaxBuckets) ints; AuditAll-
    * audited) so the planner prunes FILES, not just rows. Unbucketed
    * (per-ingest) segments read whole — they are batch-sized. */
  private def readSegmentsPruned(spark: SparkSession, stateDir: String,
                                 name: String, schema: StructType,
                                 keys: Option[DataFrame]): DataFrame = {
    val dirs = liveSegmentDirs(stateDir, name)
    if (dirs.isEmpty) emptyDf(spark, schema)
    else {
      val tagged = dirs.map(d => (d, segBuckets(d)))
      val plain = tagged.collect { case (d, None) => d }
      val plainDf =
        if (plain.isEmpty) Nil
        else Seq(spark.read.schema(schema).parquet(plain: _*))
      val bucketedDfs = tagged.collect { case (d, Some(b)) => (b, d) }
        .groupBy(_._1).toSeq.map { case (b, ds) =>
          def whole = spark.read
            .schema(StructType(schema.fields :+ StructField("pb", IntegerType)))
            .parquet(ds.map(_._2): _*)
            .drop("pb")
          keys match {
            case Some(k) =>
              val touched = k.select(pbCol(bucketKey(name).get, b).as("pb"))
                .distinct().collect().map(_.getInt(0)).toSeq
              if (touched.isEmpty) emptyDf(spark, schema)
              // A key set touching most buckets prunes almost nothing
              // (r15 advice) — read unpruned past half the bucket count.
              else if (touched.size * 2 > b) whole
              else {
                // Enumerate the touched partition DIRECTORIES instead
                // of scanning the table with an isin filter: Spark's
                // file index lists the whole table (O(B) dirs — at the
                // harness's deliberately tiny bucket target that is
                // tens of thousands) before a partition filter prunes,
                // and the listing came to dominate probe wall time as
                // B grew (measured 12/30/53 s → 8/9/10 s per probe at
                // sf0.1/1/3). Explicit paths make planning O(touched);
                // a bucket dir that got no rows simply does not exist.
                // Existence comes from the `_pbset` manifest the writer
                // records at segment commit (r17 — the object-store
                // form: no per-path HEAD probes); a pre-manifest dir
                // degrades to the local-FS java.io.File probe.
                val paths = for {
                  (_, d) <- ds
                  pbset = segPbSet(d)
                  pb <- touched
                  p = s"$d/pb=$pb"
                  if pbset.fold(new java.io.File(p).exists())(_.contains(pb))
                } yield p
                if (paths.isEmpty) emptyDf(spark, schema)
                else spark.read.schema(schema).parquet(paths: _*)
              }
            case None => whole
          }
        }
      (plainDf ++ bucketedDfs).reduce(_.unionByName(_))
    }
  }

  /** The `spark.graft.cutmaint.*` tuning confs, each parsed here only.
    * Every writer calls [[checkConfs]] on entry, so a malformed value
    * fails before any segment lands and names its key. */
  private def cutmaintConf[T](spark: SparkSession, key: String, parse: String => T): Option[T] =
    spark.conf.getOption(s"spark.graft.cutmaint.$key").map { s =>
      try parse(s) catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.cutmaint.$key='$s' is not a number") }
    }
  private def segmentWriteFiles(spark: SparkSession): Int =
    cutmaintConf(spark, "segmentWriteFiles", _.toInt).getOrElse(1)
  private def deltaShufflePartitions(spark: SparkSession): Int =
    cutmaintConf(spark, "deltaShufflePartitions", _.toInt).getOrElse(8)
  private def targetBucketRows(spark: SparkSession): Long =
    cutmaintConf(spark, "targetBucketRows", _.toLong).getOrElse(TargetBucketRows)
  private def checkConfs(spark: SparkSession): Unit = {
    segmentWriteFiles(spark); deltaShufflePartitions(spark); targetBucketRows(spark); ()
  }

  /** Per-ingest segments are BATCH-grain by contract (never O(corpus)),
    * so their file count is bounded explicitly instead of relying on
    * AQE coalescing (disabled inside the delta-grain writers, see
    * [[onDeltaGrain]]): default one file per table per version —
    * the LSM layout compaction folds anyway — overridable for
    * deployments whose micro-batches are big enough to want parallel
    * segment writes (`spark.graft.cutmaint.segmentWriteFiles`). */
  private def writeSegment(df: DataFrame, stateDir: String, version: Long,
                           name: String): Unit = {
    val files = segmentWriteFiles(df.sparkSession)
    val w = if (files > 0) df.coalesce(files) else df
    w.write.mode("overwrite").parquet(s"$stateDir/seg_$name/v$version")
  }

  /** Run `body` on a delta-grain clone of `spark`, with `in` rebound
    * onto the clone and `body`'s result rebound onto `spark` — the
    * delta-grain writers' job-count fix (r18, measured): AQE
    * materializes EVERY exchange of every eager action as its own stage
    * job (241 of 299 Spark jobs in one traced q298 run were AQE stage
    * jobs, 544 of 652 in q300), and per-batch maintenance frames are
    * O(batch + touched) by contract — there is no skew to split and
    * nothing to coalesce that [[writeSegment]]'s explicit file bound
    * does not already handle, while each stage job costs a full driver
    * round-trip (network on a real cluster). A static plan also lets
    * independent stages of one action launch together instead of
    * through AQE's materialize-replan waves.
    *
    * The clone (`cloneSession`, not `newSession`: it keeps the caller's
    * runtime conf, e.g. `spark.graft.cutmaint.*`, functions and temp
    * views) takes AQE off and a static partition count sized for
    * MICRO-BATCH grain: at the guide's 100 MB–1 GB per shuffle
    * partition, a delta batch stays within the default up to ~1 GB of
    * batch — deployments ingesting bigger micro-batches set
    * `spark.graft.cutmaint.deltaShufflePartitions` (the number AQE's
    * coalescing converged to at measured batch sizes, as a static conf
    * instead of per-exchange replanning jobs). The caller's session is
    * never written, so a concurrent query or a second state dir plans
    * with its own conf throughout; the returned frame plans under the
    * caller's conf, as before. Scope: ingest/delete/applyOps only —
    * compact() folds the CORPUS, where AQE's coalescing genuinely earns
    * its jobs, and the serving reads (report/curatedCorpus/
    * maintainedView) run on the caller's session. */
  private def onDeltaGrain(spark: SparkSession, in: DataFrame)(
      body: (SparkSession, DataFrame) => DataFrame): DataFrame = {
    val delta = SessionBridge.cloneSession(spark)
    delta.conf.set("spark.sql.adaptive.enabled", "false")
    delta.conf.set("spark.sql.shuffle.partitions", deltaShufflePartitions(spark).toString)
    SessionBridge.rebind(body(delta, SessionBridge.rebind(in, delta)), spark)
  }

  /** Land independent per-version segments CONCURRENTLY (guide §2.6 —
    * actions are only sequential because the driver calls them
    * sequentially): each table's write is an independent job over an
    * already-checkpointed (or trivially derived) frame, targets its own
    * directory, and nothing below the version commit orders them among
    * themselves — only the commit must come after ALL of them. A
    * sequential landing pays one scheduler round-trip per tiny job
    * (~14 writes/ingest dominated the maintained-query wall); the pool
    * overlaps them and the stage tails back-fill each other. Any
    * failure propagates before the version pointer flips, so the
    * crash-safety story is unchanged (orphans at v<next> are purged by
    * the next writer). */
  private[operators] def landParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(tasks.size, 8))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      // Every task is wrapped in Try and ALL completions are awaited
      // before the first failure rethrows (r17 advice): rethrowing on
      // the first failure while sibling write futures were still in
      // flight let a straggler keep writing seg_*/v<next> after the
      // writer lock was released — a retrying writer computing the same
      // nextV could then race it on the same segment directory. With
      // the full barrier, no state-dir write can outlive this call.
      // Fatal errors are captured too: `Try` passes an OutOfMemoryError
      // through, its future never completes, and the barrier would hang
      // forever while holding the writer lock.
      try {
        val results = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            tasks.map(t => scala.concurrent.Future(
              try scala.util.Success(t())
              catch { case e: Throwable => scala.util.Failure[Unit](e) }))),
          scala.concurrent.duration.Duration.Inf)
        results.foreach(_.get)
      } finally pool.shutdown()
      ()
    }

  /** Skip-if-empty write (r14 review): unconditionally landing empty
    * tombstone/vector segments permanently disabled the
    * `tombsKnownEmpty` fast path for pure-append workloads and taxed
    * every read with one segment dir per table per version. Callers
    * pass frames that are (derived from) eager checkpoints, so the
    * emptiness probe is a cheap limit-1 job, not a recompute. Prefer
    * [[cpCount]] + a count-gated [[writeSegment]] where the frame is
    * checkpointed anyway — that learns emptiness for free. */
  private def writeSegmentUnlessEmpty(df: DataFrame, stateDir: String,
                                      version: Long, name: String): Unit =
    if (!df.isEmpty) writeSegment(df, stateDir, version, name)

  /** Materialize AND count in ONE Spark job (r18, guide §1.2 — the
    * maintained family's cost is driver round-trips, not compute): a
    * LAZY localCheckpoint's first action both caches the partitions
    * and truncates lineage, so running `count()` as that first action
    * doubles as the materialization job. The old shape paid one eager-
    * checkpoint job plus a separate `isEmpty` probe before most writes
    * — two scheduler round-trips for one answer. */
  private def cpCount(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(false)
    (cp, cp.count())
  }

  /** Compaction's writer: the folded table lands hash-bucketed when it
    * has a bucket key and enough rows to matter (the count doubles as
    * the skip-if-empty probe; callers checkpoint the fold first so the
    * count does not recompute it). */
  private def writeSegmentBucketed(df: DataFrame, stateDir: String,
                                   version: Long, name: String): Unit =
    bucketKey(name) match {
      case None => writeSegmentUnlessEmpty(df, stateDir, version, name)
      case Some(keys) =>
        val rows = df.count()
        // Conf override so tests can force B > 1 on tiny corpora; the
        // recorded per-segment _nbuckets keeps reads self-describing
        // whatever the writer's setting was.
        val target = targetBucketRows(df.sparkSession)
        val b = math.min(MaxBuckets.toLong,
          (rows + target - 1) / target).toInt
        if (rows == 0L) ()
        else if (b <= 1) writeSegment(df, stateDir, version, name)
        else {
          val dir = s"$stateDir/seg_$name/v$version"
          df.withColumn("pb", pbCol(keys, b))
            .repartition(col("pb"))
            .write.mode("overwrite").partitionBy("pb").parquet(dir)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/_nbuckets"),
            b.toString.getBytes("UTF-8"))
          writePbManifest(dir)
        }
    }

  /** SIDECAR-backed pruned read: a table read by a key its main copy
    * is not bucketed for. Versions covered by the compaction-
    * maintained sidecar (same rows as that version's main fold,
    * projected to the sidecar schema, bucketed by the OTHER key) read
    * from it PRUNED to `keys`' touched buckets; every other live
    * version (per-ingest, batch-sized — or a pre-sidecar dir, which
    * degrades to an unpruned read instead of a wrong one) reads whole
    * from the main table and is projected here. Union = exactly the
    * live rows, once each, at the sidecar schema. Pruning is
    * file-level — callers still semi-join their key set. */
  private def sidecarReadPruned(spark: SparkSession, stateDir: String,
                                mainName: String, sidecarName: String,
                                mainSchema: StructType,
                                sidecarSchema: StructType,
                                keys: DataFrame,
                                projectMain: DataFrame => DataFrame)
      : DataFrame = {
    val cur = VersionedDir(stateDir).current
    val floor = segFloor(stateDir)
    val sidecarVs = segmentDirs(stateDir, sidecarName)
      .collect { case (v, _) if v >= floor && v <= cur => v }.toSet
    val dirs = segmentDirs(stateDir, mainName)
      .collect { case (v, p) if v >= floor && v <= cur &&
        !sidecarVs.contains(v) => (p, segBuckets(p)) }
    val fromMain: Seq[DataFrame] = {
      val plain = dirs.collect { case (d, None) => d }
      val bucketed = dirs.collect { case (d, Some(b)) => (b, d) }
      ((if (plain.isEmpty) Nil
        else Seq(spark.read.schema(mainSchema).parquet(plain: _*))) ++
        bucketed.groupBy(_._1).toSeq.map { case (_, ds) =>
          spark.read
            .schema(StructType(mainSchema.fields :+
              StructField("pb", IntegerType)))
            .parquet(ds.map(_._2): _*).drop("pb")
        }).map(projectMain)
    }
    (fromMain :+ readSegmentsPruned(spark, stateDir, sidecarName,
      sidecarSchema, Some(keys)))
      .reduce(_.unionByName(_))
  }

  /** The h-keyed view of the live marks (deletion's first-occurrence
    * sweep). */
  private def marksPrunedByH(spark: SparkSession, stateDir: String,
                             hKeys: DataFrame): DataFrame =
    sidecarReadPruned(spark, stateDir, "marks", "marks_byh",
      marksSchema, marksSchema, hKeys, identity)

  /** The fp-keyed (fp, doc_id) view of the live corpus — "who shares
    * this fingerprint" without scanning the whole docs projection. */
  private def docsByFp(spark: SparkSession, stateDir: String,
                       fpKeys: DataFrame): DataFrame =
    sidecarReadPruned(spark, stateDir, "docs", "docs_byfp",
      docsSchema, docsByFpSchema, fpKeys, _.select("fp", "doc_id"))

  /** Tombstone semantics for the pair tables: a pair row written at
    * version `v` is live iff no tombstone for its bucket carries a
    * LATER version (an ingest that re-stars a bucket tombstones it at
    * version n and writes the re-verified pairs at the same n — they
    * survive their own tombstone, everything older dies). When there
    * are no tombstones at all the fold is skipped — post-compaction
    * reads are a plain segment union. */
  private def livePairs(pairSegs: DataFrame, tombs: DataFrame,
                        k1: String, k2: String,
                        tombsKnownEmpty: Boolean): DataFrame =
    if (tombsKnownEmpty) pairSegs
    else {
      val mt = tombs.groupBy(k1, k2).agg(max("v").as("_tv"))
      pairSegs.join(mt, Seq(k1, k2), "left")
        .filter(col("_tv").isNull || col("v") >= col("_tv"))
        .drop("_tv")
    }

  private val allTables = Seq("docs", "docs_byfp", "fp_index",
    "band_index", "band_owners", "hash_index", "marks", "marks_byh",
    "mark_tombs", "vecs", "vec_index", "vec_owners",
    "nd_pairs", "nd_tombs", "vec_pairs", "vec_tombs", "doc_tombs", "report",
    "id_map", "key_map")

  /** Purge every table's segment dir at the version about to be
    * written. A crashed writer leaves orphans at cur+1; "the redelivery
    * overwrites them" only holds when the next committed operation
    * writes the SAME tables — a crashed deleteDocs followed by an
    * ingest would otherwise expose the delete's doc-tombstone segment
    * (half a deletion, no repairs) the moment the ingest's commit lands
    * on the same version slot, and skip-if-empty widens the same hole
    * to every table. Every writer clears the slot first. */
  private def purgeOrphans(stateDir: String, version: Long): Unit =
    allTables.foreach { name =>
      val d = new java.io.File(s"$stateDir/seg_$name/v$version")
      VersionedDir.deleteTree(d)
    }

  /** Fold every live segment of each table into ONE segment at a fresh
    * version and raise the segment floor — the maintenance window's
    * compaction step. Append-only tables union-fold; the pair tables
    * fold to their LIVE rows (tombstones applied, then dropped); the
    * report folds latest-version-wins to one row per doc. Read-side
    * cost per ingest is O(live segments); periodic compaction keeps
    * that amortized O(1) per ingest the way any LSM-ish store does
    * (the CutMaintScale `compactArm` measures the wall and the
    * before/after ingest cost). Crash-safe like ingest: everything
    * lands under v<next> (merged segments + the raised `_seg_floor` +
    * carried markers) before the pointer flips; a crash mid-compaction
    * leaves the old floor and segments intact. Superseded segment dirs
    * are GC'd ONE COMPACTION LATER (r13 review: a lazy [[report]]
    * DataFrame handed out before the compaction stays readable). */
  def compact(spark: SparkSession, stateDir: String): Unit =
    VersionedDir(stateDir).withWriterLock {
      checkConfs(spark)
      checkLayout(stateDir)
      val curV = VersionedDir(stateDir).current
      require(curV >= 0, s"nothing to compact at $stateDir")
      val p = storedParams(stateDir).getOrElse(Params())
      val nextV = curV + 1
      purgeOrphans(stateDir, nextV)
      val floorBefore = segFloor(stateDir)
      val (delIds, noDel) = deletedIds(spark, stateDir)
      def alive(df: DataFrame, c: String) = aliveBy(df, c, delIds, noDel)
      def rd(name: String) =
        readSegments(spark, stateDir, name, tableSchema(name, p))
      // Each fold is checkpointed LAZILY (r18): the bucketed writer's
      // row count is the checkpoint's first action, so one job both
      // materializes the fold and sizes the buckets — the eager form
      // paid a separate checkpoint job per table.
      def cp(df: DataFrame) = df.localCheckpoint(false)
      // Content tables union-fold, PURGING deleted docs' rows — the
      // physical half of deletion (deleteDocs is the logical half: a
      // doc tombstone + repaired survivors). The keyed tables land
      // HASH-BUCKETED so every later probe prunes files (see the
      // layout comment above TargetBucketRows).
      // r18 (guide §2.6, the r17 ledger's item 2): the fold+write
      // groups below are independent jobs into distinct directories —
      // they land through the same bounded pool as ingest's segments
      // instead of one at a time; tables sharing a fold stay in one
      // task so the shared checkpoint materializes exactly once.
      landParallel(Seq[() => Unit](
        () => {
          val docsFold = cp(alive(rd("docs"), "doc_id"))
          writeSegmentBucketed(docsFold, stateDir, nextV, "docs")
          // fp → doc_id sidecar of the SAME fold (the exact tier's
          // fp-keyed survivor sweeps prune by fp through it).
          writeSegmentBucketed(docsFold.select("fp", "doc_id"),
            stateDir, nextV, "docs_byfp")
        },
        () => {
          val bandFold = cp(alive(rd("band_index"), "id"))
          writeSegmentBucketed(bandFold, stateDir, nextV, "band_index")
          // Owner summaries RECOMPUTED from the purged fold (self-
          // healing; null-owner rows from deletions drop away naturally).
          writeSegmentBucketed(cp(bandFold.groupBy("band", "bh")
              .agg(min("id").as("owner"),
                min_by(col("n_sh"), col("id")).as("n_sh"))
              .withColumn("v", lit(nextV))),
            stateDir, nextV, "band_owners")
        },
        () => writeSegmentBucketed(cp(alive(rd("vecs"), "doc_id")),
          stateDir, nextV, "vecs"),
        () => {
          val vecIdxFold = cp(alive(rd("vec_index"), "id"))
          writeSegmentBucketed(vecIdxFold, stateDir, nextV, "vec_index")
          writeSegmentBucketed(cp(vecIdxFold.groupBy("band", "bkey")
              .agg(min("id").as("owner")).withColumn("v", lit(nextV))),
            stateDir, nextV, "vec_owners")
        },
        // Overlay-latest index tables fold to the latest value per key;
        // dead keys (keeper/first deleted with no survivor) drop — a
        // later ingest simply sees no stored entry, same as null.
        () => writeSegmentBucketed(cp(rd("fp_index").groupBy("fp")
            .agg(max_by(col("keep_id"), col("v")).as("keep_id"))
            .filter(col("keep_id").isNotNull).withColumn("v", lit(nextV))),
          stateDir, nextV, "fp_index"),
        () => writeSegmentBucketed(cp(rd("hash_index").groupBy("h")
            .agg(max_by(struct(col("id"), col("pos")), col("v")).as("o"))
            .filter(col("o.id").isNotNull)
            .select(col("h"), col("o.id").as("id"), col("o.pos").as("pos"))
            .withColumn("v", lit(nextV))),
          stateDir, nextV, "hash_index"),
        // Marks fold to their live rows (mark tombstones applied, deleted
        // docs' marks purged); the mark tombstones then fold away. The
        // SAME fold is dual-published as an h-bucketed sidecar
        // (seg_marks_byh) so deletion's h-keyed first-occurrence sweep
        // prunes files like every other probe (r15 verdict #3) — the
        // id-bucketed copy keeps serving the touched-id reads.
        () => {
          val marksFold = cp(alive(livePairs(rd("marks"), rd("mark_tombs"),
              "id", "pos",
              tombsKnownEmpty = liveSegmentDirs(stateDir, "mark_tombs").isEmpty),
            "id").withColumn("v", lit(nextV)))
          writeSegmentBucketed(marksFold, stateDir, nextV, "marks")
          writeSegmentBucketed(marksFold, stateDir, nextV, "marks_byh")
        }) ++
        Seq(("nd_pairs", "nd_tombs", "bh"), ("vec_pairs", "vec_tombs", "bkey"))
          .map { case (pairsName, tombsName, k2) => () => {
            val live = livePairs(rd(pairsName), rd(tombsName), "band", k2,
              tombsKnownEmpty = liveSegmentDirs(stateDir, tombsName).isEmpty)
            // Pairs land bucketed by id_b — the serving read (each
            // touched doc's dup_of fold) is id_b-keyed.
            writeSegmentBucketed(cp(alive(alive(live, "id_a"), "id_b")
                .withColumn("v", lit(nextV))),
              stateDir, nextV, pairsName)
            // Bucket tombstones fold away entirely: the raised floor
            // hides every old tombstone segment and the folded pairs
            // are all live.
          }} ++
        Seq[() => Unit](
        // Report folds latest-wins; rows whose latest disposition is
        // 'deleted' drop here (foldReport filters them), completing the
        // purge — doc tombstones write NOTHING at the new floor, so
        // after this commit the deletion filter is a no-op again.
        () => writeSegmentBucketed(
          cp(foldReport(spark, stateDir).withColumn("v", lit(nextV))),
          stateDir, nextV, "report"),
        // Unified-feed mapping folds latest-wins per external key. Dead
        // keys (doc_id null) are KEPT: the generation counter must
        // survive deletion, or a later re-ingest of the same external
        // key would reuse a tombstoned internal id.
        () => writeSegmentBucketed(cp(rd("id_map").groupBy("ext_id")
            .agg(max_by(struct(col("doc_id"), col("gen")), col("v")).as("m"))
            .select(col("ext_id"), col("m.doc_id").as("doc_id"),
              col("m.gen").as("gen"), lit(nextV).as("v"))),
          stateDir, nextV, "id_map")) ++
        // String-key slots never change once allocated — the fold is a
        // dedup. Dead keys are KEPT for the same reason id_map keeps
        // them: "ever seen" is load-bearing for slot stability. Numeric-
        // mode dirs have no key_map segments at all — skip the fold's
        // jobs entirely, not just its write.
        (if (liveSegmentDirs(stateDir, "key_map").isEmpty) Nil
         else Seq[() => Unit](
          () => writeSegmentBucketed(cp(rd("key_map").groupBy("ext_key")
              .agg(max_by(col("ext_id"), col("v")).as("ext_id"))
              .select(col("ext_key"), col("ext_id"), lit(nextV).as("v"))),
            stateDir, nextV, "key_map"))))
      writeMarkers(stateDir, curV, nextV, None)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$stateDir/v$nextV/_seg_floor"),
        nextV.toString.getBytes("UTF-8"))
      VersionedDir(stateDir).commit(nextV)
      // Deferred GC: drop only segments superseded by the PREVIOUS
      // compaction (below the old floor); the ones this compaction just
      // folded stay one more generation for in-flight lazy readers.
      allTables.foreach { name =>
        segmentDirs(stateDir, name)
          .collect { case (v, path) if v < floorBefore => new java.io.File(path) }
          .foreach(VersionedDir.deleteTree)
      }
    }

  /** Per-stream applied-batch markers, committed WITH the version (a
    * marker outside the atomic commit could disagree with the state
    * after a crash). Carried forward version to version. */
  private def appliedBatch(stateDir: String, streamId: String): Long =
    VersionedDir(stateDir).committedText(s"_applied_$streamId").fold(-1L)(_.toLong)

  private def writeMarkers(stateDir: String, from: Long, to: Long,
                           update: Option[(String, Long)]): Unit = {
    val toDir = new java.io.File(s"$stateDir/v$to")
    toDir.mkdirs()
    if (from >= 0) {
      val fromDir = new java.io.File(s"$stateDir/v$from")
      Option(fromDir.listFiles()).toSeq.flatten
        // _applied_* replay markers, the compaction floor, AND the
        // string-key slot counter all ride the versioned dir so they
        // flip atomically with the pointer.
        .filter(f => f.getName.startsWith("_applied_") ||
          f.getName == "_seg_floor" || f.getName == "_next_slot")
        .foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(s"$stateDir/v$to/${f.getName}"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
    }
    update.foreach { case (sid, bid) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$stateDir/v$to/_applied_$sid"),
        bid.toString.getBytes("UTF-8"))
    }
  }

  private val bhType = LongType // xxhash64 band key; portable uses string
  private def bandSchema(portable: Boolean) = StructType(Seq(
    StructField("band", IntegerType), StructField("bh",
      if (portable) StringType else bhType),
    StructField("id", LongType), StructField("n_sh", IntegerType)))
  private def pairSchemaV(portable: Boolean) = StructType(Seq(
    StructField("band", IntegerType), StructField("bh",
      if (portable) StringType else bhType),
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("v", LongType)))
  private def ndTombSchema(portable: Boolean) = StructType(Seq(
    StructField("band", IntegerType), StructField("bh",
      if (portable) StringType else bhType),
    StructField("v", LongType)))
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("n_tokens", LongType), StructField("fp", StringType)))
  // Skinny fp → doc_id projection of the docs fold, compaction-
  // maintained, bucketed by fp (the "survivors sharing an affected fp"
  // sweep). Per-ingest docs segments are batch-sized and read whole.
  private val docsByFpSchema = StructType(Seq(
    StructField("fp", StringType), StructField("doc_id", LongType)))
  // Owner-summary rows, overlay-latest per bucket like fp_index: the
  // stored MIN live member (+ its payload), so owner-stable ingests
  // read one row per touched bucket instead of the bucket's whole
  // membership (a null owner marks a bucket cleared by deletion).
  private def bandOwnersSchema(portable: Boolean) = StructType(Seq(
    StructField("band", IntegerType), StructField("bh",
      if (portable) StringType else bhType),
    StructField("owner", LongType), StructField("n_sh", IntegerType),
    StructField("v", LongType)))
  private val vecOwnersSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bkey", LongType),
    StructField("owner", LongType), StructField("v", LongType)))
  // fp/hash indexes are OVERLAY-LATEST (like the report): each write
  // lands the key's MERGED value stamped with the version, reads take
  // max_by(v) per key. (r14 deletion support: a min-fold over partial
  // minima cannot un-min when a keeper is deleted; latest-wins can.)
  private val fpSchema = StructType(Seq(
    StructField("fp", StringType), StructField("keep_id", LongType),
    StructField("v", LongType)))
  private val hashSchema = StructType(Seq(
    StructField("h", LongType), StructField("id", LongType),
    StructField("pos", LongType), StructField("v", LongType)))
  // Marks carry their window hash (so deletion can recompute a hash's
  // surviving first occurrence FROM the marks — every non-first
  // occurrence is marked, an invariant the tiers maintain) and their
  // version (so an un-mark tombstone can itself be superseded when a
  // later backfill re-marks the same window).
  private val marksSchema = StructType(Seq(
    StructField("h", LongType), StructField("id", LongType),
    StructField("pos", LongType), StructField("v", LongType)))
  private val markTombSchema = StructType(Seq(
    StructField("id", LongType), StructField("pos", LongType),
    StructField("v", LongType)))
  private val docTombSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("v", LongType)))
  private val vecsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("emb", ArrayType(DoubleType)), StructField("nrm", DoubleType)))
  private val vecIndexSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bkey", LongType),
    StructField("id", LongType)))
  private val vecPairSchemaV = StructType(Seq(
    StructField("band", IntegerType), StructField("bkey", LongType),
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("v", LongType)))
  private val vecTombSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bkey", LongType),
    StructField("v", LongType)))
  private val reportSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("tier", StringType),
    StructField("dup_of", LongType), StructField("cut_tokens", LongType)))
  private val reportSchemaV = reportSchema.add(StructField("v", LongType))
  // Unified-feed mapping: external key → the CURRENT internal doc_id
  // (null = deleted) and its generation (survives deletion, so a later
  // re-ingest of the same external key allocates the NEXT generation
  // instead of resurrecting a tombstoned internal id). Overlay-latest
  // per ext_id like fp_index; dead keys are KEPT at compaction — "ever
  // seen" is load-bearing for generation allocation.
  private val idMapSchema = StructType(Seq(
    StructField("ext_id", LongType), StructField("doc_id", LongType),
    StructField("gen", LongType), StructField("v", LongType)))
  // r17 string-keyed feed (r16 verdict "What's wrong #1"): external
  // string key → its allocated numeric slot in [0, 2^40). The slot is
  // the ext_id every other table sees, so the generation algebra is
  // IDENTICAL for both key modes; allocation is append-only and
  // deterministic (committed `_next_slot` + rank of the batch's new
  // keys), so a redelivered ingest half recomputes identical slots.
  private val keyMapSchema = StructType(Seq(
    StructField("ext_key", StringType), StructField("ext_id", LongType),
    StructField("v", LongType)))

  private def tableSchema(name: String, p: Params): StructType = name match {
    case "docs" => docsSchema
    case "docs_byfp" => docsByFpSchema
    case "fp_index" => fpSchema
    case "band_index" => bandSchema(p.portable)
    case "band_owners" => bandOwnersSchema(p.portable)
    case "vec_owners" => vecOwnersSchema
    case "hash_index" => hashSchema
    case "marks" | "marks_byh" => marksSchema
    case "vecs" => vecsSchema
    case "vec_index" => vecIndexSchema
    case "nd_pairs" => pairSchemaV(p.portable)
    case "nd_tombs" => ndTombSchema(p.portable)
    case "vec_pairs" => vecPairSchemaV
    case "vec_tombs" => vecTombSchema
    case "mark_tombs" => markTombSchema
    case "doc_tombs" => docTombSchema
    case "report" => reportSchemaV
    case "id_map" => idMapSchema
    case "key_map" => keyMapSchema
  }

  /** Deleted-id filter for the content tables: a no-op (skipped
    * entirely) until the first [[deleteDocs]]; afterwards one anti-join
    * against the doc tombstones, which [[compact]] purges physically. */
  private def deletedIds(spark: SparkSession, stateDir: String)
      : (DataFrame, Boolean) = {
    val noDel = liveSegmentDirs(stateDir, "doc_tombs").isEmpty
    (if (noDel) emptyDf(spark, docTombSchema).select("doc_id")
     else readSegments(spark, stateDir, "doc_tombs", docTombSchema)
       .select("doc_id"),
      noDel)
  }

  private def aliveBy(df: DataFrame, c: String, delIds: DataFrame,
                      noDel: Boolean): DataFrame =
    if (noDel) df
    else df.join(delIds.select(col("doc_id").as(c)), Seq(c), "left_anti")

  private def bandedOf(pre: DataFrame, p: Params): DataFrame = {
    val sig = DedupFunctions.minhashSignaturesFromShingles(
      pre, p.numHashes, p.portable)
    sig.select(col("id"), col("n_sh"),
      posexplode(array(DedupFunctions.bandKeyColumns(col("sig"),
        p.bands, p.numHashes / p.bands, p.portable): _*))
        .as(Seq("band", "bh")))
      .select(col("band").cast("int").as("band"), col("bh"),
        col("id").cast("long").as("id"), col("n_sh").cast("int").as("n_sh"))
  }

  /** SRP band keys of `(doc_id, emb, nrm)` vectors — the q297 probe
    * grain: one bucket per vector, `vecBands` keys sliced out of it. */
  private def vecBandedOf(vecs: DataFrame, p: Params,
                          planes: Seq[Seq[Int]]): DataFrame = {
    val w = p.vecBits / p.vecBands
    vecs.select(col("doc_id").as("id"),
        Similarity.srpBucketPlanes(col("emb"), planes).as("bucket"))
      .select(col("id"),
        posexplode(array((0 until p.vecBands).map(k =>
          shiftright(col("bucket"), k * w).bitwiseAND(lit((1 << w) - 1))): _*))
          .as(Seq("band", "bkey")))
      .select(col("band").cast("int").as("band"),
        col("bkey").cast("long").as("bkey"), col("id"))
  }

  /** The stored owner summary for a set of bucket keys: overlay-latest
    * fold of the owners table restricted (file-pruned + semi-joined)
    * to `keysDf`, cleared buckets (null owner, written by deletion)
    * reading as absent. One row per touched bucket — never the
    * bucket's membership. */
  private def ownersFor(spark: SparkSession, stateDir: String,
                        name: String, schema: StructType,
                        keysDf: DataFrame, k2: String,
                        payload: Seq[String]): DataFrame =
    readSegmentsPruned(spark, stateDir, name, schema, Some(keysDf))
      .join(keysDf, Seq("band", k2))
      .groupBy("band", k2)
      .agg(max_by(struct(col("owner") +: payload.map(col): _*),
        col("v")).as("o"))
      .filter(col("o.owner").isNotNull)
      .select(col("band") +: col(k2) +: col("o.owner").as("old_owner") +:
        payload.map(c => col(s"o.$c").as(s"o_$c")): _*)

  /** One tier's bucket maintenance, shared by the text-LSH and SRP
    * tiers: split the batch's affected buckets by OWNERSHIP (r13
    * CutMaintScale measurement — re-starring every affected bucket's
    * full membership made per-ingest cost grow with hot-bucket size):
    *
    *  - OWNER-STABLE bucket (every batch id > the stored owner — the
    *    only case an append-only ingest ever sees): the old members'
    *    star pairs are untouched by construction, so ONLY the batch's
    *    (owner, new-member) pairs are candidates — per-ingest work is
    *    |batch| × bands rows no matter how hot the bucket is. r16: the
    *    stored owner comes off the OWNER-SUMMARY index (`ownersOld`,
    *    one row per touched bucket), so the hot bucket's membership is
    *    never read either — before this, the owner lookup itself
    *    scanned the membership and per-probe records grew with the
    *    hottest cluster (the r15 fixed-target probe measured it:
    *    102k → 395k records per identical 8-doc probe from sf0.1 to
    *    sf1).
    *  - OWNER-CHANGED bucket (a backfill id undercuts the owner) or
    *    BRAND-NEW bucket: membership is genuinely needed — read via
    *    `membersOf` (a pruned point-read of exactly those buckets),
    *    re-star, and the changed-with-prior-owner subset retracts its
    *    pairs (one tombstone row each; a brand-new bucket never gets a
    *    tombstone, or the append path would accumulate
    *    O(corpus × bands) tombstone rows with nothing to retract).
    *
    * Returns (candidates with bucket provenance [+ `payload` columns],
    * retract-bucket keys + their count, members of changed buckets
    * [touched-report superset], owner-summary rows to write — the
    * recomputed owner of every changed/brand-new bucket; stable buckets
    * need no write — and the changed-bucket count, which gates the
    * owner write). r18 (guide §1.2, the job-count cut): the changed/
    * retract frames carry their counts out of their materialization
    * jobs via [[cpCount]] so the landing needs no isEmpty probes; the
    * all-stable case (steady append) skips the membership read and the
    * re-star materializations outright; and `ownersChanged` is no
    * longer checkpointed — both its uses are tiny groupBys over the
    * checkpointed membership, cheaper to recompute than to schedule. */
  private def bucketCandidates(ownersOld: DataFrame, bandB: DataFrame,
                               k2: String, payload: Seq[String],
                               membersOf: DataFrame => DataFrame)
      : (DataFrame, DataFrame, Long, DataFrame, DataFrame, Long) = {
    val keys = Seq("band", k2)
    val oo = ownersOld.localCheckpoint(true)
    val batchMin = bandB.groupBy("band", k2).agg(min("id").as("bmin"))
    val stableB = oo.join(batchMin, keys)
      .filter(col("bmin") > col("old_owner"))
      .select(col("band") +: col(k2) +: col("old_owner") +:
        payload.map(c => col(s"o_$c")): _*)
    val (changedB, nChanged) = cpCount(batchMin.select("band", k2)
      .join(stableB.select("band", k2), keys, "left_anti"))
    // Stable buckets: batch members pair with the stored owner only.
    val candStable = bandB.join(stableB, keys)
      .select(col("band") +: col(k2) +: col("old_owner").as("id_a") +:
        col("id").as("id_b") +:
        (payload.map(c => col(s"o_$c").as(s"${c}_a")) ++
          payload.map(c => col(c).as(s"${c}_b"))): _*)
    if (nChanged == 0L) {
      // Every affected bucket is owner-stable: no membership read, no
      // re-star, no retraction (retract ⊆ changed — a retracting
      // bucket is one whose stored owner moved, which makes it
      // changed), no owner rewrite — and none of their jobs.
      val emptyMembers = bandB.limit(0)
      val emptyOwnersWrite = emptyMembers.groupBy("band", k2)
        .agg(min("id").as("owner"),
          payload.map(c => min_by(col(c), col("id")).as(c)): _*)
      (candStable.localCheckpoint(true), changedB.limit(0), 0L,
        emptyMembers, emptyOwnersWrite, 0L)
    } else {
      // Retraction is owed only where an old owner existed and moved.
      val (retractB, nRetract) = cpCount(oo.select("band", k2)
        .join(stableB.select("band", k2), keys, "left_anti"))
      // Changed (or brand-new) buckets: full membership re-star.
      val membersChanged = membersOf(changedB)
        .unionByName(bandB.join(changedB, keys))
        .localCheckpoint(true)
      val ownersChanged = membersChanged.groupBy("band", k2)
        .agg(min("id").as("id_a"),
          payload.map(c => min_by(col(c), col("id")).as(s"${c}_a")): _*)
      val candChanged = membersChanged.join(ownersChanged, keys)
        .filter(col("id") > col("id_a"))
        .select(col("band") +: col(k2) +: col("id_a") +: col("id").as("id_b") +:
          (payload.map(c => col(s"${c}_a")) ++
            payload.map(c => col(c).as(s"${c}_b"))): _*)
      val ownersWrite = ownersChanged
        .select(col("band") +: col(k2) +: col("id_a").as("owner") +:
          payload.map(c => col(s"${c}_a").as(c)): _*)
      (candStable.unionByName(candChanged).localCheckpoint(true), retractB,
        nRetract, membersChanged, ownersWrite, nChanged)
    }
  }

  /** Batch-derived tier inputs of one ingest — everything the tiers
    * compute from the batch ALONE (no state read, no version stamp), so
    * [[applyOps]] can prepare them concurrently with its delete half
    * (guide §2.6) and hand them to [[ingestLocked]]. */
  private final case class BatchPrep(bDocs: DataFrame, bSh: DataFrame,
    bandB: DataFrame, nBandB: Long, bH: DataFrame,
    bVecs: DataFrame, nBVecs: Long)

  private def prepBatch(spark: SparkSession, batch: DataFrame, p: Params)
      : BatchPrep = {
    val bDocs = batch.select(col("doc_id").cast("long").as("doc_id"),
        col("text"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .localCheckpoint(true)
    val bSh = DedupFunctions.shingledDocs(bDocs, "text", "doc_id", p.n)
      .localCheckpoint(true)
    val (bandB, nBandB) = cpCount(bandedOf(bSh, p))
    val bH = ExactSubstrings.tokenWindowHashes(bDocs, "text", "doc_id", p.W)
      .select(col("id").cast("long").as("id"),
        col("pos").cast("long").as("pos"), col("h"))
      .localCheckpoint(true)
    val (bVecs, nBVecs) =
      if (batch.columns.contains("emb"))
        cpCount(batch.filter(col("emb").isNotNull)
          .select(col("doc_id").cast("long").as("doc_id"),
            col("emb").cast("array<double>").as("emb"))
          .select(col("doc_id"), col("emb"),
            Similarity.l2Norm(col("emb")).as("nrm")))
      else (emptyDf(spark, vecsSchema), 0L)
    BatchPrep(bDocs, bSh, bandB, nBandB, bH, bVecs, nBVecs)
  }

  /** Ingest one batch `(doc_id, text[, emb])`: probe + repair + write
    * back all state tables as one atomically-committed version; returns
    * the TOUCHED report rows (batch docs and every existing doc whose
    * disposition inputs changed) with an `upd` column — `new` /
    * `changed` / `same`. `appliedMarker` (streamId → batchId) commits a
    * replay marker with the version — see [[streamWriter]]. */
  def ingest(spark: SparkSession, stateDir: String, batch: DataFrame,
             p: Params = Params(),
             appliedMarker: Option[(String, Long)] = None): DataFrame =
    VersionedDir(stateDir).withWriterLock {
      checkConfs(spark)
      checkLayout(stateDir)
      requireOrPersistParams(stateDir, p)
      onDeltaGrain(spark, batch) { (delta, b) =>
        ingestLocked(delta, stateDir, b, p, appliedMarker)
      }
    }

  private def ingestLocked(spark: SparkSession, stateDir: String,
                           batch: DataFrame, p: Params,
                           appliedMarker: Option[(String, Long)],
                           idMapSeg: Option[DataFrame] = None,
                           keyMapSeg: Option[DataFrame] = None,
                           nextSlot: Option[Long] = None,
                           prep: Option[BatchPrep] = None): DataFrame = {
    val curV = VersionedDir(stateDir).current
    val nextV = curV + 1
    purgeOrphans(stateDir, nextV)
    // Deleted-id filter over the content tables: free until the first
    // deleteDocs, one anti-join after (compact purges it back to free).
    val (delIds, noDel) = deletedIds(spark, stateDir)
    def alive(df: DataFrame, c: String) = aliveBy(df, c, delIds, noDel)
    val bDocs = prep.map(_.bDocs).getOrElse(
      batch.select(col("doc_id").cast("long").as("doc_id"),
        col("text"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .localCheckpoint(true))
    // Pruned point-reads of the corpus for id-keyed probes: only the
    // buckets the key set can live in are read (text is the heavy
    // column — this is where bucketing `docs` pays).
    def docsByIds(ids: DataFrame) = alive(readSegmentsPruned(spark, stateDir,
      "docs", docsSchema, Some(ids.select("doc_id"))), "doc_id")

    // ---- id contract (r15, r14 verdict #4): doc_ids are append-only-
    // unique. A batch that repeats a LIVE id, resurrects a TOMBSTONED
    // id, or repeats an id within itself would silently corrupt every
    // index — fail fast instead (a changed document is deleteDocs +
    // re-ingest under a fresh id). The probe is O(batch keys): one
    // groupBy over the checkpointed batch plus pruned point-reads of
    // the docs index and the (small) doc tombstones; the offender
    // collect is bounded by its limit.
    // r17 (optimization, guide §2.6 "overlap independent jobs"): the
    // id-contract probe and the four tier front-ends below are
    // independent DAGs over the checkpointed batch until the touched-id
    // union — yet they used to evaluate strictly sequentially, dozens
    // of tiny eager jobs paying one scheduler round-trip each while the
    // executor sat idle. Each tier now materializes inside its own
    // Future from a bounded pool; every WRITE still happens after all
    // tiers (and the contract gate) complete, so the
    // abort-before-any-write discipline and crash-safety are unchanged.
    // Tier results are Awaited in declaration order right below, so
    // failure propagation is also unchanged.
    val tierPool = java.util.concurrent.Executors.newFixedThreadPool(5,
      new java.util.concurrent.ThreadFactory {
        // Daemon threads: an exception on the await path (e.g. the id
        // contract gate) must not leave a non-daemon pool pinning the
        // JVM; the pool is also shut down explicitly after the barrier.
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "cutmaint-tier"); t.setDaemon(true); t
        }
      })
    implicit val tierEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(tierPool)
    def await[T](f: scala.concurrent.Future[T]): T =
      scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf)

    val offendersF = scala.concurrent.Future {
      val batchIds = bDocs.select("doc_id")
      val dupInBatch = bDocs.groupBy("doc_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select("doc_id")
      val tombIds = readSegments(spark, stateDir, "doc_tombs", docTombSchema)
        .select("doc_id")
      dupInBatch
        .unionByName(batchIds.join(docsByIds(batchIds).select("doc_id"),
          Seq("doc_id"), "left_semi"))
        .unionByName(batchIds.join(tombIds, Seq("doc_id"), "left_semi"))
        .limit(5).collect().map(_.getLong(0)).distinct
    }

    // ---- exact tier: merge the batch's per-fp minimum into the index.
    // The stored index is overlay-latest (fp, keep_id, v); each ingest
    // writes the MERGED keeper for the batch's fps — and only the
    // BATCH's fps are ever aggregated here (r14: the old full-keyspace
    // merge materialized O(corpus) rows per ingest).
    def fpSegsFor(keys: DataFrame) = readSegmentsPruned(spark, stateDir,
      "fp_index", fpSchema, Some(keys.select("fp")))
    val exactF = scala.concurrent.Future {
      val bFpMin = bDocs.groupBy("fp").agg(min("doc_id").as("bmin"))
        .localCheckpoint(true)
      // Probe reads prune the bucketed base by the batch's key set.
      val fpOldB = fpSegsFor(bFpMin).join(bFpMin.select("fp"), Seq("fp"))
        .groupBy("fp").agg(max_by(col("keep_id"), col("v")).as("old_keep"))
        .filter(col("old_keep").isNotNull)
      // Old docs whose keeper the batch undercut — their ex_dup_of moves.
      // Append-shape batches never undercut (higher ids), so the sweep is
      // SKIPPED entirely; a backfill reads the fp-keyed docs sidecar
      // pruned to exactly the undercut fps — never the corpus projection.
      val (undercutFps, nUndercut) = cpCount(bFpMin.join(fpOldB, Seq("fp"))
        .filter(col("bmin") < col("old_keep")).select("fp"))
      val exTouched =
        if (nUndercut == 0L)
          emptyDf(spark, StructType(Seq(StructField("doc_id", LongType))))
        else alive(docsByFp(spark, stateDir, undercutFps), "doc_id")
          .join(undercutFps, Seq("fp")).select(col("doc_id"))
      val fpWriteSeg = bFpMin.join(fpOldB, Seq("fp"), "left")
        .select(col("fp"), least(col("old_keep"), col("bmin")).as("keep_id"),
          lit(nextV).as("v"))
      (bFpMin, exTouched, fpWriteSeg)
    }

    // ---- near-dup tier: affected buckets re-star; their old pairs
    // retract via a tombstone row, everything else stays untouched on
    // disk (r14: the old path re-read and re-wrote the WHOLE pair set).
    val ndTombsOld = readSegments(spark, stateDir, "nd_tombs", ndTombSchema(p.portable))
    val ndF = scala.concurrent.Future {
      val bSh = prep.map(_.bSh).getOrElse(
        DedupFunctions.shingledDocs(bDocs, "text", "doc_id", p.n)
          .localCheckpoint(true))
      val (bandB, nBandB) = prep.map(pr => (pr.bandB, pr.nBandB))
        .getOrElse(cpCount(bandedOf(bSh, p)))
      // Stored owners come off the owner-summary index (one row per
      // touched bucket); membership is read ONLY for owner-changed /
      // brand-new buckets, pruned to exactly those keys. The key set is
      // NOT checkpointed (r18): it is a small distinct over the
      // checkpointed banded batch, recomputed inside the two jobs that
      // consume it for less than its own scheduler round-trip cost.
      val bandKeysB = bandB.select("band", "bh").distinct()
      val ownersOldB = ownersFor(spark, stateDir, "band_owners",
        bandOwnersSchema(p.portable), bandKeysB, "bh", Seq("n_sh"))
      def bandMembersOf(ks: DataFrame) =
        alive(readSegmentsPruned(spark, stateDir, "band_index",
          bandSchema(p.portable), Some(ks)), "id").join(ks, Seq("band", "bh"))
      val (cand, ndRetractB, nNdRetract, ndMembersChanged, ndOwnersWrite,
        nNdChanged) =
        bucketCandidates(ownersOldB, bandB, "bh", Seq("n_sh"), bandMembersOf)
      // Shingles for verification — only the docs the candidates actually
      // touch (stable-bucket owners + changed-bucket members + batch),
      // re-shingled from the stored corpus via an id-pruned point-read.
      val memberIds = cand.select(col("id_a").as("doc_id"))
        .unionByName(cand.select(col("id_b").as("doc_id"))).distinct()
      val oldMemberSh = DedupFunctions.shingledDocs(
        docsByIds(memberIds).join(memberIds, Seq("doc_id")),
        "text", "doc_id", p.n)
      val allSh = bSh.unionByName(oldMemberSh).localCheckpoint(true)
      // Verify each DISTINCT pair once (a pair can surface from several
      // buckets), then fan the verdict back onto the bucket-provenance
      // rows the stored pair set keeps.
      val verifiedPairs = cand
        .select(col("id_a"), col("id_b"), col("n_sh_a"), col("n_sh_b"))
        .dropDuplicates("id_a", "id_b")
        .join(allSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(allSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
        .filter(col("shared").cast("double") /
          (col("n_sh_a") + col("n_sh_b") - col("shared")).cast("double") >= p.threshold)
        .select(col("id_a"), col("id_b"))
      val (pairsNewSeg, nNdPairs) = cpCount(
        cand.join(verifiedPairs, Seq("id_a", "id_b"))
          .select(col("band"), col("bh"), col("id_a"), col("id_b"))
          .withColumn("v", lit(nextV)))
      // Only owner-changed buckets retract — one tombstone row each.
      val ndTombsNewSeg = ndRetractB.withColumn("v", lit(nextV))
      // Docs whose pair set may have moved: any member of a changed
      // bucket (a SUPERSET of the retracted pairs' id_bs — membership
      // rows are append-only, so a pair's id_b is always a member; the
      // superset re-reports a few extra docs as `same` and costs nothing
      // new, because changed-bucket membership is already in hand) plus
      // anything newly verified. The stored pair set is NOT read here.
      val ndTouched = ndMembersChanged.select(col("id").as("doc_id"))
        .unionByName(pairsNewSeg.select(col("id_b").as("doc_id")))
      (bandB, nBandB, pairsNewSeg, nNdPairs, ndTombsNewSeg, nNdRetract,
        ndOwnersWrite, nNdChanged, ndTouched)
    }

    // ---- embedding tier (optional `emb` column): the q297 probe
    // algebra maintained — SRP band keys index the stored vectors; the
    // same owner-stable/owner-changed split; exact-cosine verification.
    // r17 (optimization, guide §1.2 "don't compute things you throw
    // away"): a batch with NO vectors provably yields empty frames at
    // every step of this tier REGARDLESS of stored vec state — each
    // batch-side product is keyed by the batch's SRP keys, of which
    // there are none (ownersFor over no keys, bucketCandidates over an
    // empty banded frame, verify over no candidates) — yet the block
    // still cost ~10 eager no-op jobs plus 4 empty-write probes per
    // ingest. It now collapses to schema-typed empties. Stored vec
    // pairs still serve `embCut` below via the touched-id pruned
    // reads, unchanged.
    val hasEmb = batch.columns.contains("emb")
    val vecTombsOld = readSegments(spark, stateDir, "vec_tombs", vecTombSchema)
    val vecF = scala.concurrent.Future {
    val (bVecs, nBVecs) = prep.map(pr => (pr.bVecs, pr.nBVecs)).getOrElse(
      if (hasEmb) cpCount(batch.filter(col("emb").isNotNull)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("emb").cast("array<double>").as("emb"))
        .select(col("doc_id"), col("emb"), Similarity.l2Norm(col("emb")).as("nrm")))
      else (emptyDf(spark, vecsSchema), 0L))
    val vecTierActive = hasEmb && nBVecs > 0L
    val (bandVB, nBandVB, vPairsNewSeg, nVPairs, vTombsNewSeg, nVRetract,
      vOwnersWrite, nVChanged, vecTouched) =
      if (!vecTierActive)
        (emptyDf(spark, vecIndexSchema), 0L, emptyDf(spark, vecPairSchemaV),
          0L, emptyDf(spark, vecTombSchema), 0L,
          emptyDf(spark, StructType(vecOwnersSchema.fields.toSeq
            .filter(_.name != "v"))), 0L,
          emptyDf(spark, StructType(Seq(StructField("doc_id", LongType)))))
      else {
        val planes = Similarity.deterministicPlanes(p.vecBits, p.vecDim)
        val (bandVB, nBandVB) = cpCount(vecBandedOf(bVecs, p, planes))
        val bandVKeys = bandVB.select("band", "bkey").distinct()
        val ownersOldV = ownersFor(spark, stateDir, "vec_owners",
          vecOwnersSchema, bandVKeys, "bkey", Nil)
        def vecMembersOf(ks: DataFrame) =
          alive(readSegmentsPruned(spark, stateDir, "vec_index",
            vecIndexSchema, Some(ks)), "id").join(ks, Seq("band", "bkey"))
        val (vCand, vRetractB, nVRetract, vMembersChanged, vOwnersWrite,
          nVChanged) =
          bucketCandidates(ownersOldV, bandVB, "bkey", Nil, vecMembersOf)
        val vIds = vCand.select(col("id_a").as("doc_id"))
          .unionByName(vCand.select(col("id_b").as("doc_id"))).distinct()
        val vecSegs = alive(readSegmentsPruned(spark, stateDir, "vecs",
          vecsSchema, Some(vIds)), "doc_id")
        val vecsForVerify = vecSegs.join(vIds, Seq("doc_id"))
          .unionByName(bVecs.join(vIds, Seq("doc_id"))).localCheckpoint(true)
        val vVerified = vCand.select("id_a", "id_b").dropDuplicates("id_a", "id_b")
          .join(vecsForVerify.select(col("doc_id").as("id_a"),
            col("emb").as("e_a"), col("nrm").as("n_a")), Seq("id_a"))
          .join(vecsForVerify.select(col("doc_id").as("id_b"),
            col("emb").as("e_b"), col("nrm").as("n_b")), Seq("id_b"))
          .filter(try_divide(Similarity.dot(col("e_a"), col("e_b")),
            col("n_a") * col("n_b")) >= p.vecThreshold)
          .select(col("id_a"), col("id_b"))
        val (vPairsNewSeg, nVPairs) = cpCount(
          vCand.join(vVerified, Seq("id_a", "id_b"))
            .select(col("band"), col("bkey"), col("id_a"), col("id_b"))
            .withColumn("v", lit(nextV)))
        val vTombsNewSeg = vRetractB.withColumn("v", lit(nextV))
        // Same changed-membership superset as the text tier — no stored
        // pair read.
        val vecTouched = vMembersChanged.select(col("id").as("doc_id"))
          .unionByName(vPairsNewSeg.select(col("id_b").as("doc_id")))
        (bandVB, nBandVB, vPairsNewSeg, nVPairs, vTombsNewSeg, nVRetract,
          vOwnersWrite, nVChanged, vecTouched)
      }
    (bVecs, nBVecs, bandVB, nBandVB, vPairsNewSeg, nVPairs, vTombsNewSeg,
      nVRetract, vOwnersWrite, nVChanged, vecTouched, vecTierActive)
    }

    // ---- substring tier: first-occurrence index merge; the stored
    // index is overlay-latest (h → first (id, pos), v), merged here for
    // the BATCH's hashes only (the only ones marks can move on). Marks
    // are versioned against the mark tombstones deleteDocs writes.
    val ssF = scala.concurrent.Future {
      val bH = prep.map(_.bH).getOrElse(
        ExactSubstrings.tokenWindowHashes(bDocs, "text", "doc_id", p.W)
          .select(col("id").cast("long").as("id"),
            col("pos").cast("long").as("pos"), col("h"))
          .localCheckpoint(true))
      val occ = struct(col("id"), col("pos"))
      // Not checkpointed (r18): a batch-grain groupBy over the
      // checkpointed window hashes, recomputed inside its consumers'
      // jobs for less than one scheduler round-trip.
      val bFirst = bH.groupBy("h").agg(min(occ).as("bf"))
      val oldFirstB = readSegmentsPruned(spark, stateDir, "hash_index",
          hashSchema, Some(bFirst.select("h")))
        .select(col("h"), occ.as("o"), col("v"))
        .join(bFirst.select("h"), Seq("h"))
        .groupBy("h").agg(max_by(col("o"), col("v")).as("of0"))
        .select(col("h"), when(col("of0.id").isNotNull, col("of0")).as("of"))
        .filter(col("of").isNotNull)
      val firstMerged = bFirst.join(oldFirstB, Seq("h"), "left")
        .select(col("h"), col("of"), col("bf"), least(col("of"), col("bf")).as("cf"))
        .localCheckpoint(true)
      val newMarks = bH.join(firstMerged, Seq("h"))
        .filter(occ =!= col("cf")).select(col("h"), col("id"), col("pos"))
        .dropDuplicates("id", "pos")
      val repairMarks = firstMerged
        .filter(col("of").isNotNull && col("bf").isNotNull && col("bf") < col("of"))
        .select(col("h"), col("of.id").as("id"), col("of.pos").as("pos"))
        .dropDuplicates("id", "pos")
      val (marksAdded, nMarks) = cpCount(newMarks.unionByName(repairMarks)
        .withColumn("v", lit(nextV)))
      val ssTouched = marksAdded.select(col("id").as("doc_id"))
      (firstMerged, marksAdded, nMarks, ssTouched)
    }

    // ---- barrier: every tier materialized, the contract gate passed —
    // nothing has been written yet. Await order fixes which failure
    // surfaces first; the semantics of each tier are byte-identical to
    // the sequential form. The pool shuts down in a finally (r17
    // advice: a contract-gate abort used to skip the happy-path
    // shutdown and leak the pool per rejected batch).
    try {
    val offenders = await(offendersF)
    require(offenders.isEmpty,
      s"doc_id contract violation at $stateDir: ids " +
        s"${offenders.mkString("[", ", ", "]")} are already ingested, " +
        "tombstoned, or repeated within the batch — re-ingesting an " +
        "existing or deleted id would silently corrupt the indexes; " +
        "update = deleteDocs + re-ingest under a FRESH id")
    val (bFpMin, exTouched, fpWriteSeg) = await(exactF)
    val (bandB, nBandB, pairsNewSeg, nNdPairs, ndTombsNewSeg, nNdRetract,
      ndOwnersWrite, nNdChanged, ndTouched) = await(ndF)
    val (bVecs, nBVecs, bandVB, nBandVB, vPairsNewSeg, nVPairs, vTombsNewSeg,
      nVRetract, vOwnersWrite, nVChanged, vecTouched, vecTierActive) =
      await(vecF)
    val (firstMerged, marksAdded, nMarks, ssTouched) = await(ssF)

    // ---- touched set + report re-assembly for touched ids only.
    val touched = bDocs.select("doc_id")
      .unionByName(exTouched).unionByName(ndTouched)
      .unionByName(vecTouched).unionByName(ssTouched)
      .distinct().localCheckpoint(true)
    val tDocs = docsByIds(touched).select("doc_id", "fp", "n_tokens")
      .unionByName(bDocs.select("doc_id", "fp", "n_tokens"))
      .join(touched, Seq("doc_id"))
      .localCheckpoint(true)
    // Exact keeper for the touched docs' fps: the stored latest value
    // for exactly those fps, merged with the batch minima.
    val tFps = tDocs.select("fp").distinct()
    val fpOldT = fpSegsFor(tFps).join(tFps, Seq("fp"))
      .groupBy("fp").agg(max_by(col("keep_id"), col("v")).as("okeep"))
    val keepT = tFps.join(fpOldT, Seq("fp"), "left")
      .join(bFpMin, Seq("fp"), "left")
      .select(col("fp"), least(col("okeep"), col("bmin")).as("keep_id"))
    val exCut = tDocs.select("doc_id", "fp").join(keepT, Seq("fp"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("keep_id").as("ex_dup_of"))
    // dup_of folds over the stored pairs RESTRICTED to the touched ids
    // — an id_b-pruned read of the (id_b-bucketed) pair tables, never
    // the whole pair set (pre-filtering on the join key commutes with
    // the join; pair-row liveness is row-local given the tombstones).
    val touchedAsIdB = touched.select(col("doc_id").as("id_b"))
    val pairSegsT = alive(alive(readSegmentsPruned(spark, stateDir,
      "nd_pairs", pairSchemaV(p.portable), Some(touchedAsIdB)),
      "id_a"), "id_b")
    val ndCut = livePairs(pairSegsT.unionByName(pairsNewSeg),
        ndTombsOld.unionByName(ndTombsNewSeg), "band", "bh",
        tombsKnownEmpty = false)
      .join(touchedAsIdB, Seq("id_b"))
      .groupBy(col("id_b").as("doc_id")).agg(min("id_a").as("nd_dup_of"))
    val vecPairSegsT = alive(alive(readSegmentsPruned(spark, stateDir,
      "vec_pairs", vecPairSchemaV, Some(touchedAsIdB)),
      "id_a"), "id_b")
    val embCut = livePairs(vecPairSegsT.unionByName(vPairsNewSeg),
        vecTombsOld.unionByName(vTombsNewSeg), "band", "bkey",
        tombsKnownEmpty = false)
      .join(touchedAsIdB, Seq("id_b"))
      .groupBy(col("id_b").as("doc_id")).agg(min("id_a").as("emb_dup_of"))
    val touchedIds = touched.select(col("doc_id").as("id"))
    // Stored marks restricted to the touched ids — an id-pruned read
    // (mark liveness is (id, pos)-local, so pruning composes with the
    // tombstone fold).
    val marksSegs = alive(livePairs(
      readSegmentsPruned(spark, stateDir, "marks", marksSchema,
        Some(touchedIds)),
      readSegments(spark, stateDir, "mark_tombs", markTombSchema),
      "id", "pos",
      tombsKnownEmpty = liveSegmentDirs(stateDir, "mark_tombs").isEmpty), "id")
    val marksT = marksSegs.join(touchedIds, Seq("id"))
      .unionByName(marksAdded.join(touchedIds, Seq("id")))
    val ssTrim = ExactSubstrings.mergeMarks(
        marksT.select(col("id"), col("pos"), (col("pos") + (p.W - 1)).as("e")))
      .groupBy(col("id").as("doc_id"))
      .agg(sum("span_len").as("substr_tokens"))
    val touchedRows = tDocs.select("doc_id", "n_tokens")
      .join(exCut, Seq("doc_id"), "left")
      .join(ndCut, Seq("doc_id"), "left")
      .join(embCut, Seq("doc_id"), "left")
      .join(ssTrim, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex_dup_of").isNotNull, "exact")
          .when(col("nd_dup_of").isNotNull, "neardup")
          .when(col("emb_dup_of").isNotNull, "embdup")
          .when(col("substr_tokens").isNotNull, "partial")
          .otherwise("keep").as("tier"),
        when(col("ex_dup_of").isNotNull, col("ex_dup_of"))
          .when(col("nd_dup_of").isNotNull, col("nd_dup_of"))
          .when(col("emb_dup_of").isNotNull, col("emb_dup_of")).as("dup_of"),
        when(col("ex_dup_of").isNotNull || col("nd_dup_of").isNotNull ||
            col("emb_dup_of").isNotNull, col("n_tokens"))
          .when(col("substr_tokens").isNotNull, col("substr_tokens"))
          .otherwise(lit(0L)).cast("long").as("cut_tokens"))
    // Not checkpointed (r18): consumed exactly once, by `out`'s own
    // checkpoint job right below — an eager materialization here was a
    // pure extra scheduler round-trip.
    // The report is an OVERLAY: this ingest's segment holds ONLY the
    // touched rows (stamped with the version); [[report]] folds
    // latest-version-wins across segments. The prior dispositions for
    // the `upd` column come from the same fold restricted to the
    // touched ids — never the whole report.
    val reportSegsOld = readSegmentsPruned(spark, stateDir, "report",
      reportSchemaV, Some(touched))
    val reportOldT = reportSegsOld.join(touched, Seq("doc_id"))
      .groupBy("doc_id")
      .agg(max_by(struct(col("tier"), col("dup_of"), col("cut_tokens")),
        col("v")).as("r"))
      .select(col("doc_id"), col("r.tier").as("o_tier"),
        col("r.dup_of").as("o_dup"), col("r.cut_tokens").as("o_cut"))
    val out = touchedRows
      .join(reportOldT, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tier"), col("dup_of"), col("cut_tokens"),
        when(col("o_tier").isNull, "new")
          .when(col("tier") <=> col("o_tier") &&
            col("dup_of") <=> col("o_dup") &&
            col("cut_tokens") <=> col("o_cut"), "same")
          .otherwise("changed").as("upd"))
      .localCheckpoint(true)

    // ---- land the batch's segments, then flip the pointer: every
    // write below is O(batch + touched state), never O(corpus). A crash
    // anywhere before the version commit leaves v<cur> intact and the
    // redelivered batch overwrites the orphans.
    // Known-empty segments are SKIPPED (r14 review): landing empty
    // tombstone/vector segments permanently disabled the
    // tombsKnownEmpty fast path for pure-append workloads and added a
    // per-version read tax. r18 (guide §1.2): emptiness comes from the
    // counts the tiers' own materialization jobs already produced
    // (cpCount) — the per-write isEmpty probe jobs are gone. The
    // derived frames' row counts equal their source's: ndTombsNewSeg /
    // vTombsNewSeg add a literal to the retract frames; the owner
    // writes hold one row per changed bucket (empty iff no bucket
    // changed); ingest-half id/key map segments are built from the
    // nonempty winning-ingest set by the caller.
    landParallel(Seq[() => Unit](
      () => writeSegment(bDocs, stateDir, nextV, "docs"),
      () => writeSegment(fpWriteSeg, stateDir, nextV, "fp_index")) ++
      (if (nBandB > 0) Seq[() => Unit](
        () => writeSegment(bandB, stateDir, nextV, "band_index")) else Nil) ++
      (if (nNdChanged > 0) Seq[() => Unit](
        () => writeSegment(ndOwnersWrite.withColumn("v", lit(nextV)),
          stateDir, nextV, "band_owners")) else Nil) ++
      (if (nNdPairs > 0) Seq[() => Unit](
        () => writeSegment(pairsNewSeg, stateDir, nextV, "nd_pairs")) else Nil) ++
      (if (nNdRetract > 0) Seq[() => Unit](
        () => writeSegment(ndTombsNewSeg, stateDir, nextV, "nd_tombs")) else Nil) ++
      Seq[() => Unit](
      () => writeSegment(firstMerged.select(col("h"), col("cf.id").as("id"),
        col("cf.pos").as("pos"), lit(nextV).as("v")), stateDir, nextV,
        "hash_index")) ++
      (if (nMarks > 0) Seq[() => Unit](
        () => writeSegment(marksAdded, stateDir, nextV, "marks")) else Nil) ++
      Seq[() => Unit](
      () => writeSegment(out.select(col("doc_id"), col("tier"), col("dup_of"),
        col("cut_tokens")).withColumn("v", lit(nextV)), stateDir, nextV,
        "report")) ++
      (if (vecTierActive) Seq[() => Unit](
        () => writeSegment(bVecs, stateDir, nextV, "vecs")) ++
        (if (nBandVB > 0) Seq[() => Unit](
          () => writeSegment(bandVB, stateDir, nextV, "vec_index")) else Nil) ++
        (if (nVChanged > 0) Seq[() => Unit](
          () => writeSegment(vOwnersWrite.withColumn("v", lit(nextV)),
            stateDir, nextV, "vec_owners")) else Nil) ++
        (if (nVPairs > 0) Seq[() => Unit](
          () => writeSegment(vPairsNewSeg, stateDir, nextV, "vec_pairs")) else Nil) ++
        (if (nVRetract > 0) Seq[() => Unit](
          () => writeSegment(vTombsNewSeg, stateDir, nextV, "vec_tombs")) else Nil)
      else Nil) ++
      idMapSeg.map(m => () => writeSegment(
        m.withColumn("v", lit(nextV)), stateDir, nextV, "id_map")).toSeq ++
      keyMapSeg.map(m => () => writeSegment(
        m.withColumn("v", lit(nextV)), stateDir, nextV, "key_map")).toSeq)
    writeMarkers(stateDir, curV, nextV, appliedMarker)
    // The slot counter lands AFTER writeMarkers (which carries the old
    // value forward) so the bump overwrites the carried copy, and
    // BEFORE the version commit so it flips atomically with the segments.
    nextSlot.foreach { ns =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$stateDir/v$nextV/_next_slot"),
        ns.toString.getBytes("UTF-8"))
      ()
    }
    VersionedDir(stateDir).commit(nextV)
    out
    } finally tierPool.shutdown()
  }

  /** DELETE documents from the maintained state — the takedown /
    * retention primitive (and, composed with [[ingest]], document
    * update): tombstone the ids, then REPAIR every surviving doc whose
    * disposition depended on them, so the stored report equals the
    * batch replay over the SURVIVING corpus (the convergence property,
    * extended — [[verifyAgainstReplay]] replays over survivors and is
    * the built-in oracle). Per-delete work ∝ |deleted| + the state they
    * touch, never the corpus:
    *
    *  - exact tier: fps whose stored KEEPER is deleted get a recomputed
    *    keeper (min over surviving docs with that fp — an equi-join on
    *    the affected fps only); every survivor sharing such an fp
    *    re-reports.
    *  - near-dup / embedding tiers: buckets whose OWNER is deleted
    *    tombstone their pairs and re-star over the surviving
    *    membership (re-verified exactly); pairs whose id_b is deleted
    *    die via the read-side deleted-id filter with nothing to repair.
    *  - substring tier: hashes whose stored FIRST occurrence is deleted
    *    get a recomputed first from the surviving marked occurrences
    *    (marks carry their hash for exactly this; every non-first
    *    occurrence is marked, so the marks ARE the occurrence list) —
    *    the new first is UN-marked via a versioned mark tombstone (a
    *    later backfill that undercuts it re-marks it at a higher
    *    version, superseding the tombstone).
    *
    * Deletion is LOGICAL here (one doc-tombstone segment + repaired
    * overlays); the next [[compact]] purges the deleted rows physically
    * from every folded table and clears the tombstones. A deleted id
    * must not be re-ingested afterwards (resurrection is out of
    * contract, like re-crawled ids).
    *
    * Returns the repaired survivor rows (`upd` = changed/same) plus one
    * row per deleted id (`tier` = `deleted`, `upd` = `deleted`). */
  def deleteDocs(spark: SparkSession, stateDir: String,
                 ids: DataFrame, p: Params = Params(),
                 appliedMarker: Option[(String, Long)] = None): DataFrame =
    VersionedDir(stateDir).withWriterLock {
      checkConfs(spark)
      checkLayout(stateDir)
      requireOrPersistParams(stateDir, p)
      onDeltaGrain(spark, ids) { (delta, in) =>
        deleteLocked(delta, stateDir, in, p, appliedMarker)
      }
    }

  private def deleteLocked(spark: SparkSession, stateDir: String,
                           ids: DataFrame, p: Params,
                           appliedMarker: Option[(String, Long)],
                           idMapSeg: Option[DataFrame] = None): DataFrame = {
      val curV = VersionedDir(stateDir).current
      require(curV >= 0, s"nothing to delete from at $stateDir")
      val nextV = curV + 1
      purgeOrphans(stateDir, nextV)
      val (delOld, noDelOld) = deletedIds(spark, stateDir)
      val del = ids.select(col(ids.columns.head).cast("long").as("doc_id"))
        .distinct().localCheckpoint(true)
      // Pre-delete live views; `surv` additionally excludes this batch.
      def aliveOld(df: DataFrame, c: String) = aliveBy(df, c, delOld, noDelOld)
      def surv(df: DataFrame, c: String) =
        aliveBy(df, c, del, noDel = false)
      // Id-pruned corpus point-reads (the bucketed base reads only the
      // key set's files).
      def docsLiveByIds(keys: DataFrame) = aliveOld(
        readSegmentsPruned(spark, stateDir, "docs", docsSchema,
          Some(keys.select("doc_id"))), "doc_id")
      val dDocs = docsLiveByIds(del).join(del, Seq("doc_id"))
        .localCheckpoint(true)

      // r17 (optimization, guide §2.6): same tier-level concurrency as
      // [[ingestLocked]] — the four repair front-ends are independent
      // DAGs over the checkpointed doomed set until the touched union;
      // all writes still land after every tier completes.
      val tierPool = java.util.concurrent.Executors.newFixedThreadPool(4,
        new java.util.concurrent.ThreadFactory {
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, "cutmaint-del-tier"); t.setDaemon(true); t
          }
        })
      implicit val tierEc: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(tierPool)
      def await[T](f: scala.concurrent.Future[T]): T =
        scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf)

      // ---- exact tier: only fps whose stored keeper dies need repair.
      def fpSegsFor(keys: DataFrame) = readSegmentsPruned(spark, stateDir,
        "fp_index", fpSchema, Some(keys.select("fp")))
      val exactF = scala.concurrent.Future {
        val dFps = dDocs.select("fp").distinct()
        val (affFps, nAffFps) = cpCount(fpSegsFor(dFps).join(dFps, Seq("fp"))
          .groupBy("fp").agg(max_by(col("keep_id"), col("v")).as("okeep"))
          .join(del.select(col("doc_id").as("okeep")), Seq("okeep"))
          .select("fp"))
        if (nAffFps == 0L) {
          // No stored keeper dies: no survivor sweep, no index rewrite
          // — and none of their jobs (r18, guide §1.2).
          val noFp = affFps.select(col("fp"),
            lit(null).cast("long").as("keep_id"), lit(nextV).as("v"))
          (affFps, noFp, 0L, emptyDf(spark,
            StructType(Seq(StructField("doc_id", LongType)))))
        } else {
          // Survivors sharing an affected fp — an fp-pruned read of the
          // docs sidecar (r16: this was the exact tier's remaining whole-
          // corpus scan per delete).
          val survAff = surv(aliveOld(docsByFp(spark, stateDir, affFps),
              "doc_id"), "doc_id")
            .join(affFps, Seq("fp"))
            .select("doc_id", "fp").localCheckpoint(true)
          val fpWriteSeg = affFps
            .join(survAff.groupBy("fp").agg(min("doc_id").as("keep_id")),
              Seq("fp"), "left")
            .select(col("fp"), col("keep_id"), lit(nextV).as("v"))
          val exTouched = survAff.select("doc_id")
          (affFps, fpWriteSeg, nAffFps, exTouched)
        }
      }

      // ---- near-dup tier: re-star buckets whose owner is deleted.
      // The doomed docs' band keys are RECOMPUTED from their stored
      // text (deterministic given text + params — O(deleted) work), so
      // the (band, bh)-bucketed index reads only the files those
      // buckets live in instead of being scanned whole for a by-id
      // lookup it is not keyed for (r15 verdict #3, the deletion-
      // throughput corpus-growth term). `bandAff` is the FULL live
      // membership of every bucket a deleted doc belongs to — exactly
      // what the owner check and the re-star need.
      val ndTombsOld = readSegments(spark, stateDir, "nd_tombs",
        ndTombSchema(p.portable))
      val ndF = scala.concurrent.Future {
        // dSh is consumed exactly once (the banded-key distinct right
        // below, itself checkpointed) — not checkpointed (r18).
        val dSh = DedupFunctions.shingledDocs(dDocs, "text", "doc_id", p.n)
        val dBandKeys = bandedOf(dSh, p).select("band", "bh").distinct()
          .localCheckpoint(true)
        // Owner-dead buckets straight off the owner-summary index (one
        // row per candidate bucket — the stored owner is always a live
        // doc, so owner ∈ del ⟺ the bucket needs a re-star); membership
        // is then read pruned to exactly THOSE buckets.
        val ownersAtDel = ownersFor(spark, stateDir, "band_owners",
          bandOwnersSchema(p.portable), dBandKeys, "bh", Seq("n_sh"))
        val (affB, nAffB) = cpCount(ownersAtDel
          .join(del.select(col("doc_id").as("old_owner")), Seq("old_owner"))
          .select("band", "bh"))
        if (nAffB == 0L) {
          // No deleted doc owned a bucket: nothing to re-star, retract
          // or rewrite — skip the membership read and every re-star
          // materialization (r18, guide §1.2).
          val emptyIds = emptyDf(spark,
            StructType(Seq(StructField("doc_id", LongType))))
          (emptyDf(spark, StructType(bandOwnersSchema(p.portable)
            .fields.toSeq.filter(_.name != "v"))),
            emptyDf(spark, pairSchemaV(p.portable)), 0L,
            affB.withColumn("v", lit(nextV)), 0L, emptyIds)
        } else {
        val ndMembers = surv(
            aliveOld(readSegmentsPruned(spark, stateDir, "band_index",
              bandSchema(p.portable), Some(affB)), "id")
              .join(affB, Seq("band", "bh")), "id")
          .localCheckpoint(true)
        // Tiny groupBy over the checkpointed membership, recomputed by
        // its two consumers — not checkpointed (r18).
        val ndOwners = ndMembers.groupBy("band", "bh")
          .agg(min("id").as("id_a"), min_by(col("n_sh"), col("id")).as("n_sh_a"))
        // Recomputed owner rows for the re-starred buckets (null owner =
        // bucket cleared; reads treat it as absent, compaction drops it).
        val ndOwnersWrite = affB.join(ndOwners, Seq("band", "bh"), "left")
          .select(col("band"), col("bh"), col("id_a").as("owner"),
            col("n_sh_a").as("n_sh"))
        val ndCand = ndMembers.join(ndOwners, Seq("band", "bh"))
          .filter(col("id") > col("id_a"))
          .select(col("band"), col("bh"), col("id_a"), col("id").as("id_b"),
            col("n_sh_a"), col("n_sh").as("n_sh_b"))
          .localCheckpoint(true)
        val ndMemberIds = ndCand.select(col("id_a").as("doc_id"))
          .unionByName(ndCand.select(col("id_b").as("doc_id"))).distinct()
        val ndSh = DedupFunctions.shingledDocs(
          surv(docsLiveByIds(ndMemberIds), "doc_id")
            .join(ndMemberIds, Seq("doc_id")), "text", "doc_id", p.n)
          .localCheckpoint(true)
        val ndVerified = ndCand
          .select(col("id_a"), col("id_b"), col("n_sh_a"), col("n_sh_b"))
          .dropDuplicates("id_a", "id_b")
          .join(ndSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(ndSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
          .filter(col("shared").cast("double") /
            (col("n_sh_a") + col("n_sh_b") - col("shared")).cast("double") >= p.threshold)
          .select(col("id_a"), col("id_b"))
        val (ndPairsNewSeg, nNdPairs) = cpCount(
          ndCand.join(ndVerified, Seq("id_a", "id_b"))
            .select(col("band"), col("bh"), col("id_a"), col("id_b"))
            .withColumn("v", lit(nextV)))
        val ndTombsNewSeg = affB.withColumn("v", lit(nextV))
        // Changed-membership superset, like ingest — no stored pair read.
        val ndTouched = ndMembers.select(col("id").as("doc_id"))
          .unionByName(ndPairsNewSeg.select(col("id_b").as("doc_id")))
        (ndOwnersWrite, ndPairsNewSeg, nNdPairs, ndTombsNewSeg, nAffB,
          ndTouched)
        }
      }

      // ---- embedding tier: same shape over the SRP index, with the
      // same recompute-the-doomed-keys trick — the deleted docs'
      // vectors come off the doc_id-bucketed vecs table (pruned point-
      // read), their SRP band keys are recomputed (deterministic
      // planes), and the (band, bkey)-bucketed index reads only those
      // buckets' files.
      // r17 (optimization): a state with NO stored vectors — or a
      // delete batch none of whose ids carry one — provably produces
      // empty frames at every step (the tier is keyed by the doomed
      // docs' recomputed SRP keys, of which there are none), so the
      // 8 eager no-op jobs + 3 empty-write probes collapse to typed
      // empties, mirroring ingest's batch-side short-circuit.
      val vecTombsOld = readSegments(spark, stateDir, "vec_tombs", vecTombSchema)
      val vecF = scala.concurrent.Future {
      // Checkpoint-and-count in ONE job and gate on the count (r17
      // advice: probing isEmpty on the un-checkpointed read and then
      // checkpointing it ran the pruned vecs scan twice per vector-
      // bearing delete).
      val (dVecsC, nDVecs) =
        if (liveSegmentDirs(stateDir, "vecs").isEmpty)
          (emptyDf(spark, vecsSchema), 0L)
        else cpCount(aliveOld(readSegmentsPruned(spark, stateDir, "vecs",
            vecsSchema, Some(del)), "doc_id")
          .join(del, Seq("doc_id")))
      val vecTierActive = nDVecs > 0L
      val (vPairsNewSeg, nVPairs, vTombsNewSeg, nVAffB, vOwnersWrite,
        vecTouched) =
        if (!vecTierActive)
          (emptyDf(spark, vecPairSchemaV), 0L, emptyDf(spark, vecTombSchema),
            0L,
            emptyDf(spark, StructType(vecOwnersSchema.fields.toSeq
              .filter(_.name != "v"))),
            emptyDf(spark, StructType(Seq(StructField("doc_id", LongType)))))
        else {
          val planes = Similarity.deterministicPlanes(p.vecBits, p.vecDim)
          val dVecKeys = vecBandedOf(dVecsC, p, planes)
            .select("band", "bkey").distinct().localCheckpoint(true)
          val vOwnersAtDel = ownersFor(spark, stateDir, "vec_owners",
            vecOwnersSchema, dVecKeys, "bkey", Nil)
          val (affVB, nVAffB) = cpCount(vOwnersAtDel
            .join(del.select(col("doc_id").as("old_owner")), Seq("old_owner"))
            .select("band", "bkey"))
          if (nVAffB == 0L)
            (emptyDf(spark, vecPairSchemaV), 0L,
              affVB.withColumn("v", lit(nextV)), 0L,
              emptyDf(spark, StructType(vecOwnersSchema.fields.toSeq
                .filter(_.name != "v"))),
              emptyDf(spark, StructType(Seq(StructField("doc_id", LongType)))))
          else {
          val vMembers = surv(
              aliveOld(readSegmentsPruned(spark, stateDir, "vec_index",
                vecIndexSchema, Some(affVB)), "id")
                .join(affVB, Seq("band", "bkey")), "id")
            .localCheckpoint(true)
          // Tiny groupBy over checkpointed membership — not
          // checkpointed (r18), recomputed by its two consumers.
          val vOwners = vMembers.groupBy("band", "bkey").agg(min("id").as("id_a"))
          val vOwnersWrite = affVB.join(vOwners, Seq("band", "bkey"), "left")
            .select(col("band"), col("bkey"), col("id_a").as("owner"))
          val vCand = vMembers.join(vOwners, Seq("band", "bkey"))
            .filter(col("id") > col("id_a"))
            .select(col("band"), col("bkey"), col("id_a"), col("id").as("id_b"))
            .localCheckpoint(true)
          val vMemberIds = vCand.select(col("id_a").as("doc_id"))
            .unionByName(vCand.select(col("id_b").as("doc_id"))).distinct()
          val vVecs = surv(aliveOld(readSegmentsPruned(spark, stateDir, "vecs",
              vecsSchema, Some(vMemberIds.select("doc_id"))), "doc_id"), "doc_id")
            .join(vMemberIds, Seq("doc_id"))
            .localCheckpoint(true)
          val vVerified = vCand.select("id_a", "id_b").dropDuplicates("id_a", "id_b")
            .join(vVecs.select(col("doc_id").as("id_a"),
              col("emb").as("e_a"), col("nrm").as("n_a")), Seq("id_a"))
            .join(vVecs.select(col("doc_id").as("id_b"),
              col("emb").as("e_b"), col("nrm").as("n_b")), Seq("id_b"))
            .filter(try_divide(Similarity.dot(col("e_a"), col("e_b")),
              col("n_a") * col("n_b")) >= p.vecThreshold)
            .select(col("id_a"), col("id_b"))
          val (vPairsNewSeg, nVPairs) = cpCount(
            vCand.join(vVerified, Seq("id_a", "id_b"))
              .select(col("band"), col("bkey"), col("id_a"), col("id_b"))
              .withColumn("v", lit(nextV)))
          val vTombsNewSeg = affVB.withColumn("v", lit(nextV))
          val vecTouched = vMembers.select(col("id").as("doc_id"))
            .unionByName(vPairsNewSeg.select(col("id_b").as("doc_id")))
          (vPairsNewSeg, nVPairs, vTombsNewSeg, nVAffB, vOwnersWrite,
            vecTouched)
          }
        }
      (vPairsNewSeg, nVPairs, vTombsNewSeg, nVAffB, vOwnersWrite, vecTouched,
        vecTierActive)
      }

      // ---- substring tier: recompute firsts the deletion orphaned.
      // Candidate hashes are RECOMPUTED from the doomed docs' own text:
      // every stored hash_index value (id, pos) is a genuine occurrence
      // of h in doc id (ingest writes batch/stored minima of real
      // occurrences; deletion writes recomputed firsts from real marked
      // occurrences), so any h whose LATEST value points at a deleted
      // doc occurs in that doc's windows — dH is a sound superset, and
      // it lets the h-bucketed hash_index read prune files instead of
      // being scanned whole for a by-id lookup (r15 verdict #3).
      val ssF = scala.concurrent.Future {
        val dH = ExactSubstrings.tokenWindowHashes(dDocs, "text", "doc_id", p.W)
          .select("h").distinct().localCheckpoint(true)
        val (affH, nAffH) = cpCount(readSegmentsPruned(spark, stateDir,
            "hash_index", hashSchema, Some(dH))
          .join(dH, Seq("h"))
          .groupBy("h")
          .agg(max_by(struct(col("id"), col("pos")), col("v")).as("of"))
          .filter(col("of.id").isNotNull)
          .join(del.select(col("doc_id").as("did")), col("of.id") === col("did"))
          .select("h"))
        if (nAffH == 0L) {
          // No stored first occurrence dies: skip the marks sweep and
          // its materializations outright (r18, guide §1.2).
          val emptyTombs = emptyDf(spark, markTombSchema)
          (affH.select(col("h"), lit(null).cast("long").as("id"),
            lit(null).cast("long").as("pos"), lit(nextV).as("v")), 0L,
            emptyTombs, 0L,
            emptyDf(spark, StructType(Seq(StructField("doc_id", LongType)))))
        } else {
        // Surviving occurrences of the affected hashes, via the h-keyed
        // marks sidecar — the r15 "deletion reads marks whole" residual:
        // compacted marks come h-pruned from seg_marks_byh, per-ingest
        // segments (batch-sized) read whole.
        val marksAffH = aliveOld(livePairs(
          marksPrunedByH(spark, stateDir, affH),
          readSegments(spark, stateDir, "mark_tombs", markTombSchema),
          "id", "pos",
          tombsKnownEmpty = liveSegmentDirs(stateDir, "mark_tombs").isEmpty), "id")
        val survOcc = surv(marksAffH.join(affH, Seq("h")), "id")
        val newFirst = affH.join(
            survOcc.groupBy("h").agg(min(struct(col("id"), col("pos"))).as("nf")),
            Seq("h"), "left")
          .localCheckpoint(true)
        val hashWriteSeg = newFirst.select(col("h"), col("nf.id").as("id"),
          col("nf.pos").as("pos"), lit(nextV).as("v"))
        val (markTombsNewSeg, nMarkTombs) = cpCount(
          newFirst.filter(col("nf").isNotNull)
            .select(col("nf.id").as("id"), col("nf.pos").as("pos"),
              lit(nextV).as("v")))
        val ssTouched = markTombsNewSeg.select(col("id").as("doc_id"))
        (hashWriteSeg, nAffH, markTombsNewSeg, nMarkTombs, ssTouched)
        }
      }

      // ---- barrier: every repair tier materialized; nothing written
      // yet. Semantics identical to the sequential form. Pool shutdown
      // rides a finally (r17 advice), closing at the end of the method.
      try {
      val (affFps, fpWriteSeg, nAffFps, exTouched) = await(exactF)
      val (ndOwnersWrite, ndPairsNewSeg, nNdPairs, ndTombsNewSeg, nAffB,
        ndTouched) = await(ndF)
      val (vPairsNewSeg, nVPairs, vTombsNewSeg, nVAffB, vOwnersWrite,
        vecTouched, vecTierActive) = await(vecF)
      val (hashWriteSeg, nAffH, markTombsNewSeg, nMarkTombs, ssTouched) =
        await(ssF)

      // ---- re-assemble the report for the touched survivors.
      val touched = exTouched.unionByName(ndTouched).unionByName(vecTouched)
        .unionByName(ssTouched).distinct().localCheckpoint(true)
      val tDocs = surv(docsLiveByIds(touched), "doc_id")
        .select("doc_id", "fp", "n_tokens")
        .join(touched, Seq("doc_id")).localCheckpoint(true)
      val tFps = tDocs.select("fp").distinct()
      val keepStored = fpSegsFor(tFps).join(tFps, Seq("fp"))
        .groupBy("fp").agg(max_by(col("keep_id"), col("v")).as("okeep"))
      // Affected fps take this delete's recomputed keeper (a null there
      // means no survivor carries the fp — impossible for a touched
      // doc's OWN fp); the rest keep the stored latest.
      val keepT = tFps.join(keepStored, Seq("fp"), "left")
        .join(fpWriteSeg.select(col("fp"), col("keep_id").as("nkeep")),
          Seq("fp"), "left")
        .join(affFps.withColumn("aff", lit(true)), Seq("fp"), "left")
        .select(col("fp"),
          when(col("aff"), col("nkeep")).otherwise(col("okeep")).as("keep_id"))
      val exCut = tDocs.select("doc_id", "fp").join(keepT, Seq("fp"))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id"), col("keep_id").as("ex_dup_of"))
      // dup_of folds over the stored pairs RESTRICTED to the touched
      // ids (id_b-pruned reads of the id_b-bucketed pair tables), the
      // survivor filters applied on top — same algebra as before, never
      // the whole pair set.
      val touchedAsIdB = touched.select(col("doc_id").as("id_b"))
      val pairSegsT = aliveOld(aliveOld(readSegmentsPruned(spark, stateDir,
        "nd_pairs", pairSchemaV(p.portable), Some(touchedAsIdB)),
        "id_a"), "id_b")
      val ndCut = surv(surv(livePairs(pairSegsT.unionByName(ndPairsNewSeg),
          ndTombsOld.unionByName(ndTombsNewSeg), "band", "bh",
          tombsKnownEmpty = false), "id_a"), "id_b")
        .join(touchedAsIdB, Seq("id_b"))
        .groupBy(col("id_b").as("doc_id")).agg(min("id_a").as("nd_dup_of"))
      val vecPairSegsT = aliveOld(aliveOld(readSegmentsPruned(spark, stateDir,
        "vec_pairs", vecPairSchemaV, Some(touchedAsIdB)),
        "id_a"), "id_b")
      val embCut = surv(surv(livePairs(vecPairSegsT.unionByName(vPairsNewSeg),
          vecTombsOld.unionByName(vTombsNewSeg), "band", "bkey",
          tombsKnownEmpty = false), "id_a"), "id_b")
        .join(touchedAsIdB, Seq("id_b"))
        .groupBy(col("id_b").as("doc_id")).agg(min("id_a").as("emb_dup_of"))
      val touchedIds = touched.select(col("doc_id").as("id"))
      // Stored marks restricted to the touched ids — the same id-pruned
      // read ingest uses (mark liveness is (id, pos)-local).
      val marksLiveT = aliveOld(livePairs(
        readSegmentsPruned(spark, stateDir, "marks", marksSchema,
          Some(touchedIds)),
        readSegments(spark, stateDir, "mark_tombs", markTombSchema),
        "id", "pos",
        tombsKnownEmpty = liveSegmentDirs(stateDir, "mark_tombs").isEmpty), "id")
      val marksT = marksLiveT.join(touchedIds, Seq("id"))
        .join(markTombsNewSeg.select("id", "pos"), Seq("id", "pos"), "left_anti")
      val ssTrim = ExactSubstrings.mergeMarks(
          marksT.select(col("id"), col("pos"), (col("pos") + (p.W - 1)).as("e")))
        .groupBy(col("id").as("doc_id"))
        .agg(sum("span_len").as("substr_tokens"))
      val touchedRows = tDocs.select("doc_id", "n_tokens")
        .join(exCut, Seq("doc_id"), "left")
        .join(ndCut, Seq("doc_id"), "left")
        .join(embCut, Seq("doc_id"), "left")
        .join(ssTrim, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("ex_dup_of").isNotNull, "exact")
            .when(col("nd_dup_of").isNotNull, "neardup")
            .when(col("emb_dup_of").isNotNull, "embdup")
            .when(col("substr_tokens").isNotNull, "partial")
            .otherwise("keep").as("tier"),
          when(col("ex_dup_of").isNotNull, col("ex_dup_of"))
            .when(col("nd_dup_of").isNotNull, col("nd_dup_of"))
            .when(col("emb_dup_of").isNotNull, col("emb_dup_of")).as("dup_of"),
          when(col("ex_dup_of").isNotNull || col("nd_dup_of").isNotNull ||
              col("emb_dup_of").isNotNull, col("n_tokens"))
            .when(col("substr_tokens").isNotNull, col("substr_tokens"))
            .otherwise(lit(0L)).cast("long").as("cut_tokens"))
      // Not checkpointed (r18): consumed once, by `out`'s checkpoint.
      val reportSegsOld = readSegmentsPruned(spark, stateDir, "report",
        reportSchemaV, Some(touched))
      val reportOldT = reportSegsOld.join(touched, Seq("doc_id"))
        .groupBy("doc_id")
        .agg(max_by(struct(col("tier"), col("dup_of"), col("cut_tokens")),
          col("v")).as("r"))
        .select(col("doc_id"), col("r.tier").as("o_tier"),
          col("r.dup_of").as("o_dup"), col("r.cut_tokens").as("o_cut"))
      val out = touchedRows
        .join(reportOldT, Seq("doc_id"), "left")
        .select(col("doc_id"), col("tier"), col("dup_of"), col("cut_tokens"),
          when(col("tier") <=> col("o_tier") &&
            col("dup_of") <=> col("o_dup") &&
            col("cut_tokens") <=> col("o_cut"), "same")
            .otherwise("changed").as("upd"))
        .unionByName(dDocs.select(col("doc_id"), lit("deleted").as("tier"),
          lit(null).cast("long").as("dup_of"), lit(0L).as("cut_tokens"),
          lit("deleted").as("upd")))
        .localCheckpoint(true)

      // ---- land the delete's segments (all O(deleted + touched));
      // known-empty ones are skipped like ingest's (r14 review) — via
      // the repair tiers' own counts, not isEmpty probes (r18). The
      // delete half's id_map segment keeps its probe: its emptiness
      // (any PURE delete among the doomed?) is not otherwise known.
      landParallel(
      (if (nAffFps > 0) Seq[() => Unit](
        () => writeSegment(fpWriteSeg, stateDir, nextV, "fp_index")) else Nil) ++
      (if (nAffB > 0) Seq[() => Unit](
        () => writeSegment(ndOwnersWrite.withColumn("v", lit(nextV)),
          stateDir, nextV, "band_owners")) else Nil) ++
      (if (nNdPairs > 0) Seq[() => Unit](
        () => writeSegment(ndPairsNewSeg, stateDir, nextV, "nd_pairs")) else Nil) ++
      (if (nAffB > 0) Seq[() => Unit](
        () => writeSegment(ndTombsNewSeg, stateDir, nextV, "nd_tombs")) else Nil) ++
      (if (nAffH > 0) Seq[() => Unit](
        () => writeSegment(hashWriteSeg, stateDir, nextV, "hash_index")) else Nil) ++
      (if (nMarkTombs > 0) Seq[() => Unit](
        () => writeSegment(markTombsNewSeg, stateDir, nextV,
          "mark_tombs")) else Nil) ++
      Seq[() => Unit](
        () => writeSegment(del.withColumn("v", lit(nextV)), stateDir, nextV,
          "doc_tombs"),
        () => writeSegment(out.select(col("doc_id"), col("tier"), col("dup_of"),
          col("cut_tokens")).withColumn("v", lit(nextV)), stateDir, nextV,
          "report")) ++
        (if (vecTierActive)
          (if (nVAffB > 0) Seq[() => Unit](
            () => writeSegment(vOwnersWrite.withColumn("v", lit(nextV)),
              stateDir, nextV, "vec_owners")) else Nil) ++
          (if (nVPairs > 0) Seq[() => Unit](
            () => writeSegment(vPairsNewSeg, stateDir, nextV,
              "vec_pairs")) else Nil) ++
          (if (nVAffB > 0) Seq[() => Unit](
            () => writeSegment(vTombsNewSeg, stateDir, nextV,
              "vec_tombs")) else Nil)
        else Nil) ++
        idMapSeg.map(m => () => writeSegmentUnlessEmpty(
          m.withColumn("v", lit(nextV)), stateDir, nextV, "id_map")).toSeq)
      writeMarkers(stateDir, curV, nextV, appliedMarker)
      VersionedDir(stateDir).commit(nextV)
      out
      } finally tierPool.shutdown()
  }

  private def foldReport(spark: SparkSession, stateDir: String): DataFrame = {
    val dirs = liveSegmentDirs(stateDir, "report")
    // A doc whose LATEST disposition is 'deleted' vanishes — filtered
    // AFTER the fold (filtering before it would resurrect older rows).
    if (dirs.isEmpty) emptyDf(spark, reportSchema)
    else if (dirs.size == 1)
      // One live segment (fresh state or just-compacted): its doc_ids
      // are unique by construction — skip the fold entirely.
      readSegments(spark, stateDir, "report", reportSchemaV).drop("v")
        .filter(col("tier") =!= "deleted")
    else readSegments(spark, stateDir, "report", reportSchemaV)
      .groupBy("doc_id")
      .agg(max_by(struct(col("tier"), col("dup_of"), col("cut_tokens")),
        col("v")).as("r"))
      .select(col("doc_id"), col("r.tier").as("tier"),
        col("r.dup_of").as("dup_of"), col("r.cut_tokens").as("cut_tokens"))
      .filter(col("tier") =!= "deleted")
  }

  /** The served artifact: the stored report, as of the last ingest
    * (latest-version-wins across the overlay segments). The returned
    * frame reads committed segments lazily — consume it before the
    * SECOND subsequent [[compact]] (ingests never delete segments;
    * compaction defers its GC one generation). */
  def report(spark: SparkSession, stateDir: String): DataFrame = {
    checkLayout(stateDir)
    foldReport(spark, stateDir)
  }

  /** The curated corpus the maintained state SERVES — the q296
    * span-complement reconstruction executed over the stored marks:
    * drops every doc the tier ladder cuts outright (`exact`/`neardup`/
    * `embdup`), removes each marked token span from the rest, and
    * returns the canonical trimmed text with kept/cut token counts.
    * This is the artifact a training run reads. Spans per doc are a
    * bounded list (collect_list at the per-doc grain) joined back to
    * the stored corpus scan; the reconstruction is a narrow
    * higher-order projection — TEXT never shuffles. */
  def curatedCorpus(spark: SparkSession, stateDir: String): DataFrame = {
    checkLayout(stateDir)
    val p = storedParams(stateDir).getOrElse(Params())
    val kept = report(spark, stateDir)
      .filter(!col("tier").isin("exact", "neardup", "embdup"))
      .select("doc_id", "tier")
    // Live marks (mark tombstones applied); deleted docs drop via the
    // report join below — a deleted doc is never in `kept`.
    val marksAll = livePairs(
      readSegments(spark, stateDir, "marks", marksSchema),
      readSegments(spark, stateDir, "mark_tombs", markTombSchema),
      "id", "pos",
      tombsKnownEmpty = liveSegmentDirs(stateDir, "mark_tombs").isEmpty)
    val spans = ExactSubstrings.mergeMarks(
        marksAll.select(col("id"), col("pos"), (col("pos") + (p.W - 1)).as("e")))
      .groupBy(col("id").as("doc_id"))
      .agg(collect_list(struct(col("span_start").cast("long").as("tok_start"),
        col("span_end").cast("long").as("tok_end"))).as("spans"))
    val toks = TextFunctions.tokens(col("text"))
    val sp = coalesce(col("spans"),
      array().cast("array<struct<tok_start:long,tok_end:long>>"))
    val keptToks = filter(
      transform(sequence(lit(1L), size(toks).cast("long")), i =>
        struct(i.as("i"), element_at(toks, i.cast("int")).as("tok"))),
      x => !exists(sp, sg =>
        x.getField("i") >= sg.getField("tok_start") &&
          x.getField("i") <= sg.getField("tok_end")))
    readSegments(spark, stateDir, "docs", docsSchema)
      .join(kept, Seq("doc_id"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tier"),
        size(keptToks).cast("long").as("n_tokens_kept"),
        (size(toks) - size(keptToks)).cast("long").as("n_tokens_cut"),
        array_join(transform(keptToks, x => x.getField("tok")), " ").as("text_kept"))
  }

  /** Consistency self-check — the production safety valve the
    * convergence spec institutionalizes: recompute the report FROM
    * SCRATCH over the stored corpus (the same one-shot batch algebra the
    * incremental path must equal — fp min-groups, star-form LSH over a
    * single-pass shingle frame, SRP star pairs over the stored vectors,
    * token-window spans) and return every row where the stored report
    * disagrees. Empty result = the maintained state is exactly what a
    * full replay would produce; any row is a bug or corruption, with
    * both versions side by side. O(corpus) — run it as an audit, not
    * per ingest. */
  def verifyAgainstReplay(spark: SparkSession, stateDir: String,
                          p: Params = Params()): DataFrame = {
    checkLayout(stateDir)
    val (delIds, noDel) = deletedIds(spark, stateDir)
    val corpus = aliveBy(readSegments(spark, stateDir, "docs", docsSchema),
        "doc_id", delIds, noDel)
      .select(col("doc_id"), col("text"), col("n_tokens"), col("fp"))
      .localCheckpoint(true)
    val exCut = corpus.select(col("doc_id"), col("fp"))
      .join(corpus.groupBy("fp").agg(min("doc_id").as("keep_id")), Seq("fp"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("keep_id").as("ex_dup_of"))
    val sh = DedupFunctions.shingledDocs(corpus, "text", "doc_id", p.n)
      .localCheckpoint(true)
    val ndCut = DedupFunctions.minhashLshStarPairsShingled(sh,
        p.numHashes, p.bands, p.threshold, p.portable)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("nd_dup_of"))
    // Embedding tier replay: SRP star pairs over the stored vectors.
    val planes = Similarity.deterministicPlanes(p.vecBits, p.vecDim)
    val vecs = aliveBy(readSegments(spark, stateDir, "vecs", vecsSchema),
        "doc_id", delIds, noDel)
      .localCheckpoint(true)
    val bandedV = vecBandedOf(vecs, p, planes)
    val vOwners = bandedV.groupBy("band", "bkey").agg(min("id").as("id_a"))
    val vPairs = bandedV.join(vOwners, Seq("band", "bkey"))
      .filter(col("id") > col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(vecs.select(col("doc_id").as("id_a"),
        col("emb").as("e_a"), col("nrm").as("n_a")), Seq("id_a"))
      .join(vecs.select(col("doc_id").as("id_b"),
        col("emb").as("e_b"), col("nrm").as("n_b")), Seq("id_b"))
      .filter(try_divide(Similarity.dot(col("e_a"), col("e_b")),
        col("n_a") * col("n_b")) >= p.vecThreshold)
    val embCut = vPairs.groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("emb_dup_of"))
    val ssTrim = ExactSubstrings
      .duplicateTokenSpans(corpus, "text", "doc_id", p.W)
      .groupBy(col("id").as("doc_id"))
      .agg(sum(col("tok_len")).as("substr_tokens"))
    val replay = corpus.select("doc_id", "n_tokens")
      .join(exCut, Seq("doc_id"), "left")
      .join(ndCut, Seq("doc_id"), "left")
      .join(embCut, Seq("doc_id"), "left")
      .join(ssTrim, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex_dup_of").isNotNull, "exact")
          .when(col("nd_dup_of").isNotNull, "neardup")
          .when(col("emb_dup_of").isNotNull, "embdup")
          .when(col("substr_tokens").isNotNull, "partial")
          .otherwise("keep").as("r_tier"),
        when(col("ex_dup_of").isNotNull, col("ex_dup_of"))
          .when(col("nd_dup_of").isNotNull, col("nd_dup_of"))
          .when(col("emb_dup_of").isNotNull, col("emb_dup_of")).as("r_dup_of"),
        when(col("ex_dup_of").isNotNull || col("nd_dup_of").isNotNull ||
            col("emb_dup_of").isNotNull, col("n_tokens"))
          .when(col("substr_tokens").isNotNull, col("substr_tokens"))
          .otherwise(lit(0L)).cast("long").as("r_cut_tokens"))
    report(spark, stateDir).join(replay, Seq("doc_id"), "full_outer")
      .filter(!(col("tier") <=> col("r_tier")) ||
        !(col("dup_of") <=> col("r_dup_of")) ||
        !(col("cut_tokens") <=> col("r_cut_tokens")))
  }

  /** Attach the maintenance pipeline to a STREAM: every micro-batch is
    * one [[ingest]], so the stored report tracks the live corpus — the
    * streaming form of the whole arc. `foreachBatch` re-delivers a
    * batch after a failure/restart, and [[ingest]] is NOT idempotent
    * (replayed doc_ids would double-enter the indexes), so the last
    * applied batchId is committed ATOMICALLY with each state version
    * (see [[ingest]]) and already-applied batches are skipped — the
    * standard foreachBatch exactly-once-ish discipline (the engine's T3
    * theme), pinned by the replay spec.
    *
    * `streamId` names the source LINEAGE, not the query run: batchIds
    * restart at 0 under a fresh checkpoint, so a marker that compared
    * raw batchIds across lineages would silently drop the new stream's
    * first batches (r13 review). Markers are kept per streamId — reuse
    * the id exactly when a restart may redeliver the same data (same
    * checkpoint, or a rebuilt checkpoint over the same source), and
    * pick a new id when attaching a genuinely new source to existing
    * state. Multiple lineages may feed one state dir, but never
    * CONCURRENTLY — each ingest takes the state dir's exclusive writer
    * lock and a second simultaneous writer fails fast.
    *
    * `embCol` names an optional embedding column (array of float/
    * double) to maintain the vector tier from.
    *
    * Caller starts the returned writer (choosing trigger/checkpoint):
    * {{{ CutReportMaintenance.streamWriter(docs, dir, "doc_id", "text",
    *       streamId = "crawl-feed")
    *       .option("checkpointLocation", ckpt).start() }}} */
  def streamWriter(docs: DataFrame, stateDir: String,
                   idCol: String, textCol: String, p: Params = Params(),
                   streamId: String = "default",
                   embCol: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(streamId.nonEmpty && streamId.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"streamId '$streamId' must be a filesystem-safe token")
    val cols = col(idCol).as("doc_id") +: col(textCol).as("text") +:
      embCol.map(e => col(e).as("emb")).toSeq
    docs.select(cols: _*)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        if (batchId > appliedBatch(stateDir, streamId)) {
          ingest(batch.sparkSession, stateDir, batch.toDF(), p,
            appliedMarker = Some((streamId, batchId)))
          ()
        }
      }
  }

  /** The TAKEDOWN stream surface (r14 verdict #5) — [[streamWriter]]'s
    * twin for a deletion feed: every micro-batch of ids is one
    * [[deleteDocs]], under the same exactly-once-ish discipline (the
    * applied-batch marker commits atomically with the state version, a
    * replayed batch is skipped, the writer lock serializes against any
    * concurrent ingest stream — interleaved ingest/delete streams
    * converge to the batch replay over the survivors, which the spec
    * pins via [[verifyAgainstReplay]]). Use a DISTINCT `streamId` from
    * every ingest lineage feeding the same state dir — markers are per
    * lineage. A deleted id arriving again in a later batch is a no-op
    * (deletion is idempotent per id), so an at-least-once deletion feed
    * needs no dedup upstream. */
  def deleteStreamWriter(ids: DataFrame, stateDir: String, idCol: String,
                         p: Params = Params(),
                         streamId: String = "deletes")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(streamId.nonEmpty && streamId.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"streamId '$streamId' must be a filesystem-safe token")
    ids.select(col(idCol).as("doc_id"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        if (batchId > appliedBatch(stateDir, streamId)) {
          deleteDocs(batch.sparkSession, stateDir, batch.toDF(), p,
            appliedMarker = Some((streamId, batchId)))
          ()
        }
      }
  }

  // ---- UNIFIED maintenance feed (r15 verdict #2): one multiplexed
  // stream of (op, document), dispatched per batch — the reference's
  // own shape (cdc_util/redshift_sink.py:196-227 dispatches
  // insert/update/delete rows inside one micro-batch) applied to the
  // maintained dedup state. The feed is keyed by an EXTERNAL id; the
  // state tables stay append-only-unique on INTERNAL ids via a
  // generation scheme, so "update" and "delete-then-re-ingest of the
  // same key" — out of contract on the raw surfaces — are first-class
  // here.

  /** External ids must sit below this bound; internal ids are
    * `(gen << 40) | ext_id` (gen 0 = the ext id itself), so every
    * re-ingest of a key gets a FRESH internal id deterministically —
    * no driver-side counter, no resurrection of a tombstoned id, and
    * replay of a crashed half recomputes the identical id. Regenerated
    * ids sort ABOVE all originals, so an updated duplicate dups onto
    * the original keeper rather than stealing keeper-ship. */
  private[operators] val ExtIdBound = 1L << 40
  private val MaxGen = 1L << 22

  /** Slot counter for string-keyed feeds — the next unallocated
    * numeric slot. Rides the versioned dir (carried by
    * [[writeMarkers]]) so it flips atomically with the commit; a
    * redelivered ingest half therefore recomputes identical slots. */
  private def nextSlotStored(stateDir: String): Long =
    VersionedDir(stateDir).committedText("_next_slot").fold(0L)(_.toLong)

  /** The feed's key mode — "long" or "string" — stamped by the first
    * [[applyOps]] against the dir and immutable after: mixing modes
    * would let a caller-chosen numeric ext_id collide with an
    * allocated string-key slot and silently merge two external keys'
    * generation chains. */
  private def feedKeyMode(stateDir: String): Option[String] = {
    val f = java.nio.file.Paths.get(s"$stateDir/_feed_keys")
    if (java.nio.file.Files.exists(f))
      Some(new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim)
    else None
  }

  private def requireOrStampKeyMode(stateDir: String, mode: String): Unit =
    feedKeyMode(stateDir) match {
      case Some(stored) => require(stored == mode,
        s"the unified feed at $stateDir is $stored-keyed; refusing " +
          s"$mode keys — mixing key modes could collide a numeric " +
          "ext_id with an allocated string-key slot")
      case None =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$stateDir/_feed_keys"),
          mode.getBytes("UTF-8"))
        ()
    }

  /** Apply ONE multiplexed batch of `(op, ext_id, text[, emb][, seq])`
    * to the maintained state: per external key the winning row (by
    * `seq` if given, else ingest-beats-delete — the CDC update reading
    * of an unordered delete+re-ingest pair) decides its fate; every
    * currently-mapped key in the batch has its old internal doc
    * tombstoned (upsert = replace), then the winning ingests land
    * under fresh internal generations — delete half before ingest
    * half, each half committed with its OWN per-lineage replay marker
    * (`<streamId>-del` / `<streamId>-ing`), so a crash between the
    * halves redelivers exactly the missing half and a redelivered
    * whole batch is a no-op. Ops: `ingest`/`insert`/`update`/`upsert`
    * (aliases) and `delete`. Deletes of unknown or already-deleted
    * keys are no-ops (an at-least-once feed needs no upstream dedup);
    * two ingests of one key in one batch REQUIRE a distinguishing
    * `seq` (an unordered pair would be an arbitrary pick).
    *
    * KEY MODES (r17): `ext_id` may be a LONG in [0, 2^40) — the
    * caller owns uniqueness — or a STRING (URL, content hash, any
    * composite-PK rendering; the reference keys on arbitrary PKs,
    * `cdc_util/redshift_sink.py:229-236`). String keys are mapped to
    * library-allocated numeric slots via the `key_map` table + the
    * `_next_slot` counter: brand-new ingested keys take the next
    * slots ranked by key string — deterministic from committed state,
    * so redelivery is safe; a key's slot survives deletion (slot
    * reuse would merge two keys' generation chains). The mode is
    * stamped on first use and immutable per state dir.
    *
    * Returns the applied halves' touched/repaired rows at the
    * INTERNAL grain (empty when both halves were replay-skipped);
    * [[maintainedView]] serves the external grain. */
  def applyOps(spark: SparkSession, stateDir: String, batch: DataFrame,
               p: Params = Params(), streamId: Option[String] = None,
               batchId: Long = -1L, seqCol: Option[String] = None,
               embCol: Option[String] = None): DataFrame =
    VersionedDir(stateDir).withWriterLock {
      checkConfs(spark)
      checkLayout(stateDir)
      requireOrPersistParams(stateDir, p)
      streamId.foreach(s => require(s.nonEmpty && s.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_'),
        s"streamId '$s' must be a filesystem-safe token"))
      // The body sees only the delta-grain session and the rebound batch.
      onDeltaGrain(spark, batch) { (spark, batch) =>
      def halfDone(half: String): Boolean = streamId.exists(s =>
        batchId >= 0 && batchId <= appliedBatch(stateDir, s"$s-$half"))
      def halfMarker(half: String): Option[(String, Long)] =
        streamId.filter(_ => batchId >= 0).map(s => (s"$s-$half", batchId))
      // The delete half also defers to the INGEST marker: halves run
      // del-then-ing inside one lock, so an applied ing half proves
      // the whole batch applied — without this, a redelivered all-new
      // batch (which set no del marker because nothing was mapped yet)
      // would recompute `doomed` against the post-ingest mapping and
      // DELETE its own just-ingested docs.
      def batchDone: Boolean = halfDone("ing")

      val stringKeys = batch.schema("ext_id").dataType == StringType
      requireOrStampKeyMode(stateDir, if (stringKeys) "string" else "long")
      val keyCol = if (stringKeys) "ext_key" else "ext_id"
      val opNorm = lower(trim(col("op")))
      val cols = opNorm.as("op") +:
        (if (stringKeys) col("ext_id").cast("string").as("ext_key")
         else col("ext_id").cast("long").as("ext_id")) +: col("text") +:
        (embCol.map(e => col(e).as("emb")).toSeq ++
          seqCol.map(s => col(s).cast("long").as("seq")).toSeq)
      // One materialization job answers every row-shape contract check
      // (r18, guide §1.2): the bad-op and bad-key counts ride the lazy
      // checkpoint's first action instead of two later probe jobs.
      val rows = batch.select(cols: _*).localCheckpoint(false)
      val badKey =
        if (stringKeys) col("ext_key").isNull || col("ext_key") === ""
        else col("ext_id") < 0L || col("ext_id") >= ExtIdBound
      val contract = rows.select(
        count(when(!col("op").isin("ingest", "insert", "update",
          "upsert", "delete"), 1)).as("bad_op"),
        count(when(badKey, 1)).as("bad_key")).first()
      require(contract.getLong(0) == 0L,
        "unified feed ops must be ingest/insert/update/upsert/delete")
      require(contract.getLong(1) == 0L,
        if (stringKeys) "unified-feed string keys must be non-null and non-empty"
        else s"unified-feed ext ids must be in [0, 2^40) — the internal " +
          "generation scheme packs the generation above bit 40")
      val isIngest = col("op") =!= "delete"
      // Winning row per key: max (seq, ingest-beats-delete); ambiguity
      // among ingests (same key, same ord) is refused, duplicate
      // deletes dedup away (idempotent per key).
      val ord = seqCol.map(_ => struct(col("seq"),
          when(isIngest, 1).otherwise(0)))
        .getOrElse(struct(lit(0L), when(isIngest, 1).otherwise(0)))
      require(rows.filter(isIngest).groupBy(col(keyCol), ord.as("o"))
        .count().filter(col("count") > 1).isEmpty,
        "ambiguous feed: two ingest rows for one ext key with no " +
          "distinguishing seq — pass seqCol to order them")
      val winningK = rows
        .groupBy(keyCol)
        .agg(max_by(struct(rows.columns.filter(_ != keyCol)
          .map(col): _*), ord).as("w"))
        .select(col(keyCol) +: rows.columns.filter(_ != keyCol)
          .map(c => col(s"w.$c").as(c)): _*)
        .localCheckpoint(true)
      // String mode: resolve each key to its numeric slot — stored
      // (key_map, a key-pruned point-read) for seen keys; the next
      // slots, ranked by key string, for brand-new INGESTED keys
      // (pure deletes of never-seen keys resolve to no slot and drop
      // out as the no-ops they are). Everything downstream of this
      // point is the numeric algebra, identical in both modes.
      val (winning, keyMapSeg, nextSlotAfter) =
        if (!stringKeys) (winningK, None, None)
        else {
          val wKeys = winningK.select("ext_key")
          val km = readSegmentsPruned(spark, stateDir, "key_map",
              keyMapSchema, Some(wKeys))
            .join(wKeys, Seq("ext_key"))
            .groupBy("ext_key")
            .agg(max_by(col("ext_id"), col("v")).as("slot"))
            .localCheckpoint(true)
          val slot0 = nextSlotStored(stateDir)
          // The rank window is batch-sized (one micro-batch's new
          // keys), not corpus-sized — a global sort here is the
          // deterministic-allocation contract, not a scale hazard.
          val (alloc, nAlloc) = cpCount(winningK.filter(isIngest)
            .join(km.select("ext_key"), Seq("ext_key"), "left_anti")
            .select(col("ext_key"))
            .withColumn("slot", lit(slot0) - 1 +
              row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy("ext_key"))))
          require(slot0 + nAlloc <= ExtIdBound,
            s"string-key slot space exhausted at $stateDir — " +
              s"$slot0 slots allocated of ${ExtIdBound}")
          val resolved = winningK
            .join(km.unionByName(alloc), Seq("ext_key"), "left")
            .filter(col("slot").isNotNull)
            .withColumn("ext_id", col("slot")).drop("slot", "ext_key")
            .localCheckpoint(true)
          (resolved,
            if (nAlloc == 0L) None
            else Some(alloc.select(col("ext_key"),
              col("slot").as("ext_id"))),
            if (nAlloc == 0L) None else Some(slot0 + nAlloc))
        }
      // Current mapping for the batch's keys — an ext-pruned point-read.
      val extKeys = winning.select("ext_id")
      val mapping = readSegmentsPruned(spark, stateDir, "id_map",
          idMapSchema, Some(extKeys))
        .join(extKeys, Seq("ext_id"))
        .groupBy("ext_id")
        .agg(max_by(struct(col("doc_id"), col("gen")), col("v")).as("m"))
        .select(col("ext_id"), col("m.doc_id").as("cur_id"),
          col("m.gen").as("cur_gen"))
        .localCheckpoint(true)
      val withMap = winning.join(mapping, Seq("ext_id"), "left")

      // ---- delete half: every mapped key in the batch dooms its
      // current internal doc (pure delete AND upsert-replace alike);
      // only pure deletes write their mapping-cleared id_map row here
      // (an upsert's new mapping rides the ingest half's commit).
      val emptyOut = emptyDf(spark, reportSchema.add(
        StructField("upd", StringType)))
      val (doomed, nDoomed) = cpCount(withMap.filter(col("cur_id").isNotNull)
        .select(col("cur_id").as("doc_id"), col("op"), col("ext_id"),
          col("cur_gen")))

      // ---- ingest half's internal rows, resolved BEFORE the delete
      // half commits: `mapping` above is an eager checkpoint of the
      // PRE-delete committed state, so the winning-ingest resolution
      // (generation bump, packed internal ids) is identical either
      // side of the delete — and one job instead of a checkpoint plus
      // two probe jobs (count + generation bound ride the same agg).
      val ing = withMap.filter(isIngest)
        .withColumn("gen", when(col("cur_gen").isNotNull,
          col("cur_gen") + 1L).otherwise(lit(0L)))
        .withColumn("doc_id", when(col("gen") === 0L, col("ext_id"))
          .otherwise(shiftleft(col("gen"), 40).bitwiseOR(col("ext_id"))))
        .localCheckpoint(false)
      val ingStats = ing.select(count(lit(1)).as("n"),
        max("gen").as("max_gen")).first()
      val nIng = ingStats.getLong(0)
      require(nIng == 0L || ingStats.getLong(1) < MaxGen,
        s"a key exceeded $MaxGen re-ingest generations — the packed " +
          "internal id would overflow")

      // ---- overlap (r17 ledger item 3, guide §2.6): the ingest half's
      // batch-derived tier inputs (fingerprints, shingles, band keys,
      // window hashes, vectors) depend only on the resolved batch — not
      // on the delete's commit — so they are prepared concurrently with
      // the delete half's repair tiers and handed to ingestLocked. The
      // prep writes nothing; state reads inside ingestLocked still
      // happen strictly after the delete's version commit.
      val willIngest = !halfDone("ing") && nIng > 0L
      val ingBatch =
        if (!willIngest) None
        else Some(ing.select(col("doc_id") +: col("text") +:
          embCol.map(_ => col("emb")).toSeq: _*))
      val prepPool = java.util.concurrent.Executors.newFixedThreadPool(1,
        new java.util.concurrent.ThreadFactory {
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, "cutmaint-ing-prep"); t.setDaemon(true); t
          }
        })
      try {
        implicit val prepEc: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(prepPool)
        val runDelete = !(halfDone("del") || batchDone || nDoomed == 0L)
        val prepF = ingBatch.map(b => scala.concurrent.Future(
          prepBatch(spark, b, p)))
        val delOut =
          if (!runDelete) emptyOut
          else deleteLocked(spark, stateDir, doomed.select("doc_id"), p,
            halfMarker("del"),
            idMapSeg = Some(doomed.filter(col("op") === "delete")
              .select(col("ext_id"), lit(null).cast("long").as("doc_id"),
                col("cur_gen").as("gen"))))

        // ---- ingest half: winning ingests land under the next
        // generation of their key ((gen+1)<<40 | ext for a seen key,
        // the ext id itself for a brand-new one) — deterministic from
        // committed state, so a redelivered half recomputes identical
        // internal ids.
        val ingOut = ingBatch match {
          case None => emptyOut
          case Some(b) =>
            ingestLocked(spark, stateDir, b, p, halfMarker("ing"),
              idMapSeg = Some(ing.select(col("ext_id"), col("doc_id"),
                col("gen"))),
              keyMapSeg = keyMapSeg, nextSlot = nextSlotAfter,
              prep = prepF.map(f => scala.concurrent.Await.result(f,
                scala.concurrent.duration.Duration.Inf)))
        }
        delOut.unionByName(ingOut)
      } finally {
        // The prep future writes no state, but nothing may outlive the
        // writer lock (same discipline as landParallel): the pool is
        // drained before the lock scope closes, failure or not.
        drain(prepPool, scala.concurrent.duration.Duration(1L, "hour"), stateDir)
      }
      }
    }

  /** Shut `pool` down and wait up to `timeout` for its tasks; past it,
    * interrupt them and fail rather than let the writer lock of
    * `stateDir` close while they still submit jobs. */
  private[operators] def drain(pool: java.util.concurrent.ExecutorService,
                               timeout: scala.concurrent.duration.FiniteDuration,
                               stateDir: String): Unit = {
    pool.shutdown()
    if (!pool.awaitTermination(timeout.toMillis, java.util.concurrent.TimeUnit.MILLISECONDS)) {
      pool.shutdownNow()
      throw new IllegalStateException(
        s"applyOps prep for $stateDir still running after $timeout — interrupted")
    }
  }

  /** The unified feed's EXTERNAL view of the maintained report: one
    * row per live external key — its tier, cut tokens, and (when the
    * dup target is itself a mapped key) the external id it duplicates.
    * Mapping and report join on the internal id; keys whose latest
    * mapping is null (deleted) vanish. A string-keyed dir serves
    * `(ext_key, tier, dup_of_ext, cut_tokens)` with string externals
    * (slots resolved back through `key_map`); a numeric dir serves
    * `ext_id` longs as before. */
  def maintainedView(spark: SparkSession, stateDir: String): DataFrame = {
    checkLayout(stateDir)
    val latest = readSegments(spark, stateDir, "id_map", idMapSchema)
      .groupBy("ext_id")
      .agg(max_by(struct(col("doc_id"), col("gen")), col("v")).as("m"))
      .select(col("ext_id"), col("m.doc_id").as("doc_id"))
      .filter(col("doc_id").isNotNull)
    if (feedKeyMode(stateDir).contains("string")) {
      val km = readSegments(spark, stateDir, "key_map", keyMapSchema)
        .groupBy("ext_key")
        .agg(max_by(col("ext_id"), col("v")).as("ext_id"))
      val latK = latest.join(km, Seq("ext_id"))
        .select(col("ext_key"), col("doc_id"))
      val rev = latK.select(col("doc_id").as("dup_of"),
        col("ext_key").as("dup_of_ext"))
      report(spark, stateDir).join(latK, Seq("doc_id"))
        .join(rev, Seq("dup_of"), "left")
        .select(col("ext_key"), col("tier"), col("dup_of_ext"),
          col("cut_tokens"))
    } else {
      val rev = latest.select(col("doc_id").as("dup_of"),
        col("ext_id").as("dup_of_ext"))
      report(spark, stateDir).join(latest, Seq("doc_id"))
        .join(rev, Seq("dup_of"), "left")
        .select(col("ext_id"), col("tier"), col("dup_of_ext"),
          col("cut_tokens"))
    }
  }

  /** Attach the maintained state to a single MULTIPLEXED feed — the
    * streaming form of [[applyOps]] and the unified twin of
    * [[streamWriter]]/[[deleteStreamWriter]]: every micro-batch of
    * `(op, ext_id, text[, emb][, seq])` rows applies its deletes (and
    * upsert-replacements) then its ingests, under per-half replay
    * markers derived from `streamId`, so restarts redeliver exactly
    * the unapplied halves. Within a batch, per-key order comes from
    * `seqCol` when given; otherwise an unordered delete+ingest pair
    * for one key reads as an update. */
  def maintenanceStreamWriter(events: DataFrame, stateDir: String,
                              opCol: String, idCol: String, textCol: String,
                              p: Params = Params(),
                              streamId: String = "maintenance",
                              embCol: Option[String] = None,
                              seqCol: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(streamId.nonEmpty && streamId.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"streamId '$streamId' must be a filesystem-safe token")
    val cols = col(opCol).as("op") +: col(idCol).as("ext_id") +:
      col(textCol).as("text") +:
      (embCol.map(e => col(e).as("emb")).toSeq ++
        seqCol.map(s => col(s).as("seq")).toSeq)
    events.select(cols: _*)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        applyOps(batch.sparkSession, stateDir, batch.toDF(), p,
          streamId = Some(streamId), batchId = batchId,
          seqCol = seqCol.map(_ => "seq"),
          embCol = embCol.map(_ => "emb"))
        ()
      }
  }
}
