package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: the formatted physical plans of the headline
  * queries, with a note on what each plan shape buys at cluster scale.
  * Run: `sbt "runMain graft.Plans"` (writes /root/repo/PLANS.md).
  * PlanSpec asserts the load-bearing properties; this file is the
  * human-readable companion. */
object Plans {
  private val headline: Seq[(String, String)] = Seq(
    "q24_spine_scaled" -> ("1M-record CDC spine: route (string-path filter) and parse stay in one " +
      "whole-stage-codegen span; LWW plans as WindowGroupLimit, so the shuffle carries ~#keys rows, " +
      "not the batch."),
    "q7_merge" -> ("keyed merge: the micro-batch key set broadcasts into a LEFT ANTI hash join — " +
      "the (100 TB) target side streams and is never shuffled."),
    "q13_exact_dedup" -> ("exact dedup: two-phase hash aggregate on the 16-byte fingerprint; " +
      "document text never enters an exchange."),
    "q14_minhash_lsh" -> ("MinHash LSH: signatures are partial aggregates (docs shuffle, not shingles); " +
      "candidates come from a band-bucket equi-join, never an all-pairs product."),
    "q291_incremental_neardup" -> ("incremental near-dup maintenance: the delta batch's band keys " +
      "probe the base corpus's band rows in one equi-join (at cluster scale the base side is a " +
      "(band,bh)-bucketed appended index table, so the probe is co-located); base x base is never " +
      "re-paired - per-ingest cost is |delta| x bands, not O(corpus^2)."),
    "q292_cut_report" -> ("composed dedup cut report: the near-dup tier runs the STAR form - one " +
      "map-side-combined min per band bucket, later co-occupants pair with the owner only - so a " +
      "k-doc duplicate cluster costs k candidate rows, not the clique's k^2 (measured: the clique " +
      "form went 51 s -> 324 s over a 3x corpus with a 20% planted cluster; the star form 19 s -> " +
      "43 s, exponent 1.67 -> 0.73); the three tiers then compose as doc_id-keyed left joins."),
    "qa2_revenue" -> ("star join: both dimensions broadcast; lineitem is aggregated map-side and " +
      "only the small partial aggregates shuffle."),
    "q33_lsh_ann" -> ("LSH ANN: the probe-expanded query side broadcasts; the corpus is scanned once " +
      "per bucket-equi-join, re-ranked with a WindowGroupLimit top-k."),
    "q26_decontaminate" -> ("capped-Jaccard decontamination (the default-on production path): " +
      "constant-memory frequency counters drop shingles over the derived cap " +
      "(max(64, ceil(sqrt(N)))) BEFORE any group is materialized; surviving groups (bounded by " +
      "the cap) are collected reusing the join's shingle partitioning and their <= cap^2/2 pairs " +
      "expand via a higher-order function — no self-join of the exploded tokens."),
    "q41_ivf_ann" -> ("IVF ANN: cell assignment is a literal-centroid expression inside the scan " +
      "projection (zero shuffle to build inverted lists); the probe-expanded query side broadcasts " +
      "into a cell equi-join and candidates re-rank through a WindowGroupLimit top-k."),
    "q39_dedup_clusters" -> ("near-dup clustering: the shown plan is the final label join — the " +
      "document ids LEFT OUTER the converged component labels (ExistingRDD = the checkpointed " +
      "star edges). The component loop itself ran eagerly before this plan: O(log^2 n) " +
      "large-star/small-star rounds (2-4 in practice), each a window min over edge endpoints with " +
      "edge-set-sized exchanges and a localCheckpoint lineage cut; document text never enters the loop."),
    "q43_boilerplate" -> ("boilerplate removal: the corpus-frequent block dictionary is " +
      "corpus-size-INDEPENDENT (at most avg-blocks-per-doc / maxDocShare entries), so the " +
      "removal is a BroadcastHashJoin LeftAnti — the corpus itself is never reshuffled; " +
      "reassembly sorts each doc's surviving blocks inside the aggregate (per-group memory = " +
      "one document)."),
    "q42_bm25" -> ("BM25 top-terms: tf partially aggregates map-side; the one-row corpus-scalar " +
      "frame broadcasts; doc length and the top-k rank are two windows over ONE doc_id " +
      "exchange, and the rank plans as WindowGroupLimit so only ~k rows per doc survive the sort."),
    "q47_domain_cap" -> ("per-domain cap: row_number <= k over the md5 hash order plans as " +
      "WindowGroupLimit — every partition keeps at most k rows per source BEFORE the exchange, " +
      "so a hot domain never materializes its full row set on one task."),
    "q17_ann_cosine" -> ("brute-force ANN baseline: the query side broadcasts (nested-loop over " +
      "8 rows, not a shuffle); every pair scores through the native vec_dot codegen kernel with " +
      "per-vector norms computed once at each scan — no higher-order functions, no per-pair " +
      "array allocation, one WindowGroupLimit top-k."),
    "q51_zorder" -> ("Z-order layout audit: the Morton key and file id are per-row bit " +
      "arithmetic inside the scan projection (no sort, no sample pass, no window — compare a " +
      "global ORDER BY layout); the only exchange carries partial per-file min/max/count " +
      "aggregates, i.e. at most #files rows per mapper."),
    "q52_semantic_dedup" -> ("semantic dedup: banded SRP-LSH candidates come from a (band, " +
      "bucket) equi-join — two 4-bit tables OR'd, never an all-pairs product — and the " +
      "connected-components loop that closes pairs into clusters ran eagerly before the shown " +
      "label join, touching only the pair edge set (embeddings never enter the loop)."),
    "q54_span_dedup" -> ("exact span dedup: the first-occurrence dictionary is corpus-sized " +
      "(every distinct block), so unlike q43 it cannot broadcast — instead BOTH window mins " +
      "(first doc, then first pos) stack over ONE block-content exchange and share a single " +
      "partition-key sort, marking survivors co-partitioned without any join-back; the " +
      "reassembly group-by is the only other shuffle and its per-group state is one document."),
    "q55_temperature_mixture" -> ("temperature mixture: per-source stats partially aggregate " +
      "(rows out = #sources), the sqrt-weight normalizer folds over the group-sorted stats " +
      "array (one defined FP-sum order, no driver round-trip), and the rate table broadcasts " +
      "back into the corpus scan — the corpus itself is never shuffled."),
    "q58_dsir" -> ("DSIR importance weights: one corpus pass builds BOTH hashed-bucket " +
      "count tables at once (conditional sums, partials bounded by the bucket count); the " +
      "per-bucket log-ratio model reduces to ONE broadcast map row and every raw document " +
      "scores via a fold inside its own scan projection — the corpus is never shuffled or " +
      "equi-joined to be scored."),
    "q59_pq_ann" -> ("product-quantization ANN: the corpus encodes to 4-int code arrays in " +
      "the scan projection (argmin over literal centroids — no join, no shuffle) and the raw " +
      "64-float vectors are pruned BEFORE the candidate join, which streams codes against " +
      "broadcast per-query distance LUTs; ADC is 4 array lookups per pair, and the per-query " +
      "top-k rank-limits via WindowGroupLimit before the final sort."),
    "q60_bigram_lm" -> ("bigram LM scoring: the vocabulary-bounded unigram/bigram count " +
      "tables partially aggregate map-side, then meet the token-pair stream by equi-join " +
      "(the deliberate beyond-broadcast path q57's one-row model avoids); the per-doc sum " +
      "folds a position-sorted collect_list so the double result is engine-reproducible."),
    "q64_corpus_report" -> ("corpus report card: every per-doc score integerizes to exact " +
      "micro-unit longs IN the scan projection, so the per-source means are plain partial " +
      "aggregates (order-independent integer sums — no collect-and-fold whose state grows " +
      "with the group); the unigram model broadcasts as one row and the dominant-language " +
      "pick is a WindowGroupLimit over the tiny (source, lang) count table."),
    "q65_ivf_pq" -> ("IVF-PQ: the corpus index row is (id, cell, 4 residual codes), built " +
      "entirely in the scan projection (cell = the PqEncode kernel's rounded argmin over " +
      "literal centroids, residual codes against the shared codebook); candidates come from " +
      "an EQUI-JOIN on cell with the broadcast probe-expanded queries — nprobe/nlist of the " +
      "corpus per query, never a cross join — and the per-query top-k is a WindowGroupLimit. " +
      "Compare q59's flat PQ, which must stream every code row past every query."),
    "q66_bloom_contamination" -> ("bloom decontamination: the filter builds as a bit_or " +
      "hash aggregate onto AT MOST 16 (word, bits) rows regardless of eval-set size — the " +
      "fixed-size-sketch shape (q61) applied to membership — then broadcasts into the " +
      "training scan; the corpus's shingles never shuffle, and the only exchange after the " +
      "probe carries per-(doc, shingle) booleans."),
    "q67_entropy_quality" -> ("char-entropy quality gate: one native char_stats kernel " +
      "evaluation per row feeds all four output columns (the stacked Projects survive " +
      "CollapseProject because the alias is non-cheap and consumed five times); a pure narrow " +
      "map over a two-column scan — no shuffle, 100 TB streams through at scan speed."),
    "q68_sq_ann" -> ("SQ8 ANN: the min/max model is ONE partial-aggregated pass collapsing to a " +
      "128-double row; the corpus streams through the encode projection as byte-range code " +
      "arrays (raw vectors never cross the join); broadcast queries score dequantized " +
      "candidates and the top-k collapses to a WindowGroupLimit before the only exchange."),
    "q70_kmeans" -> ("k-means assignment under a TRAINED model: the Lloyd loop ran eagerly " +
      "before this plan (per iteration: one scan, one k-row exact-micro-unit-mean partial " +
      "aggregate, one <=k-row collect), so what executes per epoch over the data is a pure " +
      "literal-centroid projection — no join, no shuffle, same shape as q41's fixed-seed " +
      "assignment."),
    "q71_inverted_index" -> ("inverted index: posting pages cap through a per-token " +
      "WindowGroupLimit BEFORE any list materializes — a stopword's corpus-sized posting " +
      "never exists anywhere; df/cf aggregate the full postings as partially-combined longs " +
      "and meet the pages on the token exchange they already share."),
    "q73_scd2" -> ("SCD type-2 build: the lag change-detect and the lead interval-close " +
      "stack over ONE (keys) exchange and share its sort — the changelog shuffles once, " +
      "by key, exactly like the LWW spine, and no self-join ever forms; the incremental " +
      "twin (Scd2.merge, the streaming path) broadcasts the micro-batch so the 100 TB " +
      "history only ever streams."),
    "q74_pagerank" -> ("PageRank: each damped round is edge⋈rank⋈degree equi-joins on node " +
      "id plus ONE partially-combined contribution sum — hub skew lands in map-side " +
      "partials, not a window; the edge list localCheckpoints once and the rank vector " +
      "re-checkpoints every 8 rounds, keeping the plan O(1) deep; all-BIGINT fixed-point " +
      "arithmetic makes every rank exactly reproducible at any partition count."),
    "q75_fuzzy_match" -> ("q-gram fuzzy match: strings normalize to a bounded 40-char " +
      "prefix IN the scan, positional-free 3-grams explode from only that prefix, a " +
      "frequency valve drops saturated grams before the candidate equi-join (the q15 " +
      "shingle-cap shape), and exact levenshtein runs on surviving prefix pairs only — " +
      "the unbounded document text never enters an exchange."),
    "q77_html_extract" -> ("HTML → text/links: the whole extraction (script/style/comment " +
      "drop, block-boundary newlines, tag strip, entity decode, href harvest) is codegen'd " +
      "regex/string column algebra in ONE narrow projection — no UDF, no shuffle; 100 TB of " +
      "crawl HTML streams through at scan speed, and the href lists feed the URL identity " +
      "chain (q78) and the link graph (q74)."),
    "q78_url_stats" -> ("URL identity: canonicalization (case/www/default-port/tracking/" +
      "fragment normalization) and registered-domain extraction run inside the scan " +
      "projection; the only exchange carries partially-aggregated per-domain counts — the " +
      "cheapest crawl dedup tier costs one narrow map plus one #domains-sized shuffle."),
    "q82_semdedup" -> ("SemDeDup: the cell assignment is the literal-centroid PqEncode " +
      "kernel inside the scan projection (zero shuffle to build the clusters), candidate " +
      "pairs come from ONE equi-join on the cell id — the paper's own scale lever: k grows " +
      "with the corpus so |cell| stays bounded and the join never goes quadratic — and the " +
      "connected-components closure ran eagerly on the pair edge set before the shown " +
      "keep-flag window (embeddings never enter the loop)."),
    "q83_jl_ann" -> ("JL-sketch ANN: both sides project to 16 plane dots in their scans (a " +
      "narrow map — no model, no shuffle), the Q×N reduced-space pass streams 4× fewer " +
      "bytes per row and rank-limits through WindowGroupLimit; only Q×30 shortlist ids " +
      "broadcast back against the raw-vector scan for the exact re-rank."),
    "q86_substring_spans" -> ("exact substring spans: the text explodes to (doc, pos, " +
      "64-bit window hash) longs in its own scan — THE TEXT NEVER SHUFFLES — then " +
      "first-occurrence marking is one window over the hash exchange and span merging " +
      "sessionizes per doc (running-max gap merge, the q29 shape) on the doc exchange; " +
      "no join anywhere in the pipeline."),
    "q95_psi_drift" -> ("PSI drift: the reference's quartile row (ONE exact-percentile " +
      "aggregate) broadcasts back to both snapshot scans, each side partial-aggregates to " +
      "(bin, count) map-side — the only exchanges carry ≤5 rows each — and the PSI algebra " +
      "runs on the joined count frame; two narrow scans are the entire data-path cost at " +
      "any corpus size."),
    "q96_hard_negatives" -> ("hard-negative mining: the labeled query side broadcasts " +
      "(q17's plan), the corpus scans once with the label-mismatch predicate applied " +
      "BEFORE the per-query rank window, and WindowGroupLimit caps each query's candidate " +
      "set below the exchange — mining negatives for Q queries costs one corpus scan " +
      "regardless of Q."),
    "q97_snapshot_diff" -> ("snapshot diff: both snapshots project to (key, 16-byte " +
      "fingerprint) inside their scans — document text never reaches the join — then one " +
      "full-outer key join classifies added/removed/changed/unchanged; each side shuffles " +
      "its fingerprint pairs once, and bucketing both snapshots by the key makes the " +
      "daily-delta join exchange-free."),
    "q107_funnel" -> ("ordered funnel (view→click→purchase): the three step flags are " +
      "STACKED running-max windows over ONE (user_id) exchange — they share the same " +
      "partition sort, and the per-user aggregate reuses that partitioning, so the whole " +
      "funnel costs a single shuffle of (user, type, ts) triples plus a one-row rollup; " +
      "the naive per-step min-join would reshuffle the events table once per stage."),
    "q108_retention" -> ("weekly cohort retention: the (user, active-week) grain " +
      "partial-aggregates map-side BEFORE its exchange (raw events never shuffle), the " +
      "first-week cohort assignment is a window stacked on that grain — no join-back — " +
      "and the downstream exchanges carry only users×weeks and cohort×offset cells; " +
      "integer epoch-weeks keep the bucketing calendar-free and engine-portable."),
    "q93_source_overlap" -> ("cross-source duplicate mass: every document reduces to a " +
      "16-byte fingerprint IN the scan projection (text never shuffles), the (fingerprint, " +
      "source) distinct aggregates BEFORE the self-join — so the join input is " +
      "one-row-per-source-per-hash, dedup-bounded — and pairing is an equi-join on the hash, " +
      "never a product; the output matrix is #sources² rows at most."),
    "q102_lsh_recall" -> ("LSH recall eval: the planted near-dup union feeds the SAME q14 " +
      "banded pipeline being audited — signatures partial-aggregate (docs shuffle, shingles " +
      "don't), candidates meet on the (band, bucket) equi-key, and the planted-pair join is " +
      "an equi-join against a corpus-fraction-sized key list; the whole acceptance metric " +
      "costs one extra LSH run, no all-pairs anywhere."),
    "q103_psi_by_source" -> ("per-source PSI drift: ONE exact-percentile aggregate builds " +
      "the per-source quartile table (#sources rows) which BROADCASTS back into both " +
      "snapshot scans; each side bins in its scan projection and partial-aggregates to " +
      "(source, bin) counts — the only exchanges carry ≤ 4·#sources rows, and the PSI " +
      "algebra plus per-source totals run on that tiny frame (the per-source window " +
      "touches #sources·4 rows, not the corpus)."),
    "q99_tfidf_cosine" -> ("TF-IDF cosine pairs: term weights build from two stacked " +
      "partial aggregates ((doc,term) tf then per-term df), candidate pairs meet through " +
      "the shared-term equi-join — never a product; a term with df≈N carries idf≈0, so the " +
      "q35-style frequency valve drops it with no recall cost — and both the per-pair dot " +
      "and the per-doc norms are micro-unit INTEGER sums (order-independent, partial-agg " +
      "friendly, externally replayable). The HOT pair-dot aggregate is long-backed BIGINT " +
      "(UnsafeRow mutable-field fast path; DECIMAL(38,0) here cost 2.1× — VERDICT r7 #2) " +
      "with an explicit per-pair overflow guard; the tiny per-doc norms stay DECIMAL(38,0)."),
    "q109_kmv_distinct" -> ("KMV distinct sketch: the k-smallest-hashes filter is a rank " +
      "window that plans as WindowGroupLimit — every map task trims its partition to its " +
      "local k minima BEFORE the exchange, so the sketch shuffle carries O(partitions × k) " +
      "rows where the exact tier (also shown, as the published error baseline) shuffles " +
      "every distinct (type, user) pair; the final sketch/exact join broadcasts a " +
      "#event-types-row frame."),
    "q111_expectations" -> ("data-quality expectation suite: six declared rules compile " +
      "into ONE partially-aggregated scan of orders (no join, no union, no per-rule " +
      "re-read); the report row that crosses the exchange is as wide as the rule count and " +
      "one row tall, then melts to (rule, metric, passed) driver-free via inline(). " +
      "Uniqueness pays the count_distinct expand inside the same aggregate; qa6's HLL " +
      "sketch is the documented approx fallback for ultra-high-cardinality keys."),
    "q113_transitions" -> ("event-transition matrix: adjacent (prev → next) pairs come " +
      "from lag() over ONE user-key exchange — a self-join formulation would shuffle " +
      "events twice to build the same pairs; the pair counts then partial-aggregate " +
      "map-side, and the row-normalizing probability window runs over the " +
      "|event-types|²-row matrix, never over events."),
    "q116_weighted_sample" -> ("Efraimidis–Spirakis weighted sampling: the exponential " +
      "key −ln(u)/w is a narrow map on the deterministic md5 uniform (no RNG state, so " +
      "the sample is partitioning- and re-run-identical), and the per-group k-best is a " +
      "row_number ≤ k that plans as WindowGroupLimit — each map task keeps its local k " +
      "best before anything shuffles. No join, no global sort."),
    "q117_rolling_distinct" -> ("rolling 7-day distinct via sketch-range merge: per-day " +
      "KMV sketch rows (≤ k per day, WindowGroupLimit-cut) broadcast-join the tiny day " +
      "dimension into each trailing window and re-cut — the semilattice merge is EXACT, " +
      "so any date range is answerable from sketch rows alone; the published exact tier " +
      "(re-scans 7 days per day) is the eval baseline that dies at 100 TB."),
    "q119_image_near_dup" -> ("perceptual-dHash image dedup: REAL decode + the " +
      "integer-exact 9×8 difference hash happen in the scan projection; only (doc_id, " +
      "64-bit hash) ever reaches an exchange — image bytes never shuffle — and twins " +
      "meet in a hash EQUI-join, never an all-pairs image comparison."),
    "q124_triangles" -> ("triangle census, forward algorithm: the degree orientation " +
      "bounds every out-list to O(√m), the lists attach to edges through two |V|-row " +
      "equi-joins, and each closing edge intersects two bounded arrays in a narrow map — " +
      "the Σ C(outdeg,2) wedge intermediate (35M rows on the sf0.1 co-purchase graph) " +
      "never materializes; the checkpointed edge list is scanned, not re-derived, per " +
      "consumer."),
    "q125_hist_percentiles" -> ("mergeable histogram percentiles: per-(type, day) log₂ " +
      "bin counts are plain additive partial aggregates (the sketch IS rows — any date " +
      "range re-merges by summation, each partition scanned once ever); the cumulative " +
      "and rank windows run over the ≤64-row BIN frame per type, never over events — the " +
      "q79 histogram-first discipline for order statistics."),
    "q130_neighbor_lsh" -> ("neighborhood MinHash LSH: signatures build in ONE " +
      "map-side-combined pass over adjacency rows (a hub's neighbor set never " +
      "materializes as a single row), candidates meet in a (band, key) equi-join, and " +
      "exact verification counts |A∩B| through a member equi-join restricted to " +
      "candidates — the exact tier's Σ C(deg,2) wedge expansion (148M pairs at sf0.1) " +
      "is replaced by linear signature work plus the collision set."),
    "q131_trigram_search" -> ("trigram-index substring search: the posting build " +
      "lowers each text ONCE and explodes to (trigram, doc) rows — document text " +
      "never enters the probe path — and each pattern touches only its 3 RAREST " +
      "trigrams' postings (equi-join + count-required filter); the exact contains " +
      "check joins back to candidate documents alone."),
    "q138_top_component" -> ("power-iteration top component: per iteration one " +
      "corpus pass — the vec_dot fold and the per-dim micro-unit products live in " +
      "the scan projection, the only exchange carries 64-dim partial integer sums, " +
      "and the ≤64-row model crosses the driver like a centroid row. No shuffle is " +
      "proportional to the corpus."),
    "q141_association_rules" -> ("association rules: pair supports partial-aggregate " +
      "out of the bounded per-order self-join and the minSupport filter prunes the " +
      "pair frame BEFORE the item-support joins — the rule table joins the ≥3-support " +
      "tail (63 pairs at sf0.01), never 115k pairs; the basket total broadcasts as " +
      "one row."),
    "q250_image_near_dup_banded" -> ("Hamming-tolerant image near-dup: the 64-bit " +
      "dHash splits into 3 disjoint band keys inside the projection (pigeonhole " +
      "covers Hamming ≤ 2), candidates meet in a band equi-join and exact bit_count " +
      "verifies candidates only — recall that exact-equality hashing provably " +
      "lacks, at banded-join cost, never an all-pairs image compare."),
    "q251_hll_distinct" -> ("mergeable HyperLogLog: register partials build per " +
      "(type, day, bucket) as map-side-combinable max aggregates — ≤256 tiny rows " +
      "per partial ever shuffle, never user ids — and merge by the same max; the " +
      "estimate is O(1) arithmetic over a 256-row grid joined to one scalar row."),
    "q257_count_min" -> ("Count-Min point queries: the 1,024-cell counter table is " +
      "an additive hash aggregate (data-volume-independent), the top-k probe side " +
      "is TakeOrderedAndProject (no global window), and the estimate is a min over " +
      "4 cells per probed key via a broadcast-sized equi-join.")
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Launch.session(Launch.Local4)
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val sb = new StringBuilder
      sb.append("# PLANS — headline physical plans (generated by `graft.Plans`, sf0.001)\n\n")
      sb.append("Auto-generated with `sbt \"runMain graft.Plans\"` — regenerate after plan-affecting\n")
      sb.append("changes. `PlanSpec` asserts the load-bearing properties of these shapes; this file\n")
      sb.append("is the reviewable companion. Plans are pre-execution (`explain formatted`, AQE\n")
      sb.append("re-plans at runtime without changing the properties below).\n")
      headline.foreach { case (name, note) =>
        sb.append(s"\n## $name\n\n$note\n\n```\n")
        // Per-query tolerance (as in Verify): one broken query still
        // leaves the other plans documented.
        try sb.append(SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
          sb.append(s"(plan generation failed: ${e.getMessage})\n")
        }
        sb.append("```\n")
      }
      Files.writeString(Paths.get(outPath), sb.toString)
      println(s"[plans] wrote $outPath (${headline.size} queries)")
    } finally spark.stop()
  }
}
