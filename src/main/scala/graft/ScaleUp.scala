package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator: derives an sf1-equivalent dataset (10× sf0.1)
  * for EMPIRICAL scaling measurement (VERDICT r9 #1) — the testdata
  * tree is read-only, so the derived tables land under the repo
  * (`scaledata/`, gitignored).
  *
  * Each fact table is replicated `copies` times with every entity key
  * offset by `copy · 10,000,000`, so join relationships, per-key
  * cardinalities, and residue-class structure (doc_id parity/mod-10
  * samples) are preserved within each copy while copies stay disjoint —
  * the same shape a 10×-bigger day of the same workload would have.
  * Dimension tables (region, nation) are NOT scaled, exactly like
  * TPC-H. Two deliberate per-copy perturbations keep derived WORK
  * distributions honest instead of degenerate:
  *
  *  - `documents.text` is rotated through copy-specific vowel (5
  *    rotations) and consonant (×2) translate maps — without this,
  *    every doc would have 9 verbatim clones and the near-dup tier
  *    would measure an artificial 45-pairs-per-doc clique explosion,
  *    not 10× the real workload. Lengths, whitespace, and token
  *    boundaries are preserved, so text-statistics queries see the
  *    same distributions. (Mutation c composes vowel / consonant /
  *    second-consonant rotations indexed base-5, so all mutations up
  *    to 125 copies are pairwise distinct; 1..9 match the original
  *    10-copy scheme.)
  *  - `customer.c_acctbal` gains `copy` cents so integer-cents
  *    blocking keys (entity resolution) stay copy-local instead of
  *    forming 10×-deep identical-record blocks.
  *  - `embeddings.embedding` is circularly rotated by 7·copy
  *    dimensions per copy — verbatim vector clones would pile into
  *    the same SRP/IVF buckets at cosine ≈ 1 (the same clique
  *    artifact); a rotation preserves norms and per-dimension value
  *    distributions exactly while decorrelating copies.
  *
  * Usage: runMain graft.ScaleUp [srcDir] [outDir] [copies]
  */
object ScaleUp {

  // Must exceed every offset key's max in the SOURCE tree; even;
  // multiple of 10 (preserves parity / mod-10 residue classes). main()
  // VERIFIES this against the actual data before writing anything —
  // running against a too-large source (e.g. an already-scaled tree)
  // would silently alias entity keys across copies and corrupt the
  // scaling measurement this tool exists to produce.
  private val Off = 10000000L

  private def rotMap(alphabet: String, k: Int): (String, String) = {
    val rot = alphabet.drop(k) + alphabet.take(k)
    (alphabet + alphabet.toUpperCase, rot + rot.toUpperCase)
  }

  /** text mutated per copy: identity for copy 0, a distinct
    * length-preserving character permutation for each other copy.
    * Mutation c composes three independent cyclic rotations — vowels
    * (period 5), one consonant run (period 5), a second consonant run
    * (period 5) — indexed base-5, so all 125 combinations are pairwise
    * distinct permutations (copies 1..9 reproduce the original
    * vowel-rotation / ×2-consonant scheme exactly). */
  private def mutateText(text: org.apache.spark.sql.Column,
                         copy: org.apache.spark.sql.Column,
                         copies: Int) = {
    val arms = (1 until copies).map { c =>
      val (vf, vt) = rotMap("aeiou", c % 5)
      val (cf, ct) = rotMap("bcdfg", (c / 5) % 5)
      val (hf, ht) = rotMap("hjklm", (c / 25) % 5)
      (c, translate(translate(translate(text, vf, vt), cf, ct), hf, ht))
    }
    arms.foldLeft(when(copy === 0, text)) { case (acc, (c, e)) =>
      acc.when(copy === c, e)
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/scaledata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // Base-5³ mutation indexing gives 125 distinct text permutations;
    // the embedding rotation (7·c mod 64) is distinct for c < 64.
    require(copies >= 1 && copies <= 64,
      s"copies must be in [1, 64] (got $copies): beyond that the " +
        "per-copy embedding rotations repeat")
    val spark = Launch.session(Launch.Tool)

    val cp = broadcast(spark.range(copies).select(col("id").as("__c")))
    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")

    // Copy disjointness is a DATA property, not a comment: verify that
    // every key column we offset fits under Off in the source tree
    // (fails loudly e.g. when pointed at an already-scaled output).
    val offsetKeys = Seq(
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))
    offsetKeys.foreach { case (t, keys) =>
      val maxes = load(t).agg(max(col(keys.head).cast("long")),
        keys.tail.map(k => max(col(k).cast("long"))): _*).head()
      keys.zipWithIndex.foreach { case (k, i) =>
        val m = maxes.getLong(i)
        require(m < Off,
          s"$t.$k max $m >= offset stride $Off: source $src is not an " +
            "unscaled base tree; copies would alias entity keys")
      }
    }
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")
    def off(c: String) = (col(c) + col("__c") * Off).as(c)

    // Dimensions: copied through unscaled.
    write(load("region"), "region", 1)
    write(load("nation"), "nation", 1)

    write(load("customer").crossJoin(cp).select(
      off("c_custkey"), col("c_name"), col("c_nationkey"),
      (col("c_acctbal") + col("__c") * 0.01d).as("c_acctbal"),
      col("c_mktsegment")), "customer", 8)

    write(load("supplier").crossJoin(cp).select(
      off("s_suppkey"), col("s_name"), col("s_nationkey"),
      col("s_acctbal")), "supplier", 2)

    write(load("part").crossJoin(cp).select(
      off("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")), "part", 8)

    write(load("orders").crossJoin(cp).select(
      off("o_orderkey"), off("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")),
      "orders", 16)

    write(load("lineitem").crossJoin(cp).select(
      off("l_orderkey"), off("l_partkey"), off("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem", 32)

    write(load("events").crossJoin(cp).select(
      off("event_id"), col("ts"), off("user_id"), col("event_type"),
      col("value"), col("props")), "events", 32)

    write(load("documents").crossJoin(cp).select(
      off("doc_id"), mutateText(col("text"), col("__c"), copies).as("text"),
      col("lang"), col("source"), col("n_chars")), "documents", 16)

    // Per-copy circular dimension rotation (by 7·copy positions):
    // verbatim vector copies would collide into the same SRP/IVF
    // buckets and register cosine ≈ 1 to their 9 clones — the same
    // 45-pairs-per-original clique artifact the text mutation exists
    // to prevent, now for the embedding tier. A rotation preserves
    // norms and the per-dimension value distribution exactly while
    // decorrelating copies (random-ish vectors rotate to near-
    // orthogonal positions); copy 0 stays verbatim.
    val rotArms = (1 until copies).map { c =>
      val sh = (7 * c) % 64
      (c, concat(slice(col("embedding"), sh + 1, 64 - sh),
        slice(col("embedding"), 1, sh)))
    }
    val rotated = rotArms.foldLeft(when(col("__c") === 0, col("embedding"))) {
      case (acc, (c, e)) => acc.when(col("__c") === c, e)
    }
    write(load("embeddings").crossJoin(cp).select(
      off("vec_id"), rotated.as("embedding"), col("label")), "embeddings", 8)

    println(s"[scaleup] wrote ${copies}x of $src to $out")
    spark.stop()
  }
}
