package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The round gate: one command that fails non-zero on ANY plan-shape
  * or driver-materialization regression, so plan discipline cannot
  * silently rot between rounds (VERDICT r10 #7). Three checks:
  *
  *  1. `.collect()` allowlist — every driver-side materialization in
  *     main sources must be a site already audited as a bounded
  *     model/boundary/metric read ([[collectAllowlist]], per-file
  *     counts). A NEW site (new file, or count growth in a known
  *     file) fails the gate until it is audited and the allowlist is
  *     updated in the same commit — the update is the audit record.
  *  2. [[WindowAudit]] — no query's executed plan may contain a
  *     WindowExec with an empty partition spec (the "moving all data
  *     to a single partition" shape that breaks at 100×).
  *  3. [[JoinAudit]] — no non-equi join (BNLJ / cartesian) whose
  *     smaller side produced more than [[JoinAudit.smallSideMax]]
  *     rows (all-pairs shape).
  *
  * Checks 2 and 3 walk the SAME executed plan from ONE run per query,
  * so the gate costs one registry sweep, not two. A query that throws
  * counts as an offender (fail-loud). Exit 0 = clean.
  *
  * Usage: sbt "runMain graft.AuditAll [sfDir]"
  */
object AuditAll {

  /** Audited `.collect()` sites per main-source file (basename →
    * count). Every entry has been reviewed as bounded: ≤16-row model
    * loads (Similarity centroids, BPE merge table), partition
    * boundaries (PrefixScan), touched-partition ids (MergeSink),
    * stream-metric finalizers (StreamAggs) and Smoke's table probe.
    * The audit walkers' one execution, [[finalPlan]], collects no rows
    * (and this file is outside the census). */
  val collectAllowlist: Map[String, Int] = Map(
    "Similarity.scala" -> 5,
    "QueriesExt.scala" -> 3,
    "StreamAggs.scala" -> 2,
    "Relevance.scala" -> 2,
    "QueriesExt7.scala" -> 2,
    "QueriesExt2.scala" -> 2,
    "ConnectedComponents.scala" -> 1,
    "PrefixScan.scala" -> 1,
    "Bpe.scala" -> 1,
    "Smoke.scala" -> 1,
    "QueriesExt6.scala" -> 1,
    "QueriesExt4.scala" -> 1,
    "MergeSink.scala" -> 1,
    // Harness metric reads: per-ingest upd histogram and the delete
    // leg's repair histogram — each ≤4 rows.
    "CutMaintScale.scala" -> 2,
    // r15 bucketed-segment layout: (1) the touched-bucket set pushed
    // into a pruned segment read — ≤ min(|distinct keys|, MaxBuckets
    // = 32768) ints (r16: count corrected from the 4096 misquote —
    // 4096 is TargetBucketRows, the per-bucket ROW target, not the
    // bucket-count clamp); (2) the id-contract offender probe —
    // limit(5).
    "CutReportMaintenance.scala" -> 2)

  /** (file → collect() OCCURRENCE count) over src/main/scala, excluding
    * this file (its allowlist literals would self-trip the scan).
    * Occurrences, not lines — a second call appended to an already-
    * allowlisted line must trip the gate too. */
  def collectCensus(root: Path): Map[String, Int] = {
    def occurrences(line: String): Int = {
      val needle = ".collect()"
      Iterator.iterate(line.indexOf(needle))(i =>
        line.indexOf(needle, i + needle.length)).takeWhile(_ >= 0).size
    }
    // SUMMED per basename (not last-write-wins toMap): if two .scala
    // files share a basename in different directories, their counts add,
    // so a new .collect() in a shadowed same-named file still trips the
    // allowlist instead of silently overwriting the other file's count.
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "AuditAll.scala")
      .map { p =>
        val n = Files.readAllLines(p).asScala.map(occurrences).sum
        p.getFileName.toString -> n
      }
      .filter(_._2 > 0).toSeq
      .groupMapReduce(_._1)(_._2)(_ + _)
    finally walk.close()
  }

  def collectOffenders(census: Map[String, Int]): Seq[String] =
    census.toSeq.sorted.flatMap { case (f, n) =>
      val allowed = collectAllowlist.getOrElse(f, 0)
      if (n > allowed)
        Some(s"$f has $n .collect() sites (allowlisted: $allowed) — " +
          "audit the new site and update AuditAll.collectAllowlist")
      else None
    }

  /** Executes `df` and returns its final plan, unwrapped from AQE — the
    * one "execute, then unwrap" every audit walker reads. The rows stay
    * on the executors: the walkers read only the plan and its metrics,
    * and collecting an all-pairs join to the driver is the very blow-up
    * [[JoinAudit]] exists to catch. */
  private[graft] def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    val qe = df.queryExecution
    // Finalize AQE + populate metrics, under an execution id as an action would.
    SQLExecution.withNewExecutionId(qe, Some("audit"))(qe.executedPlan.execute().foreach(_ => ()))
    qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    var bad = 0

    val census = collectCensus(Paths.get("src/main/scala"))
    collectOffenders(census).foreach { msg =>
      bad += 1; println(s"[audit-all] collect: $msg")
    }

    val spark = Launch.session(Launch.Registry)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = finalPlan(fn(spark, sfDir))
        val hits = WindowAudit.unpartitioned(plan).map("window: " + _) ++
          JoinAudit.offenders(plan).map("join: " + _)
        if (hits.nonEmpty) {
          bad += 1
          println(s"[audit-all] $name: ${hits.mkString("; ")}")
        }
      } catch { case e: Throwable =>
        bad += 1
        println(s"[audit-all] $name ERROR: ${e.getMessage}")
      }
    }
    println(s"[audit-all] done, $bad offender(s)")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
