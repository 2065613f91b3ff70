package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every SparkSession in graft is built by
  * [[session]] from a named [[Launch.Profile]], so the conf policy is
  * written once and cannot drift between mains. */
object Launch {
  /** local[N] width: SPARK_GRAFT_CPUS, else host cores capped at 32 (the
    * target local[32] envelope). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(Runtime.getRuntime.availableProcessors, 32).toString)

  sealed trait Profile
  /** The CDC stream ([[graft.streaming.CdcApp]], perfbench). No master:
    * spark-submit or `-Dspark.master` supplies it. */
  case object Stream extends Profile
  /** The registry mains (Bench, Verify, AuditAll): local[cpus], plus the
    * codegen cache and small-scan spreading the interleaved sweep needs. */
  case object Registry extends Profile
  /** Scale and probe tools (SpineScale, CutMaintScale, ScaleUp,
    * StreamScale): local[cpus] with the session defaults. */
  case object Tool extends Profile
  /** Fixed-width local[4] (Plans, Smoke, the test suite). */
  case object Local4 extends Profile

  private def local(width: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$width]",
    "spark.sql.shuffle.partitions" -> width,
    "spark.sql.session.timeZone" -> "UTC",
    // Tables.scala reads testdata with this set anyway (ns timestamps).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  private def confs(profile: Profile): Seq[(String, String)] = profile match {
    case Stream =>
      Seq(
        // FAIR scheduling so the per-table concurrent jobs share
        // executors (ref emr_ec2/cdc_redshift.py:30).
        "spark.scheduler.mode" -> "FAIR",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.session.timeZone" -> "UTC",
        // Speculation duplicates staging writes (ref README.md:141).
        "spark.speculation" -> "false") ++
      // CDC micro-batches are small relative to the 200 default; 32 suits
      // a single-host run and AQE coalesces further at runtime. A cluster
      // submit that passes --conf spark.sql.shuffle.partitions wins.
      (if (sys.props.contains("spark.sql.shuffle.partitions")) Nil
       else Seq("spark.sql.shuffle.partitions" -> "32"))
    case Registry =>
      local(cpus) ++ Seq(
        // Static conf, must be set at build time: the default 100-entry
        // generated-class cache thrashes when ~80 queries' stages cycle
        // through it each interleaved pass, recompiling every rep
        // (observed: the same query at 1.6s alone vs 5.1s interleaved).
        "spark.sql.codegen.cache.maxEntries" -> "5000",
        "spark.graft.spreadSmallScans" -> "true")
    case Tool => local(cpus)
    case Local4 => local("4")
  }

  /** Build (or get) the session for `profile`. Local profiles log at
    * WARN; the stream leaves the log level to its deployment. */
  def session(profile: Profile, appName: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
    appName.foreach(b.appName)
    val s = confs(profile).foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    if (profile != Stream) s.sparkContext.setLogLevel("WARN")
    s
  }
}
