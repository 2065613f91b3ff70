package perfbench

import graft.config.{JobConfig, TableSpec}
import graft.envelope.CdcFormat
import graft.operators.{Coerce, Dedup, Skew}
import graft.schema.{SchemaCache, SchemaInference}
import graft.sink.MergeTarget
import graft.streaming.{CdcApp, CdcPipeline}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One committed non-empty micro-batch, from the stream's progress report. */
final case class Commit(batchId: Long, rows: Long, startMs: Long, triggerMs: Long,
                        durations: Map[String, Long]) {
  def commitMs: Long = startMs + triggerMs
}

/** Collects every session's non-empty micro-batch progress by query. */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[Commit]]
  private def log(id: UUID) = byQuery.computeIfAbsent(id, _ => new ConcurrentLinkedQueue[Commit])
  def commits(id: UUID): Seq[Commit] = log(id).asScala.toSeq.sortBy(_.batchId)
  def count(id: UUID): Int = log(id).size
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      log(p.id).add(Commit(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d.getOrElse("triggerExecution", 0L), d))
    }
  }
}

/** A file the generator landed, and when. */
final case class Landed(index: Int, rows: Int, landedMs: Long)

final case class StreamRun(landed: Seq[Landed], commits: Seq[Commit], ok: Boolean, error: String) {
  /** Batches after the first, each with the file it committed. */
  def timed: Seq[(Commit, Landed)] = commits.zip(landed).drop(1)
}

/** The end-to-end CDC trigger benchmark. Replays seeded envelope files
  * through the program's public entry points (`CdcApp.session`,
  * `CdcApp.sinkFactory`, `CdcPipeline.streamWriter`) from Spark's file
  * source, one file per trigger, checks every target against a
  * last-write-wins oracle, and writes `result.json` (and, traced,
  * `spans.jsonl`) under `--out`. */
object CdcBench {

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, workers: Int, selftest: Boolean)

  /** Set-ups per untraced run, the first in a cold JVM; `setup_s` is their median. */
  val SetupReps = 2


  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(Workload.byName(m("workload")), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(m("out")).toAbsolutePath,
      m("workers").toInt, m.getOrElse("selftest", "0") == "1")
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    * it (nearest rank), or the maximum when fewer than 20 samples exist. */
  def tail(xs: Seq[Double]): (String, Double) = {
    val s = xs.sorted; val n = s.size
    Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10) match {
      case Some(p) => (s"p$p", s(math.min(n - 1, math.ceil(n * p / 100.0).toInt - 1)))
      case None => ("max", if (s.isEmpty) 0.0 else s.last)
    }
  }

  private def land(f: FileBatch, staging: Path, input: Path): Unit = {
    val name = f"${f.index}%06d.json"
    val tmp = staging.resolve(name)
    Files.write(tmp, f.lines.toSeq.asJava)
    Files.move(tmp, input.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def write(f: FileBatch, path: Path): Path = {
    Files.createDirectories(path.getParent); Files.write(path, f.lines.toSeq.asJava)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val result = new Bench(a).run()
    Files.writeString(a.out.resolve("result.json"), Json.write(result))
    // Spark's non-daemon threads must not outlive the run.
    System.exit(0)
  }

  /** One run; returns the result document. */
  final class Bench(a: Args) {
    private val w = a.workload
    private val progress = new ProgressLog
    private val merges = new ConcurrentLinkedQueue[(String, Long, Seq[String])]
    private var tracer: Option[Tracer] = None
    private val metrics = mutable.LinkedHashMap.empty[String, Double]
    private val context = mutable.LinkedHashMap.empty[String, Any]
    private var attempted = 0L
    private val errors = mutable.ArrayBuffer.empty[String]
    private val born = System.nanoTime()
    private def note(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.2fs $msg")

    private def session(): SparkSession = {
      val spark = CdcApp.session("perfbench", a.workers)
      w.sessionConf.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.streams.addListener(progress)
      spark
    }

    private def startStream(spark: SparkSession, dir: Path, cfg: JobConfig,
                            sinkFor: TableSpec => MergeTarget): StreamingQuery = {
      val source = spark.readStream.option("maxFilesPerTrigger", "1")
        .text(dir.resolve("input").toString)
      CdcPipeline.streamWriter(source, cfg, w.format, sinkFor).start()
    }

    private def awaitCommits(q: StreamingQuery, n: Int, timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (progress.count(q.id) < n && q.isActive && System.currentTimeMillis() < end)
        Thread.sleep(2)
      progress.count(q.id) >= n
    }

    /** A started stream: its session, directory, sink, and the generator
      * and oracle positioned after the files it was given. */
    private final case class Live(spark: SparkSession, dir: Path, cfg: JobConfig,
                                  sink: TableSpec => MergeTarget, q: StreamingQuery,
                                  gen: Generator, oracle: Oracle, file0: Landed, setupS: Double)

    /** Set-up: session build, `streamWriter(...).start()`, checkpoint init
      * and file 0 committed as the first micro-batch with a cold schema
      * cache. The file is landed before the clock starts. */
    private def setupRep(i: Int): Live = {
      val dir = a.out.resolve(s"run-$i")
      val (staging, input) = (dir.resolve("staging"), dir.resolve("input"))
      Files.createDirectories(staging); Files.createDirectories(input)
      val gen = w.generator(a.seed)
      val f0 = gen.next()
      land(f0, staging, input)
      val file0 = Landed(f0.index, f0.lines.length, System.currentTimeMillis())
      val t0 = System.currentTimeMillis()
      val spark = session()
      if (a.trace) {
        val t = new Tracer(spark.sparkContext)
        spark.sparkContext.addSparkListener(t)
        tracer = Some(t)
      }
      val cfg = w.jobConfig(dir.toString, a.workers)
      val sink = CdcApp.sinkFactory(spark, w.sinkSpec(dir.toString), cfg)
      val q = startStream(spark, dir, cfg, tracer.fold(sink)(t => tracedSink(t, sink, "stream", merges)))
      attempted += 1
      if (!awaitCommits(q, 1, 150000)) {
        q.stop()
        throw new IllegalStateException(
          s"set-up: file 0 never committed: ${q.exception.map(_.getMessage).getOrElse("timeout")}")
      }
      val oracle = new Oracle(w.tables.size)
      oracle(f0)
      val s = (progress.commits(q.id).head.commitMs - t0) / 1000.0
      note(s"set-up $i: $s s")
      Live(spark, dir, cfg, sink, q, gen, oracle, file0, s)
    }

    /** Closed loop on the live stream: one file in flight, the next landed
      * as soon as the previous one commits, for `seconds`; then every
      * landed file must commit. */
    private def stream(live: Live): StreamRun = {
      val q = live.q
      val (staging, input) = (live.dir.resolve("staging"), live.dir.resolve("input"))
      val landed = mutable.ArrayBuffer(live.file0)
      val deadline = System.currentTimeMillis() + a.seconds * 1000L
      while (q.isActive && System.currentTimeMillis() < deadline) {
        if (landed.size == progress.count(q.id)) {
          val next = live.gen.next()
          land(next, staging, input)
          landed += Landed(next.index, next.lines.length, System.currentTimeMillis())
          live.oracle(next)
        } else Thread.sleep(1)
      }
      val drained = q.isActive && awaitCommits(q, landed.size, 150000)
      val err = q.exception.map(_.getMessage).getOrElse(if (drained) "" else "stream did not drain")
      q.stop()
      val commits = progress.commits(q.id)
      attempted += landed.size - 1
      val mapped = commits.size == landed.size &&
        commits.zip(landed).forall { case (c, l) => c.rows == l.rows }
      StreamRun(landed.toSeq, commits, drained && mapped,
        if (err.nonEmpty) err else if (!mapped) "batches do not map one-to-one to files" else "")
    }

    private def auditSpec(s: TableSpec): TableSpec = s.copy(table = s.table + "_delete",
      targetTable = Some(s.resolvedTarget + "_delete"), skipDelete = true)

    /** Every target the workload writes, with the oracle's digest for it. */
    private def targets(oracle: Oracle): Seq[(TableSpec, (Long, BigInt))] =
      w.tables.zipWithIndex.flatMap { case (s, t) =>
        Seq(s -> oracle.liveDigest(t)) ++
          (if (s.saveDelete) Seq(auditSpec(s) -> oracle.auditDigest(t)) else Nil)
      }

    private def digestOf(df: DataFrame, key: String): (Long, BigInt) = {
      val r = df.select(col(key).cast("long").as("k"), col("event_id").cast("long").as("e"))
        .agg(count(lit(1)), sum(xxhash64(col("k"), col("e")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger))
    }

    /** Compares one target's (count, digest of (key, event_id)) with the
      * oracle's; `alter` lets the self-test corrupt the target first. */
    private def check(spark: SparkSession, sinkFor: TableSpec => MergeTarget, spec: TableSpec,
                      want: (Long, BigInt), label: String,
                      alter: DataFrame => DataFrame = identity): Boolean = {
      val got = scala.util.Try(digestOf(alter(sinkFor(spec).snapshot(spark)),
        spec.mergeKeys.head)).getOrElse((0L, BigInt(0)))
      if (got != want)
        errors += s"$label ${spec.resolvedTarget}: rows/digest ${got._1}/${got._2} != oracle ${want._1}/${want._2}"
      got == want
    }

    def gate(spark: SparkSession, sinkFor: TableSpec => MergeTarget, oracle: Oracle,
             label: String): Boolean =
      targets(oracle).map { case (spec, want) => check(spark, sinkFor, spec, want, label) }
        .forall(identity)

    /** Median seconds of one full read of every target through `noop`;
      * passes repeat until 3 s have been spent (one to nine), so small
      * targets are read often enough for a steady median. */
    private def scanTargets(spark: SparkSession, sinkFor: TableSpec => MergeTarget,
                            oracle: Oracle): Double = {
      val specs = targets(oracle).map(_._1)
      def pass(): Double = {
        val t0 = System.nanoTime()
        specs.foreach(s => scala.util.Try(sinkFor(s).snapshot(spark))
          .foreach(_.write.format("noop").mode("overwrite").save()))
        (System.nanoTime() - t0) / 1e9
      }
      val passes = mutable.ArrayBuffer(pass())
      while (passes.sum < 3.0 && passes.size < 9) passes += pass()
      context("target_scan_passes") = passes.size
      median(passes.toSeq)
    }

    def run(): Seq[(String, Any)] = {
      context ++= Seq("workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "workers" -> a.workers, "sizes" -> w.sizes,
        "loop" -> "closed, one file in flight")
      // The traced run's per-layer metrics need no set-up median: one set-up.
      val reps = if (a.trace) 1 else SetupReps
      val setups = mutable.ArrayBuffer.empty[Double]
      var live: Live = null
      for (i <- 0 until reps) {
        val l = setupRep(i)
        setups += l.setupS
        if (i < reps - 1) { l.q.stop(); l.spark.stop() } else live = l
      }
      val spark = live.spark
      context ++= Seq("spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "master" -> spark.sparkContext.master)
      val run = stream(live)
      val (dir, baseSink, oracle) = (live.dir, live.sink, live.oracle)
      note(s"streamed: ${run.commits.map(c => s"${c.batchId}:${c.triggerMs}ms").mkString(" ")}")
      if (!run.ok) errors += s"stream: ${run.error}"
      var correct = run.ok && run.timed.nonEmpty
      if (run.timed.isEmpty) errors += "no timed trigger: the run is too short"
      if (correct) {
        val scan = if (a.trace) 0.0 else scanTargets(spark, baseSink, oracle)
        note(s"scanned: $scan")
        correct = gate(spark, baseSink, oracle, "stream")
        note(s"gate: $correct")
        if (correct && a.selftest) context("selftest") = selftest(spark, baseSink, oracle)
        if (!a.trace && correct) endToEnd(setups.toSeq, run, scan)
        if (a.trace && correct) {
          val t = tracer.get
          correct = replay(spark, t) && correct
          if (correct) perLayer(spark, t, run, dir)
        }
      }
      context ++= Seq("triggers_timed" -> run.timed.size, "files_landed" -> run.landed.size)
      if (run.timed.size >= 1) {
        val (tp, tv) = tail(run.timed.map(_._1.triggerMs / 1000.0))
        context ++= Seq("trigger_tail" -> Seq("percentile" -> tp, "value_s" -> tv, "n" -> run.timed.size))
        val (lp, lv) = tail(lags(run))
        context ++= Seq("lag_tail" -> Seq("percentile" -> lp, "value_s" -> lv, "n" -> run.timed.size))
      }
      Seq("correct" -> correct, "attempted" -> math.max(1L, attempted),
        "failed" -> (if (correct) 0L else math.max(1L, attempted)),
        "metrics" -> metrics.toSeq, "context" -> context.toSeq, "errors" -> errors.toSeq)
    }

    private def lags(run: StreamRun): Seq[Double] =
      run.timed.map { case (c, l) => (c.commitMs - l.landedMs) / 1000.0 }

    private def rssPeakMb(): Double =
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        .getOrElse(0.0)

    private def endToEnd(setups: Seq[Double], run: StreamRun, scan: Double): Unit = {
      val timed = run.timed
      val rows = timed.map(_._1.rows).sum
      val wall = (timed.last._1.commitMs - timed.head._1.startMs) / 1000.0
      metrics ++= Seq(
        "setup_s" -> median(setups),
        "trigger_p50_s" -> median(timed.map(_._1.triggerMs / 1000.0)),
        "records_per_s" -> rows / wall,
        "lag_p50_s" -> median(lags(run)),
        "target_scan_s" -> scan)
      context("setup_reps_s") = setups
    }

    /** Alters one row, then drops one row, of the first non-empty target;
      * the check must reject both and accept the target as it is. */
    private def selftest(spark: SparkSession, sinkFor: TableSpec => MergeTarget,
                         oracle: Oracle): Boolean = {
      val t = oracle.live.indexWhere(_.nonEmpty)
      val key = oracle.live(t).keys.min
      val spec = w.tables(t)
      val k = col(spec.mergeKeys.head)
      val want = oracle.liveDigest(t)
      val before = errors.size
      val altered = !check(spark, sinkFor, spec, want, "selftest-alter",
        _.withColumn("event_id", when(k === key, col("event_id") + 1).otherwise(col("event_id"))))
      val dropped = !check(spark, sinkFor, spec, want, "selftest-drop", _.filter(k =!= key))
      val clean = check(spark, sinkFor, spec, want, "selftest-clean")
      errors.remove(before, errors.size - before)
      altered && dropped && clean
    }

    // ------------------------------------------------------------ traced run

    /** Wraps a sink so each merge is a span; records each staged column set. */
    private def tracedSink(t: Tracer, inner: TableSpec => MergeTarget, prefix: String,
                           seen: ConcurrentLinkedQueue[(String, Long, Seq[String])]): TableSpec => MergeTarget =
      spec => {
        val target = inner(spec)
        new MergeTarget {
          def merge(stage: DataFrame, s: TableSpec): Unit = {
            val sc = stage.sparkSession.sparkContext
            val batch = Option(sc.getLocalProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)
            seen.add((s.table, batch, stage.columns.toSeq))
            val kind = if (s.table.endsWith("_delete")) "audit_merge" else "merge"
            t.span(s"$prefix.$kind", batch.toInt, s.table)(target.merge(stage, s))
          }
          def snapshot(sp: SparkSession): DataFrame = target.snapshot(sp)
        }
      }

    private val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    private val tableTasks = mutable.ArrayBuffer.empty[Double]
    private var batchWall = 0.0
    private var chainCache: SchemaCache = _
    private var inferCalls = 0L

    /** Replays file 1, the first steady-state trigger, into empty
      * targets: each table through the layer functions one at a time,
      * then the same batch through `CdcPipeline.processBatch`. Both
      * merges are idempotent, so the targets must match the oracle of
      * file 1 alone. */
    private def replay(spark: SparkSession, t: Tracer): Boolean = {
      val dir = a.out.resolve("replay")
      val cfg = w.jobConfig(dir.toString, a.workers)
      val sink = CdcApp.sinkFactory(spark, w.sinkSpec(dir.toString), cfg)
      val gen = w.generator(a.seed)
      val oracle = new Oracle(w.tables.size)
      chainCache = new SchemaCache(cfg.schemaProbeBatches)
      val batchCache = new SchemaCache(cfg.schemaProbeBatches)
      val traced = tracedSink(t, sink, "batch", new ConcurrentLinkedQueue)
      gen.next()
      val f = gen.next()
      oracle(f)
      val path = write(f, dir.resolve("file-1.json"))
      counts("envelope.input_mb") += Files.size(path) / 1e6
      val batch = spark.read.text(path.toString)
      val cached = batch.persist(StorageLevel.MEMORY_AND_DISK)
      t.span("envelope.read", f.index, "")(cached.count())
      w.tables.foreach(spec => layerChain(spark, t, cached, spec, f.index, sink))
      cached.unpersist()
      val t0 = System.nanoTime()
      val ms = t.span("streaming.process_batch", f.index, "") {
        CdcPipeline.processBatch(batch, cfg, w.format, traced, schemaCache = Some(batchCache))
      }
      batchWall = (System.nanoTime() - t0) / 1e9
      attempted += 1
      tableTasks ++= ms.map(_.elapsedMs / 1000.0)
      gate(spark, sink, oracle, "replay")
    }

    private def lwwOrder(df: DataFrame, f: CdcFormat): Seq[Column] =
      Seq(col(f.TsCol), col(f.IdxCol), xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)))

    private def dedup(df: DataFrame, spec: TableSpec, strategy: String, f: CdcFormat): DataFrame = {
      val order = lwwOrder(df, f)
      strategy match {
        case "agg" => Dedup.latestPerKeyAgg(df, spec.mergeKeys, order)
        case "salted" => Skew.saltedLatestPerKey(df, spec.mergeKeys, order, order.last, spec.saltBuckets)
        case _ => Dedup.latestPerKey(df, spec.mergeKeys, order)
      }
    }

    private def materialize(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); (p, p.count())
    }

    /** Parquet files under `root` modified at or after `sinceMs`. */
    private def filesSince(root: Path, sinceMs: Long): Seq[Path] =
      if (!Files.isDirectory(root)) Nil
      else {
        val s = Files.walk(root)
        try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          Files.getLastModifiedTime(p).toMillis >= sinceMs).toList
        finally s.close()
      }

    /** One table's slice through each layer function in turn, with one
      * action after each, as spans under a `table_task` span. */
    private def layerChain(spark: SparkSession, t: Tracer, batch: DataFrame, spec: TableSpec,
                           trigger: Int, sink: TableSpec => MergeTarget): Unit = {
      val f = w.format
      val tbl = spec.table
      val keyOf = s"${f.name}/${spec.db}.${spec.table}"
      t.span("table_task", trigger, tbl) {
        val (routed, n) = t.span("envelope.route", trigger, tbl) {
          materialize(batch.filter(f.route(col("value"), spec)))
        }
        counts("envelope.routed_rows") += n
        if (n > 0) {
          val schema = t.span("schema.infer", trigger, tbl) {
            inferCalls += 1
            chainCache.payloadFor(keyOf, () => f.payloadFromEnvelope(SchemaInference.nullSafe(
              SchemaInference.infer(spark, routed.select(col("value")).as(Encoders.STRING)))))
          }
          val (good, bad) = t.span("envelope.normalize", trigger, tbl) {
            val norm = f.normalize(routed, schema, "value")
            val kept = norm.filter(f.opFilter(norm))
            val present = spec.mergeKeys.map(col(_).isNotNull).reduce(_ || _)
            val (g, gn) = materialize(kept.filter(present))
            (g -> gn, kept.filter(!present).count())
          }
          counts("envelope.quarantined_rows") += bad
          val strategy = t.span("operators.skew_probe", trigger, tbl) {
            if (spec.dedupStrategy != "auto") spec.dedupStrategy
            else Skew.chooseStrategy(good._1, spec.mergeKeys, knownCount = Some(n - bad),
              minRows = spark.conf.get("spark.graft.autoDedupMinRows", "100000").toLong)
          }
          counts(s"operators.strategy_$strategy") += 1
          val (up, audit) = t.span("operators.dedup", trigger, tbl) {
            val u = if (spec.onlySaveDelete) None else Some(materialize(dedup(good._1, spec, strategy, f)))
            val d = if (spec.saveDelete || spec.onlySaveDelete)
              Some(materialize(dedup(good._1.filter(col(f.OpCol) === "d"), spec, strategy, f)))
            else None
            (u, d)
          }
          counts("operators.dedup_in") += good._2
          counts("operators.dedup_out") += up.map(_._2).getOrElse(0L)
          val staged = t.span("operators.coerce", trigger, tbl) {
            (up.map(u => materialize(Coerce(u._1, spec))), audit.map(d => materialize(Coerce(d._1, spec))))
          }
          staged._1.foreach { case (s, rows) =>
            counts("sink.staged_mb") += s.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1e6
            val since = System.currentTimeMillis()
            t.span("sink.merge", trigger, tbl)(sink(spec).merge(s, spec))
            if (w.sinkSpec("").startsWith("jdbc:")) counts("sink.jdbc_rows") += rows
            val written = filesSince(Paths.get(w.sinkSpec(a.out.resolve("replay").toString))
              .resolve(spec.resolvedTarget), since)
            counts("sink.files_written") += written.size
            counts("sink.buckets_touched") += written.map(_.getParent).distinct.size
          }
          staged._2.foreach { case (d, rows) =>
            if (rows > 0) t.span("sink.audit_merge", trigger, tbl)(sink(auditSpec(spec)).merge(d, auditSpec(spec)))
          }
          t.span("sink.snapshot", trigger, tbl)(sink(spec).snapshot(spark).count())
          Seq(Some(good._1), up.map(_._1), audit.map(_._1), staged._1.map(_._1), staged._2.map(_._1))
            .flatten.foreach(_.unpersist())
        }
        routed.unpersist()
      }
    }

    private def perLayer(spark: SparkSession, t: Tracer, run: StreamRun, dir: Path): Unit = {
      t.drain()
      val spans = t.all
      val chainSpans = spans.filterNot(s => s.name.startsWith("stream."))
      def named(p: String) = chainSpans.filter(s => s.name == p)
      def secs(p: String) = named(p).map(_.seconds).sum
      def jobsIn(prefix: String) = chainSpans.filter(_.name.startsWith(prefix))
        .map(t.workFor(_).jobs.get).sum.toDouble
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
      val dedupWork = named("operators.dedup").map(t.workFor)
      // merges of the timed batches; batch 0 is the set-up batch
      val streamMerges = spans.filter(s => s.name == "stream.merge" && s.trigger >= 1).map(_.seconds)
      val isJdbc = w.sinkSpec("").startsWith("jdbc:")
      val commits = run.timed.map(_._1)
      def dur(keys: String*) = p50(commits.map(c => keys.map(c.durations.getOrElse(_, 0L)).sum / 1000.0))
      val tasks = named("table_task")
      val covered = tasks.map { tt =>
        chainSpans.filter(_.parent == tt.id).map(_.seconds).sum }.sum
      // processBatch's own jobs and those of the merges it called
      val pb = named("streaming.process_batch") ++ chainSpans.filter(_.name.startsWith("batch."))
      val (tailP, tailV) = tail(commits.map(_.triggerMs / 1000.0))
      val (_, lagTail) = tail(lags(run))
      val targetFiles = walk(Paths.get(if (isJdbc) dir.resolve("warehouse").toString
                                       else w.sinkSpec(dir.toString)))
      val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
      metrics ++= Seq(
        "envelope.route_s" -> secs("envelope.route"),
        "envelope.routed_rows" -> counts("envelope.routed_rows"),
        "envelope.normalize_s" -> secs("envelope.normalize"),
        "envelope.quarantined_rows" -> counts("envelope.quarantined_rows"),
        "envelope.input_mb" -> counts("envelope.input_mb"),
        "envelope.jobs" -> jobsIn("envelope."),
        "schema.infer_s" -> secs("schema.infer"),
        "schema.infer_count" -> chainCache.inferCount.toDouble,
        "schema.cache_hits" -> (inferCalls - chainCache.inferCount).toDouble,
        "schema.jobs" -> jobsIn("schema."),
        "schema.columns_added" -> columnsAdded(spark, dir),
        "schema.drift_delay_batches" -> driftDelay(run, merges.asScala.toSeq),
        "operators.skew_probe_s" -> secs("operators.skew_probe"),
        "operators.strategy_window" -> counts("operators.strategy_window"),
        "operators.strategy_agg" -> counts("operators.strategy_agg"),
        "operators.strategy_salted" -> counts("operators.strategy_salted"),
        "operators.dedup_s" -> secs("operators.dedup"),
        "operators.dedup_ratio" -> (if (counts("operators.dedup_in") == 0) 0.0
                                    else counts("operators.dedup_out") / counts("operators.dedup_in")),
        "operators.dedup_shuffle_mb" -> dedupWork.map(_.shuffleWriteBytes.get).sum / 1e6,
        "operators.dedup_task_max_s" -> (dedupWork.map(_.taskMaxMs.get).maxOption.getOrElse(0L) / 1000.0),
        "operators.coerce_s" -> secs("operators.coerce"),
        "operators.jobs" -> jobsIn("operators."),
        "sink.merge_p50_s" -> p50(streamMerges),
        "sink.merge_max_s" -> streamMerges.maxOption.getOrElse(0.0),
        "sink.audit_merge_s" -> p50(spans.filter(s => s.name == "stream.audit_merge" && s.trigger >= 1)
          .map(_.seconds)),
        "sink.buckets_touched" -> counts("sink.buckets_touched"),
        "sink.files_written" -> counts("sink.files_written"),
        "sink.mb_written" -> named("sink.merge").map(t.workFor(_).outputBytes.get).sum / 1e6,
        "sink.write_amp" -> (if (counts("sink.staged_mb") == 0) 0.0
          else named("sink.merge").map(t.workFor(_).outputBytes.get).sum / 1e6 / counts("sink.staged_mb")),
        "sink.target_files" -> targetFiles.size.toDouble,
        "sink.target_mb" -> targetFiles.map(Files.size).sum / 1e6,
        "sink.snapshot_s" -> secs("sink.snapshot"),
        "sink.jobs" -> jobsIn("sink."),
        "sink.jdbc_merge_s" -> (if (isJdbc) p50(streamMerges) else 0.0),
        "sink.jdbc_rows" -> counts("sink.jdbc_rows"),
        "streaming.process_batch_s" -> batchWall,
        "streaming.table_task_p50_s" -> p50(tableTasks.toSeq),
        "streaming.table_task_max_s" -> tableTasks.maxOption.getOrElse(0.0),
        "streaming.fanout_eff" -> tableTasks.sum / (batchWall * a.workers),
        "streaming.jobs_per_batch" -> pb.map(t.workFor(_).jobs.get).sum.toDouble,
        "streaming.tasks_per_batch" -> pb.map(t.workFor(_).tasks.get).sum.toDouble,
        "streaming.span_cover" -> covered / tasks.map(_.seconds).sum,
        "streaming.chain_vs_task" -> tasks.map(_.seconds).sum / tableTasks.sum,
        "streaming.planning_s" -> dur("queryPlanning"),
        "streaming.wal_s" -> dur("walCommit", "commitOffsets"),
        "streaming.source_list_s" -> dur("latestOffset", "getBatch"),
        "streaming.trigger_tail_s" -> tailV,
        "streaming.lag_tail_s" -> lagTail,
        "streaming.traced_trigger_p50_s" -> p50(commits.map(_.triggerMs / 1000.0)),
        "jvm.gc_s" -> gcs.map(_.getCollectionTime).sum / 1000.0,
        "jvm.heap_peak_mb" -> heapPeak / 1e6,
        "jvm.rss_peak_mb" -> rssPeakMb())
      context("trigger_tail_percentile") = tailP
      context("span_jobs") = chainSpans.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, ss) => n -> ss.map(t.workFor(_).jobs.get).sum }
      t.writeJsonl(a.out.resolve("spans.jsonl"))
    }

    private def walk(root: Path): Seq[Path] =
      if (!Files.isDirectory(root)) Nil
      else {
        val s = Files.walk(root)
        try s.iterator.asScala.filter(Files.isRegularFile(_)).filterNot { p =>
          val n = p.getFileName.toString; n.endsWith(".crc") || n.startsWith("_")
        }.toList finally s.close()
      }

    /** Columns the targets have beyond the ones every file carries. */
    private def columnsAdded(spark: SparkSession, dir: Path): Double = w match {
      case WarehouseDrift =>
        val sink = CdcApp.sinkFactory(spark, w.sinkSpec(dir.toString))
        val base = Set("id", "event_id", "name", "amount", "qty", "updated")
        w.tables.map(s => sink(s).snapshot(spark).columns.count(c => !base(c.toLowerCase))).sum.toDouble
      case _ => 0.0
    }

    /** Mean number of batches between a column's first file and the first
      * merge whose staged frame carries it. */
    private def driftDelay(run: StreamRun, merges: Seq[(String, Long, Seq[String])]): Double = w match {
      case WarehouseDrift =>
        val delays = WarehouseDrift.driftColumns(run.landed.size).flatMap { case (t, c, intro) =>
          merges.filter(m => m._1 == s"w$t" && m._3.exists(_.equalsIgnoreCase(c)))
            .map(_._2).minOption.map(b => (b - intro).toDouble)
        }
        if (delays.isEmpty) 0.0 else delays.sum / delays.size
      case _ => 0.0
    }
  }
}
