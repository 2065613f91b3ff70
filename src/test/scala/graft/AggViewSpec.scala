package graft

import graft.config.TableSpec
import graft.sink.{AggViewTarget, ParquetMergeTarget}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintained-rollup sink decorator ([[graft.sink.AggViewTarget]]): the
  * moments view next to the merged table must equal a recompute over the
  * merged table after every batch, survive checkpoint replay (checksum
  * skip), track group moves and deletes, and compose with skip_delete. */
class AggViewSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val spec = TableSpec(db = "d", table = "t", primaryKey = Seq("id"),
    aggViewKeys = Seq("grp"), aggViewValue = "v")

  /** (id, grp, v, op) stage batch. */
  private def batch(rows: Seq[(Long, String, Long, String)]): DataFrame =
    rows.toDF("id", "grp", "v", "op_aws")

  private def recompute(t: AggViewTarget): Map[String, (Long, Long, Long)] =
    t.snapshot(spark).groupBy(col("grp"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sumv"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("sumsq"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDecimal(3).longValueExact())).toMap

  private def view(t: AggViewTarget): Map[String, (Long, Long, Long)] =
    t.viewSnapshot(spark).collect().map(r => r.getString(r.fieldIndex("grp")) ->
      (r.getLong(r.fieldIndex("cnt")), r.getLong(r.fieldIndex("sumv")),
        r.getDecimal(r.fieldIndex("sumsq")).longValueExact())).toMap

  test("the rollup tracks inserts, updates, group moves and deletes " +
    "across batches — always equal to the merged-table recompute") {
    val dir = tmp("graft-aggview")
    val t = new AggViewTarget(new ParquetMergeTarget(s"$dir/t"), s"$dir/view")
    t.merge(batch(Seq((1L, "a", 10L, "c"), (2L, "a", 20L, "c"),
      (3L, "b", 5L, "c"))), spec)
    assert(view(t) === recompute(t))
    // update in place, group move, delete, fresh insert
    t.merge(batch(Seq((1L, "a", 11L, "u"), (2L, "b", 20L, "u"),
      (3L, "b", 5L, "d"), (4L, "c", 7L, "c"))), spec)
    assert(view(t) === recompute(t))
    assert(view(t) === Map("a" -> (1L, 11L, 121L), "b" -> (1L, 20L, 400L),
      "c" -> (1L, 7L, 49L)))
    // a group whose last member deletes vanishes from the view
    t.merge(batch(Seq((4L, "c", 7L, "d"))), spec)
    assert(!view(t).contains("c"))
    assert(view(t) === recompute(t))
  }

  test("checkpoint replay of the same batch is a no-op for the view " +
    "(checksum skip) and idempotent for the merge") {
    val dir = tmp("graft-aggview-replay")
    val t = new AggViewTarget(new ParquetMergeTarget(s"$dir/t"), s"$dir/view")
    t.merge(batch(Seq((1L, "a", 10L, "c"), (2L, "b", 3L, "c"))), spec)
    val b2 = Seq((1L, "a", 12L, "u"), (2L, "b", 3L, "d"))
    t.merge(batch(b2), spec)
    val before = view(t)
    t.merge(batch(b2), spec) // replay
    assert(view(t) === before)
    assert(view(t) === recompute(t))
  }

  test("skip_delete composes: the delete row upserts into the view") {
    val dir = tmp("graft-aggview-sd")
    val t = new AggViewTarget(new ParquetMergeTarget(s"$dir/t"), s"$dir/view")
    val sd = spec.copy(skipDelete = true)
    t.merge(batch(Seq((1L, "a", 10L, "c"))), sd)
    t.merge(batch(Seq((1L, "a", 99L, "d"))), sd)
    assert(view(t) === Map("a" -> (1L, 99L, 9801L)))
    assert(view(t) === recompute(t))
  }

  test("property: random batches keep view ≡ recompute") {
    val rnd = new scala.util.Random(5)
    val dir = tmp("graft-aggview-prop")
    val t = new AggViewTarget(new ParquetMergeTarget(s"$dir/t"), s"$dir/view")
    var live = Map.empty[Long, (String, Long)]
    (1 to 4).foreach { bi =>
      val ops = (1 to 12).map { _ =>
        val id = rnd.nextInt(15).toLong
        if (live.contains(id) && rnd.nextBoolean())
          (id, s"g${rnd.nextInt(3)}", rnd.nextInt(100).toLong,
            if (rnd.nextInt(4) == 0) "d" else "u")
        else (id, s"g${rnd.nextInt(3)}", rnd.nextInt(100).toLong, "c")
      }.groupBy(_._1).map(_._2.last).toSeq // one op per key, like Dedup
      t.merge(batch(ops), spec)
      ops.foreach { case (id, g, v, op) =>
        if (op == "d") live -= id else live += id -> (g, v) }
      assert(view(t) === recompute(t), s"batch $bi diverged")
    }
    val want = live.values.groupBy(_._1).view.mapValues { vs =>
      val xs = vs.map(_._2)
      (xs.size.toLong, xs.sum, xs.map(x => x * x).sum) }.toMap
    assert(view(t) === want)
  }

  test("streaming: the agg view stays current through the real CDC " +
    "pipeline across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.config.JobConfig
    import graft.envelope.FlinkDebeziumCdc
    import graft.sources.CdcGen
    import graft.streaming.{CdcApp, CdcPipeline}
    val dir = tmp("graft-aggview-stream")
    val t0 = TableSpec("cdc_db", "t0", Seq("id"),
      aggViewKeys = Seq("k"), aggViewValue = "event_id")
    val cfg = JobConfig(tables = Seq(t0), threadMaxWorkers = 2,
      batchTimeoutMinutes = 5, checkpointLocation = s"$dir/ckpt")
    val sinkFor = CdcApp.sinkFactory(spark, dir, cfg)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sf("sf0.001"))
    val lines = CdcGen.debezium(ev).as[String].collect()
    val (h1, h2) = lines.splitAt(lines.length / 2)
    val mem = MemoryStream[String]
    val q = CdcPipeline.streamWriter(mem.toDF(), cfg, FlinkDebeziumCdc, sinkFor)
      .start()
    try {
      mem.addData(h1.toIndexedSeq); q.processAllAvailable()
      mem.addData(h2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val target = sinkFor(t0).asInstanceOf[AggViewTarget]
    val merged = target.snapshot(spark)
    val want = merged.groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("sumv"))
      .collect().map(r => r.getAs[Number](0).intValue() ->
        (r.getLong(1), r.getLong(2))).toMap
    val got = target.viewSnapshot(spark).collect()
      .map(r => r.getAs[Number](r.fieldIndex("k")).intValue() ->
        (r.getLong(r.fieldIndex("cnt")), r.getLong(r.fieldIndex("sumv")))).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("consecutive group-move-only batches are distinct work, not " +
    "replays: the fingerprint covers the group columns") {
    val dir = tmp("graft-aggview-gm")
    val t = new AggViewTarget(new ParquetMergeTarget(s"$dir/t"), s"$dir/view")
    t.merge(batch(Seq((1L, "a", 10L, "c"))), spec)
    // same key, same value, same op — only the group differs per batch
    t.merge(batch(Seq((1L, "b", 10L, "u"))), spec)
    t.merge(batch(Seq((1L, "c", 10L, "u"))), spec)
    assert(view(t) === Map("c" -> (1L, 10L, 100L)))
    assert(view(t) === recompute(t))
  }

  test("a view attached to a target with history bootstraps from the " +
    "pre-merge target, not from empty") {
    val dir = tmp("graft-aggview-boot")
    val plain = new ParquetMergeTarget(s"$dir/t")
    plain.merge(batch(Seq((1L, "a", 10L, "c"), (2L, "b", 5L, "c"))), spec)
    val t = new AggViewTarget(plain, s"$dir/view")
    t.merge(batch(Seq((2L, "b", 7L, "u"), (3L, "a", 1L, "c"))), spec)
    assert(view(t) === Map("a" -> (2L, 11L, 101L), "b" -> (1L, 7L, 49L)))
    assert(view(t) === recompute(t))
  }

  test("a view over a table whose every key was deleted accepts the next batch") {
    val dir = tmp("graft-aggview-emptied")
    val t = graft.streaming.CdcApp.sinkFactory(spark, dir)(spec).asInstanceOf[AggViewTarget]
    t.merge(batch(Seq((1L, "a", 10L, "c"), (2L, "b", 5L, "c"))), spec)
    t.merge(batch(Seq((1L, "a", 10L, "d"), (2L, "b", 5L, "d"))), spec)
    assert(view(t).isEmpty && t.snapshot(spark).count() == 0)
    val b3 = batch(Seq((3L, "a", 7L, "c")))
    t.merge(b3, spec)
    assert(view(t) === Map("a" -> (1L, 7L, 49L)))
    assert(view(t) === recompute(t))
    t.merge(b3, spec) // replay
    assert(view(t) === recompute(t))
  }

  test("a crashed view update (a version holding its checksum, no pointer move) " +
    "does not skip the replay") {
    val dir = tmp("graft-aggview-crash")
    def target(name: String) =
      new AggViewTarget(new ParquetMergeTarget(s"$dir/$name"), s"$dir/$name-view")
    val t = target("t")
    val twin = target("twin")
    val b1 = batch(Seq((1L, "a", 10L, "c"), (2L, "b", 5L, "c")))
    val b2 = batch(Seq((1L, "b", 11L, "u"), (3L, "a", 2L, "c")))
    Seq(t, twin).foreach(_.merge(b1, spec))
    twin.merge(b2, spec)
    val before = view(t)
    // the crash: t's update for b2 landed its data and checksum, the
    // pointer never moved
    val partial = new java.io.File(s"$dir/t-view/v1")
    partial.mkdirs()
    new java.io.File(s"$dir/twin-view/v1").listFiles().filter(_.isFile).foreach(f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(partial, f.getName).toPath))
    assert(new java.io.File(partial, "_applied_checksum").isFile)
    assert(view(t) === before)
    t.merge(b2, spec) // the checkpoint replay
    assert(view(t) === recompute(t))
    assert(view(t) === view(twin))
  }

  test("sinkFactory routes agg_view specs through the decorator") {
    val dir = tmp("graft-aggview-factory")
    val target = graft.streaming.CdcApp.sinkFactory(spark, dir)(spec)
    target.merge(batch(Seq((1L, "a", 10L, "c"))), spec)
    assert(target.isInstanceOf[AggViewTarget])
    assert(view(target.asInstanceOf[AggViewTarget]) === Map("a" -> (1L, 10L, 100L)))
  }
}
