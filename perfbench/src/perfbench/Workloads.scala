package perfbench

import graft.config.{JobConfig, TableSpec}
import graft.envelope.{CdcFormat, FlinkDebeziumCdc}
import org.apache.spark.sql.catalyst.expressions.XXH64

import java.util.SplittableRandom
import scala.collection.mutable

/** One change event as the generator made it, before serialization. */
final case class Event(table: Int, key: Long, eventId: Long, op: Char)

/** One input file: its JSON lines and the events they carry, in order. */
final case class FileBatch(index: Int, lines: Array[String], events: Array[Event])

/** A workload: its tables, its config, and a seeded envelope generator.
  * Envelopes are written here, not by the program, so a program change
  * cannot change the input. Event ids are global and increasing, and an
  * event's time is `T0 + eventId`, so every key sees strictly increasing
  * event times and the oracle is plain last-write-wins. */
sealed trait Workload {
  def name: String
  def format: CdcFormat
  def tables: Seq[TableSpec]
  def probeBatches: Int = 20
  def generator(seed: Long): Generator
  def sinkSpec(dir: String): String = s"$dir/targets"
  def jobConfig(dir: String, workers: Int): JobConfig = JobConfig(
    triggerInterval = "0 seconds",
    checkpointLocation = s"$dir/checkpoint",
    cdcFormat = format.name,
    threadMaxWorkers = workers,
    schemaProbeBatches = probeBatches,
    tables = tables)
  /** Session confs the workload sets on top of `CdcApp.session`. */
  def sessionConf: Map[String, String] = Map.empty
  def sizes: String
}

object Workload {
  val T0 = 1700000000000L

  def byName(n: String): Workload = n match {
    case "bulk-upsert" => BulkUpsert
    case "warehouse-drift" => WarehouseDrift
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** The order-independent digest the gate compares: Spark's
    * `xxhash64(key, event_id)` (seed 42) summed over rows. */
  def rowHash(key: Long, eventId: Long): Long = XXH64.hashLong(eventId, XXH64.hashLong(key, 42L))
}

/** Live keys of one table with O(1) uniform pick and removal. */
final class KeyPool {
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.LongMap.empty[Int]
  def size: Int = keys.size
  def add(k: Long): Unit = if (!pos.contains(k)) { pos(k) = keys.size; keys += k }
  def remove(k: Long): Unit = pos.remove(k).foreach { i =>
    val last = keys.remove(keys.size - 1)
    if (i < keys.size) { keys(i) = last; pos(last) = i }
  }
  def pick(r: SplittableRandom): Long = keys(r.nextInt(keys.size))
}

/** Sequential, deterministic envelope generator. File `i` depends on the
  * seed and on files `0..i-1` only. */
abstract class Generator(seed: Long, nTables: Int) {
  protected val rnd = new SplittableRandom(seed)
  protected val pools: Array[KeyPool] = Array.fill(nTables)(new KeyPool)
  protected val nextKey: Array[Long] = Array.fill(nTables)(1L)
  private var eid = 0L
  private var fileIdx = 0
  protected def nextEid(): Long = { eid += 1; eid }
  protected def ts(e: Long): Long = Workload.T0 + e
  def next(): FileBatch = { val f = make(fileIdx); fileIdx += 1; f }
  protected def make(index: Int): FileBatch

  /** Picks c/u/d with the given insert and delete shares; a table with no
    * live key can only insert. Returns (op, key). */
  protected def pickOp(t: Int, insertShare: Double, deleteShare: Double): (Char, Long) = {
    val p = rnd.nextDouble()
    val pool = pools(t)
    if (pool.size == 0 || p < insertShare) {
      val k = nextKey(t); nextKey(t) += 1; pool.add(k); ('c', k)
    } else if (p < insertShare + deleteShare) {
      val k = pool.pick(rnd); pool.remove(k); ('d', k)
    } else ('u', pool.pick(rnd))
  }

  protected def word(n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + rnd.nextInt(26)).toChar); i += 1 }
    sb.toString
  }
  protected def money(): String = f"${rnd.nextInt(1000000) / 100.0}%.2f"
}

/** Last-write-wins oracle over the generator's own events. */
final class Oracle(nTables: Int) {
  val live: Array[mutable.LongMap[Long]] = Array.fill(nTables)(mutable.LongMap.empty[Long])
  val audit: Array[mutable.LongMap[Long]] = Array.fill(nTables)(mutable.LongMap.empty[Long])
  def apply(f: FileBatch): Unit = f.events.foreach { e =>
    if (e.op == 'd') { live(e.table).remove(e.key); audit(e.table)(e.key) = e.eventId }
    else live(e.table)(e.key) = e.eventId
  }
  private def digest(m: mutable.LongMap[Long]): (Long, BigInt) =
    (m.size.toLong, m.foldLeft(BigInt(0)) { case (s, (k, e)) => s + Workload.rowHash(k, e) })
  def liveDigest(t: Int): (Long, BigInt) = digest(live(t))
  def auditDigest(t: Int): (Long, BigInt) = digest(audit(t))
}

/** One wide Debezium table: an initial snapshot, then update-heavy
  * triggers with one hot key. */
object BulkUpsert extends Workload {
  val name = "bulk-upsert"
  val format: CdcFormat = FlinkDebeziumCdc
  val TriggerRecords = 2000
  val tables = Seq(TableSpec(db = "bench", table = "orders_wide", primaryKey = Seq("id"),
    dedupStrategy = "auto"))
  // The auto strategy's probe only samples at or above this many rows; the
  // program's default (100k) sits above this workload's trigger size.
  override def sessionConf: Map[String, String] = Map("spark.graft.autoDedupMinRows" -> "1000")
  def sizes = s"$TriggerRecords records/trigger, file 0 a snapshot of $TriggerRecords keys, hot key 10%"

  def generator(seed: Long): Generator = new Gen(seed)

  final class Gen(seed: Long) extends Generator(seed, 1) {
    private val statuses = Array("new", "paid", "packed", "shipped", "returned")
    private val regions = Array("emea", "apac", "amer", "latam")
    private val channels = Array("web", "app", "store", "partner")

    private def row(k: Long, e: Long): String = {
      val sb = new java.lang.StringBuilder(600)
      sb.append("{\"id\":").append(k).append(",\"event_id\":").append(e)
        .append(",\"customer_id\":").append(rnd.nextInt(100000))
        .append(",\"status\":\"").append(statuses(rnd.nextInt(statuses.length)))
        .append("\",\"amount\":").append(money())
        .append(",\"qty\":").append(1 + rnd.nextInt(50))
        .append(",\"price\":").append(money())
        .append(",\"discount\":").append(money())
        .append(",\"tax\":").append(money())
        .append(",\"region\":\"").append(regions(rnd.nextInt(regions.length)))
        .append("\",\"channel\":\"").append(channels(rnd.nextInt(channels.length)))
        .append("\",\"sku\":\"").append(word(10))
        .append("\",\"note\":\"").append(word(24))
        .append("\",\"flag_a\":").append(rnd.nextBoolean())
        .append(",\"flag_b\":").append(rnd.nextBoolean())
        .append(",\"score\":").append(money())
        .append(",\"version\":").append(e)
        .append(",\"created_ms\":").append(ts(e) - 86400000L)
        .append(",\"updated_ms\":").append(ts(e))
        .append(",\"addr\":{\"street\":\"").append(word(12))
        .append("\",\"city\":\"").append(word(8))
        .append("\",\"zip\":\"").append(10000 + rnd.nextInt(89999)).append("\"}}")
      sb.toString
    }

    private def envelope(op: Char, k: Long, e: Long): String = {
      val r = row(k, e)
      val (before, after) = if (op == 'd') (r, "null") else ("null", r)
      s"""{"before":$before,"after":$after,"source":{"db":"bench","table":"orders_wide","ts_ms":${ts(e)}},"op":"$op","ts_ms":${ts(e)}}"""
    }

    protected def make(index: Int): FileBatch = {
      // file 0 is the initial snapshot (Debezium `r` reads of new keys)
      val evs = if (index == 0) Array.tabulate(TriggerRecords) { _ =>
        val k = nextKey(0); nextKey(0) += 1; pools(0).add(k); Event(0, k, nextEid(), 'r')
      } else Array.tabulate(TriggerRecords) { _ =>
        // key 1 is the hot counter row: ~10% of every trigger
        val (op, k) =
          if (rnd.nextDouble() < 0.10 && pools(0).size > 0) ('u', 1L)
          else pickOp(0, insertShare = 0.10 / 0.90, deleteShare = 0.05 / 0.90)
        if (op == 'd' && k == 1L) pools(0).add(1L) // the hot row stays live
        Event(0, k, nextEid(), if (op == 'd' && k == 1L) 'u' else op)
      }
      FileBatch(index, evs.map(ev => envelope(ev.op, ev.key, ev.eventId)), evs)
    }
  }
}

/** Four Debezium tables into an embedded Derby warehouse through the
  * staged-COPY path; a table gains a nullable column every third file. */
object WarehouseDrift extends Workload {
  val name = "warehouse-drift"
  val format: CdcFormat = FlinkDebeziumCdc
  val NTables = 4
  val PerTable = 500
  // A run commits two files, so the cache probes every batch for the
  // column file 1 adds to reach the warehouse (ALTER) within the run.
  override val probeBatches = 1
  val tables: Seq[TableSpec] = (0 until NTables).map { t =>
    TableSpec(db = "erp", table = s"w$t", primaryKey = Seq("id"),
      timestampColumns = if (t == 1) Seq("updated") else Nil, saveDelete = t == 2)
  }
  def sizes = s"$NTables tables x $PerTable records/trigger, file i>0 adds a column to table (i-1)%$NTables"
  override def sinkSpec(dir: String): String = s"jdbc:derby:$dir/warehouse;create=true"
  override def jobConfig(dir: String, workers: Int): JobConfig =
    super.jobConfig(dir, workers).copy(redshiftTmpdir = Some(s"$dir/copy-stage"))

  /** (table, column, first file) of every column files `0 until upTo` add. */
  def driftColumns(upTo: Int): Seq[(Int, String, Int)] =
    (1 until upTo).map(i => ((i - 1) % NTables, s"x$i", i))

  private val Stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

  def generator(seed: Long): Generator = new Generator(seed, NTables) {
    private val extra = Array.fill(NTables)(mutable.ArrayBuffer.empty[String])
    protected def make(index: Int): FileBatch = {
      driftColumns(index + 1).filter(_._3 == index).foreach { case (t, c, _) => extra(t) += c }
      val evs = for (_ <- 0 until PerTable; t <- 0 until NTables) yield {
        val (op, k) = pickOp(t, insertShare = 0.4, deleteShare = 0.1)
        Event(t, k, nextEid(), op)
      }
      val lines = evs.map { ev =>
        val updated = Stamp.format(java.time.LocalDateTime.ofEpochSecond(
          ts(ev.eventId) / 1000, 0, java.time.ZoneOffset.UTC))
        val cols = extra(ev.table).map(c => s""","$c":${rnd.nextInt(1000)}""").mkString
        val r = s"""{"id":${ev.key},"event_id":${ev.eventId},"name":"${word(10)}","amount":${money()},"qty":${rnd.nextInt(100)},"updated":"$updated"$cols}"""
        val (before, after) = if (ev.op == 'd') (r, "null") else ("null", r)
        s"""{"before":$before,"after":$after,"source":{"db":"erp","table":"w${ev.table}","ts_ms":${ts(ev.eventId)}},"op":"${ev.op}","ts_ms":${ts(ev.eventId)}}"""
      }
      FileBatch(index, lines.toArray, evs.toArray)
    }
  }
}
