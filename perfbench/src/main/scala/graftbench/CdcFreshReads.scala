package graftbench

import graft.core.{CommitLog, GraftTable, TableConfig, TableServices}
import graft.ingest.Debezium
import graft.interop.XTableSync
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Seeded Debezium change stream over an orders table.
  *
  * Keys: a fixed hot set drawn Zipf(1.1) from the initial keys, mixed
  * with a recency bias (Zipf over the newest keys). Each event is an
  * insert of a new key (10%), a delete of a live key (5%) or an update
  * (85%); 3% of updates arrive late, carrying an older `ts`.
  *
  * The stream is built so that graft's documented semantics equal a
  * plain latest-wins model (per key, the event with the highest `ts`;
  * a delete there means absent): every `ts` is unique per key, deletes
  * carry the newest `ts`, and a late update never predates the key's
  * last delete — graft keeps no tombstone for a deleted key, so an
  * update older than the delete would bring the row back. */
final class CdcGen(seed: Long) {
  val InitialKeys = 5000
  val SecondsPerKey = 60L        // created_at spacing: 1440 keys a day
  val T0s = 1767225600L          // 2026-01-01T00:00:00Z
  private val rng = new java.util.SplittableRandom(seed)
  private val hot = new Zipf(InitialKeys, 1.1)
  private val recent = new Zipf(2000, 1.1)

  // per-key state, indexed by id
  private var cap = 1 << 16
  private var live = new Array[Boolean](cap)
  private var lastDel = new Array[Long](cap)
  private var nKeys = 0
  private var event = 0L
  private val lateTs = scala.collection.mutable.HashSet.empty[Long]
  private val hotShift = rng.nextInt(InitialKeys)

  def createdAt(id: Long): Long = T0s + id * SecondsPerKey
  private def streamTs(e: Long): Long = (T0s + InitialKeys * SecondsPerKey) * 1000L + e * 10L

  private def grow(): Unit = if (nKeys >= cap) {
    cap *= 2
    live = java.util.Arrays.copyOf(live, cap)
    lastDel = java.util.Arrays.copyOf(lastDel, cap)
  }

  private def note(): String = {
    val n = 24 + rng.nextInt(25)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += (if (rng.nextInt(6) == 0) ' ' else ('a' + rng.nextInt(26)).toChar); i += 1 }
    sb.toString
  }
  private val statuses = Array("new", "paid", "shipped", "done")

  private def row(id: Long, ts: Long): Event =
    Event(id, createdAt(id), ts, statuses(rng.nextInt(4)), rng.nextInt(100000).toLong, note(), 'u')

  /** The table's contents before the stream starts. */
  def initial(): Seq[Event] = (0 until InitialKeys).map { i =>
    grow(); live(nKeys) = true; nKeys += 1
    row(i.toLong, createdAt(i.toLong) * 1000L).copy(op = 'r')
  }

  /** The newest event time generated so far. */
  def now: Long = streamTs(event)

  /** A key drawn with the stream's skew: hot keys and recent keys. */
  def pickKey(r: java.util.SplittableRandom = rng): Int =
    if (r.nextInt(100) < 35) math.max(0, nKeys - 1 - recent.sample(r))
    else (hot.sample(r) * 7919 + hotShift) % InitialKeys

  def batch(n: Int): Seq[Event] = (0 until n).map { _ =>
    event += 1
    val now = streamTs(event)
    val roll = rng.nextInt(100)
    if (roll < 10) {
      grow(); val id = nKeys; nKeys += 1; live(id) = true
      row(id.toLong, now).copy(op = 'c')
    } else {
      val id = pickKey()
      if (roll < 15 && live(id)) {
        live(id) = false; lastDel(id) = now
        row(id.toLong, now).copy(op = 'd')
      } else {
        var ts = now
        if (rng.nextInt(100) < 3) {
          val late = now - (1 + rng.nextInt(3000)) * 10L + 5L
          if (late > lastDel(id) && !lateTs.contains(late)) { ts = late; lateTs += late }
        }
        if (ts == now) live(id) = true
        // a late update of a deleted key re-inserts it in both graft and
        // the model, since no newer event for the key exists
        else if (!live(id)) live(id) = true
        row(id.toLong, ts)
      }
    }
  }
}

final case class Event(id: Long, createdAt: Long, ts: Long, status: String,
    amountCents: Long, note: String, op: Char) {
  private def image: String =
    s"""{"id":$id,"created_at":$createdAt,"ts":$ts,"status":"$status","amount_cents":$amountCents,"note":"$note"}"""
  def json: String =
    if (op == 'd') s"""{"before":$image,"after":null,"op":"d","ts_ms":$ts}"""
    else s"""{"before":null,"after":$image,"op":"$op","ts_ms":$ts}"""
}

/** `cdc_fresh_reads`: Debezium envelopes → `Debezium.parse` →
  * `Debezium.apply` into a MOR table partitioned by the day of
  * `created_at` and bucketed, with inline compaction, Delta sync and
  * cleaning on a fixed schedule. After every batch three seeded reads
  * run against the table: catalog SQL (`GraftTableCatalog`, the DSv2
  * and MOR scans) after one batch, the `GraftTable` read API after the
  * next. Each read is compared with a model of the table at the
  * current commit, so every batch is checked for read-your-writes. */
final class CdcFreshReads(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import spark.implicits._

  val BatchEvents = 1000
  // three reads after every batch, in this order: the catalog SQL kinds
  // after the first batch of a period, the table-API kinds after the
  // second
  private val readKinds: IndexedSeq[IndexedSeq[() => Op]] = IndexedSeq(
    IndexedSeq(() => pointOp(), () => rangeOp(), () => aggOp()),
    IndexedSeq(() => realtimeOp(), () => incrementalOp(), () => timeTravelOp()))
  val ReadsPerBatch = 3
  // A batch makes two delta commits (its upserts, then its deletes), so
  // inline compaction fires every second batch, the last of each
  // period. Delta sync and cleaning run on that batch too.
  val CompactEvery = 4 // delta commits between inline compactions
  val ServiceEvery = 2 // batches between Delta syncs and cleans
  val RetainCommits = 12

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("created_at", LongType),
    StructField("ts", LongType), StructField("status", StringType),
    StructField("amount_cents", LongType), StructField("note", StringType)))
  private val userCols = rowSchema.fieldNames.toSeq
  private val config = TableConfig(name = "orders", keyField = "id", orderingField = "ts",
    partitionField = Some("created_at"), partitionFormat = Some("yyyy-MM-dd"),
    partitionUnit = "s", tableType = TableConfig.Mor, numBuckets = 2)

  private var dir: Path = _
  private var gen: CdcGen = _
  private var table: GraftTable = _
  private var name: String = _
  private var setups = 0
  private var rng: java.util.SplittableRandom = _
  private val events = ArrayBuffer.empty[(Event, Int)] // event, batch number
  // the model: per key, the winning event and the batch that wrote it
  private val state = mutable.LongMap.empty[(Event, Int)]
  // per batch: the instant after it and the model's aggregates then
  private val history = ArrayBuffer.empty[(String, Map[String, Agg])]
  private var batches = 0
  private var ops = 0
  private var loopCommits = 0
  private var loopParses = 0L
  private var loopBatches = 0
  // live delta files after each traced batch: what the reads after it see
  private val deltaSeen = ArrayBuffer.empty[Int]
  private var ownParses = 0L

  /** The benchmark's own questions to the commit log go to a CommitLog
    * of its own: they neither fill the parse cache of the table's log,
    * which the timed calls use, nor count in `core.log_parses`. */
  private def ownLog[T](f: CommitLog => T): T = {
    val p0 = CommitLog.filesParsed.get()
    try f(new CommitLog(table.root)) finally ownParses += CommitLog.filesParsed.get() - p0
  }

  def period: Int = readKinds.size * (1 + ReadsPerBatch)

  def setup(d: Path): Unit = {
    dir = d
    inputs.reset()
    gen = new CdcGen(seed)
    rng = new java.util.SplittableRandom(seed ^ 0x7eadL)
    events.clear(); state.clear(); history.clear(); batches = 0; ops = 0
    val init = gen.initial()
    record(init, 0)
    name = s"orders_$setups"
    setups += 1
    table = GraftTable.create(spark,
      java.nio.file.Paths.get(spark.conf.get("spark.sql.catalog.gcat.warehouse"), name).toString, config)
    history += table.bulkInsert(toDf(init)) -> aggs()
    ()
  }

  private def record(es: Seq[Event], b: Int): Unit = {
    es.foreach(e => inputs.add(e.json))
    events ++= es.map(_ -> b)
    es.foreach { e => if (state.get(e.id).forall(_._1.ts < e.ts)) state(e.id) = e -> b }
  }

  private def toDf(es: Seq[Event]): DataFrame =
    es.map(e => (e.id, e.createdAt, e.ts, e.status, e.amountCents, e.note))
      .toDF(userCols: _*)

  /** One period runs before timing: two batches, the first inline
    * compaction, Delta sync and clean, and all six reads. */
  def warmup(): Unit = {
    (0 until period).foreach { _ => val o = next(); o.run(); o.check() }
    loopCommits = ownLog(_.commits().size)
    loopParses = CommitLog.filesParsed.get()
    ownParses = 0
    loopBatches = 0
    deltaSeen.clear()
  }

  def next(): Op = {
    ops += 1
    val slot = (ops - 1) % period
    val read = slot % (1 + ReadsPerBatch)
    if (read == 0) batchOp() else readKinds(slot / (1 + ReadsPerBatch))(read - 1)()
  }

  private def batchOp(): Op = {
    batches += 1
    loopBatches += 1
    val b = batches
    val es = gen.batch(BatchEvents)
    // the envelopes arrive over as many partitions as there are cores,
    // as from a topic with one partition per core
    val raw = spark.sparkContext.parallelize(es.map(_.json), spark.sparkContext.defaultParallelism)
      .toDF("value")
    new Op {
      val kind = "op"
      val units = es.size.toLong
      var traced = false
      def run(): Unit = {
        traced = tr.enabled
        tr.span("ingest.apply") {
          Debezium.apply(table, Debezium.parse(raw, "value", rowSchema))
        }
        tr.span("core.compact") { TableServices.compactInline(table, CompactEvery) }
        if (b % ServiceEvery == 0) {
          tr.span("interop.sync_delta") { XTableSync.syncDelta(table) }
          tr.span("core.clean") { TableServices.clean(table, RetainCommits) }
        }
        ()
      }
      def check(): Boolean = {
        record(es, b)
        history += ownLog(_.lastInstant()).get -> aggs()
        if (traced) deltaSeen += ownLog(_.liveFiles().count(_.delta))
        true
      }
    }
  }

  // ---- reads, each checked against the model at the current commit ----

  private def live: Iterator[(Event, Int)] = state.valuesIterator.filter(_._1.op != 'd')

  private def aggs(): Map[String, Agg] = Agg.of(live.map(_._1))

  private abstract class ReadOp(val span: String) extends Op {
    val kind = "read"
    val units = 0L
    var traced = false
    var rows: Array[Row] = _
    def read(): Array[Row]
    final def run(): Unit = { traced = tr.enabled; rows = tr.span(span)(read()) }
    def expected: Boolean
    final def check(): Boolean = {
      if (traced) tr.note(s"$span.rows_returned", rows.length)
      expected
    }
  }

  private def sqlAgg(df: DataFrame): Array[Row] =
    df.groupBy("status").agg(count(lit(1)), sum("amount_cents"), max("ts")).collect()

  private def pointOp(): Op = new ReadOp("sql.point_lookup") {
    val id = gen.pickKey(rng).toLong
    def read(): Array[Row] = spark.sql(
      s"SELECT id, created_at, ts, status, amount_cents, note FROM gcat.default.$name WHERE id = $id")
      .collect()
    def expected: Boolean = state.get(id).filter(_._1.op != 'd') match {
      case Some((e, _)) => rows.length == 1 && rows(0) == Row(e.id, e.createdAt, e.ts, e.status, e.amountCents, e.note)
      case None => rows.isEmpty
    }
  }

  private def rangeOp(): Op = new ReadOp("sql.range_scan") {
    // a window of recent event times, ~100 events wide
    val hi = gen.now - rng.nextInt(BatchEvents) * 10L
    val lo = hi - 1000L
    def read(): Array[Row] = spark.sql(
      s"SELECT id, ts FROM gcat.default.$name WHERE ts BETWEEN $lo AND $hi").collect()
    def expected: Boolean = {
      if (traced) tr.note(s"$span.live_bytes", ownLog(_.liveFiles().map(_.bytes).sum).toDouble)
      val want = live.collect { case (e, _) if e.ts >= lo && e.ts <= hi => (e.id, e.ts) }.toSet
      rows.length == want.size && rows.map(r => (r.getLong(0), r.getLong(1))).toSet == want
    }
  }

  private def aggOp(): Op = new ReadOp("sql.agg") {
    def read(): Array[Row] = spark.sql(
      s"SELECT status, count(*), sum(amount_cents), max(ts) FROM gcat.default.$name GROUP BY status")
      .collect()
    def expected: Boolean = Agg.from(rows) == aggs()
  }

  private def realtimeOp(): Op = new ReadOp("core.read_realtime") {
    def read(): Array[Row] = sqlAgg(table.readRealtime())
    def expected: Boolean = Agg.from(rows) == aggs()
  }

  // the changes of the last two batches
  private def incrementalOp(): Op = new ReadOp("core.read_incremental") {
    val sinceBatch = math.max(0, history.size - 3)
    val since = history(sinceBatch)._1
    def read(): Array[Row] = table.readIncremental(since).select("id", "ts").collect()
    def expected: Boolean = {
      val want = live.collect { case (e, b) if b > sinceBatch => (e.id, e.ts) }.toSet
      rows.length == want.size && rows.map(r => (r.getLong(0), r.getLong(1))).toSet == want
    }
  }

  // the table as it was before the last batch
  private def timeTravelOp(): Op = new ReadOp("core.time_travel") {
    val (instant, want) = history(math.max(0, history.size - 2))
    def read(): Array[Row] = sqlAgg(table.read(asOf = Some(instant)))
    def expected: Boolean = Agg.from(rows) == want
  }

  private var writeAmp = 0.0
  private var spaceAmp = 0.0
  private var inputBytes = 0L
  private var liveBytes = 0L
  private var commitsAtEnd: Seq[graft.core.Commit] = Nil
  private var parsesAtEnd = 0L

  /** Amplification first, then the snapshot and the Delta mirror are
    * checked against a latest-wins model of the whole stream computed
    * by plain Spark. The loop ends on a period's last batch, which
    * compacted and synced the table. */
  def finish(): (Int, Int) = {
    parsesAtEnd = CommitLog.filesParsed.get() - ownParses
    commitsAtEnd = ownLog(_.commits())
    liveBytes = ownLog(_.liveFiles().map(_.bytes).sum)

    val evDf = events.toSeq.map { case (e, b) => (e.id, e.createdAt, e.ts, e.status, e.amountCents,
        e.note, e.op.toString, b) }
      .toDF(userCols ++ Seq("op", "batch"): _*)
    val inDir = dir.resolve("input-parquet")
    evDf.drop("op").repartition(col("batch")).write.partitionBy("batch").parquet(inDir.toString)
    inputBytes = parquetBytes(inDir)
    writeAmp = commitsAtEnd.flatMap(_.added).map(_.bytes).sum.toDouble / inputBytes
    val snapDir = dir.resolve("snapshot-parquet")
    table.read().select(userCols.map(col): _*).repartition(1).write.parquet(snapDir.toString)
    spaceAmp = liveBytes.toDouble / parquetBytes(snapDir)

    val w = Window.partitionBy("id").orderBy(col("ts").desc)
    def sorted(df: DataFrame) = df.select(userCols.map(col): _*).orderBy("id").collect().toSeq
    val model = sorted(evDf.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "d"))
    val checks = Seq(
      "snapshot" -> sorted(table.read()),
      "delta mirror" -> sorted(XTableSync.readDelta(spark, table.root)))
    val failed = checks.count { case (what, rows) =>
      val bad = rows != model
      if (bad) System.err.println(s"cdc_fresh_reads: $what differs from the model: " +
        s"${rows.diff(model).size} extra, ${model.diff(rows).size} missing rows")
      bad
    }
    (checks.size, failed)
  }

  private def parquetBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => f.toString.endsWith(".parquet")).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  def report(r: LoopResult): Seq[Metric] = {
    val heap = Runtime.getRuntime.maxMemory().toDouble
    Seq(
      Metric("ingest_rows_per_s", r.untraced.map(_.units).sum / r.untraced.map(_.seconds).sum, "rows/s"),
      Metric("write_amp", writeAmp, "ratio"),
      Metric("space_amp", spaceAmp, "ratio"),
      Metric("input_rows", events.size.toDouble, "rows"),
      Metric("input_parquet_mb", inputBytes / 1e6, "MB"),
      Metric("table_live_mb", liveBytes / 1e6, "MB"),
      Metric("table_to_heap", liveBytes / heap, "ratio"),
      Metric("commits", commitsAtEnd.size.toDouble, "count"),
      Metric("compactions", commitsAtEnd.count(_.action == "compact").toDouble, "count"))
  }

  def layerCounts(r: LoopResult): Map[String, Double] = {
    val n = math.max(1, loopBatches).toDouble
    val inLoop = commitsAtEnd.drop(loopCommits)
    val (svc, rows) = inLoop.partition(_.action == "compact")
    Map(
      "core.commits" -> inLoop.size / n,
      "core.files_added" -> inLoop.map(_.added.size).sum / n,
      "core.bytes_written_mb" -> rows.flatMap(_.added).map(_.bytes).sum / 1e6 / n,
      "core.bytes_rewritten_mb" -> svc.flatMap(_.added).map(_.bytes).sum / 1e6 / n,
      "core.log_parses" -> (parsesAtEnd - loopParses) / n,
      "core.write_amp" -> writeAmp,
      "core.space_amp" -> spaceAmp,
      "core.delta_files_live" -> (if (deltaSeen.isEmpty) 0.0 else deltaSeen.sum.toDouble / deltaSeen.size))
  }
}

/** Per-`status` row count, amount total and newest `ts`. */
final case class Agg(n: Long, amount: Long, maxTs: Long)

object Agg {
  def of(es: Iterator[Event]): Map[String, Agg] =
    es.foldLeft(Map.empty[String, Agg]) { (m, e) =>
      val a = m.getOrElse(e.status, Agg(0, 0, Long.MinValue))
      m.updated(e.status, Agg(a.n + 1, a.amount + e.amountCents, math.max(a.maxTs, e.ts)))
    }
  def from(rows: Array[Row]): Map[String, Agg] =
    rows.map(r => r.getString(0) -> Agg(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
}
