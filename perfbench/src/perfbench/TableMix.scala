package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Ingest
import graft.weblog.IcebergLikeTable

/** `table_mix`: one closed-loop client over a keyed web-log table
  * (unique keys `user_id, timestamp`, partitioned by `event`) created
  * through the SQL catalog. A rotation runs each write kind once, each
  * followed by `ReadsPerWrite` reads in a fixed order; the seed draws the
  * data, the keys and the predicates.
  *
  * Writes: late and duplicate events of a skewed user subset arrive as
  * JSON payloads (a share corrupted) through the program's validated
  * streaming ingest in upsert mode, and the client waits for the
  * micro-batch to commit; SQL `MERGE INTO`; a SQL GDPR `DELETE` of one
  * user; a merge-on-read delete; `maintain()`.
  * Reads: catalog SQL, `read`, `readWhere` (time window, session point
  * lookup), `toDF` and SQL time travel to a retained version.
  * Every result, the final table and the error zone are checked against
  * the benchmark's own model of the keys.
  */
final class TableMix(spark: SparkSession, rec: Recorder, work: String, seed: Long)
    extends Workload {
  import TableMix._
  import spark.implicits._

  private val gen = new Payloads(seed)
  private val hot = gen.userIds.take(HotUsers).toSet
  private val hotSeq = gen.userIds.take(HotUsers)
  private val rng = new Random(seed * 31 + 7)

  private val model = mutable.HashMap.empty[(String, String), Payloads.Event]
  private val countAt = mutable.HashMap.empty[Long, Long]
  private var dir = ""
  private var name = ""
  private var table: IcebergLikeTable = _
  private var source: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var nextIndex = 0L
  private var readNo = 0
  private var offeredInvalid = 0L
  /** Per streamed batch: live rows the table gained, its manifest row
    * count after minus before (a batch is skipped when delete files leave
    * the count unknown).
    */
  private val streamAdded = mutable.ArrayBuffer.empty[Long]
  private val streamBatches = mutable.ArrayBuffer.empty[Seq[Any]]

  /** Rows in the table's column order; SQL-written rows sort before any
    * streamed micro-batch.
    */
  private def frame(events: Seq[Payloads.Event]): DataFrame =
    events.map(e => (e.userId, e.sessionId, e.event, e.referrer.orNull, e.userAgent, e.ip,
      e.hostname, e.os, e.timestamp, e.uri))
      .toDF(Columns: _*)
      .withColumn("_seq", struct(lit(0L).as("batch"), lit(0L).as("mid")))

  private def fresh(user: Option[String]): Payloads.Event = {
    val e = gen.event(nextIndex, user)
    nextIndex += 1
    e
  }

  private def applyToModel(events: Seq[Payloads.Event]): Unit =
    events.foreach(e => model((e.userId, e.timestamp)) = e)

  private def markVersion(): Unit =
    table.currentVersion.foreach(v => countAt(v) = model.size.toLong)

  def prepare(rep: Int, last: Boolean): Unit = {
    model.clear(); countAt.clear(); streamBatches.clear()
    nextIndex = 0L; readNo = 0; offeredInvalid = 0L; streamAdded.clear()
    name = s"gcat.bench.events_r$rep"
    dir = s"$work/catalog/bench/events_r$rep"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.bench")
    spark.sql(
      s"""CREATE TABLE $name (user_id STRING, session_id STRING, event STRING,
         |  referrer STRING, user_agent STRING, ip STRING, hostname STRING, os STRING,
         |  `timestamp` STRING, uri STRING, _seq STRUCT<batch: BIGINT, mid: BIGINT>)
         |PARTITIONED BY (event)
         |TBLPROPERTIES (uniqueKeys 'user_id,timestamp', orderCol '_seq',
         |  numBuckets '$Buckets', statsColumns 'timestamp,session_id')""".stripMargin)
    table = IcebergLikeTable(spark, dir, partitionCol = "event",
      uniqueKeys = Seq("user_id", "timestamp"), numBuckets = Buckets,
      statsColumns = Seq("timestamp", "session_id"))
    val base = mutable.ArrayBuffer.empty[Payloads.Event]
    while (base.size < BaseRows) {
      val e = fresh(None)
      if (!model.contains((e.userId, e.timestamp))) { base += e; applyToModel(Seq(e)) }
    }
    frame(base.toSeq).createOrReplaceTempView("mix_base")
    spark.sql(s"INSERT INTO $name SELECT * FROM mix_base")
    markVersion()

    source = MemoryStream[String](spark, StreamPartitions)(Encoders.STRING)
    val stream = source.toDF()
      .withColumnRenamed("value", "payload")
      .withColumn("ingest_ts", lit("2024-01-15 12:00:00").cast("timestamp"))
    query = Ingest.startIcebergIngest(stream, table, s"$dir-errors", s"$dir-checkpoint",
      triggerSeconds = 0)
    if (!last) query.stop()
  }

  // ---- writes ----

  /** Late and duplicate events for the hot users: half re-send a stored
    * key with another hostname, half are new keys; one row per key.
    */
  private def batch(n: Int): Seq[Payloads.Event] = {
    val hotKeys = model.keysIterator.filter(k => hot.contains(k._1)).take(n * 4).toVector
    val dups = rng.shuffle(hotKeys).take(n / 2).map { k =>
      model(k).copy(hostname = Payloads.Hostnames(rng.nextInt(Payloads.Hostnames.size)),
        uri = "https://shop.example/late")
    }
    val news = Iterator.continually(fresh(Some(hotSeq(rng.nextInt(hotSeq.size)))))
      .take(n - dups.size).toVector
    (dups ++ news).groupBy(e => (e.userId, e.timestamp)).values.map(_.last).toVector
  }

  private def write(kind: String, timed: Boolean): Unit = {
    val changed: Option[Long] = kind match {
      case "stream_upsert" =>
        val events = batch(BatchRows)
        val bad = (0 until InvalidPerBatch).map(i => Payloads.corrupt(fresh(None).json, i))
        val payloads = rng.shuffle(events.map(_.json) ++ bad)
        val newKeys = events.count(e => !model.contains((e.userId, e.timestamp))).toLong
        val before = table.rowCount
        rec.op("write", kind, timed) {
          val t = rec.now()
          val off = source.addData(payloads: _*).json().trim.toLong
          query.processAllAvailable()
          (off, t)
        }(_ => true).map { case (off, t) =>
          streamBatches += Seq[Any](off, payloads.size, t)
          offeredInvalid += bad.size
          for (b <- before; a <- table.rowCount) {
            streamAdded += a - b
            rec.check(s"streamed batch added $newKeys new keys (got ${a - b})")(a - b == newKeys)
          }
          applyToModel(events)
          events.size.toLong
        }
      case "merge" =>
        val events = batch(BatchRows)
        frame(events).createOrReplaceTempView("mix_merge")
        rec.op("write", kind, timed)(spark.sql(
          s"""MERGE INTO $name t USING mix_merge s
             |ON t.user_id = s.user_id AND t.`timestamp` = s.`timestamp`
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())(_ => true)
          .map { _ => applyToModel(events); events.size.toLong }
      case "delete" | "mor_delete" =>
        val users = model.keysIterator.map(_._1).filterNot(hot.contains).toVector.distinct.sorted
        val u = users(rng.nextInt(users.size))
        val n = model.keysIterator.count(_._1 == u).toLong
        val res =
          if (kind == "delete")
            rec.op("write", kind, timed)(
              spark.sql(s"DELETE FROM $name WHERE user_id = '$u'").collect().length.toLong)(_ => true)
          else
            rec.op("write", kind, timed)(table.deleteMergeOnRead(col("user_id") === u))(_ == n)
        res.map { _ => model.keys.filter(_._1 == u).toVector.foreach(model.remove); n }
      case "maintain" =>
        // compact every leaf the rotation fragmented, delete files included
        rec.op("write", kind, timed)(table.maintain(fileThreshold = 2, deleteFileThreshold = 1))(
          _ => true).map(_ => 0L)
    }
    changed.foreach { n =>
      if (timed) rec.add("rows_changed", n.toDouble)
      markVersion()
    }
  }

  // ---- reads ----

  private def read(kind: String, timed: Boolean): Unit = kind match {
    case "sql_counts" =>
      val want = model.values.groupBy(_.event).map { case (e, rs) => e -> rs.size.toLong }
      rec.op("read", kind, timed)(rec.lazyCall(
        spark.sql(s"SELECT event, count(*) FROM $name GROUP BY event"))(_.collect()))(
        got => got.map(r => r.getString(0) -> r.getLong(1)).toMap == want)
    case "read_users" =>
      val want = model.values.groupBy(_.event)
        .map { case (e, rs) => e -> rs.map(_.userId).toSet.size.toLong }
      rec.op("read", kind, timed)(rec.lazyCall(
        table.read.groupBy("event").agg(countDistinct("user_id")))(_.collect()))(
        got => got.map(r => r.getString(0) -> r.getLong(1)).toMap == want)
    case "where_window" =>
      val h = rng.nextInt(23)
      val (lo, hi) = (f"2024-01-15T$h%02d:00:00Z", f"2024-01-15T${h + 2}%02d:00:00Z")
      val want = model.keysIterator.count(k => k._2 >= lo && k._2 < hi).toLong
      rec.op("read", kind, timed)(rec.lazyCall(
        table.readWhere(col("timestamp") >= lo && col("timestamp") < hi)
          .agg(count(lit(1))))(_.collect().head.getLong(0)))(_ == want)
    case "where_session" =>
      val keys = model.keysIterator.take(512).toVector
      val s = model(keys(rng.nextInt(keys.size))).sessionId
      val want = model.collect { case (k, e) if e.sessionId == s => k }.toSet
      rec.op("read", kind, timed)(rec.lazyCall(
        table.readWhere(col("session_id") === s).select("user_id", "timestamp"))(_.collect()))(
        got => got.map(r => (r.getString(0), r.getString(1))).toSet == want)
    case "todf_hosts" =>
      val want = model.values.groupBy(_.hostname).map { case (h, rs) => (h, rs.size.toLong) }
        .toSeq.sortBy { case (h, n) => (-n, h) }.take(3)
      rec.op("read", kind, timed)(rec.lazyCall(
        table.toDF.groupBy("hostname").count()
          .orderBy(desc("count"), asc("hostname")).limit(3))(_.collect()))(
        got => got.map(r => (r.getString(0), r.getLong(1))).toSeq == want)
    case "sql_as_of" =>
      val cur = table.currentVersion.getOrElse(0L)
      val v = if (countAt.contains(cur - Back)) cur - Back else cur
      val want = countAt.getOrElse(v, -1L)
      rec.op("read", kind, timed)(rec.lazyCall(
        spark.sql(s"SELECT count(*) FROM $name VERSION AS OF $v"))(_.collect().head.getLong(0)))(
        _ == want)
  }

  def warm(): Unit = {
    WritePattern.foreach(write(_, timed = false))
    Reads.foreach(read(_, timed = false))
  }

  /** Whole rotations only, so every run times the same mix: each write
    * kind once, each followed by `ReadsPerWrite` reads. Another rotation
    * starts only if it can end within `seconds`, judged by the last one.
    */
  def measure(seconds: Int): Unit = {
    val start = rec.now()
    var last = 0.0
    do {
      val t0 = rec.now()
      val c0 = rec.cpu()
      WritePattern.foreach { kind =>
        write(kind, timed = true)
        (1 to ReadsPerWrite).foreach { _ =>
          read(Reads(readNo % Reads.size), timed = true)
          readNo += 1
        }
      }
      last = rec.now() - t0
      rec.sample("rotation", last)
      rec.sample("cpu.rotation", rec.cpu() - c0)
    } while (rec.now() - start + last <= seconds)
  }

  def verify(): Unit = {
    query.stop()
    val all = rec.span("verify.read") {
      rec.lazyCall(table.read.select("user_id", "timestamp", "hostname"))(_.collect())
    }
    val got = all.map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    rec.check(s"final table equals the model (${got.size} vs ${model.size} rows)")(
      got == model.map { case (k, e) => k -> e.hostname }.toMap)
    val errors = rec.span("verify.errors") {
      rec.lazyCall(spark.read.json(s"$dir-errors"))(_.count())
    }
    rec.check(s"error-zone rows = $offeredInvalid invalid offered (got $errors)")(
      errors == offeredInvalid)
    // the validator's routing as the program's outputs show it, per batch
    val batches = streamBatches.size.max(1).toDouble
    rec.put("validator.rows_added_per_batch",
      if (streamAdded.isEmpty) 0.0 else streamAdded.sum / streamAdded.size.toDouble)
    rec.put("validator.rows_invalid_per_batch", errors / batches)
    TableFacts.record(rec, table, model.size.toLong, dir)
  }

  def record: Map[String, Any] = Map(
    "base_rows" -> BaseRows, "batch_rows" -> BatchRows,
    "write_pattern" -> WritePattern, "reads" -> Reads,
    "stream_batch_columns" -> Seq("offset", "rows", "added"),
    "stream_batches" -> streamBatches.toSeq)

  override def close(): Unit = if (query != null && query.isActive) query.stop()
}

object TableMix {
  val Columns: Seq[String] = Seq("user_id", "session_id", "event", "referrer", "user_agent",
    "ip", "hostname", "os", "timestamp", "uri")
  val BaseRows = 5000
  val BatchRows = 50
  val InvalidPerBatch = 3
  val Buckets = 1
  val StreamPartitions = 2
  val HotUsers = 40
  val ReadsPerWrite = 3
  /** Time travel reads `current - Back`, inside the 8 retained versions. */
  val Back = 3
  val Reads: Seq[String] = Seq("sql_counts", "read_users", "where_window",
    "where_session", "todf_hosts", "sql_as_of")
  val WritePattern: Seq[String] = Seq("stream_upsert", "merge", "delete", "mor_delete",
    "maintain")
}

/** Size and metadata facts of a table, recorded after a run. */
object TableFacts {
  def record(rec: Recorder, t: IcebergLikeTable, liveRows: Long, dir: String): Unit = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(dir))
    val meta = files.filterNot(f => f.getName.endsWith(".parquet") &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).map(_.length()).sum
    rec.put("table.stored_bytes", files.map(_.length()).sum)
    rec.put("table.live_rows", liveRows)
    rec.put("table.manifest_bytes", meta)
    rec.put("table.versions", t.versions.size)
    rec.put("table.files_live", t.files.filter(!col("is_delete")).count())
  }
}
