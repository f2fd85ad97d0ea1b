package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.DurableRecord
import graft.streaming.{EventsStream, LogOffsets, OffsetLog}

/** The offset-log source: Kafka's consumer contract (partitioned
  * monotone offsets, planned [start, end) ranges, deterministic replay,
  * batch twin) proven against Structured Streaming's checkpoint
  * machinery — the source-agnosticism half of the reference's streaming
  * TO-DO that an embedded broker would have shown (unobtainable here;
  * PLANS.md round 10).
  */
class OffsetLogSpec extends SparkSpec {
  import spark.implicits._

  private def newLog(parts: Int): String = {
    val dir = Files.createTempDirectory("offsetlog").toString + "/log"
    OffsetLog.create(spark, dir, parts)
    dir
  }

  test("offsets are per-partition monotone; batch read sees every appended record exactly once") {
    val dir = newLog(3)
    assert(OffsetLog.append(spark, dir, 0, 1000L, Seq("a" -> "1", "b" -> "2")) == 2L)
    assert(OffsetLog.append(spark, dir, 1, 1000L, Seq("c" -> "3")) == 1L)
    assert(OffsetLog.append(spark, dir, 0, 2000L, Seq("d" -> "4")) == 3L)
    // partition 2 stays empty — planning must not fabricate work for it
    val rows = spark.read.format("offsetlog").load(dir)
      .select($"partition", $"offset", $"key", $"value")
      .as[(Int, Long, String, String)].collect().toSet
    assert(rows == Set((0, 0L, "a", "1"), (0, 1L, "b", "2"),
      (0, 2L, "d", "4"), (1, 0L, "c", "3")))
    // offset JSON round-trips (the checkpoint representation)
    val o = LogOffsets(Map(0 -> 3L, 1 -> 1L, 2 -> 0L))
    assert(LogOffsets.parse(o.json()) == o)
  }

  test("streaming delivers exactly once across a restart; only the delta replays") {
    val dir = newLog(2)
    val ckpt = Files.createTempDirectory("offsetlog_ckpt").toString
    OffsetLog.append(spark, dir, 0, 1000L, (0 until 5).map(i => s"k$i" -> s"v$i"))
    OffsetLog.append(spark, dir, 1, 1000L, (5 until 8).map(i => s"k$i" -> s"v$i"))

    // memory sink can't recover from a checkpoint; foreachBatch can —
    // and it is the production sink shape for this contract anyway
    def drain(): Seq[String] = {
      val buf = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val q = spark.readStream.format("offsetlog").load(dir)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select($"key").as[String].collect().foreach(buf.add)
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
    }
    val got1 = drain()
    assert(got1.sorted == (0 until 8).map(i => s"k$i"),
      s"first drain must deliver all records exactly once: $got1")

    // restart from the checkpoint with new data appended: ONLY the delta
    OffsetLog.append(spark, dir, 0, 2000L, Seq("k8" -> "v8"))
    OffsetLog.append(spark, dir, 1, 2000L, Seq("k9" -> "v9"))
    val got2 = drain()
    assert(got2.sorted == Seq("k8", "k9"),
      s"restart must replay nothing and deliver only the delta: $got2")
  }

  test("a planned offset range re-reads deterministically (crash-replay contract)") {
    val dir = newLog(2)
    OffsetLog.append(spark, dir, 0, 1000L, (0 until 6).map(i => s"a$i" -> s"x$i"))
    OffsetLog.append(spark, dir, 0, 2000L, (6 until 9).map(i => s"a$i" -> s"x$i"))
    OffsetLog.append(spark, dir, 1, 1000L, (0 until 4).map(i => s"b$i" -> s"y$i"))
    val stream = new graft.streaming.OffsetLogMicroBatchStream(dir)
    val start = LogOffsets(Map(0 -> 2L, 1 -> 1L))
    val end = LogOffsets(Map(0 -> 8L, 1 -> 3L))
    def readAll(): Seq[(Int, Long, String)] = {
      val factory = stream.createReaderFactory()
      stream.planInputPartitions(start, end).toSeq.flatMap { ip =>
        val r = factory.createReader(ip)
        val buf = scala.collection.mutable.Buffer.empty[(Int, Long, String)]
        while (r.next()) {
          val row = r.get()
          buf += ((row.getInt(2), row.getLong(3), row.getUTF8String(0).toString))
        }
        r.close(); buf.toSeq
      }
    }
    val first = readAll()
    assert(first.map(t => (t._1, t._2)).toSet ==
      ((2L until 8L).map(o => (0, o)) ++ (1L until 3L).map(o => (1, o))).toSet,
      s"planned range must surface exactly [start, end): $first")
    assert(readAll() == first, "re-reading the same planned range must be identical")
    // planning prunes segments by their name-carried ranges: a slice
    // inside partition 0's FIRST segment must ship exactly one file
    val narrow = stream.planInputPartitions(
        LogOffsets(Map(0 -> 1L, 1 -> 4L)), LogOffsets(Map(0 -> 3L, 1 -> 4L)))
      .map(_.asInstanceOf[graft.streaming.OffsetLogInputPartition])
    assert(narrow.length == 1 && narrow.head.files.size == 1,
      s"single-segment slice must plan one file: ${narrow.toSeq}")
  }

  test("CDC over the offset log: key-partitioned change feed applies exactly-once, == batch latest-per-key") {
    // the Debezium topology: change events keyed by primary key, key-hash
    // partitioned (per-key ORDER rides one partition's offsets — Kafka's
    // ordering guarantee), consumed into latest-LSN-wins state
    import graft.streaming.CdcApply
    import graft.streaming.CdcApply.{Change, Current}
    val dir = newLog(2)
    def part(k: String): Int = math.abs(k.hashCode) % 2
    def enc(c: Change): (String, String) = c.base_num ->
      s"${c.base_name}|${c.lsn}|${c.deleted_at.map(_.getTime).getOrElse("")}"
    def put(cs: Change*): Unit =
      cs.groupBy(c => part(c.base_num)).foreach { case (p, rows) =>
        OffsetLog.append(spark, dir, p, 1000L, rows.map(enc))
      }
    def parse(df: org.apache.spark.sql.DataFrame) = df
      .select($"key".as("base_num"), split($"value", "\\|").as("f"))
      .select($"base_num", element_at($"f", 1).as("base_name"),
        element_at($"f", 2).cast("long").as("lsn"),
        when(element_at($"f", 3) =!= "",
          timestamp_millis(element_at($"f", 3).cast("long"))).as("deleted_at"))
      .as[Change]
    val ts = new java.sql.Timestamp(1735689600000L)
    val q = CdcApply.applyChanges(
        parse(spark.readStream.format("offsetlog").load(dir)))
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("olog_cdc").start()
    try {
      put(Change("B1", "Unter", 10, None), Change("B2", "Zwei", 11, None),
        Change("B3", "Drei", 12, None))
      q.processAllAvailable()
      put(Change("B1", "Unter GmbH", 30, None),
        Change("B2", "Zwei", 40, Some(ts))) // tombstone at the top LSN
      q.processAllAvailable()
      put(Change("B1", "Unter AG", 20, None)) // stale late arrival
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("olog_cdc").as[Current].collect()
      .groupBy(_.base_num).map { case (k, rows) => k -> rows.maxBy(_.lsn) }
    val batch = CdcApply.currentStateBatch(
        parse(spark.read.format("offsetlog").load(dir)).toDF()).as[Current]
      .collect().map(c => c.base_num -> c).toMap
    assert(streamed == batch, "stream state must equal batch latest-per-key")
    assert(batch("B1").base_name == "Unter GmbH" && batch("B1").lsn == 30L,
      "stale lsn-20 replay must not displace the lsn-30 winner")
    assert(batch("B2").deleted, "delete tombstone must win at the top LSN")
    assert(!batch("B3").deleted)
  }

  test("sink: log -> transform -> log chain delivers exactly once across a restart, key-routed with dense offsets") {
    val src = newLog(2)
    val dst = newLog(3)
    val ckpt = Files.createTempDirectory("olog_sink_ckpt").toString
    def pump(): Unit = {
      val q = spark.readStream.format("offsetlog").load(src)
        .select($"key", upper($"value").as("value"))
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("offsetlog").option("path", dst).start()
      try q.processAllAvailable() finally q.stop()
    }
    OffsetLog.append(spark, src, 0, 1000L, Seq("a" -> "x1", "b" -> "x2"))
    OffsetLog.append(spark, src, 1, 1000L, Seq("c" -> "x3"))
    pump()
    OffsetLog.append(spark, src, 0, 2000L, Seq("a" -> "x4"))
    pump() // restart from checkpoint: only the delta flows
    val out = spark.read.format("offsetlog").load(dst)
      .select($"key", $"value", $"partition", $"offset")
      .as[(String, String, Int, Long)].collect().toSeq
    assert(out.map(r => (r._1, r._2)).sorted ==
      Seq(("a", "X1"), ("a", "X4"), ("b", "X2"), ("c", "X3")),
      s"sink must hold each transformed record exactly once: $out")
    // key routing: every key lives in exactly one partition, and that
    // partition is the stable hash route
    out.groupBy(_._1).foreach { case (k, rs) =>
      assert(rs.map(_._3).distinct.size == 1, s"key $k split across partitions")
      assert(rs.head._3 == graft.streaming.OffsetLog.partitionFor(k, 3))
    }
    // offsets dense per partition
    out.groupBy(_._3).foreach { case (p, rs) =>
      assert(rs.map(_._4).sorted == (0L until rs.size), s"holes in p$p: $rs")
    }
  }

  test("sink epoch commit: replay is a no-op; a crash between manifest and rename completes idempotently") {
    val dir = newLog(2)
    val conf = spark.sessionState.newHadoopConf()
    val rows = Seq((0, "k1", "v1"), (0, "k2", "v2"), (1, "k3", "v3"))
    OffsetLog.commitEpoch(conf, dir, epochId = 7L, rows)
    def snapshot(): Set[(Int, Long, String)] =
      spark.read.format("offsetlog").load(dir)
        .select($"partition", $"offset", $"value")
        .as[(Int, Long, String)].collect().toSet
    val committed = snapshot()
    assert(committed.map(_._3) == Set("v1", "v2", "v3"))
    // full-epoch replay (Spark re-delivers after a post-commit crash):
    // the manifest short-circuits — no re-append, no new offsets
    OffsetLog.commitEpoch(conf, dir, epochId = 7L, rows)
    assert(snapshot() == committed, "replayed epoch must not re-append")
    // crash BETWEEN manifest create and rename: undo one rename (final
    // segment back to its recorded tmp name), then replay the epoch —
    // completeRenames must restore the exact same segment
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(
      dir, f"_epochs/e${7L}%020d.manifest")
    val in = fs.open(marker)
    val entry = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().next() finally in.close()
    val Array(p, tmp, fin) = entry.split("\t", 3)
    val pd = new org.apache.hadoop.fs.Path(dir, s"p=$p")
    assert(fs.rename(new org.apache.hadoop.fs.Path(pd, fin),
      new org.apache.hadoop.fs.Path(pd, tmp)))
    OffsetLog.commitEpoch(conf, dir, epochId = 7L, rows)
    assert(snapshot() == committed, "interrupted rename must complete, not re-append")
    // a later epoch appends AFTER the committed offsets
    OffsetLog.commitEpoch(conf, dir, epochId = 8L, Seq((0, "k4", "v4")))
    val after = snapshot()
    assert(after.size == 4 && after.contains((0, 2L, "v4")))
  }

  test("EventsStream hourly rollup over the offset log == the same rollup over a batch read") {
    val dir = newLog(3)
    // produce the events table into the log: value = event fields, TSV-ish
    val evs = Tables.load(spark, sfDir, "events")
      .select($"event_id", $"ts", $"event_type", $"value")
      .as[(Long, java.sql.Timestamp, String, Double)].collect()
    evs.groupBy(_._1 % 3).foreach { case (p, rows) =>
      OffsetLog.append(spark, dir, p.toInt, 1000L,
        rows.map(r => r._1.toString -> s"${r._2.getTime}|${r._3}|${r._4}").toSeq)
    }
    def parse(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(split($"value", "\\|").as("f"))
        .select(timestamp_millis(element_at($"f", 1).cast("long")).as("ts"),
          element_at($"f", 2).as("event_type"),
          element_at($"f", 3).cast("double").as("value"))
    val q = EventsStream.hourlyRollup(
        parse(spark.readStream.format("offsetlog").load(dir)))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("olog_hourly").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("olog_hourly")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = parse(spark.read.format("offsetlog").load(dir))
      .groupBy(date_trunc("hour", $"ts").as("hour_ts"), $"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"value").as("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed.map(t => (t._1, t._2, t._3)) == batch.map(t => (t._1, t._2, t._3)),
      "stream and batch window counts must agree")
  }

  test("retention: expire trims whole segments, fences reads, and the retained delta replays bit-identically") {
    val dir = newLog(2)
    val ckpt = Files.createTempDirectory("offsetlog_ret_ckpt").toString
    OffsetLog.append(spark, dir, 0, 1000L, (0 until 4).map(i => s"a$i" -> s"$i"))
    OffsetLog.append(spark, dir, 0, 2000L, (4 until 8).map(i => s"a$i" -> s"$i"))
    OffsetLog.append(spark, dir, 0, 3000L, (8 until 10).map(i => s"a$i" -> s"$i"))
    OffsetLog.append(spark, dir, 1, 1000L, (0 until 3).map(i => s"b$i" -> s"$i"))
    val conf = spark.sessionState.newHadoopConf()

    // a stream consumes everything, checkpointing its position
    def drain(): Seq[String] = {
      val buf = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val q = spark.readStream.format("offsetlog").load(dir)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select($"key").as[String].collect().foreach(buf.add)
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
    }
    assert(drain().size == 13)

    // expire below offset 5 on p0: first segment [0,4) deleted whole, the
    // straddling second one retained but fenced; p1 all expired — last
    // segment survives (active-segment rule), fenced to hw
    assert(OffsetLog.expire(conf, dir, 0, 5L) == 5L)
    assert(OffsetLog.expire(conf, dir, 1, 99L) == 3L) // clamped to hw
    assert(OffsetLog.segments(conf, dir, 0).map(_._2) == Seq(4L, 8L))
    assert(OffsetLog.segments(conf, dir, 1).size == 1)
    assert(OffsetLog.highWater(conf, dir, 0) == 10L) // hw unaffected
    assert(OffsetLog.highWater(conf, dir, 1) == 3L)
    // monotone: re-expiring lower never regresses
    assert(OffsetLog.expire(conf, dir, 0, 2L) == 5L)

    // batch read serves exactly the retained suffix
    val rows = spark.read.format("offsetlog").load(dir)
      .select($"partition", $"offset", $"key")
      .as[(Int, Long, String)].collect().toSet
    assert(rows == (5 until 10).map(i => (0, i.toLong, s"a$i")).toSet)

    // the checkpointed stream sits ABOVE the watermark: new appends
    // replay as a pure delta, bit-identical
    OffsetLog.append(spark, dir, 0, 4000L, Seq("a10" -> "10"))
    OffsetLog.append(spark, dir, 1, 4000L, Seq("b3" -> "3"))
    assert(drain().sorted == Seq("a10", "b3"))

    // a FRESH checkpoint starts at the watermark, not 0 — no dead range
    val ckpt2 = Files.createTempDirectory("offsetlog_ret_ckpt2").toString
    val buf2 = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val q2 = spark.readStream.format("offsetlog").load(dir)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt2)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select($"key").as[String].collect().foreach(buf2.add)
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    assert(buf2.asScala.toSet == Set("a5", "a6", "a7", "a8", "a9", "a10", "b3"))

    // planning a range below the watermark fails LOUDLY
    val stream = new graft.streaming.OffsetLogMicroBatchStream(dir)
    val err = intercept[IllegalArgumentException] {
      stream.planInputPartitions(
        LogOffsets(Map(0 -> 0L, 1 -> 3L)), LogOffsets(Map(0 -> 10L, 1 -> 3L)))
    }
    assert(err.getMessage.contains("expired"))
  }

  test("retention: hourly rollup over the retained suffix == batch over the same suffix") {
    val dir = newLog(2)
    val evs = Tables.load(spark, sfDir, "events")
      .select($"event_id", $"ts", $"event_type", $"value")
      .as[(Long, java.sql.Timestamp, String, Double)].collect()
    evs.groupBy(_._1 % 2).foreach { case (p, rows) =>
      rows.grouped(200).foreach { chunk => // several segments per partition
        OffsetLog.append(spark, dir, p.toInt, 1000L,
          chunk.map(r => r._1.toString -> s"${r._2.getTime}|${r._3}|${r._4}").toSeq)
      }
    }
    val conf = spark.sessionState.newHadoopConf()
    OffsetLog.expireAll(conf, dir, 250L)
    def parse(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(split($"value", "\\|").as("f"))
        .select(timestamp_millis(element_at($"f", 1).cast("long")).as("ts"),
          element_at($"f", 2).as("event_type"),
          element_at($"f", 3).cast("double").as("value"))
    val q = EventsStream.hourlyRollup(
        parse(spark.readStream.format("offsetlog").load(dir)))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("olog_ret_hourly").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("olog_ret_hourly")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = parse(spark.read.format("offsetlog").load(dir))
      .groupBy(date_trunc("hour", $"ts").as("hour_ts"), $"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"value").as("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed.map(t => (t._1, t._2, t._3)) == batch.map(t => (t._1, t._2, t._3)),
      "retained-suffix stream and batch must agree")
  }

  test("epoch GC: manifests/tmps at or below the watermark are reclaimed; an expired replay refuses to double-append") {
    val dir = newLog(2)
    val conf = spark.sessionState.newHadoopConf()
    OffsetLog.commitEpoch(conf, dir, 0L, Seq((0, "k0", "v0")))
    OffsetLog.commitEpoch(conf, dir, 1L, Seq((1, "k1", "v1")))
    OffsetLog.commitEpoch(conf, dir, 2L, Seq((0, "k2", "v2")))
    // a crashed staging of an old epoch that never reached its manifest
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(conf)
    val orphan = new org.apache.hadoop.fs.Path(
      dir, f"p=1/.e${1L}%020d-p1.tmp")
    fs.create(orphan, true).close()

    OffsetLog.expireEpochs(conf, dir, 1L)
    assert(OffsetLog.epochWatermark(conf, dir) == 1L)
    val edir = new org.apache.hadoop.fs.Path(dir, "_epochs")
    val left = fs.listStatus(edir).map(_.getPath.getName).toSet
    assert(left == Set("_watermark", f"e${2L}%020d.manifest"),
      s"only the watermark and epoch 2 should remain: $left")
    assert(!fs.exists(orphan), "expired-epoch staging tmp must be reclaimed")

    // replaying an expired epoch (manifest gone) must fail loudly, not
    // silently re-append
    val err = intercept[IllegalArgumentException] {
      OffsetLog.commitEpoch(conf, dir, 1L, Seq((1, "k1", "v1")))
    }
    assert(err.getMessage.contains("watermark"))
    // epoch 2 (above watermark, manifest present) still replays as no-op
    OffsetLog.commitEpoch(conf, dir, 2L, Seq((0, "k2", "v2")))
    assert(OffsetLog.highWater(conf, dir, 0) == 2L)
    // watermark is monotone
    OffsetLog.expireEpochs(conf, dir, 0L)
    assert(OffsetLog.epochWatermark(conf, dir) == 1L)
  }

  /** Replace `file`'s bytes with `text`, as a writer that died mid-write
    * leaves them; the checksum sibling goes, so the bytes read unverified.
    */
  private def tear(file: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(file)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    Files.write(p, text.getBytes("UTF-8"))
  }

  test("a torn epoch manifest is refused on replay, not completed for the partitions it still lists") {
    val dir = newLog(2)
    val conf = spark.sessionState.newHadoopConf()
    val rows = Seq((0, "k1", "v1"), (1, "k2", "v2"))
    OffsetLog.commitEpoch(conf, dir, 7L, rows)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val manifest = new org.apache.hadoop.fs.Path(dir, f"_epochs/e${7L}%020d.manifest")
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(java.nio.file.Paths.get(manifest.toString)).asScala.toSeq
    val entries = lines.filter(_.contains("\t"))
    assert(entries.size == 2)
    // the crash came before any rename: both finals go back to their tmps,
    // and the manifest's writer died after its first line
    entries.foreach { ln =>
      val Array(p, tmp, fin) = ln.split("\t", 3)
      val pd = new org.apache.hadoop.fs.Path(dir, s"p=$p")
      assert(fs.rename(new org.apache.hadoop.fs.Path(pd, fin),
        new org.apache.hadoop.fs.Path(pd, tmp)))
    }
    tear(manifest.toString, entries.head + "\n")
    val e = DurableRecord.tornReadBound.withValue(50L)(intercept[IllegalArgumentException](
      OffsetLog.commitEpoch(conf, dir, 7L, rows)))
    assert(e.getMessage.contains(manifest.toString), s"manifest not named: ${e.getMessage}")
  }

  test("a torn _meta is refused, not read as a smaller partition count") {
    val dir = newLog(12)
    val conf = spark.sessionState.newHadoopConf()
    tear(s"$dir/_meta", "1")
    val e = DurableRecord.tornReadBound.withValue(50L)(intercept[IllegalArgumentException](
      OffsetLog.numPartitions(conf, dir)))
    assert(e.getMessage.contains(s"$dir/_meta"), s"_meta not named: ${e.getMessage}")
  }

  test("a reader never sees a replaced _start or _watermark missing, torn or going backward") {
    val dir = newLog(1)
    val conf = spark.sessionState.newHadoopConf()
    OffsetLog.append(spark, dir, 0, 1000L, (0 until 600).map(i => s"k$i" -> "v"))
    OffsetLog.expire(conf, dir, 0, 1L)
    OffsetLog.expireEpochs(conf, dir, 0L)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val reader = new Thread(() => {
      var (lastStart, lastWm) = (1L, 0L)
      try while (!done.get && failure.get == null) {
        val (s, w) = (OffsetLog.logStart(conf, dir, 0), OffsetLog.epochWatermark(conf, dir))
        if (s < lastStart || w < lastWm)
          failure.set(s"read _start $s after $lastStart, _watermark $w after $lastWm")
        lastStart = s; lastWm = w
        reads.incrementAndGet()
      } catch { case e: Throwable => failure.set(e.toString) }
    })
    reader.start()
    try (1 to 500).foreach { i =>
      OffsetLog.expire(conf, dir, 0, 1L + i)
      OffsetLog.expireEpochs(conf, dir, i.toLong)
    } finally { done.set(true); reader.join() }
    Option(failure.get).foreach(fail(_))
    assert(reads.get > 0)
    assert(OffsetLog.logStart(conf, dir, 0) == 501L)
    assert(OffsetLog.epochWatermark(conf, dir) == 500L)
  }
}
