package graft.streaming

import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.DurableRecord

/** A partitioned, offset-addressed, replayable log as a Spark DataSource
  * V2 streaming source — the Kafka CONSUMER CONTRACT (the reference's
  * unbuilt streaming TO-DO, `Diary of Making.md:383-386`) without the
  * broker, which cannot be vendored in this environment (zero egress, no
  * kafka artifact on any local classpath — see PLANS.md round 10).
  * What Structured Streaming actually requires of Kafka is exercised in
  * full: per-partition monotone offsets, a driver that plans each
  * micro-batch as explicit [start, end) offset ranges, DETERMINISTIC
  * re-read of any planned range (exactly-once via checkpointed offsets +
  * replay), and a batch view over the same data for stream==batch
  * differentials. Swapping in real Kafka is a format-string change, which
  * is the source-agnosticism claim EventsStream makes.
  *
  * Layout (`<dir>`):
  *   _meta                 the partition count (claimed)
  *   p=<k>/<start20>-<count>.log   records [start, start+count), one per
  *                         line: `offset \t tsMillis \t b64(key) \t b64(value)`
  *   p=<k>/_start          log-start offset (published); absent = 0
  *   _epochs/e<epoch>.manifest     sink epoch commit points (claimed)
  *   _epochs/_watermark    highest expired epoch (published); absent = -1
  *
  * All but the segments are [[DurableRecord]]s, so a torn one is refused,
  * never read as its default. Segment files are immutable once visible
  * and named by their offset range, so the high-water mark and batch
  * planning are pure LISTING (no data reads on the driver); a crashed
  * producer leaves a staged `.tmp`, never a torn segment. Base64 keeps
  * arbitrary keys/values line-safe.
  *
  * Scale shape: one InputPartition per log partition per micro-batch —
  * the Kafka parallelism model; readers stream lines and never
  * materialize a segment. At 100 TB the log would live on the object
  * store with the same listing contract.
  */
object OffsetLog {

  val Schema: StructType = StructType.fromDDL(
    "key STRING, value STRING, partition INT, offset BIGINT, ts TIMESTAMP")

  private val SegmentRe = """(\d{20})-(\d+)\.log""".r

  private def fsFor(dir: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(conf), p)
  }

  private def pdir(dir: String, p: Int) = new Path(dir, s"p=$p")
  private def metaPath(dir: String) = new Path(dir, "_meta")
  private def startPath(dir: String, p: Int) = new Path(pdir(dir, p), "_start")
  private def watermarkPath(dir: String) = new Path(dir, "_epochs/_watermark")
  private def epochPath(dir: String, epochId: Long) =
    new Path(dir, f"_epochs/e$epochId%020d.manifest")

  /** The one value of a published record, `absent` if none was written. */
  private def publishedLong(conf: Configuration, f: Path, absent: Long,
      what: String): Long =
    DurableRecord.read(conf, f, s"rewrite it as the $what and a " +
        s"${DurableRecord.Terminator} line").fold(absent)(_.head.toLong)

  /** Initialize an empty log with `partitions` partitions. */
  def create(spark: SparkSession, dir: String, partitions: Int): Unit = {
    require(partitions > 0)
    val conf = spark.sessionState.newHadoopConf()
    val (fs, _) = fsFor(dir, conf)
    (0 until partitions).foreach(p => fs.mkdirs(pdir(dir, p)))
    DurableRecord.claim(conf, metaPath(dir), Seq(partitions.toString))
  }

  def numPartitions(conf: Configuration, dir: String): Int = {
    val meta = metaPath(dir)
    DurableRecord.read(conf, meta, s"delete $meta and create the log again",
      claimed = true).getOrElse(sys.error(s"no offset log at $dir")).head.toInt
  }

  /** Visible segments of a partition: (path, startOffset, count), offset
    * order. Listing-only — segment names carry the ranges.
    */
  def segments(conf: Configuration, dir: String, p: Int): Seq[(String, Long, Long)] = {
    val (fs, _) = fsFor(dir, conf)
    val d = pdir(dir, p)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.flatMap { st =>
      st.getPath.getName match {
        case SegmentRe(s, c) => Some((st.getPath.toString, s.toLong, c.toLong))
        case _ => None
      }
    }.sortBy(_._2)
  }

  /** Next offset to be written in a partition (0 for an empty one). */
  def highWater(conf: Configuration, dir: String, p: Int): Long =
    segments(conf, dir, p).foldLeft(0L) { case (hw, (_, s, c)) => math.max(hw, s + c) }

  /** Write records [start, start + records.size) to the segment tmp `tmp`. */
  private def stageSegment(fs: FileSystem, tmp: Path, start: Long,
      tsMillis: Long, records: Seq[(String, String)]): Unit = {
    val b64 = Base64.getEncoder
    def enc(s: String) = b64.encodeToString(Option(s).getOrElse("").getBytes("UTF-8"))
    val out = fs.create(tmp, true)
    try out.write(records.zipWithIndex.map { case ((k, v), i) =>
      s"${start + i}\t$tsMillis\t${enc(k)}\t${enc(v)}"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Producer: append `records` (key, value) to one partition as a single
    * immutable segment; returns the new high-water mark. Write-then-rename
    * so a crash mid-write leaves no visible torn segment.
    */
  def append(spark: SparkSession, dir: String, partition: Int,
      tsMillis: Long, records: Seq[(String, String)]): Long = {
    require(records.nonEmpty, "empty append")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, _) = fsFor(dir, conf)
    val start = highWater(conf, dir, partition)
    val name = f"$start%020d-${records.size}.log"
    val d = pdir(dir, partition)
    val tmp = new Path(d, s".$name.tmp")
    stageSegment(fs, tmp, start, tsMillis, records)
    require(fs.rename(tmp, new Path(d, name)),
      s"offsetlog append: publish rename failed for $name")
    start + records.size
  }

  /** All partitions' high-water marks. */
  def highWaters(conf: Configuration, dir: String): Map[Int, Long] =
    (0 until numPartitions(conf, dir)).map(p => p -> highWater(conf, dir, p)).toMap

  // ------------------------------------------------------------ retention
  // Kafka's retention contract (round-11 verdict item 3): segments below a
  // per-partition watermark are deleted WHOLE, the log-start offset
  // advances durably, and any read planned below it fails loudly instead
  // of silently replaying a hole. The active (last) segment is never
  // deleted, so the high-water mark stays a pure listing like before.

  /** Durable log-start offset of a partition (0 until first expire),
    * published to `p=<k>/_start` — a crashed expire leaves the old value,
    * and a concurrent reader sees the old value or the new one.
    */
  def logStart(conf: Configuration, dir: String, p: Int): Long =
    publishedLong(conf, startPath(dir, p), 0L, s"p=$p log-start offset")

  def logStarts(conf: Configuration, dir: String): Map[Int, Long] =
    (0 until numPartitions(conf, dir)).map(p => p -> logStart(conf, dir, p)).toMap

  /** Advance a partition's retention watermark to `upTo` (exclusive: all
    * offsets below it are declared expired) and delete every whole
    * segment at or below it. The LAST segment survives even when fully
    * expired — the Kafka active-segment rule — so `highWater` remains
    * listing-derived; its expired rows are fenced by the watermark, not
    * by deletion. Monotone and clamped: the recorded start never goes
    * backward and never passes the high-water mark. Returns the new
    * log-start offset.
    */
  def expire(conf: Configuration, dir: String, p: Int, upTo: Long): Long = {
    val (fs, _) = fsFor(dir, conf)
    val segs = segments(conf, dir, p)
    val hw = segs.foldLeft(0L) { case (m, (_, s, c)) => math.max(m, s + c) }
    val newStart = math.max(logStart(conf, dir, p), math.min(upTo, hw))
    // fence FIRST: a crash between the two steps leaves expired-but-present
    // segments (harmless), never deleted-but-readable offsets
    DurableRecord.publish(conf, startPath(dir, p), Seq(newStart.toString))
    segs.dropRight(1).foreach { case (path, s, c) =>
      if (s + c <= newStart) fs.delete(new Path(path), false)
    }
    newStart
  }

  /** Expire all partitions to one watermark; returns the new starts. */
  def expireAll(conf: Configuration, dir: String, upTo: Long): Map[Int, Long] =
    (0 until numPartitions(conf, dir)).map(p => p -> expire(conf, dir, p, upTo)).toMap

  /** Fail-loud guard shared by batch + stream planning. */
  private[streaming] def checkNotExpired(conf: Configuration, dir: String,
      p: Int, from: Long): Long = {
    val ls = logStart(conf, dir, p)
    require(from >= ls,
      s"offsetlog $dir p=$p: planned read from offset $from but offsets below " +
        s"$ls are expired (retention). Restart the query from a fresh " +
        "checkpoint or raise the retention watermark.")
    from
  }

  // -------------------------------------------------- epoch-manifest GC
  /** Expire epoch manifests at or below `upToEpoch` and reclaim crashed
    * `.e<epoch>-p<k>.tmp` stagings of those epochs (the two unbounded-
    * growth classes — ADVICE round 10). Durable watermark first
    * (`_epochs/_watermark`, published): [[commitEpoch]] refuses an
    * epoch at or below it whose manifest is gone, because completing such
    * a replay without its manifest would re-append rows and break
    * exactly-once. Only manifests whose renames have COMPLETED (no
    * pending final segment missing) are deleted; an incomplete one at or
    * below the watermark fails loudly rather than vanishing.
    */
  def expireEpochs(conf: Configuration, dir: String, upToEpoch: Long): Unit = {
    val (fs, _) = fsFor(dir, conf)
    val wm = math.max(epochWatermark(conf, dir), upToEpoch)
    DurableRecord.publish(conf, watermarkPath(dir), Seq(wm.toString))
    val ManifestRe = """e(\d{20})\.manifest""".r
    fs.listStatus(watermarkPath(dir).getParent).foreach { st =>
      st.getPath.getName match {
        case ManifestRe(e) if e.toLong <= wm =>
          // safe to drop only once every recorded rename completed
          val pending = epochEntries(conf, dir, e.toLong).exists {
            case (p, _, fin) => !fs.exists(new Path(pdir(dir, p), fin))
          }
          require(!pending,
            s"offsetlog expireEpochs: epoch ${e.toLong} at/below watermark $wm has " +
              "incomplete renames — complete it (re-run commitEpoch) before expiring")
          fs.delete(st.getPath, false)
        case _ => ()
      }
    }
    // crashed stagings of expired epochs can never legitimately complete
    // (their replay is refused below), so they are garbage by definition
    val TmpRe = """\.e(\d{20})-p\d+\.tmp""".r
    (0 until numPartitions(conf, dir)).foreach { p =>
      val d = pdir(dir, p)
      if (fs.exists(d)) fs.listStatus(d).foreach { st =>
        st.getPath.getName match {
          case TmpRe(e) if e.toLong <= wm => fs.delete(st.getPath, false)
          case _ => ()
        }
      }
    }
  }

  /** Highest expired epoch (-1 until first [[expireEpochs]]). */
  def epochWatermark(conf: Configuration, dir: String): Long =
    publishedLong(conf, watermarkPath(dir), -1L, "highest expired epoch")

  /** An epoch manifest's (partition, staged tmp, final segment) entries;
    * empty when the epoch has no manifest.
    */
  private def epochEntries(conf: Configuration, dir: String,
      epochId: Long): Seq[(Int, String, String)] = {
    val manifest = epochPath(dir, epochId)
    DurableRecord.read(conf, manifest, s"delete $manifest; the epoch's " +
        "replay stages its rows again", claimed = true)
      .getOrElse(Vector.empty).map { ln =>
        val Array(p, tmp, fin) = ln.split("\t", 3)
        (p.toInt, tmp, fin)
      }
  }

  /** Sink partition for a record key: stable key-hash routing, Kafka's
    * default partitioner shape — all records of one key share a partition,
    * so per-key order rides that partition's offsets.
    */
  def partitionFor(key: String, n: Int): Int =
    if (key == null) 0 else math.floorMod(key.hashCode, n)

  /** Exactly-once epoch commit for the streaming sink (single committer
    * per log — the Snapshots stance). Protocol, manifest-first:
    *
    *  1. no epoch manifest → stage every partition's records as a hidden
    *     `.e<epoch>-p<k>.tmp` (overwrite-safe: a crash BEFORE the
    *     manifest restages from scratch, tmps are invisible to readers);
    *  2. claim the epoch manifest, a [[DurableRecord]] listing each staged
    *     tmp and its final offset-range segment name — the commit point.
    *     A torn manifest is refused on replay: completing only the
    *     partitions it still lists would lose the rest;
    *  3. rename tmps to their recorded final names.
    *
    * A replayed epoch (Spark re-delivers after a crash anywhere past the
    * manifest create) finds the manifest and only COMPLETES outstanding
    * renames — it never re-appends, which is what makes the sink
    * exactly-once: rows land in the log under exactly one offset range
    * no matter how many times the epoch is retried.
    */
  def commitEpoch(conf: Configuration, dir: String, epochId: Long,
      rows: Seq[(Int, String, String)]): Unit = {
    val (fs, _) = fsFor(dir, conf)
    val marker = epochPath(dir, epochId)
    def completeRenames(entries: Seq[(Int, String, String)]): Unit =
      entries.foreach { case (p, tmp, fin) =>
        val d = pdir(dir, p)
        val (tp, fp) = (new Path(d, tmp), new Path(d, fin))
        if (!fs.exists(fp)) {
          require(fs.exists(tp), s"epoch $epochId: lost staged segment $tmp")
          require(fs.rename(tp, fp), s"epoch $epochId: rename $tmp failed")
        } else if (fs.exists(tp)) fs.delete(tp, false) // rename raced a retry
      }
    if (fs.exists(marker)) { completeRenames(epochEntries(conf, dir, epochId)); return }
    require(epochId > epochWatermark(conf, dir),
      s"offsetlog $dir: replay of epoch $epochId at/below the expired-epoch " +
        s"watermark ${epochWatermark(conf, dir)} with its manifest gone — " +
        "appending would duplicate rows; restart from a fresh checkpoint")
    val now = System.currentTimeMillis()
    val entries = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, rs) =>
      val start = highWater(conf, dir, p)
      val tmpName = f".e$epochId%020d-p$p.tmp"
      stageSegment(fs, new Path(pdir(dir, p), tmpName), start, now,
        rs.map { case (_, k, v) => (k, v) })
      (p, tmpName, f"$start%020d-${rs.size}.log")
    }
    // the commit point; an epoch with no rows claims an empty manifest
    DurableRecord.claim(conf, marker,
      entries.map { case (p, tmp, fin) => s"$p\t$tmp\t$fin" })
    completeRenames(entries)
  }
}

/** Checkpointable stream position: one offset per log partition. */
case class LogOffsets(offsets: Map[Int, Long]) extends Offset {
  override def json(): String = offsets.toSeq.sortBy(_._1)
    .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

object LogOffsets {
  private val Entry = """"(\d+)"\s*:\s*(\d+)""".r
  def parse(s: String): LogOffsets = LogOffsets(
    Entry.findAllMatchIn(s).map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

/** One log partition's [start, end) slice of a planned batch; `files`
  * carries (segmentPath, segmentStart) for every overlapping segment so
  * executors do no listing.
  */
case class OffsetLogInputPartition(
    files: Seq[(String, Long)], partition: Int,
    start: Long, end: Long) extends InputPartition

/** Java-serialization wrapper for a Hadoop Configuration (the standard
  * Spark pattern): the DRIVER's resolved conf — spark.hadoop.* overrides,
  * object-store credentials — ships to executors instead of each reader
  * rebuilding a default Configuration that silently lacks them (ADVICE
  * round 10: both halves of the source must resolve filesystems alike).
  */
class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

class OffsetLogReaderFactory(confSer: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val slice = p.asInstanceOf[OffsetLogInputPartition]
    new PartitionReader[InternalRow] {
      private val conf = confSer.value
      private val b64 = Base64.getDecoder
      private val fileIter = slice.files.iterator
      private var reader: java.io.BufferedReader = _
      private var row: InternalRow = _
      // stream one segment at a time, closing each before the next — a
      // flatMapped Source would leak one open handle per segment
      private def nextLine(): String = {
        while (true) {
          if (reader == null) {
            if (!fileIter.hasNext) return null
            val fp = new Path(fileIter.next()._1)
            reader = new java.io.BufferedReader(new java.io.InputStreamReader(
              fp.getFileSystem(conf).open(fp), "UTF-8"))
          }
          val l = reader.readLine()
          if (l != null) return l
          reader.close(); reader = null
        }
        null // unreachable
      }
      override def next(): Boolean = {
        var l = nextLine()
        while (l != null) {
          val Array(o, ts, k, v) = l.split("\t", 4)
          val off = o.toLong
          if (off >= slice.start && off < slice.end) {
            row = new GenericInternalRow(Array[Any](
              UTF8String.fromBytes(b64.decode(k)),
              UTF8String.fromBytes(b64.decode(v)),
              slice.partition, off, ts.toLong * 1000L))
            return true
          }
          l = nextLine()
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (reader != null) { reader.close(); reader = null }
    }
  }
}

class OffsetLogMicroBatchStream(dir: String) extends MicroBatchStream {
  private val conf = SparkSession.active.sessionState.newHadoopConf()
  private val n = OffsetLog.numPartitions(conf, dir)

  override def initialOffset(): Offset =
    // a fresh checkpoint starts at each partition's retention watermark,
    // not 0 — reading an already-expired prefix must be impossible, not
    // merely an error
    LogOffsets(OffsetLog.logStarts(conf, dir))
  override def latestOffset(): Offset = LogOffsets(OffsetLog.highWaters(conf, dir))
  override def deserializeOffset(json: String): Offset = LogOffsets.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogOffsets].offsets
    val e = end.asInstanceOf[LogOffsets].offsets
    (0 until n).flatMap { p =>
      val (ps, pe) = (s.getOrElse(p, 0L), e.getOrElse(p, 0L))
      if (pe <= ps) None
      else {
        OffsetLog.checkNotExpired(conf, dir, p, ps)
        val files = OffsetLog.segments(conf, dir, p)
          .filter { case (_, fStart, cnt) => fStart < pe && fStart + cnt > ps }
          .map { case (path, fStart, _) => (path, fStart) }
        Some(OffsetLogInputPartition(files, p, ps, pe))
      }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new OffsetLogReaderFactory(new SerializableHadoopConf(conf))
  override def commit(end: Offset): Unit = () // retention is the caller's policy
  override def stop(): Unit = ()
}

class OffsetLogBatch(dir: String) extends Batch {
  private val conf = SparkSession.active.sessionState.newHadoopConf()
  override def planInputPartitions(): Array[InputPartition] = {
    val n = OffsetLog.numPartitions(conf, dir)
    (0 until n).flatMap { p =>
      val hw = OffsetLog.highWater(conf, dir, p)
      val ls = OffsetLog.logStart(conf, dir, p)
      if (hw <= ls) None
      else Some(OffsetLogInputPartition(
        OffsetLog.segments(conf, dir, p).map { case (path, s, _) => (path, s) },
        p, ls, hw))
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new OffsetLogReaderFactory(new SerializableHadoopConf(conf))
}

/** A task's routed records: (logPartition, key, value), with the Spark
  * partition id carried so the driver can merge task messages in a
  * stable order (offset assignment must not depend on task completion
  * order).
  */
case class LogWriteMessage(sparkPartition: Int,
    rows: Seq[(Int, String, String)]) extends WriterCommitMessage

class OffsetLogDataWriter(sparkPartition: Int, keyIdx: Int, valueIdx: Int,
    n: Int) extends DataWriter[InternalRow] {
  private val buf = scala.collection.mutable.Buffer.empty[(Int, String, String)]
  override def write(row: InternalRow): Unit = {
    val k = if (row.isNullAt(keyIdx)) null else row.getUTF8String(keyIdx).toString
    val v = if (row.isNullAt(valueIdx)) "" else row.getUTF8String(valueIdx).toString
    buf += ((OffsetLog.partitionFor(k, n), k, v))
  }
  override def commit(): WriterCommitMessage = LogWriteMessage(sparkPartition, buf.toSeq)
  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}

case class OffsetLogWriterFactory(keyIdx: Int, valueIdx: Int, n: Int)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new OffsetLogDataWriter(partitionId, keyIdx, valueIdx, n)
}

/** Streaming sink: tasks route and buffer records, the driver appends
  * them through [[OffsetLog.commitEpoch]]'s manifest-first protocol.
  * Records flow through the committer exactly as they flow through a
  * Kafka broker's leader — the single sequencer per partition is what
  * makes offsets dense and totally ordered; a cluster deployment fronts
  * a real broker and this sink remains the test/dev twin.
  */
class OffsetLogStreamingWrite(dir: String, schema: StructType)
    extends StreamingWrite {
  private val keyIdx = schema.fieldIndex("key")
  private val valueIdx = schema.fieldIndex("value")
  private val conf = SparkSession.active.sessionState.newHadoopConf()
  private val n = OffsetLog.numPartitions(conf, dir)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    // standalone case class, NOT an inner anonymous class: the factory
    // ships to executors and must not capture this write's Configuration
    OffsetLogWriterFactory(keyIdx, valueIdx, n)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.collect { case m: LogWriteMessage => m }
      .sortBy(_.sparkPartition).flatMap(_.rows).toSeq
    OffsetLog.commitEpoch(conf, dir, epochId, rows)
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

class OffsetLogScan(dir: String) extends Scan {
  override def readSchema(): StructType = OffsetLog.Schema
  override def toBatch: Batch = new OffsetLogBatch(dir)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new OffsetLogMicroBatchStream(dir)
}

class OffsetLogTable(dir: String) extends Table with SupportsRead with SupportsWrite {
  require(dir != null && dir.nonEmpty,
    "offsetlog requires .option(\"path\", <log dir>) or .load(<log dir>)")
  override def name(): String = s"offsetlog($dir)"
  override def schema(): StructType = OffsetLog.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder { override def build(): Scan = new OffsetLogScan(dir) }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new OffsetLogStreamingWrite(dir, info.schema())
      }
    }
}

/** `spark.readStream.format("offsetlog").load(dir)` / `spark.read` twin. */
class OffsetLogProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "offsetlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OffsetLog.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new OffsetLogTable(properties.get("path"))
}
