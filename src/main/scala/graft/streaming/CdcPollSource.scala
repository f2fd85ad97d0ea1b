package graft.streaming

import graft.Materialize._
import graft.sources.DurableRecord

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import CdcApply.{Change, Current}

/** Incremental JDBC CDC poll — the LIVE-RELATIONAL feed for the CDC seam,
  * closing the last reference-capability gap: the reference ingests from a
  * running Postgres over logical replication (`wal_level = logical`, slot
  * `airbyte_slot` — reference `Diary of Making.md:101-127`). A sandbox has
  * no WAL to tail, but the replication CONTRACT is just "rows keyed by a
  * monotone log position, delivered at-least-once" — which any JDBC
  * database exposes as an incremental range read:
  *
  *   poll: SELECT ... WHERE lsn > last_seen   (delta-sized, pushed to the DB)
  *     → latest-LSN-wins keyed apply (CdcApply, the same semantics the
  *       streaming path runs in flatMapGroupsWithState)
  *     → CdcPipeline.mergeBatch into the current-state table + live model
  *     → durable watermark advance.
  *
  * Exactly-once EFFECT without distributed transactions: the watermark is
  * written AFTER the merge commits, so a crash between the two replays the
  * batch on restart — and latest-LSN-wins applied twice is a no-op
  * (StreamingSpec asserts replay convergence explicitly). The watermark
  * is a published [[DurableRecord]]: a crash mid-write leaves the previous
  * resume point, and a torn one is refused, never read as "from the
  * start".
  *
  * Scale: each poll ships ONE range predicate to the database (index range
  * scan on the lsn column — the WAL-read analog), moves only the delta, and
  * the merge input is change-sized. For a high-churn source, add Spark's
  * standard partitionColumn/bounds options to range-split one poll; the
  * apply/merge half is shared with the file/Kafka-shaped stream feed, which
  * is the point of the seam.
  */
object CdcPollSource {

  /** Log positions are non-negative (WAL offsets); -1 = "from the start". */
  val InitialWatermark: Long = -1L

  def readWatermark(path: String): Long =
    DurableRecord.read(new Configuration(), new Path(path),
      s"rewrite it as the last merged lsn and a ${DurableRecord.Terminator} line")
      .fold(InitialWatermark)(_.head.toLong)

  /** Durable watermark advance (see the object doc). */
  def writeWatermark(path: String, lsn: Long): Unit =
    DurableRecord.publish(new Configuration(), new Path(path), Seq(lsn.toString))

  /** One incremental read: rows with lsn > `after`, shaped as the Change
    * feed. The predicate rides inside the dbtable subquery, so the
    * database's lsn index does the pruning — Spark never sees consumed
    * rows. Casts normalize driver-reported types (session-zoned TIMESTAMP,
    * VARCHAR widths) to the Change contract, as the batch JDBC ingest does.
    */
  def pollChanges(
      spark: SparkSession,
      url: String,
      table: String,
      after: Long,
      options: Map[String, String] = Map.empty): Dataset[Change] = {
    import spark.implicits._
    val sub =
      s"(SELECT base_num, base_name, lsn, deleted_at FROM $table " +
        s"WHERE lsn > $after) poll"
    val reader = options.foldLeft(
      spark.read.format("jdbc").option("url", url).option("dbtable", sub)) {
      case (r, (k, v)) => r.option(k, v)
    }
    reader.load()
      .select(col("base_num").cast("string"), col("base_name").cast("string"),
        col("lsn").cast("long"), col("deleted_at").cast("timestamp"))
      .as[Change]
  }

  /** Poll-and-apply one increment: fetch unseen changes, reduce them with
    * the keyed latest-LSN-wins apply, merge into the current-state table +
    * live model, then advance the watermark. Returns the number of change
    * rows absorbed (0 = the source had nothing new; no state is touched).
    */
  def pollOnce(
      spark: SparkSession,
      url: String,
      table: String,
      tablePath: String,
      modelPath: String,
      watermarkPath: String,
      options: Map[String, String] = Map.empty): Long = {
    import spark.implicits._
    val after = readWatermark(watermarkPath)
    // EAGER snapshot: the DB is a non-idempotent source — the delta must
    // be read exactly once and reused by the max-lsn probe, the merge,
    // and the count; a lazy checkpoint could re-poll between jobs
    val changes = pollChanges(spark, url, table, after, options)
      .snapshot()
    val mx = changes.toDF().agg(max(col("lsn"))).head()
    if (mx.isNullAt(0)) 0L
    else {
      val updates = CdcApply.currentStateBatch(changes.toDF()).as[Current]
      CdcPipeline.mergeBatch(updates, tablePath, modelPath)
      // AFTER the merge (see object doc): crash here ⇒ harmless replay
      writeWatermark(watermarkPath, mx.getLong(0))
      changes.count()
    }
  }
}
