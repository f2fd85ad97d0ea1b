package graft

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path

import graft.sources.{DurableRecord, Snapshots}
import graft.streaming.{CdcPollSource, OffsetLog}
import graft.uber.Runner
import graft.uber.Scheduler.{Schedule, ScheduledRunner}

/** Every durable record kind, cut at every byte offset as a writer that
  * died mid-write leaves it: the kind's own reader returns the complete
  * record or refuses, naming the file. None falls back to a default or
  * reads a prefix as the whole.
  */
class DurableRecordSpec extends SparkSpec {
  import spark.implicits._

  /** A record kind: the file its writer left, what its reader returns for
    * the complete record, and the reader.
    */
  private case class Kind(name: String, file: String, expected: Any, read: () => Any)

  private def kinds(): Seq[Kind] = {
    val root = Files.createTempDirectory("durable").toString
    val conf = spark.sessionState.newHadoopConf()

    val table = s"$root/table"
    Snapshots.commitOverwrite(Seq(1L, 2L).toDF("id"), table, "v1")
    Snapshots.tag(spark, table, "run-a", 1)
    val files = Snapshots.files(spark, table, 1)

    val log = s"$root/log"
    OffsetLog.create(spark, log, 12)
    OffsetLog.commitEpoch(conf, log, 7L, Seq((0, "k1", "v1"), (1, "k2", "v2")))
    OffsetLog.commitEpoch(conf, log, 8L, Nil)
    OffsetLog.expire(conf, log, 0, 1L)
    OffsetLog.expireEpochs(conf, log, 3L)
    val epoch7 = s"$log/_epochs/e${"%020d".format(7L)}.manifest"
    val logFs = new Path(log).getFileSystem(conf)
    val highWaters = OffsetLog.highWaters(conf, log)
    // epoch 7's replay after a crash before its renames: each final segment
    // goes back to its staged tmp, so a manifest read short would leave a
    // partition's rows unlanded
    val epoch7Entries = new String(Files.readAllBytes(Paths.get(epoch7)), "UTF-8")
      .split("\n").filter(_.contains("\t")).map(_.split("\t", 3))
    def replayEpoch7(): Map[Int, Long] = {
      epoch7Entries.foreach { case Array(p, tmp, fin) =>
        val fp = new Path(s"$log/p=$p", fin)
        if (logFs.exists(fp)) assert(logFs.rename(fp, new Path(s"$log/p=$p", tmp)))
      }
      OffsetLog.commitEpoch(conf, log, 7L, Nil)
      OffsetLog.highWaters(conf, log)
    }

    val cdc = s"$root/cdc/watermark"
    CdcPollSource.writeWatermark(cdc, 42L)

    val schedule = s"$root/out/_schedule_state"
    new ScheduledRunner(Schedule(100L), _ => (), () => 1250L, Some(schedule)).pollOnce()

    val drops = Files.createDirectories(Paths.get(root, "drops")).toString
    Seq("2015-02-13_a.csv", "2015-02-14_b.csv").foreach(n =>
      Files.createFile(Paths.get(drops, n)))
    val names = s"$drops/_state"
    DurableRecord.publish(conf, new Path(names), Seq("2015-02-13_a.csv", "2015-02-14_b.csv"))

    Seq(
      Kind("snapshot manifest", s"$table/_versions/v00001.manifest", files,
        () => Snapshots.files(spark, table, 1)),
      Kind("snapshot ref", s"$table/_refs/run-a.ref", 1,
        () => Snapshots.resolveTag(spark, table, "run-a")),
      Kind("offset log _meta", s"$log/_meta", 12,
        () => OffsetLog.numPartitions(conf, log)),
      Kind("epoch manifest", epoch7, highWaters, () => replayEpoch7()),
      Kind("zero-row epoch manifest", s"$log/_epochs/e${"%020d".format(8L)}.manifest",
        highWaters, { () => OffsetLog.commitEpoch(conf, log, 8L, Nil); OffsetLog.highWaters(conf, log) }),
      Kind("offset log _start", s"$log/p=0/_start", 1L,
        () => OffsetLog.logStart(conf, log, 0)),
      Kind("epoch watermark", s"$log/_epochs/_watermark", 3L,
        () => OffsetLog.epochWatermark(conf, log)),
      Kind("CDC watermark", cdc, 42L, () => CdcPollSource.readWatermark(cdc)),
      Kind("schedule state", schedule, None, () =>
        new ScheduledRunner(Schedule(100L), _ => sys.error("tick 12 ran again"),
          () => 1250L, Some(schedule)).pollOnce()),
      Kind("processed names", names, Seq.empty, () =>
        Runner.processNewIncrements(spark, drops, s"$root/wh", s"$root/models", names)))
  }

  test("every record kind, cut at every byte offset, reads whole or is refused naming its file") {
    val all = kinds()
    assert(all.map(_.name).distinct.size == 10) // nine kinds, epoch manifests twice
    DurableRecord.tornReadBound.withValue(1L) {
      all.foreach { k =>
        val p = Paths.get(k.file)
        val whole = Files.readAllBytes(p)
        assert(k.read() == k.expected, s"${k.name} does not read back whole")
        (0 until whole.length).foreach { n =>
          Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
          Files.write(p, whole.take(n))
          Try(k.read()) match {
            case Success(v) => assert(v == k.expected,
              s"${k.name} cut to $n of ${whole.length} bytes read as $v")
            case Failure(e: IllegalArgumentException)
                if e.getMessage.contains(k.file) && e.getMessage.contains("terminator") => ()
            case Failure(e) => fail(s"${k.name} cut to $n of ${whole.length} bytes: $e")
          }
        }
        Files.write(p, whole)
        assert(k.read() == k.expected, s"${k.name} does not read back whole")
      }
    }
  }

  test("two writers claiming one name at once: exactly one wins") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = Files.createTempDirectory("claim_race").toString
    val bothWon = (0 until 200).count { i =>
      val p = new Path(s"$dir/v$i")
      val go = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val writers = (0 until 2).map(w => new Thread(() => {
        go.await()
        try { DurableRecord.claim(conf, p, Seq(s"writer $w")); wins.incrementAndGet() }
        catch { case _: java.io.IOException => () }
      }))
      writers.foreach(_.start()); go.countDown(); writers.foreach(_.join())
      assert(wins.get >= 1, s"no writer claimed $p")
      wins.get == 2
    }
    assert(bothWon == 0, s"both writers claimed one name in $bothWon of 200 races")
  }
}
