package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.{Bench, GraftSession, SparkEntry}

/** Per-query profiler: one warmed `Bench.timeQuery` run with a listener
  * counting jobs / stages / tasks / shuffle bytes —
  * separates action-count overhead (many tiny jobs: materialize calls,
  * driver stats collects, iterative rounds) from genuine shuffle volume.
  * Dev tool, not driver contract.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.registry.map(_.name)
    val spark = GraftSession.local("jobprofile")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufWrite = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        shufWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
    })

    Bench.timeQuery(spark, sfDir, names.head) // warmup (JIT + table load memoization)
    println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stage"}%5s ${"tasks"}%6s ${"shW_MB"}%7s ${"shR_MB"}%7s")
    names.foreach { n =>
      // settle listener queue from the previous query before zeroing
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0); shufWrite.set(0L); shufRead.set(0L)
      val dt = try Bench.timeQuery(spark, sfDir, n) catch { case e: Throwable =>
        System.err.println(s"[jobprofile] $n failed: ${e.getMessage}"); -1.0 }
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      println(f"$n%-28s $dt%7.2f ${jobs.get}%5d ${stages.get}%5d ${tasks.get}%6d ${shufWrite.get / 1e6}%7.2f ${shufRead.get / 1e6}%7.2f")
    }
    spark.stop()
  }
}
