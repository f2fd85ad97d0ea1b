package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}
import graft.uber.{Incremental, Ingest, Models, Runner, Schemas}

/** JVM side of the benchmark: runs one workload against the program's public
  * layer functions and writes `result.json` (timings, I/O, heap, traced
  * per-layer totals) for `run.py`, which checks the outputs and prints the
  * metrics.
  *
  * Usage: perfbench.Harness <spec.json>
  *
  * Closed loop: the calling thread issues one op at a time and waits for it.
  * Set-up builds the workload's starting state (for daily_increment the base
  * ingest and Incremental.fullBuild); the measured window then runs a fixed
  * number of whole units (pipeline passes, cycles of ticks, passes over the
  * query list), so every commit does the same work. With tracing on, an
  * untraced window runs first and a traced one after it, so the difference
  * between the two is the tracing overhead.
  */
object Harness {

  final case class Op(name: String, secs: Double, error: Option[String],
      out: Option[String] = None, inputBytes: Long = 0L)

  trait Workload {
    def setup(inputDir: String, workDir: String): Unit
    def unit(tag: String, idx: Int, tr: Option[Tracer]): Seq[Op]
    def finish(): Map[String, Any] = Map.empty
  }

  private def span[T](tr: Option[Tracer], layer: String, name: String)(f: => T): T =
    tr.fold(f)(_.span(layer, name)(f))

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Time one op; a throw is recorded as the op's error, never dropped. */
  private def timed(tr: Option[Tracer], kind: String, name: String)(f: => Unit)
      : (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try { tr.fold(f)(_.op(kind, name)(f)); None }
      catch { case e: Throwable => Some(message(e)) }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  // ------------------------------------------------------------ workloads

  /** Ingest → 8 source checks → six models written as parquet tables. */
  final class PipelineFull(spark: SparkSession, runDir: String) extends Workload {
    private var csvDir = ""

    private def pass(csv: String, dir: String, tr: Option[Tracer]): Seq[String] = {
      span(tr, "uber.Ingest", "ingestAll") {
        Ingest.ingestAll(spark, csv, s"$dir/warehouse")
      }
      val checks = span(tr, "uber.Checks", "runChecks") { Runner.runChecks(spark) }
      Models.all.foreach { m =>
        span(tr, "uber.Models", m.name) {
          Runner.runModel(spark, m).write.mode("overwrite").parquet(s"$dir/models/${m.name}")
        }
      }
      checks.filterNot(_.passed).map(c => s"${c.table}.${c.column} ${c.check} (${c.failures})")
    }

    def setup(inputDir: String, workDir: String): Unit = csvDir = inputDir

    def unit(tag: String, idx: Int, tr: Option[Tracer]): Seq[Op] = {
      val dir = s"$runDir/$tag/pass_$idx"
      var failed = Seq.empty[String]
      val (secs, err) = timed(tr, "pipeline", s"pass $idx") { failed = pass(csvDir, dir, tr) }
      val error = err.orElse(
        if (failed.isEmpty) None else Some(s"source checks failed: ${failed.mkString(", ")}"))
      Seq(Op(s"pass $idx", secs, error, Some(s"$dir/models")))
    }
  }

  /** Month-to-date June ticks absorbed through `Runner.runIncrement`. */
  final class DailyIncrement(spark: SparkSession, runDir: String, days: Int)
      extends Workload {
    private var inputDir = ""
    private var warehouse = ""
    private var models = ""

    def setup(in: String, workDir: String): Unit = {
      Ingest.ingestAll(spark, s"$in/base", s"$workDir/warehouse")
      Incremental.fullBuild(spark, s"$workDir/models")
      inputDir = in
      warehouse = s"$workDir/warehouse"
      models = s"$workDir/models"
    }

    private def tick(csv: String, tr: Option[Tracer]): Unit = tr match {
      case None => Runner.runIncrement(spark, csv, warehouse, models)
      case Some(_) =>
        // Runner.runIncrement's steps, in its order, one span per call
        val inc = span(tr, "uber.Ingest", "readCsv") {
          Ingest.readCsv(spark, csv, Schemas.rawDataJanjune15)
        }
        val months = span(tr, "uber.Incremental", "affectedMonths") {
          Incremental.affectedMonths(inc)
        }
        span(tr, "uber.Ingest", "ingestFactIncrement") {
          Ingest.ingestFactIncrement(spark, csv, warehouse)
        }
        span(tr, "uber.Incremental", "applyIncrement") {
          Incremental.applyIncrement(spark, models, months)
        }
    }

    def unit(tag: String, idx: Int, tr: Option[Tracer]): Seq[Op] =
      (1 to days).map { d =>
        val csv = f"$inputDir/ticks/june_$d%02d.csv"
        val (secs, err) = timed(tr, "tick", s"june 1..$d") { tick(csv, tr) }
        Op(s"june 1..$d", secs, err, None, Files.size(Paths.get(csv)))
      }

    /** After the last tick, write each incrementally maintained model;
      * run.py checks it against the DuckDB models over the landed CSVs.
      */
    override def finish(): Map[String, Any] = {
      Models.all.foreach { m =>
        Incremental.readModel(spark, models, m.name)
          .write.mode("overwrite").parquet(s"$runDir/final/${m.name}")
      }
      Map("final_dir" -> s"$runDir/final", "last_day" -> days, "input_dir" -> inputDir)
    }
  }

  /** One pass over a fixed query list in a seeded order, each result
    * written as a parquet table.
    */
  final class OperatorSuite(spark: SparkSession, runDir: String, names: Seq[String],
      seed: Long) extends Workload {
    private var dataDir = ""

    private def run(name: String, out: String, tr: Option[Tracer]): Unit =
      span(tr, layerOf(name), name) {
        SparkEntry.queries(name)(spark, dataDir).write.mode("overwrite").parquet(out)
      }

    def setup(in: String, workDir: String): Unit = dataDir = in

    def unit(tag: String, idx: Int, tr: Option[Tracer]): Seq[Op] =
      new scala.util.Random(seed * 1000003L + idx).shuffle(names).map { n =>
        val out = s"$runDir/$tag/pass_$idx/$n"
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val (secs, err) = timed(tr, "query", n) { run(n, out, tr) }
        // drop this query's cached blocks outside the timed call (graft.Bench)
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => before.contains(id) }
          .values.foreach(_.unpersist(blocking = false))
        Op(n, secs, err, Some(out))
      }

    /** Each query's DuckDB twin, for the output check. */
    override def finish(): Map[String, Any] = {
      val oracles = SparkEntry.oracleSql
      Map("data_dir" -> dataDir,
        "oracle_sql" -> names.flatMap(n => oracles.get(n).map(n -> _)).toMap)
    }
  }

  /** Registry object that defines each query: the layer its spans belong to. */
  lazy val registryLayers: Map[String, String] = Seq(
    "Relational" -> graft.operators.Relational.queries.keySet,
    "TextAnalysis" -> graft.operators.TextAnalysis.queries.keySet,
    "Dedup" -> graft.operators.Dedup.queries.keySet,
    "Similarity" -> graft.operators.Similarity.queries.keySet,
    "Graph" -> graft.operators.Graph.queries.keySet,
    "Multimodal" -> graft.multimodal.Multimodal.queries.keySet,
    "CorpusPipeline" -> graft.pipeline.CorpusPipeline.queries.keySet,
    "Asof" -> graft.plans.Asof.queries.keySet,
  ).flatMap { case (layer, names) => names.map(_ -> layer) }.toMap

  def layerOf(query: String): String = registryLayers.getOrElse(query, "registry.other")

  // ----------------------------------------------------------- measurements

  /** `/proc/self/io` counters of this JVM (empty where unavailable). */
  def procIo(): Map[String, Long] =
    try Files.readAllLines(Paths.get("/proc/self/io")).asScala.flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) => Some(k.trim -> v.trim.toLong)
        case _ => None
      }
    }.toMap
    catch { case _: Throwable => Map.empty }

  /** Live heap: occupancy right after an explicit full GC, read from the GC
    * notification. The window forces one after every unit of work (outside
    * the timed ops), so the peak is the most memory the program kept live
    * between units; occupancy after young GCs would instead track how much
    * garbage had been promoted so far.
    */
  object LiveHeap {
    @volatile private var peak = 0L
    @volatile private var seen = 0L
    private lazy val heapPools: Set[String] =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = {
      val listener: NotificationListener = (n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcCause == "System.gc()") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPools(pool) => u.getUsed
            }.sum
            synchronized { if (used > peak) peak = used; seen += 1 }
          }
        }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ =>
      }
    }

    /** Full GC, then wait (up to 2 s) for its notification to arrive. */
    def sample(): Unit = {
      val before = seen
      System.gc()
      val deadline = System.currentTimeMillis() + 2000
      while (seen == before && System.currentTimeMillis() < deadline) Thread.sleep(5)
    }
    def reset(): Unit = synchronized { peak = 0L }
    def mb: Double = peak / 1048576.0
  }

  /** Id of a zero-partition job submitted now: every job started before it
    * has a smaller id, so the difference of two marks counts the jobs between
    * them without registering a listener.
    */
  def jobMark(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    sc.submitJob[Int, Unit, Unit](sc.emptyRDD[Int], _ => (), Seq.empty, (_, _) => (), ())
      .jobIds.head
  }

  // ------------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val spec: JsonNode = mapper.readTree(Paths.get(args(0)).toFile)
    val workload = spec.get("workload").asText()
    val seed = spec.get("seed").asLong()
    val units = spec.get("units").asInt()
    val trace = spec.get("trace").asBoolean()
    val cores = spec.get("cores").asInt()
    val runDir = spec.get("run_dir").asText()
    val input = spec.get("input").asText()

    LiveHeap.install()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
    val spark = (workload match {
      case "operator_suite" => GraftSession.seedForData(builder, input)
      case _ => GraftSession.configure(builder)
          .config("spark.sql.shuffle.partitions", cores.toString)
    }).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val wl: Workload = workload match {
      case "pipeline_full" => new PipelineFull(spark, runDir)
      case "daily_increment" => new DailyIncrement(spark, runDir, spec.get("tick_days").asInt())
      case "operator_suite" => new OperatorSuite(spark, runDir,
        spec.get("queries").elements().asScala.map(_.asText()).toVector, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    wl.setup(input, s"$runDir/setup")
    val setupS = (System.nanoTime() - t0) / 1e9

    def window(tag: String, tr: Option[Tracer]): Map[String, Any] = {
      val rec = tr.map(_ => new Tracer.Recorder)
      rec.foreach(spark.sparkContext.addSparkListener)
      LiveHeap.sample() // every window starts from the same heap state
      LiveHeap.reset()
      val mark0 = jobMark(spark)
      val io0 = procIo()
      val t0 = System.nanoTime()
      val ops = Vector.newBuilder[Op]
      (0 until units).foreach { i =>
        ops ++= wl.unit(tag, i, tr)
        LiveHeap.sample()
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val io1 = procIo()
      val mark1 = jobMark(spark)
      val heapMb = LiveHeap.mb
      val all = ops.result()
      val base = Map[String, Any](
        "tag" -> tag, "traced" -> tr.isDefined, "units" -> units, "wall_s" -> wallS,
        "peak_live_heap_mb" -> heapMb,
        "spark_jobs" -> (mark1 - mark0 - 1),
        "io" -> io1.map { case (k, v) => k -> (v - io0.getOrElse(k, 0L)) },
        "ops" -> all.map(o => Map("name" -> o.name, "secs" -> o.secs,
          "error" -> o.error.orNull, "out" -> o.out.orNull, "input_bytes" -> o.inputBytes)))
      (tr, rec) match {
        case (Some(t), Some(r)) =>
          r.drain(mark0, mark1)
          spark.sparkContext.removeSparkListener(r)
          val spans = t.spans
          writeSpans(mapper, s"$runDir/spans.jsonl", spans)
          val a = Tracer.analyze(spans, r, mark0, mark1)
          base ++ Map(
            "layers" -> a.layers.map { case (layer, x) =>
              layer -> Map(
                "self_s" -> x.selfS, "jobs" -> x.jobs, "stages" -> x.stages,
                "no_task_s" -> x.noTaskS,
                "core_busy" -> (if (x.selfS > 0) x.taskMs / 1e3 / (x.selfS * cores) else 0.0),
                "cpu_s" -> x.cpuNs / 1e9, "gc_s" -> x.gcMs / 1e3,
                "shuffle_mb" -> x.shuffleBytes / 1e6,
                "input_mb" -> x.inputBytes / 1e6, "output_mb" -> x.outputBytes / 1e6)
            },
            "late_jobs" -> a.lateJobs, "jobs_outside_spans" -> a.jobsOutsideSpans,
            "failed_tasks" -> a.failedTasks, "jobs" -> a.totalJobs,
            "root_wall_s" -> a.rootWallS, "self_sum_s" -> a.selfSumS,
            "spans" -> spans.size)
        case _ => base
      }
    }

    val windows =
      Seq(window("untraced", None)) ++
        (if (trace) Seq(window("traced", Some(new Tracer))) else Nil)
    val finish = wl.finish()

    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "session_s" -> sessionS, "setup_s" -> setupS, "windows" -> windows,
      "finish" -> finish,
      "env" -> Map(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")))
    mapper.writeValue(Paths.get(runDir, "result.json").toFile, toJava(result))
    spark.stop()
  }

  private def writeSpans(mapper: ObjectMapper, path: String, spans: Seq[Tracer.Span]): Unit = {
    val lines = spans.map(s => mapper.writeValueAsString(toJava(Map(
      "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_s" -> s.durS))))
    Files.write(Paths.get(path), lines.asJava)
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toVector.asJava
    case Some(x) => toJava(x)
    case None => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
}
