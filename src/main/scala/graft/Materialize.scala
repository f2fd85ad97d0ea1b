package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Cluster-survivable materialization — the repo-wide "pin this frame, it
  * has multiple consumers / cuts an iterative plan" idiom.
  *
  * `localCheckpoint(true)` (the pre-round-11 idiom at every site) is the
  * right call at local[n]: blocks live in the one executor that is also
  * the driver, and losing it IS the job dying. On a real cluster it is a
  * trap — locally-checkpointed blocks truncate lineage, so an executor
  * lost to preemption or dynamic allocation makes the data UNRECOVERABLE
  * and fails the job mid-run (Spark logs exactly this warning). A 100 TB
  * run on preemptible nodes needs the RELIABLE path.
  *
  * Mode is decided once per call from session state:
  *
  *  - local master (tests, Bench, the driver's local[32] runs): LAZY
  *    `localCheckpoint` — the checkpoint blocks are written by the first
  *    consumer's job instead of a dedicated eager pass (r18, guide §5
  *    action discipline: one fewer job per site, identical total work —
  *    `localCheckpoint(false)` still materializes every AQE shuffle
  *    stage at call time; only the final map pass fuses into the first
  *    consumer, and `LocalRDDCheckpointData.doCheckpoint` back-fills any
  *    partition a partial consumer skipped). Recoverability unchanged:
  *    exactly as recoverable as the JVM.
  *  - cluster master with a checkpoint dir (`sc.setCheckpointDir`
  *    called, or Spark's own `spark.checkpoint.dir` set at submit, which
  *    SparkContext applies at start): eager RELIABLE `checkpoint()` to
  *    that dir (HDFS / object store). Survives any executor loss; also
  *    the only option that truncates the LOGICAL plan, which the
  *    iterative operators (connected components, PageRank, k-core, BFS)
  *    rely on to keep per-round planning flat.
  *  - cluster master with NO checkpoint dir: replicated persist
  *    (MEMORY_AND_DISK_2) forced eager — survives single-executor loss
  *    and recomputes (lineage intact) on worse failures. Logged once per
  *    JVM as a degraded mode: iterative operators will re-plan against
  *    growing lineage, so long jobs should configure a checkpoint dir.
  *
  * `spark.graft.materialize` = `local` | `reliable` | `persist` overrides
  * the auto choice (test hook + operational escape hatch).
  */
object Materialize {

  private val warnedNoDir = new AtomicBoolean(false)

  // Lazy local checkpoints (below) defer the final-pass compute into the
  // first consumer's job. Those deferred tasks still report the SOURCE
  // plan's SQL metric accumulators, which the driver only holds weakly
  // (AccumulatorContext) — once the source QueryExecution is unreachable
  // a GC between materialize() and first consumption turns every task
  // completion into benign-but-noisy DAGScheduler ERROR lines ("Failed
  // to update accumulator"). Pin the most recent source plans in a
  // bounded ring (not a leak: 256 slots, overwritten round-robin) so the
  // driver-side accumulators outlive the deferred pass — consumption
  // always happens within the same query, far fewer than 256 materialize
  // calls later.
  private val planPins =
    new java.util.concurrent.atomic.AtomicReferenceArray[AnyRef](256)
  private val pinIdx = new java.util.concurrent.atomic.AtomicInteger(0)
  private def pinned[T](src: Dataset[_], out: Dataset[T]): Dataset[T] = {
    planPins.set(pinIdx.getAndIncrement() & 255, src.queryExecution.executedPlan)
    out
  }

  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    val sc = spark.sparkContext
    spark.conf.getOption("spark.graft.materialize").getOrElse("auto") match {
      case "local" => pinned(ds, ds.localCheckpoint(false))
      case "reliable" =>
        require(sc.getCheckpointDir.isDefined,
          "spark.graft.materialize=reliable needs sc.setCheckpointDir or spark.checkpoint.dir")
        ds.checkpoint(true)
      case "persist" => persistEager(ds)
      case _ => // auto
        if (sc.isLocal) pinned(ds, ds.localCheckpoint(false))
        else if (sc.getCheckpointDir.isDefined) ds.checkpoint(true)
        else {
          if (warnedNoDir.compareAndSet(false, true)) {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              "Materialize: cluster master with no checkpoint dir — falling back to " +
                "replicated persist (recoverable but lineage-preserving; iterative " +
                "operators re-plan against growing lineage). Set spark.checkpoint.dir.")
          }
          persistEager(ds)
        }
    }
  }

  /** EAGER materialization — the rows are pinned NOW, before control
    * returns. Required wherever the frame's lineage reads storage that a
    * subsequent step MUTATES (read-state-then-overwrite-state, e.g. the
    * CDC merge): the default lazy local checkpoint would defer the read
    * until after the truncation and fail with FILE_NOT_EXIST (caught by
    * StreamingSpec when r18 made `materialize()` lazy). Query-path
    * operators over immutable inputs should use `materialize()`.
    */
  def snapshot[T](ds: Dataset[T]): Dataset[T] = {
    val m = apply(ds)
    cheapCount(m) // force now; one shuffle-free job over the pinned blocks
    m
  }

  /** Row count of an already-materialized (or otherwise cheap) frame as
    * ONE RDD job. `Dataset.count()` plans a partial+final aggregate — on
    * a checkpointed input that is an Exchange and two AQE stage jobs for
    * a number the driver could read off the block row counts; the RDD
    * count is a single shuffle-free job (r18, guide §5). Semantics are
    * identical: both count the physical plan's output rows.
    */
  def cheapCount(ds: Dataset[_]): Long = ds.queryExecution.toRdd.count()

  /** (row count, NULL-flag count) of a materialized frame in ONE RDD job:
    * total rows plus rows whose `flagOrdinal` column is NULL. The
    * fixpoint loops use it to read |next| and |next \ prev| off the same
    * job that writes the checkpoint (an exact set-equality signal for
    * distinct sets: equal count ∧ no row outside prev ⟺ equal sets).
    */
  def countWithNullFlag(ds: Dataset[_], flagOrdinal: Int): (Long, Long) = {
    val parts = ds.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var nulls = 0L
      it.foreach { r => n += 1L; if (r.isNullAt(flagOrdinal)) nulls += 1L }
      Iterator((n, nulls))
      // driver-bound(stat-frame): one (count, nulls) pair per partition
    }.collect()
    (parts.iterator.map(_._1).sum, parts.iterator.map(_._2).sum)
  }

  /** Materialize + row count in as few jobs as the mode allows. In local
    * mode (lazy localCheckpoint) the count IS the job that computes and
    * persists the blocks — ONE job replaces the old eager-checkpoint +
    * Dataset.count() trio. The connected-components gate, the
    * starComponents fixpoint loop and every size-gated operator call
    * this instead of hand-rolling materialize-then-count.
    */
  def withCount[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val m = apply(ds)
    (m, cheapCount(m))
  }

  private def persistEager[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK_2)
    p.count() // force now: every call site relies on eager one-shot compute
    p
  }

  /** `df.materialize()` / `df.snapshot()` syntax at call sites. */
  implicit class MaterializeOps[T](private val ds: Dataset[T]) extends AnyVal {
    def materialize(): Dataset[T] = Materialize(ds)
    def snapshot(): Dataset[T] = Materialize.snapshot(ds)
  }
}
