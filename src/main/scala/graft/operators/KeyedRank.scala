package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize._

/** Skew-safe per-key ranking primitives — the shared template VERDICT
  * r14 asked for so operators stop re-creating the hot-key
  * single-partition-window exposure one at a time.
  *
  * The problem these helpers remove: `row_number().over(Window
  * .partitionBy(key))` routes EVERY row of a key into one task and
  * sorts it there. Window functions have no map-side partial
  * aggregation, and WindowExec partitions cannot be AQE-skew-split, so
  * a hot key (a giant crawl domain, a stopword-bearing query, a
  * boilerplate span) is a straggler-or-OOM at 100-TB scale even though
  * the same plan is fast at test scale.
  *
  * Three shapes, for the three contracts operators actually need:
  *
  *  - [[keyedTopK]] — the output only needs each key's top k rows
  *    (ranks ≤ k). One `row_number` window plus its rank filter: Spark's
  *    `InferWindowGroupLimit` plans a `Partial` WindowGroupLimit that
  *    prunes each (key, input partition) slice to k rows before the key
  *    exchange, and a `Final` one after it, so the window sees
  *    ≤ partitions × k rows per key.
  *  - [[prefixBefore]] — the output needs each row's exclusive running
  *    sum within its key (a packer's tokens-before, a permutation's
  *    position, a sweep's live count). The caller shards the order into
  *    contiguous ranges; each (key, shard) runs its window in parallel
  *    and one RDD pass folds the per-(key, shard) totals into exclusive
  *    offsets that ride back as a literal map. [[rangeShard]] gives the
  *    equal-width shards of a numeric order.
  *  - [[keyedRank]] — the output needs EVERY row's exact per-key rank
  *    (p13 emits a rank per document). This is keyed RANGE sharding, the
  *    per-key analog of Spark's own RangePartitioner-backed global sort:
  *    a bounded proportional sample picks per-key boundary (ord, tie)
  *    pairs, each row's shard is the count of boundaries at-or-before it
  *    in the sort order, and rank = [[prefixBefore]] of 1 + 1. Boundary
  *    pairs are compared WITH the tie column, so equal-ord rows split
  *    deterministically and the result is exact for ANY data
  *    distribution — sampling quality affects only balance, never the
  *    ranks.
  *
  * All three are property-tested against the naive per-key window in
  * PropertySpec; callers must pass a TOTAL per-key order (include a
  * unique tiebreaker) or ranks are nondeterministic under any shape.
  */
object KeyedRank {

  /** Per-key top-k with the true global per-key rank in `rankCol`,
    * without ever sorting a whole key in one task. `order` must totally
    * order rows within each key (unique tiebreaker). The rank filter
    * right above the window is what Spark's `InferWindowGroupLimit`
    * turns into a `Partial` WindowGroupLimit before the key exchange and
    * a `Final` one after it (k must stay within
    * `spark.sql.optimizer.windowGroupLimitThreshold`, 1000 by default),
    * so the window sees ≤ partitions × k rows per key no matter how hot
    * the key is. Every global top-k row has local rank ≤ k in whatever
    * partition it lands in, so the cut is exact for any assignment.
    *
    * PRECONDITION the partial limit needs: a hot key's rows must SPAN
    * multiple input partitions. A scan split or any shuffle on other
    * columns does this, but an input freshly hash-partitioned by exactly
    * (a subset of) the keys — a fresh groupBy/join ON the key —
    * colocates every key in one partition, no exchange is planned and
    * the limit degenerates to the naive single-task sort.
    * [[spreadIfKeyAligned]] detects that shape from the plan's output
    * partitioning and re-spreads by (keys, salt) first, where the salt is
    * a deterministic hash of the row's non-map columns (map type is not
    * hashable); the extra shuffle is paid only in the degenerate case.
    */
  def keyedTopK(df: DataFrame, keys: Seq[String], order: Seq[Column],
      k: Int, rankCol: String): DataFrame = {
    val (spread, _) = spreadIfKeyAligned(df, keys)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    spread.withColumn(rankCol, row_number().over(w))
      .where(col(rankCol) <= k)
  }

  /** Guard for [[keyedTopK]]'s input-spread precondition: when `df`'s
    * planned output partitioning is a hash partitioning whose
    * expressions are all bare references to `keys` columns (every key
    * colocated in one partition), repartition by (keys, salt) with a
    * deterministic row-content salt so hot keys spread again. Returns
    * the (possibly re-spread) frame and whether the guard fired —
    * exposed package-private so PropertySpec can assert both branches.
    */
  private[graft] def spreadIfKeyAligned(df: DataFrame,
      keys: Seq[String]): (DataFrame, Boolean) = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // resolve the key columns against df's analyzed output and match the
    // partitioning expressions by exprId (round-17 ADVICE fix): raw name
    // comparison false-fires on a same-named attribute from another
    // relation and false-misses under a case-insensitive session. Probe
    // the PREPARED plan (AQE's initialPlan when adaptive is on), not
    // sparkPlan: exchange insertion happens in the preparation rules, so
    // a fresh groupBy/join on the keys shows its HashPartitioning only
    // there. AQE re-planning after this probe can only coalesce or
    // skew-split that exchange — coalescing keeps each key whole in one
    // partition (the guard must still fire, and does: the decision is
    // made from the initial plan), never un-aligns a non-aligned plan.
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val keyIds = keys.flatMap(k =>
      df.queryExecution.analyzed.output.filter(a => resolver(a.name, k))
        .map(_.exprId)).toSet
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val aligned = plan.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.nonEmpty && h.expressions.forall {
          case a: AttributeReference => keyIds.contains(a.exprId)
          case _ => false
        }
      case _ => false
    }
    if (!aligned) (df, false)
    else {
      def hasMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
        case _: org.apache.spark.sql.types.MapType => true
        case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
        case _ => false
      }
      val saltSrc = df.schema.fields.filterNot(f => hasMap(f.dataType))
        .map(f => col(f.name)).toSeq
      val salt = if (saltSrc.nonEmpty) xxhash64(saltSrc: _*) else lit(0L)
      (df.repartition(keys.map(col) :+ salt: _*), true)
    }
  }

  /** Driver-side comparator for boundary selection — the collected
    * sample carries whatever external types the ord/tie columns have;
    * nulls are out of contract (document before ranking).
    */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Float, y: Float) => java.lang.Float.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (x: Short, y: Short) => java.lang.Short.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case _ => sys.error(s"keyedRank: unsupported ordering type ${a.getClass}")
  }

  /** Full per-key rank: adds `rankCol` = row_number over
    * (`ord` desc-if-`descending`, `tie` asc) within each `key`, exactly
    * as the naive `Window.partitionBy(key)` would, but with no key ever
    * funneled through a single partition. `tie` must be unique per row
    * and the key, ord and tie columns non-null. Driver-bounded metadata
    * by construction: one proportional sample of ≤ ~`sampleTarget` rows
    * picks the boundaries (keys with small slices get few or no
    * boundaries — they don't need them), and [[prefixBefore]]'s offset
    * table is ≤ |keys| × `shards` entries, so key cardinality must be
    * driver-bounded (sources, languages, shards — not documents).
    */
  def keyedRank(df: DataFrame, key: String, ord: String, tie: String,
      rankCol: String, descending: Boolean = true, shards: Int = 64,
      sampleTarget: Int = 8192): DataFrame = {
    // ONE job materializes the input AND returns (row count, bottom-k
    // sample) together (r18, guide §5): the old shape paid an eager
    // checkpoint, a Dataset.count and a separate threshold-sample
    // collect — three actions for numbers one pass over the blocks can
    // deliver. The sample is the k smallest 62-bit tie-hashes (KMV-style
    // bottom-k = a uniform size-k subset, proportional per key exactly
    // like the old rate-threshold draw); boundaries derived from it may
    // differ from the old draw's, which affects only shard BALANCE —
    // rank = prefixBefore + 1 is exact for ANY monotone boundary set
    // (PropertySpec asserts equality with the naive window).
    val base = graft.Materialize(df)
    val (n, sample) = countAndBottomK(base, key, ord, tie, sampleTarget)
    if (n == 0L) return base.withColumn(rankCol, lit(1))
    // (ord, tie) precedence in the requested sort order
    def precedes(o1: Any, t1: Any, o2: Any, t2: Any): Boolean = {
      val c = cmp(o1, o2)
      if (c != 0) { if (descending) c > 0 else c < 0 } else cmp(t1, t2) < 0
    }
    val bounds: Map[Any, Seq[(Any, Any)]] = sample
      .groupBy(_.get(0))
      .map { case (k0, rows) =>
        val sorted = rows.map(r => (r.get(1), r.get(2)))
          .sortWith { case ((o1, t1), (o2, t2)) => precedes(o1, t1, o2, t2) }
        val m = sorted.length
        val idx = (0 until (shards - 1)).map(j => ((j + 1).toLong * m
          / shards).toInt).filter(_ < m).distinct
        k0 -> idx.map(sorted)
      }
    // shard(row) = # boundaries at-or-before the row in sort order —
    // monotone along the order, deterministic on ties via the tie pair.
    // Its per-row cost (element_at on the boundary map + a struct-array
    // filter) is why prefixBefore materializes the shard column rather
    // than re-deriving it in the fold and the window (r17: +0.3–0.4 s on
    // q29/q31 when recomputed).
    val bArrays = bounds.filter(_._2.nonEmpty)
    val shard =
      if (bArrays.isEmpty) lit(0)
      else {
        val bmap = map(bArrays.toSeq.sortBy(_._1.toString).flatMap { case (k0, bs) =>
          Seq(lit(k0), array(bs.map { case (o, t) =>
            struct(lit(o).as("o"), lit(t).as("t")) }: _*))
        }: _*)
        val boundaryPrecedesOrEq =
          if (descending) (b: Column) =>
            b.getField("o") > col(ord) ||
              (b.getField("o") === col(ord) && b.getField("t") <= col(tie))
          else (b: Column) =>
            b.getField("o") < col(ord) ||
              (b.getField("o") === col(ord) && b.getField("t") <= col(tie))
        coalesce(
          size(filter(element_at(bmap, col(key)), boundaryPrecedesOrEq)),
          lit(0))
      }
    val ordSort = if (descending) col(ord).desc else col(ord).asc
    prefixBefore(base, Some(key), shard, Seq(ordSort, col(tie).asc), lit(1L))
      .withColumn(rankCol, (col("before") + 1L).cast("int"))
      .drop("before")
  }

  /** Exclusive running sum: adds `before` = the sum of `v` over the
    * earlier rows of the same `key` (no key: the whole frame) in
    * `order`, as `sum(v) OVER (PARTITION BY key ORDER BY order ROWS
    * BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)` would, coalesced to
    * 0 — but with no key ever funneled through a single partition.
    *
    * The caller supplies `shard`, a non-null int that NEVER DECREASES
    * along `order` within a key (a hash's top bits under a hash order,
    * [[rangeShard]] under a numeric one, keyedRank's sampled boundaries).
    * The frame is materialized once with the shard column; one RDD pass
    * over its blocks folds the per-(key, shard) long totals of `v`
    * (that pass is the lazy checkpoint's first consumer, so totals and
    * block write are one job); their exclusive prefix per key comes back
    * as a literal map keyed by key then shard; and one window over (key,
    * shard) adds the in-shard exclusive sum to the shard's offset.
    * `order` must be total within a key for a deterministic result. The
    * key must be non-null, and |keys| × shards driver-bounded (sources,
    * stages, cells — not documents). `v` is read as a long.
    */
  def prefixBefore(df: DataFrame, key: Option[String], shard: Column,
      order: Seq[Column], v: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val base = df.withColumn("_shard", shard.cast("int")).materialize()
    val vl = v.cast("long")
    val keyType = key.map(k => base.schema(k).dataType)
    val ks = keyType.size // ordinal of _shard in the projection below
    val totals = base.select(key.map(col).toSeq ++ Seq(col("_shard"), vl): _*)
      .queryExecution.toRdd.mapPartitions { it =>
        val toKey = keyType.map(CatalystTypeConverters.createToScalaConverter)
        val m = scala.collection.mutable.HashMap.empty[(Any, Int), Long]
        it.foreach { r =>
          // no key: every row shares the key ()
          val kk = (toKey.fold[Any](())(_(r.get(0, keyType.get))), r.getInt(ks))
          val x = if (r.isNullAt(ks + 1)) 0L else r.getLong(ks + 1)
          m(kk) = m.getOrElse(kk, 0L) + x
        }
        m.iterator
        // driver-bound(stat-frame): |keys| x shards long totals per partition; key cardinality driver-bounded by contract
      }.collect().groupMapReduce(_._1)(_._2)(_ + _)
    require(!totals.keysIterator.exists(_._1 == null),
      s"prefixBefore: key column ${key.getOrElse("")} holds a null")
    val offsets = totals.toSeq.groupBy(_._1._1).map { case (k0, es) =>
      val sorted = es.map { case ((_, sh), t) => sh -> t }.sortBy(_._1)
      k0 -> sorted.map(_._1).zip(sorted.map(_._2).scanLeft(0L)(_ + _))
    }
    def shardMap(offs: Seq[(Int, Long)]): Column =
      map(offs.flatMap { case (sh, o) => Seq(lit(sh), lit(o)) }: _*)
    val off =
      if (offsets.isEmpty) lit(0L)
      else key match {
        case None => element_at(shardMap(offsets(())), col("_shard"))
        case Some(k) => element_at(element_at(
          map(offsets.toSeq.sortBy(_._1.toString).flatMap { case (k0, offs) =>
            Seq(lit(k0), shardMap(offs)) }: _*), col(k)), col("_shard"))
      }
    val w = Window.partitionBy(key.map(col).toSeq :+ col("_shard"): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("before", coalesce(sum(vl).over(w), lit(0L)) + off)
      .drop("_shard")
  }

  /** Equal-width range shards of the numeric `c` over `df`, for
    * [[prefixBefore]] under an order ascending in `c`: shard = (c − lo) /
    * width, width = (hi − lo) / defaultParallelism + 1, from one min/max
    * probe job, so shards never decrease as `c` grows and number at most
    * defaultParallelism. Shard a descending order by `-c`. The `extra`
    * aggregates ride the same probe and come back as the returned row.
    * An empty `df` gets shard 0.
    */
  def rangeShard(df: DataFrame, c: Column, extra: Column*): (Column, Row) = {
    val cl = c.cast("long")
    val probe = df.agg(min(cl), max(cl) +: extra: _*).head()
    val shard =
      if (probe.isNullAt(0)) lit(0)
      else {
        val (lo, hi) = (probe.getLong(0), probe.getLong(1))
        val width = (hi - lo) / math.max(1, df.sparkSession.sparkContext.defaultParallelism) + 1L
        ((cl - lit(lo)) / lit(width)).cast("int")
      }
    (shard, Row.fromSeq(probe.toSeq.drop(2)))
  }

  /** ONE RDD job over a just-materialized frame returning (row count,
    * the `k` rows with the smallest 62-bit tie hashes). Bottom-k by a
    * uniform hash is a uniform size-k sample, proportional per key —
    * the boundary-sampling draw — and the job doubles as the lazy
    * checkpoint's first consumer, so count + sample + block write are
    * one action (guide §5). Bounded memory: each task keeps ≤ k rows.
    */
  private def countAndBottomK(base: DataFrame, key: String, ord: String,
      tie: String, k: Int): (Long, Array[org.apache.spark.sql.Row]) = {
    import graft.expressions.PortableHashExpressions.md5Hash62
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val proj = base.select(col(key), col(ord), col(tie),
      md5Hash62(col(tie).cast("string")).as("_h"))
    val schema = proj.schema
    val parts = proj.queryExecution.toRdd.mapPartitions { it =>
      val conv = CatalystTypeConverters.createToScalaConverter(schema)
      // max-heap on hash: evict the largest once over k (duplicate
      // hashes allowed — equal tie strings under different keys)
      val heap = new java.util.PriorityQueue[(Long, org.apache.spark.sql.Row)](
        math.max(1, k),
        (a: (Long, org.apache.spark.sql.Row), b: (Long, org.apache.spark.sql.Row)) =>
          java.lang.Long.compare(b._1, a._1))
      var n = 0L
      it.foreach { ir =>
        n += 1L
        val h = ir.getLong(3)
        if (heap.size() < k) {
          heap.add((h, conv(ir.copy()).asInstanceOf[org.apache.spark.sql.Row]))
        } else if (h < heap.peek()._1) {
          heap.poll()
          heap.add((h, conv(ir.copy()).asInstanceOf[org.apache.spark.sql.Row]))
        }
      }
      import scala.jdk.CollectionConverters._
      Iterator((n, heap.iterator().asScala.toArray))
      // driver-bound(sample-bounded): <= sampleTarget rows per partition (bottom-k heap) + one count
    }.collect()
    val n = parts.iterator.map(_._1).sum
    val sample = parts.iterator.flatMap(_._2).toArray
      .sortBy(_._1).take(k).map(_._2)
    (n, sample)
  }
}
